"""Sink stages: rendering and export are *sinks over DataFrames*.

One shape per sink: each TASK encodes its artifact (PNG, NetCDF,
GeoTIFF or a Zarr chunk), names it, and hands the bytes to
:func:`naming.write_artifact` — the one landing step (name check,
dot-prefixed temp file, atomic rename, sha256) — then returns
only its manifest row, which ends with (path, size, sha256). This is
the reference's own contract (Gddp.scala:235-236 writes the PNG from
inside the task), so the driver never moves artifact bytes."""

from netcdf_olap_spark.sinks.naming import safe_component  # noqa: F401
from netcdf_olap_spark.sinks.png import (  # noqa: F401
    png_filename,
    render_png_files,
)
