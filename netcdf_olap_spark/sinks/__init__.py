"""Sink stages: rendering and export are *sinks over DataFrames*.

One shape per sink: each TASK writes its artifact to shared storage
and returns only (path, size, checksum) manifest rows — the
reference's own contract (Gddp.scala:235-236 writes the PNG from
inside the task) — so the driver never moves artifact bytes."""

from netcdf_olap_spark.sinks.naming import safe_component  # noqa: F401
from netcdf_olap_spark.sinks.png import (  # noqa: F401
    png_filename,
    render_png_files,
)
