"""Zarr v2 export sink — the cloud-native twin of sinks/netcdf.py.

Where the NetCDF sink must assemble one FILE per variable (a
container format), Zarr's chunk-per-object layout lets every task
write its own chunk objects directly: the sink partitions the cube
by (variable, time-chunk), each ``applyInPandas`` task densifies its
block and writes exactly one chunk object atomically (tempfile +
``os.replace`` — the reference's write-from-the-task contract,
Gddp.scala:235-236), and only manifest rows (path, bytes, sha256)
reach the driver.  No single-cell artifact ceiling, no driver memory
pressure, and appending a day at 100 TB is writing the new chunk
objects plus one ``.zarray`` shape bump — never rewriting a file.

Coordinate axes and array metadata are driver-side (axes are bounded
by grid geometry, not cell count; the cell-coordinate collect is
guarded).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from netcdf_olap_spark.sources.netcdf import ensure_package_on_workers
from netcdf_olap_spark.sources.zarr import (
    encode_chunk,
    write_zarr_array,
    write_zarr_group,
    write_zarray,
)

ZARR_MANIFEST_SCHEMA = StructType(
    [
        StructField("variable", StringType()),
        StructField("chunk", StringType()),
        StructField("path", StringType()),
        StructField("n_bytes", LongType()),
        StructField("sha256", StringType()),
        StructField("n_valid", IntegerType()),
    ]
)

_EPOCH_1990 = dt.datetime(1990, 1, 1, 0, 0)
MAX_CELL_COORDS = 4_000_000  # driver-side (y,x,lat,lon) collect guard


def export_zarr_store(
    df: DataFrame,
    root: str,
    time_chunk: int = 16,
    fill_value: float = -9999.0,
    compressor: str | None = "zlib",
) -> DataFrame:
    """Long cube rows (ds, variable, time, y, x, lat, lon, value) →
    a Zarr v2 store at ``root``; returns the manifest DataFrame (an
    action on it triggers the chunk writes).

    Layout: one 3-D array per variable, shape (nt, ny, nx), chunks
    (time_chunk, ny, nx) — the time-major slab a (date-range, bbox)
    slicer prunes on; 2-D curvilinear ``lat``/``lon`` arrays (NaN for
    cells absent from the selection — the NetCDF sink's ragged-
    selection convention, and they re-ingest as *absent*); ``time``
    as hours-since-1990 int32 (wall-clock arithmetic, no epoch
    math).  NULL values are stored as ``fill_value`` and come back
    as NULL; a REAL value equal to the sentinel would be swallowed —
    same documented caveat as the NetCDF sink."""
    spark = df.sparkSession
    ensure_package_on_workers(spark)

    times = [
        r[0] for r in df.select("time").distinct().orderBy("time").collect()
    ]
    cells = (
        df.select("y", "x", "lat", "lon").distinct().orderBy("y", "x").collect()
    )
    if len(cells) > MAX_CELL_COORDS:
        raise ValueError(
            f"{len(cells)} cell coordinates exceed the driver guard "
            f"({MAX_CELL_COORDS}); export a spatial subset per call"
        )
    variables = sorted(r[0] for r in df.select("variable").distinct().collect())
    for var in variables:
        # hostile names escape the store root; coordinate names would
        # overwrite the just-written time/lat/lon arrays (the GeoTIFF
        # sink's guard, extended with the reserved axis names)
        if "/" in var or ".." in var or var in ("time", "lat", "lon"):
            raise ValueError(f"hostile or reserved variable name {var!r}")
    ys = sorted({r["y"] for r in cells})
    xs = sorted({r["x"] for r in cells})
    nt, ny, nx = len(times), len(ys), len(xs)
    y_pos = {v: i for i, v in enumerate(ys)}
    x_pos = {v: i for i, v in enumerate(xs)}
    t_pos = {v: i for i, v in enumerate(times)}

    lat2d = np.full((ny, nx), np.nan)
    lon2d = np.full((ny, nx), np.nan)
    for r in cells:
        lat2d[y_pos[r["y"]], x_pos[r["x"]]] = r["lat"]
        lon2d[y_pos[r["y"]], x_pos[r["x"]]] = r["lon"]
    secs = [int((t - _EPOCH_1990).total_seconds()) for t in times]
    if any(s % 3600 for s in secs):
        # the NetCDF sink's guard (sinks/netcdf.py): the store's time
        # axis is integer hours-since-1990 — silently flooring a
        # sub-hour timestamp would corrupt the round-trip
        raise ValueError("time values are not hour-aligned; cannot encode hours-since-1990")
    hours = np.array([s // 3600 for s in secs], dtype="<i4")

    write_zarr_group(root)
    write_zarr_array(os.path.join(root, "time"), hours, compressor=None)
    write_zarr_array(os.path.join(root, "lat"), lat2d.astype("<f8"), compressor=None)
    write_zarr_array(os.path.join(root, "lon"), lon2d.astype("<f8"), compressor=None)
    chunks = (min(time_chunk, nt), ny, nx)
    for var in variables:  # every data variable has the same array spec
        spec_ = write_zarray(
            os.path.join(root, var), (nt, ny, nx), chunks, "<f8", compressor, fill_value
        )

    # broadcastable index dims: time → slab/offset; y/x → positions
    def ints(*names):
        return [StructField(n, IntegerType()) for n in names]

    t_idx = spark.createDataFrame(
        [(t, i // chunks[0], i % chunks[0]) for t, i in t_pos.items()],
        StructType([StructField("time", TimestampType()), *ints("_slab", "_toff")]),
    )
    y_idx = spark.createDataFrame(list(y_pos.items()), StructType(ints("y", "_yi")))
    x_idx = spark.createDataFrame(list(x_pos.items()), StructType(ints("x", "_xi")))
    indexed = (
        df.join(F.broadcast(t_idx), "time")
        .join(F.broadcast(y_idx), "y")
        .join(F.broadcast(x_idx), "x")
        .select("variable", "_slab", "_toff", "_yi", "_xi", "value")
    )

    root_, chunks_, fill_ = root, chunks, float(fill_value)

    def _write(pdf):
        import hashlib as _hashlib
        import os as _os
        import tempfile as _tempfile

        import numpy as _np
        import pandas as _pd

        var = pdf["variable"].iloc[0]
        slab = int(pdf["_slab"].iloc[0])
        block = _np.full(chunks_, fill_, dtype="<f8")
        vals = pdf["value"].to_numpy(dtype="<f8")
        vals = _np.where(_np.isnan(vals), fill_, vals)
        block[
            pdf["_toff"].to_numpy(_np.int64),
            pdf["_yi"].to_numpy(_np.int64),
            pdf["_xi"].to_numpy(_np.int64),
        ] = vals
        buf = encode_chunk(spec_, block)
        name = f"{slab}.0.0"
        adir = _os.path.join(root_, var)
        fd, tmp = _tempfile.mkstemp(dir=adir)
        with _os.fdopen(fd, "wb") as fh:
            fh.write(buf)
        _os.replace(tmp, _os.path.join(adir, name))
        return _pd.DataFrame(
            [
                {
                    "variable": var,
                    "chunk": name,
                    "path": _os.path.join(adir, name),
                    "n_bytes": len(buf),
                    "sha256": _hashlib.sha256(buf).hexdigest(),
                    "n_valid": int((vals != fill_).sum()),
                }
            ]
        )

    return indexed.groupBy("variable", "_slab").applyInPandas(_write, ZARR_MANIFEST_SCHEMA)
