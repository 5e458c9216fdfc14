"""NetCDF export sink — the inverse of ``sources/netcdf.ingest_directory``.

The reference only ever writes PNG/zip/text artifacts
(Gddp.scala:235-236; main.py:113-127; geopy.py:99-102). This sink is
the S8/S10-family generalization the relational rebuild makes natural:
any sliced long cube (the output shape of every grid query) can leave
the engine as the reference's own *input* format — classic CDF-1 via
the vendored ``sources/netcdf3.py`` writer or NetCDF-4/HDF5 via
``sources/hdf5.py`` — closing the read → query → write loop.

Shape rules, mirroring ingest exactly (so export∘ingest is identity,
tested in tests/test_netcdf_sink.py):

- one .nc artifact per (ds, variable[, time-chunk]) group, built
  inside ``applyInPandas`` — the dense (time, y, x) cube exists only
  in the sink's Arrow batches (SURVEY §1.3 "tile only at the sink");
- SQL NULL → the ``_FillValue`` sentinel (the reverse of ingest's
  fill→NULL, Gddp.scala:188-191);
- time re-encoded as hours since 1990-01-01T00:00
  (Gddp.scala:125-129), the cube's native clock;
- lat/lon written as 2-D coordinate arrays with the ``long_name``
  attributes ingest resolves by (geopy.py:51-55) — curvilinear grids
  round-trip unchanged, rectilinear ones come back meshed (same as
  reading a real file). Spatially ragged selections (polygon/bbox on
  a curvilinear grid) leave NaN in the coordinate arrays for cells
  outside the selection; the decoder drops NaN-coordinate cells at
  read time, so export∘ingest is the identity for ragged slices too.

Scale: :func:`export_netcdf_files` has each task write its artifact to
shared storage itself through ``sinks/naming.write_artifact`` (exactly
the reference's contract: Gddp.scala:235-236 writes the PNG from the
task, not the driver) and only (path, size, sha256) manifest rows
reach the driver, so a full-variable export at 100 TB never
materializes a multi-GB blob in one Spark cell or on the driver.
``chunk`` splits large exports into one CF-consistent file per time
window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from netcdf_olap_spark.sinks.naming import ARTIFACT_FIELDS

NC_MANIFEST_SCHEMA = StructType(
    [
        StructField("ds", StringType()),
        StructField("variable", StringType()),
        StructField("fmt", StringType()),
        StructField("part", StringType()),
        StructField("nt", IntegerType()),
        StructField("ny", IntegerType()),
        StructField("nx", IntegerType()),
        StructField("n_valid", IntegerType()),
        *ARTIFACT_FIELDS,
    ]
)


def _build_nc(pdf, fmt_: str, fill_: float, gzip_):
    """One pandas group (long cube rows for a single ds+variable[+time
    chunk]) → (.nc bytes, metadata dict). Runs inside the Arrow task;
    imports stay local so the closure pickles cleanly and executors
    resolve the vendored writers via ensure_package_on_workers."""
    import numpy as np
    import pandas as pd

    from netcdf_olap_spark.sources.hdf5 import write_hdf5
    from netcdf_olap_spark.sources.netcdf3 import write_netcdf3

    ds = str(pdf["ds"].iloc[0])
    variable = str(pdf["variable"].iloc[0])

    t_vals = pdf["time"].to_numpy()
    times = np.sort(pd.unique(pdf["time"])).astype(t_vals.dtype)
    epoch = np.datetime64("1990-01-01T00:00:00", "us")
    micros = (times.astype("datetime64[us]") - epoch) // np.timedelta64(1, "us")
    hours, rem = np.divmod(micros.astype(np.int64), 3_600_000_000)
    # exact integer check — a relative-tolerance comparison would
    # silently accept sub-hour offsets at 2020s-era epochs
    if rem.any():
        raise ValueError("time values are not hour-aligned; cannot encode hours-since-1990")

    ys = np.sort(pdf["y"].unique())
    xs = np.sort(pdf["x"].unique())
    nt, ny, nx = len(times), len(ys), len(xs)

    ti = np.searchsorted(times, t_vals)
    yi = np.searchsorted(ys, pdf["y"].to_numpy())
    xi = np.searchsorted(xs, pdf["x"].to_numpy())

    data = np.full((nt, ny, nx), fill_, dtype=np.float64)
    vals = pdf["value"].to_numpy(dtype=np.float64)
    valid = ~np.isnan(vals)
    data[ti[valid], yi[valid], xi[valid]] = vals[valid]

    lat2d = np.full((ny, nx), np.nan)
    lon2d = np.full((ny, nx), np.nan)
    lat2d[yi, xi] = pdf["lat"].to_numpy(dtype=np.float64)
    lon2d[yi, xi] = pdf["lon"].to_numpy(dtype=np.float64)

    attrs = {"_FillValue": fill_, "long_name": variable}
    # integer y/x index variables preserve ORIGINAL grid indices:
    # a windowed slice (y in 100..120) must re-ingest with the same
    # y values, not a renumbered 0-based grid (the decoder maps
    # them back; float 1-D x/y projection coords are unaffected)
    y_var = ys.astype("<i4")
    x_var = xs.astype("<i4")
    if fmt_ == "classic":
        content = write_netcdf3(
            dimensions={"time": None, "y": ny, "x": nx},
            variables={
                "time": (("time",), hours.astype(np.int32), {"units": "hours since 1990-01-01"}),
                "y": (("y",), y_var, {"long_name": "grid y index"}),
                "x": (("x",), x_var, {"long_name": "grid x index"}),
                "lat": (("y", "x"), lat2d, {"long_name": "latitude coordinate"}),
                "lon": (("y", "x"), lon2d, {"long_name": "longitude coordinate"}),
                variable: (("time", "y", "x"), data, attrs),
            },
            global_attrs={"source": "netcdf_olap_spark export"},
        )
    else:
        kw = {}
        if gzip_ is not None:
            kw = {"chunks": {variable: (min(nt, 16), ny, nx)}, "gzip": gzip_, "shuffle": True}
        content = write_hdf5(
            {
                "time": (hours.astype("<i4"), {"units": "hours since 1990-01-01", "long_name": "time"}),
                "y": (y_var, {"long_name": "grid y index"}),
                "x": (x_var, {"long_name": "grid x index"}),
                "lat": (lat2d, {"long_name": "latitude coordinate"}),
                "lon": (lon2d, {"long_name": "longitude coordinate"}),
                variable: (data, attrs),
            },
            global_attrs={"source": "netcdf_olap_spark export"},
            # structural coordinate attachment (DIMENSION_LIST), so
            # external netCDF-4 tools resolve time/y/x as this
            # variable's dimension scales regardless of name heuristics
            dim_scales={variable: ("time", "y", "x")},
            **kw,
        )

    meta = {
        "ds": ds,
        "variable": variable,
        "fmt": fmt_,
        "nt": nt,
        "ny": ny,
        "nx": nx,
        "n_valid": int(valid.sum()),
    }
    return content, meta


def export_netcdf_files(
    df: DataFrame,
    out_dir: str,
    fmt: str = "classic",
    fill_value: float = -9999.0,
    gzip: int | None = None,
    chunk: str | None = None,
) -> DataFrame:
    """Long cube rows → one .nc file per (ds, variable[, time chunk]),
    each written to ``out_dir`` INSIDE its ``applyInPandas`` task —
    atomically, via ``sinks/naming.write_artifact`` — and only (path,
    size, sha256) manifest rows reach the driver. This is the
    reference's own sink contract (Gddp.scala:235-236 writes the PNG
    from the task, not the driver) and it removes both the 2 GB
    single-cell ceiling and driver-memory pressure from large exports.

    ``df`` must carry the grid-table columns
    (ds, variable, time, y, x, lat, lon, value). ``fmt``: ``classic``
    (CDF-1, the reference's GDDP input flavor) or ``hdf5`` (NetCDF-4
    container; ``gzip`` adds chunked+deflate storage).

    ``out_dir`` must be a filesystem path visible to every executor
    AND the driver (local mode: trivially true; cluster: NFS/fuse
    mount or a shared volume — for object stores, export locally then
    upload, or extend with an fsspec writer).

    ``chunk``: optional time-window split for large exports — a Spark
    ``date_trunc`` unit (``'year'``, ``'month'``, ``'week'``,
    ``'day'``); each window becomes its own CF-consistent .nc file
    named ``{ds}_{variable}_{part}_{fmt}.nc``, so no single task ever
    builds the whole variable's cube in memory.

    Returns the manifest DataFrame (NC_MANIFEST_SCHEMA) — an action on
    it triggers the writes. Hostile dataset/variable names (path
    separators, '..') fail the task rather than escaping ``out_dir``.
    """
    if fmt not in ("classic", "hdf5"):
        raise ValueError(f"fmt must be 'classic' or 'hdf5', got {fmt!r}")
    if chunk is not None and chunk not in ("year", "quarter", "month", "week", "day"):
        raise ValueError(f"chunk must be a date_trunc unit, got {chunk!r}")
    # the worker rebuilds cubes with the vendored writers — ship the
    # package so executors can import them wherever the driver started
    from netcdf_olap_spark.sources.netcdf import ensure_package_on_workers

    ensure_package_on_workers(df.sparkSession)
    fmt_, fill_, gzip_, out_ = fmt, float(fill_value), gzip, str(out_dir)

    if chunk is None:
        part_col = F.lit("all")
    else:
        part_col = F.date_format(F.date_trunc(chunk, F.col("time")), "yyyy-MM-dd")
    dfp = df.withColumn("__part", part_col)

    def _write_file(pdf):
        import pandas as pd

        from netcdf_olap_spark.sinks.naming import safe_component, write_artifact

        part = str(pdf["__part"].iloc[0])
        content, meta = _build_nc(pdf.drop(columns="__part"), fmt_, fill_, gzip_)
        safe_component(meta["ds"], "ds")
        safe_component(meta["variable"], "variable")
        safe_component(part, "part")
        name = f"{meta['ds']}_{meta['variable']}_{part}_{fmt_}.nc" if part != "all" else (
            f"{meta['ds']}_{meta['variable']}_{fmt_}.nc"
        )
        return pd.DataFrame([{**meta, "part": part, **write_artifact(out_, name, content)}])

    return dfp.groupBy("ds", "variable", "__part").applyInPandas(_write_file, NC_MANIFEST_SCHEMA)
