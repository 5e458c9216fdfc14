"""NetCDF → long-format DataFrame ingest (SURVEY.md §2.1 S1-S3, §7 M2).

The reference opens NetCDF files per query and slices them with
hyperslab specs (Gddp.scala:53-56, 223-228; geopy.py:18-19, 64-71).
This module is the rebuild's ingest stage: decode each dense 3-D cube
variable **once** into the long fact table
``grid(ds, variable, time, y, x, lat, lon, value)`` and write it as
date-partitioned Parquet, after which every read pattern in the
reference becomes a pushed-down filter (operators/slice.py).

Semantics preserved from the reference:

- **time decode**: hours since 1990-01-01T00:00
  (``LocalDateTime.of(1990,1,1,0,0).plusHours(t)``, Gddp.scala:125-129).
- **fill → NULL**: the ``_FillValue`` sentinel becomes real SQL NULL
  (Gddp.scala:188-191 builds a user-defined-NODATA tile; SQL NULL is
  the relational analog — aggregates skip it natively).
- **attribute-based variable resolution** with positional fallback:
  the Python path resolves coords by ``long_name`` attribute
  (geopy.py:51-55); the Scala path resolves measures by name and
  coords positionally (Gddp.scala:178-186). We resolve by attribute
  first, then by conventional name.

Scale design (100 TB): one NetCDF file is one ingest work unit.
``ingest_directory`` distributes the *file list* via Spark's
``binaryFile`` source and decodes inside ``mapInPandas`` on the
executors — no driver-side arrays, no collect. The decoder is
pluggable: netCDF4 when installed (not in this container — gated
behind an import-try), or any ``bytes -> iterator[pdf]`` callable
(tests inject a deterministic npz decoder to exercise the real
distributed plumbing).
"""

from __future__ import annotations

import datetime as dt
import functools
import threading
import weakref
from collections.abc import Callable, Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from netcdf_olap_spark.operators.slice import _day_bounds

EPOCH_1990 = dt.datetime(1990, 1, 1, 0, 0)

GRID_SCHEMA = StructType(
    [
        StructField("ds", StringType()),
        StructField("variable", StringType()),
        StructField("time", TimestampType()),
        StructField("y", IntegerType()),
        StructField("x", IntegerType()),
        StructField("lat", DoubleType()),
        StructField("lon", DoubleType()),
        StructField("value", DoubleType()),
    ]
)

# Attribute-based coordinate resolution (geopy.py:51-55) with
# conventional-name fallback (Gddp.scala:178-182 resolves positionally;
# names are the robust alternative README.md:87-89 itself recommends).
LAT_LONG_NAME = "latitude coordinate"
LON_LONG_NAME = "longitude coordinate"
TIME_NAMES = ("time",)
LAT_NAMES = ("lat", "latitude")
LON_NAMES = ("lon", "longitude")


def decode_time_hours(hours: np.ndarray) -> np.ndarray:
    """Hours-since-1990 → datetime64[us] (Gddp.scala:126-129).

    Real files store the time axis as float as often as int; fractional
    hours are honored at microsecond precision (a plain
    ``astype('timedelta64[h]')`` would truncate 12.5 h → 12 h)."""
    base = np.datetime64("1990-01-01T00:00:00", "us")
    us = np.rint(np.asarray(hours, dtype=np.float64) * 3_600_000_000.0).astype(np.int64)
    return base + us.astype("timedelta64[us]")


def cube_to_pandas(
    ds: str,
    variable: str,
    data: np.ndarray,
    time_hours: np.ndarray,
    lat: np.ndarray,
    lon: np.ndarray,
    fill_value: float | None = None,
) -> pd.DataFrame:
    """One dense (time, y, x) cube variable → long pandas frame.

    ``lat``/``lon`` are the 2-D curvilinear coordinate arrays
    (Gddp.scala:178-182); ``fill_value`` cells (exact match, plus any
    NaN) become nulls. Pure numpy broadcasting — no Python loops.

    Cells whose lat OR lon is non-finite are DROPPED, not emitted:
    they have no position in the engine's lat/lon-space query model
    (every spatial operator keys on real coordinates), and NaN is the
    largest double to Spark's ordering, so letting them through would
    poison min/max aggregates. This also makes export∘ingest the
    identity for spatially ragged selections — the NetCDF sink leaves
    NaN in the 2-D coordinate arrays for cells outside a polygon/bbox
    selection, and those cells come back as *absent*, exactly as they
    left.
    """
    data = np.asarray(data, dtype=np.float64)
    nt, ny, nx = data.shape
    if lat.shape != (ny, nx) or lon.shape != (ny, nx):
        raise ValueError(f"coordinate shape {lat.shape} != grid shape {(ny, nx)}")
    if len(time_hours) != nt:
        raise ValueError(f"time axis {len(time_hours)} != data time dim {nt}")

    times = decode_time_hours(np.asarray(time_hours))
    yy, xx = np.meshgrid(np.arange(ny, dtype=np.int32), np.arange(nx, dtype=np.int32), indexing="ij")
    flat = data.reshape(nt, -1)
    if fill_value is not None:
        flat = np.where(flat == np.float64(fill_value), np.nan, flat)

    lat64 = lat.ravel().astype(np.float64)
    lon64 = lon.ravel().astype(np.float64)
    pdf = pd.DataFrame(
        {
            "ds": ds,
            "variable": variable,
            "time": np.repeat(times, ny * nx),
            "y": np.tile(yy.ravel(), nt),
            "x": np.tile(xx.ravel(), nt),
            "lat": np.tile(lat64, nt),
            "lon": np.tile(lon64, nt),
            "value": flat.ravel(),
        }
    )
    placed = np.isfinite(lat64) & np.isfinite(lon64)
    if not placed.all():
        pdf = pdf[np.tile(placed, nt)].reset_index(drop=True)
    return pdf


def cube_to_df(
    spark: SparkSession,
    ds: str,
    variable: str,
    data: np.ndarray,
    time_hours: np.ndarray,
    lat: np.ndarray,
    lon: np.ndarray,
    fill_value: float | None = None,
) -> DataFrame:
    """Driver-side cube → Spark DataFrame (Arrow path). Use for small
    cubes / tests; the scale path is ``ingest_directory``."""
    pdf = cube_to_pandas(ds, variable, data, time_hours, lat, lon, fill_value)
    pdf["value"] = pdf["value"].astype(object).where(pdf["value"].notna(), None)
    return spark.createDataFrame(pdf, schema=GRID_SCHEMA)


# ---------------------------------------------------------------------------
# netCDF4-backed decoding (gated: the library is not in this container)
# ---------------------------------------------------------------------------


def _netcdf4_available() -> bool:
    try:
        import netCDF4  # noqa: F401

        return True
    except ImportError:
        return False


def _mesh_coords(lat: np.ndarray, lon: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Rectilinear 1-D axes → the engine's 2-D curvilinear form; mixed
    ranks (one coordinate 2-D, the other a 1-D axis) broadcast the 1-D
    side instead of failing the shape check downstream."""
    if lat.ndim == 1 and lon.ndim == 1:
        lon, lat = np.meshgrid(lon, lat)
    elif lat.ndim == 2 and lon.ndim == 1:
        lon = np.broadcast_to(lon[None, :], lat.shape)
    elif lat.ndim == 1 and lon.ndim == 2:
        lat = np.broadcast_to(lat[:, None], lon.shape)
    return lat, lon


def _resolve_coords(nc: Any) -> tuple[np.ndarray | None, np.ndarray | None, np.ndarray | None]:
    """File-level time/lat/lon resolution: by attribute
    (geopy.py:51-55), then by conventional variable name. Misses are
    None — the caller falls back per-variable (dimension names for the
    netCDF4 library, dimension scales for the vendored reader)."""

    def pick(long_name: str | None, names: tuple[str, ...]):
        if long_name is not None:
            by_attr = nc.get_variables_by_attributes(long_name=long_name)
            if by_attr:
                return np.asarray(by_attr[0][:])
        v = next((nc.variables[n] for n in names if n in nc.variables), None)
        return None if v is None else np.asarray(v[:])

    return pick(None, TIME_NAMES), pick(LAT_LONG_NAME, LAT_NAMES), pick(LON_LONG_NAME, LON_NAMES)


def _coord_fits(d: np.ndarray, axis: int, var_shape: tuple[int, ...]) -> bool:
    """Does candidate coordinate array ``d`` fit ``var_shape`` on
    ``axis``? Axis 0 (time) must be 1-D of the right length; spatial
    axes accept a 1-D axis of the right length or a full 2-D (y, x)
    mesh. ONE definition shared by the library and vendored decoders —
    multi-grid precedence must not drift between the two ingest paths."""
    if axis == 0:
        return d.ndim == 1 and len(d) == var_shape[0]
    if d.ndim == 1:
        return len(d) == var_shape[axis]
    return d.ndim == 2 and d.shape == (var_shape[1], var_shape[2])


def netcdf4_decoder(content: bytes, ds: str, variables: list[str] | None = None) -> Iterator[pd.DataFrame]:
    """Decode an in-memory NetCDF file into long frames, one per
    measure variable (3-D vars not in the coordinate set). Requires
    netCDF4; callers reach it through ``ingest_directory`` which
    gates on availability."""
    import netCDF4

    nc = netCDF4.Dataset("inmem", mode="r", memory=content)
    try:
        g_time, g_lat, g_lon = _resolve_coords(nc)
        for name, var in nc.variables.items():
            if var.ndim != 3:
                continue
            if variables is not None and name not in variables:
                continue

            # per-variable fallback: in the netCDF model a variable's
            # coordinate variable carries its dimension's NAME — the
            # library-level view of HDF5 dimension scales. Per variable,
            # and shape-guarded (a file-level match sized for another
            # grid falls through), so multi-grid files never mix
            # coordinates.
            vshape = tuple(var.shape)

            def coord(g, axis: int, what: str, _var=var, _vs=vshape):
                if g is not None and _coord_fits(g, axis, _vs):
                    return g
                cv = nc.variables.get(_var.dimensions[axis])
                if cv is not None:
                    d = np.asarray(cv[:])
                    if _coord_fits(d, axis, _vs):
                        return d
                if g is not None:
                    return g  # mismatched everywhere: keep the name match's error surface
                raise ValueError(
                    f"no {what} coordinate for variable {name!r}: no long_name match, "
                    f"no conventional name, and no coordinate variable for dimension "
                    f"{_var.dimensions[axis]!r}"
                )

            time_hours = coord(g_time, 0, "time")
            lat, lon = _mesh_coords(coord(g_lat, 1, "latitude"), coord(g_lon, 2, "longitude"))
            fill = getattr(var, "_FillValue", None)  # Gddp.scala:188-191
            vals = var[:]  # materialize ONCE (I/O + memory)
            if np.ma.isMaskedArray(vals):
                raw = np.ma.filled(vals, np.nan).astype(np.float64)
            else:
                raw = np.asarray(vals, dtype=np.float64)
            yield cube_to_pandas(ds, name, raw, time_hours, lat, lon, None if fill is None else float(fill))
    finally:
        nc.close()


def _decode_vendored(nc: Any, ds: str, variables: list[str] | None) -> Iterator[pd.DataFrame]:
    """Shared decode body over either vendored reader's file object
    (``Nc3File`` or ``H5File``: ``variables`` maps name → object with
    ``data``/``shape``/``attributes``). Coords by ``long_name``
    attribute, then conventional name, then per-variable dimension
    scales; rectilinear 1-D axes meshed/broadcast to 2-D,
    ``_FillValue`` → NULL."""

    dim_scales = getattr(nc, "dim_scales", None) or {}

    def by_attr_or_name(long_name: str | None, names: tuple[str, ...]):
        if long_name is not None:
            for v in nc.variables.values():
                if v.attributes.get("long_name") == long_name:
                    return np.asarray(v.data)
        for n in names:
            if n in nc.variables:
                return np.asarray(nc.variables[n].data)
        return None

    g_lat = by_attr_or_name(LAT_LONG_NAME, LAT_NAMES)
    g_lon = by_attr_or_name(LON_LONG_NAME, LON_NAMES)
    g_time = by_attr_or_name(None, TIME_NAMES)

    def var_coords(name: str, var_shape: tuple[int, ...]) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """time/lat2d/lon2d for ONE measure variable: file-level
        attr/name resolution first, falling through to THIS variable's
        own dimension scales (netCDF-4 DIMENSION_LIST — structural
        attachment, independent of naming conventions) when the axis
        has no file-level match OR the match's shape does not fit this
        variable's grid. Per variable, with the shape guard, so two
        grids in one file never mix coordinates."""
        sc = dim_scales.get(name, [])

        def pick(g, axis: int, what: str):
            if g is not None and _coord_fits(g, axis, var_shape):
                return g
            if axis < len(sc) and sc[axis] and sc[axis] in nc.variables:
                d = np.asarray(nc.variables[sc[axis]].data)
                if _coord_fits(d, axis, var_shape):
                    return d
            if g is not None:
                return g  # mismatched everywhere: keep the name match's error surface
            raise ValueError(
                f"no {what} coordinate for variable {name!r}: no long_name match, "
                f"no conventional name, and no dimension scale on axis {axis}"
            )

        time_h = pick(g_time, 0, "time")
        lat, lon = _mesh_coords(pick(g_lat, 1, "latitude"), pick(g_lon, 2, "longitude"))
        return time_h, lat, lon

    def _int_index(name_: str, expect: int) -> np.ndarray | None:
        # INTEGER 1-D y/x variables carry original grid indices (the
        # export sink writes them so windowed slices round-trip with
        # their true y/x, not a renumbered 0-based grid); FLOAT 1-D
        # x/y are projection coordinates (geopy.py:54-55) and are
        # ignored here, keeping positional indexing for real files
        v = nc.variables.get(name_)
        if v is None:
            return None
        d = np.asarray(v.data)
        if d.ndim == 1 and d.dtype.kind in "iu" and len(d) == expect:
            return d.astype(np.int64)
        return None

    for name, var in nc.variables.items():
        if len(var.shape) != 3:
            continue
        if variables is not None and name not in variables:
            continue
        time_hours, lat, lon = var_coords(name, tuple(var.shape))
        y_idx = _int_index("y", lat.shape[0])
        x_idx = _int_index("x", lat.shape[1])
        raw = np.asarray(var.data, dtype=np.float64)
        # CF conventions, matching what netCDF4's auto-maskandscale does:
        # _FillValue/missing_value compare against the PACKED values,
        # then scale_factor/add_offset unpack the survivors
        fill = var.attributes.get("_FillValue", var.attributes.get("missing_value"))
        if fill is not None:
            raw = np.where(raw == np.float64(fill), np.nan, raw)
        scale = var.attributes.get("scale_factor")
        offset = var.attributes.get("add_offset")
        if scale is not None or offset is not None:
            raw = raw * np.float64(scale if scale is not None else 1.0) + np.float64(
                offset if offset is not None else 0.0
            )
        pdf = cube_to_pandas(ds, name, raw, time_hours, lat, lon, None)
        if y_idx is not None:
            pdf["y"] = y_idx[pdf["y"].to_numpy()].astype(np.int32)
        if x_idx is not None:
            pdf["x"] = x_idx[pdf["x"].to_numpy()].astype(np.int32)
        yield pdf


def netcdf3_decoder(content: bytes, ds: str, variables: list[str] | None = None) -> Iterator[pd.DataFrame]:
    """Decode classic-format (CDF-1/CDF-2) NetCDF bytes with the
    vendored pure-numpy reader (sources/netcdf3.py) — the real ``.nc``
    path for containers without netCDF4, matching the reference's
    input format (Gddp.scala:53-56). Same semantics as
    ``netcdf4_decoder``."""
    from netcdf_olap_spark.sources.netcdf3 import read_netcdf3

    yield from _decode_vendored(read_netcdf3(content, variables), ds, variables)


def hdf5_decoder(content: bytes, ds: str, variables: list[str] | None = None) -> Iterator[pd.DataFrame]:
    """Decode NetCDF-4 bytes (HDF5 container — the default output of
    netCDF-C ≥4.0) with the vendored pure-numpy HDF5 reader
    (sources/hdf5.py). The reference reads this format through
    NetCDF-Java (Gddp.scala:53-56; `edu.ucar:cdm` in gddp/build.sbt);
    this closes the same input-format surface without native deps.
    Same semantics as ``netcdf4_decoder``."""
    from netcdf_olap_spark.sources.hdf5 import read_hdf5

    yield from _decode_vendored(read_hdf5(content, variables), ds, variables)


def netcdf_format(content: bytes) -> str:
    """Magic-byte sniff, mirroring how NetCDF-Java picks an IOSP for
    the reference: ``\\x89HDF`` → ``"hdf5"`` (NetCDF-4), ``CDF`` →
    ``"classic"`` (CDF-1/CDF-2), anything else → ``"unknown"``."""
    from netcdf_olap_spark.sources.hdf5 import is_hdf5

    if is_hdf5(content):
        return "hdf5"
    return "classic" if content[:3] == b"CDF" else "unknown"


def auto_decoder(content: bytes, ds: str, variables: list[str] | None = None) -> Iterator[pd.DataFrame]:
    """Dispatch over the vendored readers by ``netcdf_format``; one
    .nc directory may mix both formats."""
    if netcdf_format(content) == "hdf5":
        yield from hdf5_decoder(content, ds, variables)
    else:
        yield from netcdf3_decoder(content, ds, variables)


def resolve_decoder(name: str) -> Callable[[bytes, str, list[str] | None], Iterator[pd.DataFrame]]:
    """Decoder-option string → callable — the single dispatch table the
    ``netcdf_cube`` batch and streaming readers share (unknown names
    fall back to the npz test decoder)."""
    return {
        "netcdf4": netcdf4_decoder,
        "nc3": netcdf3_decoder,
        "hdf5": hdf5_decoder,
        "auto": auto_decoder,
    }.get(name, npz_decoder)


def npz_decoder(content: bytes, ds: str, variables: list[str] | None = None) -> Iterator[pd.DataFrame]:
    """Deterministic stand-in decoder for containers without netCDF4:
    the same cube layout serialized with ``np.savez`` (keys: ``time``
    (hours since 1990), ``lat``, ``lon`` (2-D), ``fill__<var>``
    scalars, and one 3-D array per measure variable). Exercises the
    full distributed-ingest plumbing with zero native deps."""
    import io

    with np.load(io.BytesIO(content)) as z:
        time_hours = z["time"]
        lat, lon = z["lat"], z["lon"]
        for name in z.files:
            if name in ("time", "lat", "lon") or name.startswith("fill__"):
                continue
            if variables is not None and name not in variables:
                continue
            data = z[name]
            if data.ndim != 3:  # auxiliary array, not a cube variable
                continue
            fill = float(z[f"fill__{name}"]) if f"fill__{name}" in z.files else None
            yield cube_to_pandas(ds, name, data, time_hours, lat, lon, fill)


_PKG_LOCK = threading.Lock()
_PKG_SHIPPED: "weakref.WeakSet" = weakref.WeakSet()  # SparkContexts holding the zip


@functools.cache
def _package_zip() -> str:
    """The package sources as a zip named by their content hash, built
    once per process (hashing costs ~10 ms a call, ~0.3 s cold).  A
    stale /tmp copy from an older version can never shadow current
    code, and the fixed timestamps give identical bytes per hash."""
    import hashlib
    import os
    import tempfile
    import zipfile

    import netcdf_olap_spark

    pkg_root = os.path.dirname(netcdf_olap_spark.__file__)
    files = []
    for dirpath, _dirnames, filenames in os.walk(pkg_root):
        for fn in sorted(filenames):
            if fn.endswith(".py"):
                full = os.path.join(dirpath, fn)
                files.append((os.path.relpath(full, os.path.dirname(pkg_root)), full))
    files.sort()
    h = hashlib.sha1()
    for rel, full in files:
        h.update(rel.encode())
        with open(full, "rb") as fh:
            h.update(fh.read())
    dst = os.path.join(tempfile.gettempdir(), f"netcdf_olap_spark_{h.hexdigest()[:16]}.zip")
    if not os.path.exists(dst):
        fd, tmp = tempfile.mkstemp(dir=tempfile.gettempdir(), suffix=".zip")
        os.close(fd)
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
            for rel, full in files:
                with open(full, "rb") as fh:
                    info = zipfile.ZipInfo(rel, date_time=(1990, 1, 1, 0, 0, 0))
                    zf.writestr(info, fh.read())
        os.replace(tmp, dst)
    return dst


def ensure_package_on_workers(spark: SparkSession) -> None:
    """Make ``netcdf_olap_spark`` importable on Python workers
    regardless of the driver's cwd/sys.path.

    The ingest decoders are module-level functions, so cloudpickle
    serializes them BY REFERENCE — a worker that can't import the
    package dies with ModuleNotFoundError when the driver was launched
    outside the repo (an external harness, a notebook, spark-submit
    from elsewhere). ``addPyFile`` ships the package zip; on a real
    cluster this is exactly how the package would reach executors
    (``--py-files``).

    Called per API request and per ingest, possibly from concurrent
    threads: the zip is added ONCE per SparkContext, under a lock.
    Each ``addPyFile`` grows ``sys.path`` and ``_python_includes`` and
    runs ``importlib.invalidate_caches()``, which is not safe against
    a concurrent call; a new SparkContext (after ``spark.stop()``)
    gets the zip again. Python workers also run
    ``importlib.invalidate_caches()`` at the start of EVERY task; on
    Python < 3.13 that re-reads each zip on their path unless the
    worker runs ``worker_site/sitecustomize.py`` (``get_spark``
    sessions do), which skips unchanged archives. The zip's
    content-hash name means a changed package is a new archive with
    a fresh importer, never a stale one."""
    sc = spark.sparkContext
    with _PKG_LOCK:
        if sc not in _PKG_SHIPPED:
            sc.addPyFile(_package_zip())
            _PKG_SHIPPED.add(sc)


def runtime_hadoop_version(default: str = "3.3.4") -> str:
    """Hadoop version bundled with the RUNNING PySpark, read off the
    ``hadoop-client-api-<ver>.jar`` name in pyspark's jars directory —
    no JVM needed. Connector jars (hadoop-aws, hadoop-azure) must
    match this version exactly: a 3.4.x connector on a 3.3.x runtime
    (AWS SDK v1 vs v2) fails with linkage errors, not a clean message.
    Falls back to ``default`` (the Hadoop of the common Spark 3.5.x
    distribution) when the jar layout is unrecognizable — e.g. a
    hadoop-provided build — in which case pass the version
    explicitly."""
    import glob
    import os

    import pyspark

    jars = glob.glob(
        os.path.join(os.path.dirname(pyspark.__file__), "jars", "hadoop-client-api-*.jar")
    )
    for j in sorted(jars):
        ver = os.path.basename(j)[len("hadoop-client-api-") : -len(".jar")]
        if ver and ver[0].isdigit():
            return ver
    return default


def object_store_session_confs(store: str = "s3a", hadoop_version: str | None = None) -> dict[str, str]:
    """SparkSession configs for ingesting ``.nc`` directly from a
    remote object store — the reference reads S3 through NetCDF-Java
    (README.md:10); this engine reads it through Hadoop FileSystem
    URIs, so ``ingest_directory(spark, "s3a://bucket/prefix", ...)``
    works once these are set. Apply them at session build time
    (``SparkSession.builder.config(k, v)``) — FileSystem instances
    are cached per scheme, so flipping credentials mid-session is
    unreliable.

    Not exercisable in the build container (no network, no connector
    jars baked in): tests/test_remote_ingest.py carries the gated
    integration test that runs unchanged on a real cluster with
    ``SPARK_GRAFT_REMOTE_URI`` set.

    ``hadoop_version`` pins the connector jar version; by default it
    is DERIVED from the running PySpark's bundled Hadoop
    (:func:`runtime_hadoop_version`) so hadoop-aws always matches the
    runtime — a mismatched pair (e.g. a 3.4.x connector with its AWS
    SDK v2 classes on a 3.3.x/SDK-v1 runtime) fails with
    ClassNotFound/linkage errors. No credentials-provider key is set:
    s3a's own default chain (env vars → instance profile → profile
    file) applies correctly on every Hadoop version, where naming a
    provider class would couple the conf to one SDK generation.
    """
    hv = hadoop_version or runtime_hadoop_version()
    if store == "s3a":
        return {
            # cluster images usually ship hadoop-aws already; if not,
            # this matches the connector to the runtime's Hadoop/SDK
            "spark.jars.packages": f"org.apache.hadoop:hadoop-aws:{hv}",
            # whole-file reads (binaryFile) stream best with sequential
            # fadvise; random is for footer-seeking columnar formats
            "spark.hadoop.fs.s3a.experimental.input.fadvise": "sequential",
            "spark.hadoop.fs.s3a.connection.maximum": "96",
        }
    if store == "hdfs":
        # vanilla HDFS needs no extra jars — the URI is enough when
        # core-site.xml/hdfs-site.xml are on the classpath (they are,
        # on any cluster edge node); kerberized clusters authenticate
        # via kinit/keytab outside Spark confs
        return {}
    if store == "abfs":
        return {
            "spark.jars.packages": f"org.apache.hadoop:hadoop-azure:{hv}",
        }
    if store == "gs":
        return {
            "spark.jars.packages": (
                "com.google.cloud.bigdataoss:gcs-connector:hadoop3-2.2.25"
            ),
            "spark.hadoop.fs.gs.impl": (
                "com.google.cloud.hadoop.fs.GoogleHadoopFileSystem"
            ),
        }
    raise ValueError(f"unknown object store {store!r} (s3a|hdfs|abfs|gs)")


HEALTH_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("fmt", StringType()),
        StructField("ok", BooleanType()),
        StructField("n_vars", IntegerType()),
        StructField("n_cells", LongType()),
        StructField("error", StringType()),
    ]
)


def scan_directory_health(spark: SparkSession, path: str, pattern: str = "*.nc") -> DataFrame:
    """Ingest pre-flight: decode every file on the executors and
    report per-file health (format, 3-D variable count, cell count,
    error) instead of failing the job. The operational guard for a
    100 TB directory where one truncated or foreign file must not kill
    a multi-hour ingest — run this first, then ingest the ``ok`` set
    (or use ``ingest_directory(skip_corrupt=True)``). Same
    distribution shape as the ingest itself: binaryFile → mapInPandas,
    one file per task, nothing through the driver."""
    ensure_package_on_workers(spark)
    files = spark.read.format("binaryFile").option("pathGlobFilter", pattern).load(path)

    def _probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np
        import pandas as _pd

        from netcdf_olap_spark.sources.hdf5 import read_hdf5
        from netcdf_olap_spark.sources.netcdf3 import read_netcdf3

        for pdf in batches:
            rows = []
            for p, content in zip(pdf["path"], pdf["content"]):
                content = bytes(content)
                fmt = netcdf_format(content)
                try:
                    if fmt == "hdf5":
                        f = read_hdf5(content)
                    elif fmt == "classic":
                        f = read_netcdf3(content)
                    else:
                        raise ValueError("unrecognized magic bytes")
                    vars3 = [v for v in f.variables.values() if len(v.shape) == 3]
                    cells = sum(int(_np.prod(v.shape)) for v in vars3)
                    rows.append((p, fmt, True, len(vars3), cells, None))
                except Exception as e:  # noqa: BLE001 — the point is to report, not raise
                    rows.append((p, fmt, False, 0, 0, f"{type(e).__name__}: {e}"))
            yield _pd.DataFrame(rows, columns=[f.name for f in HEALTH_SCHEMA.fields])

    return files.select("path", "content").mapInPandas(_probe, HEALTH_SCHEMA)


def ingest_directory(
    spark: SparkSession,
    path: str,
    ds: str,
    variables: list[str] | None = None,
    pattern: str = "*.nc",
    decoder: Callable[[bytes, str, list[str] | None], Iterator[pd.DataFrame]] | None = None,
    skip_corrupt: bool = False,
) -> DataFrame:
    """Distributed NetCDF directory ingest.

    ``binaryFile`` distributes whole files across executors (one task
    per file — the reference's per-file loop Gddp.scala:119-139, but
    parallel and off-driver); ``mapInPandas`` decodes each file into
    Arrow batches of long rows. At 100 TB this scales with the file
    count; no file's rows ever pass through the driver.

    Default decoder: netCDF4 when installed, else ``auto_decoder`` —
    the vendored readers (classic CDF-1/CDF-2 via sources/netcdf3.py,
    NetCDF-4/HDF5 via sources/hdf5.py) dispatched on magic bytes, zero
    native deps.
    """
    if decoder is None:
        decoder = netcdf4_decoder if _netcdf4_available() else auto_decoder
    ensure_package_on_workers(spark)

    files = spark.read.format("binaryFile").option("pathGlobFilter", pattern).load(path)

    # Self-contained closure (pickled by value except `decoder`, which
    # tests supply from their own module): no references to this
    # package inside, so Python workers never need netcdf_olap_spark
    # importable regardless of the driver process's cwd.
    dec, ds_, vars_, skip_ = decoder, ds, variables, skip_corrupt

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for content in pdf["content"]:
                if skip_:
                    # quarantine mode: a bad file yields nothing instead
                    # of failing the job; scan_directory_health reports
                    # which files were dropped and why
                    try:
                        yield from dec(bytes(content), ds_, vars_)
                    except Exception:  # noqa: BLE001
                        continue
                else:
                    yield from dec(bytes(content), ds_, vars_)

    return files.select("content").mapInPandas(_decode, schema=GRID_SCHEMA)


# ---------------------------------------------------------------------------
# Parquet layout + metadata catalog
# ---------------------------------------------------------------------------


def write_cube_parquet(df: DataFrame, out_dir: str, mode: str = "overwrite") -> None:
    """Write the long cube as Parquet partitioned by
    ``(ds, variable, date)`` — the physical layout every slice
    operator's filters prune on:

    - variable selection (P1) → `variable=` directory pruning,
    - date-range (P2/P3) → `date=` partition pruning, replacing the
      reference's open-every-file metadata loop (Gddp.scala:119-133),
    - y/x/time residuals → parquet row-group min/max skipping.
    """
    (
        df.withColumn("date", F.to_date("time"))
        .repartition("ds", "variable", "date")  # one writer task per partition → no tiny files
        .write.partitionBy("ds", "variable", "date")
        .mode(mode)
        .parquet(out_dir)
    )


def read_cube_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Read the partitioned layout back in grid-table column order."""
    return spark.read.parquet(path).select(*[f.name for f in GRID_SCHEMA.fields])


def cube_catalog(df: DataFrame) -> DataFrame:
    """Metadata probe (S3): per (ds, variable) time extent + row/cell
    counts — the relational replacement for the reference's
    per-file variable/time-extent scan (Gddp.scala:119-131). On the
    partitioned layout this is a metadata-cheap aggregate (partition
    values + footer stats; no value columns read)."""
    return df.groupBy("ds", "variable").agg(
        F.min("time").alias("time_min"),
        F.max("time").alias("time_max"),
        F.count(F.lit(1)).alias("n_rows"),
        F.count("value").alias("n_values"),
    )


def overlapping_variables(catalog: DataFrame, start_date: str, end_date: str) -> DataFrame:
    """File/partition pruning predicate as data: catalog entries whose
    [time_min, time_max] overlaps [start, end] — the reference's
    closed-interval test ``fileStart <= reqEnd && fileEnd >= reqStart``
    (Gddp.scala:132-133) with the same inclusive day bounds as
    operators/slice.py (start@00:00, end@23:59 → < end+1d)."""
    lo, hi = _day_bounds(start_date, end_date)
    return catalog.where((F.col("time_min") < hi) & (F.col("time_max") >= lo))
