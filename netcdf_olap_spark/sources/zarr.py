"""Vendored Zarr v2 format: store reader/writer, distributed cube
ingest, and the ``zarr_cube`` streaming DataSource.

Zarr v2 (public spec, zarr-specs.readthedocs.io/en/latest/v2/v2.0.html)
is the cloud-native array layout the climate community pairs with
NetCDF: the same dense (time, y, x) cube model the reference slices
(SURVEY §1.1; Gddp.scala:119-139 reads one variable per NetCDF file),
but with each chunk in its OWN object — so the chunk grid is already
a list of independently decodable units, and a (time, bbox) slice
prunes to exactly the chunk files it overlaps by NAME, before any
byte is read (the directory-level analog of the netcdf source's
file-level time pruning).

Scope (deliberately the cube-model subset, like sources/netcdf3.py):
C-order arrays, little/big-endian int/float dtypes (``[<>]{f4,f8,i4,
i8}``), compressor ``null`` or ``zlib``, no filters, fill_value
sentinel → NULL.  Blosc/LZ4 codecs are out of scope in this
container (no wheels) and raise cleanly.  Vendored from the spec,
not from zarr-python.

One implementation of each piece of the format serves every caller
(batch ingest, the stream reader, the writer and sinks/zarr.py):

- ``_check_meta`` / ``write_zarray``: metadata validation and the
  ``.zarray`` builder;
- ``encode_chunk``: pad an edge chunk to full chunk shape, then zlib;
- ``decode_chunk`` / ``read_zarr_array``: the chunk decoder and the
  whole-array reader;
- ``read_store``: the coordinate axes plus data-variable metadata,
  validated against each other;
- ``chunk_rows``: one chunk's bytes (``None`` for an absent chunk) →
  long GRID rows.

Two distribution forms sit on top:

- ``ingest_zarr_store`` — the one batch read: ``binaryFile`` +
  ``mapInPandas``; Spark packs chunk objects into file splits (4 tasks
  for the fixture's 28 chunks);
- ``spark.readStream.format("zarr_cube")`` — arriving chunk objects
  become micro-batches.  A batch ``spark.read.format("zarr_cube")`` is
  not supported.

SELF-CONTAINMENT: Spark's streaming Python source planner
(``python_streaming_source_runner``) deserializes the stream reader
in its OWN Python process, which has pyspark on the path but NOT this
package (``addPyFile`` reaches task workers, not that runner).  So
this module imports nothing from ``netcdf_olap_spark`` at module
level, and ``register()`` marks it for cloudpickle BY-VALUE
serialization.
"""

from __future__ import annotations

import glob
import json
import math
import os
import zlib
from collections.abc import Iterator, Sequence
from itertools import product

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# sources/netcdf.GRID_SCHEMA, restated (no package imports here); a
# StructType, because parsing a DDL string costs a JVM round trip
# (~0.4 s on a fresh session)
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

_SUPPORTED_DTYPES = {"<f4", "<f8", "<i4", "<i8", ">f4", ">f8", ">i4", ">i8"}
_COORDS = ("time", "lat", "lon")


# ---------------------------------------------------------------------------
# metadata + chunk codec
# ---------------------------------------------------------------------------


def _check_meta(meta: dict) -> None:
    if meta.get("zarr_format") != 2:
        raise ValueError(f"unsupported zarr_format: {meta.get('zarr_format')}")
    if meta.get("order", "C") != "C":
        raise NotImplementedError("only C-order zarr arrays supported")
    if meta.get("filters"):
        raise NotImplementedError("zarr filters not supported")
    comp = meta.get("compressor")
    if comp is not None and comp.get("id") != "zlib":
        raise NotImplementedError(f"unsupported zarr compressor: {comp.get('id')}")
    if meta["dtype"] not in _SUPPORTED_DTYPES:
        raise NotImplementedError(f"unsupported zarr dtype: {meta['dtype']}")


def _spec(meta: dict) -> tuple:
    """``.zarray`` dict → the compact tuple every codec call takes:
    (chunks, shape, dtype, compressed, fill)."""
    return (
        tuple(meta["chunks"]),
        tuple(meta["shape"]),
        meta["dtype"],
        bool(meta.get("compressor")),
        meta.get("fill_value"),
    )


def _grid(shape, chunks):
    """Every chunk index of the array, in C order."""
    return product(*[range(math.ceil(s / c)) for s, c in zip(shape, chunks)])


def _key(cidx) -> str:
    return ".".join(str(i) for i in cidx)


def _cidx(key: str) -> tuple[int, ...]:
    return tuple(int(p) for p in key.split("."))


def _valid(cidx, chunks, shape) -> tuple[int, ...]:
    """Extent of a chunk inside the array (edge chunks are shorter)."""
    return tuple(min((i + 1) * c, s) - i * c for i, c, s in zip(cidx, chunks, shape))


def write_zarray(adir, shape, chunks, dtype, compressor, fill_value) -> tuple:
    """Build, validate and write one ``.zarray``; returns its spec.
    Deterministic bytes: sorted JSON keys, zlib level 6."""
    meta = {
        "zarr_format": 2,
        "shape": list(shape),
        "chunks": list(chunks),
        "dtype": dtype,
        "compressor": {"id": "zlib", "level": 6} if compressor == "zlib" else None,
        "fill_value": fill_value,
        "order": "C",
        "filters": None,
    }
    _check_meta(meta)
    os.makedirs(adir, exist_ok=True)
    with open(os.path.join(adir, ".zarray"), "w") as fh:
        json.dump(meta, fh, sort_keys=True, indent=1)
    return _spec(meta)


def encode_chunk(spec: tuple, block: np.ndarray) -> bytes:
    """One chunk's cells → its stored bytes.  Edge chunks are stored
    at FULL chunk shape per the spec, padded with the fill value (0
    when there is none)."""
    chunks, _shape, dtype, compressed, fill = spec
    if block.shape != chunks:
        full = np.full(chunks, 0 if fill is None else fill, dtype=block.dtype)
        full[tuple(slice(0, e) for e in block.shape)] = block
        block = full
    buf = np.ascontiguousarray(block, dtype=np.dtype(dtype)).tobytes()
    return zlib.compress(buf, 6) if compressed else buf


def decode_chunk(spec: tuple, content: bytes, cidx: tuple[int, ...]) -> np.ndarray:
    """One chunk object → its VALID block (edge padding trimmed)."""
    chunks, shape, dtype, compressed, _fill = spec
    if compressed:
        content = zlib.decompress(content)
    block = np.frombuffer(content, dtype=np.dtype(dtype)).reshape(chunks)
    return block[tuple(slice(0, n) for n in _valid(cidx, chunks, shape))]


# ---------------------------------------------------------------------------
# writer (fixtures / export — deterministic bytes)
# ---------------------------------------------------------------------------


def write_zarr_array(
    adir: str,
    data: np.ndarray,
    chunks: tuple[int, ...] | None = None,
    compressor: str | None = "zlib",
    fill_value: float | int | None = None,
    attrs: dict | None = None,
) -> None:
    """Write one Zarr v2 array directory (``.zarray`` + chunk files)."""
    chunks = tuple(chunks or data.shape)
    if len(chunks) != data.ndim:
        raise ValueError("chunks rank != data rank")
    spec = write_zarray(adir, data.shape, chunks, data.dtype.str, compressor, fill_value)
    if attrs:
        with open(os.path.join(adir, ".zattrs"), "w") as fh:
            json.dump(attrs, fh, sort_keys=True, indent=1)
    for cidx in _grid(data.shape, chunks):
        sel = tuple(slice(i * c, min((i + 1) * c, s)) for i, c, s in zip(cidx, chunks, data.shape))
        with open(os.path.join(adir, _key(cidx)), "wb") as fh:
            fh.write(encode_chunk(spec, data[sel]))


def write_zarr_group(root: str) -> None:
    os.makedirs(root, exist_ok=True)
    with open(os.path.join(root, ".zgroup"), "w") as fh:
        json.dump({"zarr_format": 2}, fh, sort_keys=True)


# ---------------------------------------------------------------------------
# driver-side reader (metadata probe + small arrays: coords, tests)
# ---------------------------------------------------------------------------


def read_array_meta(adir: str) -> dict:
    with open(os.path.join(adir, ".zarray")) as fh:
        meta = json.load(fh)
    _check_meta(meta)
    return meta


def read_zarr_array(adir: str) -> np.ndarray:
    """Whole-array driver-side read — coords and tests only; data
    variables are decoded distributed."""
    meta = read_array_meta(adir)
    spec = _spec(meta)
    chunks, shape, dtype, _comp, fill = spec
    out = np.zeros(shape, dtype=np.dtype(dtype))
    for cidx in _grid(shape, chunks):
        path = os.path.join(adir, _key(cidx))
        sel = tuple(slice(i * c, min((i + 1) * c, s)) for i, c, s in zip(cidx, chunks, shape))
        if not os.path.exists(path):  # absent chunk = all fill (spec)
            out[sel] = 0 if fill is None else fill
            continue
        with open(path, "rb") as fh:
            out[sel] = decode_chunk(spec, fh.read(), cidx)
    return out


def store_arrays(root: str) -> dict[str, dict]:
    """name → .zarray meta for every array in the store."""
    out: dict[str, dict] = {}
    for name in sorted(os.listdir(root)):
        adir = os.path.join(root, name)
        if os.path.isdir(adir) and os.path.exists(os.path.join(adir, ".zarray")):
            out[name] = read_array_meta(adir)
    return out


def read_store(root: str, strict_time: bool = True):
    """The store's coordinate axes and data-variable specs, validated
    against each other → (time_us, lat2d, lon2d, {variable: spec}).

    ``time`` is hours-since-1990 (Gddp.scala:125-129; fractional hours
    kept at µs precision); ``lat``/``lon`` are separable 1-D axes
    (broadcast here to the cell grid) or the reference's 2-D
    curvilinear arrays (Gddp.scala:178-182).  Every 3-D array other
    than the coordinates is a data variable and must be shaped
    (nt, ny, nx).  ``strict_time=False`` skips the nt check: a stream
    reader can observe the time axis extended before a variable's
    ``.zarray`` shape bump (the append race)."""
    metas = store_arrays(root)
    for c in _COORDS:
        if c not in metas:
            raise ValueError(f"zarr store missing coordinate array: {c}")
    hours = read_zarr_array(os.path.join(root, "time"))
    base = np.datetime64("1990-01-01T00:00:00", "us")
    us = np.rint(np.asarray(hours, dtype=np.float64) * 3_600_000_000.0).astype(np.int64)
    time_us = (base + us.astype("timedelta64[us]")).astype("datetime64[us]")
    lat_arr = read_zarr_array(os.path.join(root, "lat")).astype(np.float64)
    lon_arr = read_zarr_array(os.path.join(root, "lon")).astype(np.float64)
    if lat_arr.ndim == 2:  # curvilinear (the reference's 2-D lat/lon)
        if lon_arr.shape != lat_arr.shape:
            raise ValueError("2-D lat/lon shapes differ")
        lat2d, lon2d = lat_arr, lon_arr
    else:  # separable 1-D axes → broadcast to the cell grid
        lat2d = np.repeat(lat_arr[:, None], len(lon_arr), axis=1)
        lon2d = np.tile(lon_arr[None, :], (len(lat_arr), 1))
    nt, (ny, nx) = len(time_us), lat2d.shape
    specs = {}
    for name, m in metas.items():
        if name in _COORDS or len(m["shape"]) != 3:
            continue
        t, y, x = m["shape"]
        if (y, x) != (ny, nx) or (strict_time and t != nt):
            raise ValueError(f"{name}: shape {m['shape']} != coord axes {(nt, ny, nx)}")
        specs[name] = _spec(m)
    return time_us, lat2d, lon2d, specs


def _chunk_objects(root: str, var: str, spec: tuple) -> Iterator[tuple[str, bool]]:
    """(chunk key, present?) over the variable's whole chunk grid.
    The spec's absent chunk (zarr-python's write_empty_chunks=False)
    means every cell holds fill_value."""
    have = {f for f in os.listdir(os.path.join(root, var)) if not f.startswith(".")}
    for cidx in _grid(spec[1], spec[0]):
        key = _key(cidx)
        yield key, key in have


def chunk_rows(ds, variable, spec, cidx, content, time_us, lat2d, lon2d) -> pd.DataFrame:
    """One chunk → the long GRID frame: edge trim, fill→NULL (NaN),
    cells with non-finite coordinates dropped.  ``content=None`` is
    an absent chunk: every cell at fill — NULL when a fill is
    declared, literal 0 otherwise (spec)."""
    chunks, shape, _dtype, _comp, fill = spec
    if content is None:
        block = np.full(_valid(cidx, chunks, shape), np.nan if fill is not None else 0.0)
    else:
        block = decode_chunk(spec, content, cidx).astype(np.float64)
        if fill is not None:
            block = np.where(block == np.float64(fill), np.nan, block)
    bt, by, bx = block.shape
    t0, y0, x0 = (i * c for i, c in zip(cidx, chunks))
    ys = np.arange(y0, y0 + by, dtype=np.int32)
    xs = np.arange(x0, x0 + bx, dtype=np.int32)
    yy, xx = np.meshgrid(ys, xs, indexing="ij")
    cell = np.ix_(ys, xs)
    lats = lat2d[cell].ravel()
    lons = lon2d[cell].ravel()
    out = pd.DataFrame(
        {
            "ds": ds,
            "variable": variable,
            "time": np.repeat(time_us[t0 : t0 + bt], by * bx),
            "y": np.tile(yy.ravel(), bt),
            "x": np.tile(xx.ravel(), bt),
            "lat": np.tile(lats, bt),
            "lon": np.tile(lons, bt),
            "value": block.ravel(),
        }
    )
    # cells with non-finite coordinates are ABSENT, not emitted
    # (cube_to_pandas' rule: they have no position in the lat/lon
    # query model, and NaN poisons extrema)
    placed = np.isfinite(lats) & np.isfinite(lons)
    if not placed.all():
        out = out[np.tile(placed, bt)].reset_index(drop=True)
    return out


# ---------------------------------------------------------------------------
# distributed batch ingest (the scale path)
# ---------------------------------------------------------------------------


def ingest_zarr_store(spark: SparkSession, root: str, ds: str) -> DataFrame:
    """Distributed Zarr cube ingest → the long GRID frame (the Zarr
    twin of ``netcdf.ingest_directory``).

    Metadata and coordinate axes are tiny — read once on the driver
    (``read_store``) and captured by value in the decode closure; the
    DATA chunks flow through ``binaryFile``, which packs chunk objects
    into file splits (4 tasks for the fixture store's 28 chunks on 4
    cores), into ``mapInPandas``.  Spark's default path filter hides
    dotfiles, so ``.zarray``/``.zattrs`` never reach the decoder;
    chunk files are classified by their parent directory name."""
    from netcdf_olap_spark.sources.netcdf import ensure_package_on_workers

    time_us, lat2d, lon2d, specs = read_store(root)
    ensure_package_on_workers(spark)
    files = spark.read.format("binaryFile").option("recursiveFileLookup", "true").load(root)

    # binaryFile only lists existing objects, so absent chunks are
    # diffed driver-side (metadata-scale: chunk-grid size, no data
    # read) and their fill rows synthesized distributed below
    missing = [
        (name, key)
        for name, spec in specs.items()
        for key, present in _chunk_objects(root, name, spec)
        if not present
    ]

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for path, content in zip(pdf["path"], pdf["content"]):
                var, key = path.rstrip("/").split("/")[-2:]
                if var in specs:
                    yield chunk_rows(
                        ds, var, specs[var], _cidx(key), bytes(content), time_us, lat2d, lon2d
                    )

    decoded = files.select("path", "content").mapInPandas(_decode, schema=GRID_SCHEMA)
    if not missing:
        return decoded

    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for var, key in zip(pdf["variable"], pdf["ck"]):
                yield chunk_rows(ds, var, specs[var], _cidx(key), None, time_us, lat2d, lon2d)

    missing_schema = StructType([StructField(n, StringType()) for n in ("variable", "ck")])
    mdf = spark.createDataFrame(missing, missing_schema).repartition(min(32, len(missing)))
    return decoded.unionByName(mdf.mapInPandas(_synth, schema=GRID_SCHEMA))


# ---------------------------------------------------------------------------
# the zarr_cube DataSource (chunk-arrival streaming only)
# ---------------------------------------------------------------------------


class ZarrCubeDataSource(DataSource):
    """``spark.readStream.format("zarr_cube")``.  Options: ``path``
    (store root), ``ds`` (dataset id, default dir name), ``variables``
    (comma allowlist).  Batch reads go through ``ingest_zarr_store``."""

    @classmethod
    def name(cls) -> str:
        return "zarr_cube"

    def schema(self) -> str:
        return GRID_SCHEMA

    def simpleStreamReader(self, schema) -> "ZarrCubeStreamReader":
        return ZarrCubeStreamReader(self.options)


class ZarrCubeReader:
    """The stream's options plus one snapshot of the store's metadata
    and coordinate axes (``read_store`` with ``strict_time=False``: a
    stream can observe the time axis extended before a variable's
    shape bump)."""

    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("zarr_cube: path is required")
        self.ds = options.get("ds") or os.path.basename(self.path.rstrip("/"))
        raw = options.get("variables")
        self.variables: Sequence[str] | None = (
            [v.strip() for v in raw.split(",") if v.strip()] if raw else None
        )
        self.time_us, self.lat2d, self.lon2d, self.metas = read_store(
            self.path, strict_time=False
        )

    def _chunk_files(self, var: str) -> list[str]:
        return sorted(
            f
            for f in glob.glob(os.path.join(self.path, var, "*"))
            if not os.path.basename(f).startswith(".")
        )


class ZarrCubeStreamReader(SimpleDataSourceStreamReader):
    """Arriving chunk objects become micro-batches.  The offset is
    the sorted chunk-file list already ingested PLUS the time-axis
    length at consumption (exactly-once replay via
    readBetweenOffsets decodes against that pinned length, so a
    later shape bump cannot change what a committed batch contained);
    the coordinate axes and array metadata are re-read per batch
    because appends EXTEND them.

    Append-race rule: a chunk object that lies ENTIRELY beyond the
    current ``.zarray`` shape (the conventional commit order writes
    chunk objects first, bumps the shape last) is left OUT of the
    offset — it is consumed by a later batch once the shape bump
    lands, instead of being silently swallowed as zero rows.  Edge
    chunks partially covered by the current shape are consumed
    trimmed; if an append later REWRITES such a chunk in place
    (non-slab-aligned appends), the file-set offset cannot see the
    rewrite — publish slab-aligned appends (whole new chunk objects,
    as sinks/zarr.export_zarr_store emits) for streaming consumers.
    Offsets grow with the chunk count of the store — bounded by
    chunk-grid metadata, not data, but long-lived streams over
    ever-growing stores should compact checkpoints periodically (the
    netcdf_cube file-set offset has the same property)."""

    def __init__(self, options: dict):
        self.options = dict(options)

    def _reader(self) -> ZarrCubeReader:
        return ZarrCubeReader(self.options)

    def initialOffset(self) -> dict:
        return {"chunks": []}

    def _list(self, rd: ZarrCubeReader) -> list[str]:
        out = []
        for var in sorted(rd.metas):
            if rd.variables is not None and var not in rd.variables:
                continue
            out.extend(rd._chunk_files(var))
        return sorted(out)

    def _rows_for(self, rd: ZarrCubeReader, files: list[str], nt_cap: int):
        def _py(x):
            # the tuple path gets no Arrow conversion: NaN→NULL and
            # numpy→Python scalars are done here
            if x is None or (isinstance(x, float) and x != x):
                return None
            if isinstance(x, np.integer):
                return int(x)
            if isinstance(x, np.floating):
                return None if np.isnan(x) else float(x)
            if isinstance(x, pd.Timestamp):
                return x.to_pydatetime()
            return x

        out = []
        for f in files:
            var = os.path.basename(os.path.dirname(f))
            if var not in rd.metas:
                continue
            chunks, shape, dtype, comp, fill = rd.metas[var]
            # pin the time axis to the offset's length: replay must
            # decode what the ORIGINAL batch saw, not a later bump
            spec = (chunks, (min(shape[0], nt_cap),) + shape[1:], dtype, comp, fill)
            with open(f, "rb") as fh:
                content = fh.read()
            pdf = chunk_rows(
                rd.ds, var, spec, _cidx(os.path.basename(f)), content,
                rd.time_us[:nt_cap], rd.lat2d, rd.lon2d,
            )
            for t in pdf.itertuples(index=False, name=None):
                out.append(tuple(_py(x) for x in t))
        return iter(out)

    def _ready(self, rd: ZarrCubeReader, f: str, nt: int) -> bool:
        """Consumable now = at least one time step of the chunk lies
        within the current shape (see class docstring's append-race
        rule)."""
        var = os.path.basename(os.path.dirname(f))
        if var not in rd.metas:
            return True  # unknown dirs are consumed (and ignored) once
        chunks = rd.metas[var][0]
        t0 = int(os.path.basename(f).split(".")[0]) * chunks[0]
        return t0 < nt

    def read(self, start: dict):
        rd = self._reader()
        nt = len(rd.time_us)
        seen = set(start.get("chunks", []))
        new = [f for f in self._list(rd) if f not in seen]
        ready = [f for f in new if self._ready(rd, f, nt)]
        consumed = sorted(seen | set(ready))
        return self._rows_for(rd, ready, nt), {"chunks": consumed, "nt": nt}

    def readBetweenOffsets(self, start: dict, end: dict):
        rd = self._reader()
        seen = set(start.get("chunks", []))
        nt_cap = int(end.get("nt") or len(rd.time_us))
        return self._rows_for(
            rd, [f for f in end.get("chunks", []) if f not in seen], nt_cap
        )


def register(spark) -> None:
    """Idempotent format registration.  Marks THIS module for
    cloudpickle by-value serialization so the streaming planner
    runner and executors never need the package importable (the
    module imports nothing from netcdf_olap_spark at module level);
    also ships the package for everything else in the session."""
    import sys

    from pyspark import cloudpickle

    try:
        cloudpickle.register_pickle_by_value(sys.modules[__name__])
    except Exception:  # older cloudpickle: fall back to the pyFiles path
        pass
    from netcdf_olap_spark.sources.netcdf import ensure_package_on_workers

    ensure_package_on_workers(spark)
    spark.dataSource.register(ZarrCubeDataSource)
