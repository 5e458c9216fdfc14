"""Spark 4 Python DataSource for NetCDF-style cube directories.

SURVEY.md §2.1 S1 names two rebuild strategies for the reference's
NetCDF scan (Gddp.scala:53-56): an ingest-to-Parquet job
(sources/netcdf.py ingest_directory — the 100 TB default) and "a
custom PySpark DataSource (pyspark.sql.datasource, Spark 4)". This is
the second: ``spark.read.format("netcdf_cube")`` over a directory,
querying the cubes live with no ingest step — the reference's
query-time file-open model, but distributed.

Partitioning model: **one input partition per (file, variable)** —
exactly the reference's unit of parallelism (one RDD task per
requested variable, Gddp.scala:164-165), except file-granular, so a
1000-executor cluster scales with files × variables instead of
variables alone. Spark schedules each partition's ``read()`` on a
Python worker; rows stream out as Arrow batches (the pandas →
Arrow conversion batches ~10k rows), never through the driver.

Column pruning/pushdown status: the long-cube schema is fixed and
small (8 cols); variable pruning — the projection that matters
(SURVEY P1) — is an option (``variables=a,b``) that drops whole
partitions at planning time, which is strictly stronger than
column-level pruning after decode. Time/space predicate pushdown
stays with the Parquet path (O3: "v1 avoids this by ingesting to
Parquet"); this source is the live-query escape hatch, not the
scale path.

Deploy note: the class is pickled by reference to Python workers, so
the package must be importable there (in a real cluster: ship the
wheel via ``spark.submit.pyFiles``). The in-container tests run
local-mode where the driver's sys.path suffices.
"""

from __future__ import annotations

import glob
import os
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from netcdf_olap_spark.sources.netcdf import GRID_SCHEMA


class CubeFilePartition(InputPartition):
    """One (file, variable) decode unit."""

    def __init__(self, path: str, ds: str, variable: str):
        self.path = path
        self.ds = ds
        self.variable = variable


class NetCDFCubeDataSource(DataSource):
    """``spark.read.format("netcdf_cube").options(...).load(dir)``.

    Options:
      - ``path`` (or the ``load()`` argument): directory of cube files
      - ``pattern``: glob within the directory (default ``*.nc``)
      - ``ds``: dataset id stamped on every row (default: dir name)
      - ``variables``: comma-separated measure-variable allowlist —
        partition-level pruning (SURVEY P1)

    Files decode with ``sources.netcdf.auto_decoder``, the same reader
    ``ingest_directory`` uses, so one directory may mix classic and
    NetCDF-4 files.
    """

    @classmethod
    def name(cls) -> str:
        return "netcdf_cube"

    def schema(self):
        return GRID_SCHEMA

    def reader(self, schema) -> "NetCDFCubeReader":
        return NetCDFCubeReader(self.options)

    def simpleStreamReader(self, schema) -> "NetCDFCubeStreamReader":
        return NetCDFCubeStreamReader(self.options)


def _list_variables(path: str) -> list[str]:
    """Cheap metadata probe (driver-side, once per file at planning —
    the reference does the same per-file variable listing,
    Gddp.scala:119-131): the file's 3-D measure variables."""
    from netcdf_olap_spark.sources.netcdf import open_netcdf

    # data arrays are zero-copy frombuffer views, so this costs one
    # file read; at real scale, probe a header-only byte range
    with open(path, "rb") as fh:
        ncf = open_netcdf(fh.read())
    return [n for n, v in ncf.variables.items() if len(v.shape) == 3]


class NetCDFCubeReader(DataSourceReader):
    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("netcdf_cube: path is required")
        self.pattern = options.get("pattern", "*.nc")
        self.ds = options.get("ds") or os.path.basename(self.path.rstrip("/"))
        raw = options.get("variables")
        self.variables: Sequence[str] | None = (
            [v.strip() for v in raw.split(",") if v.strip()] if raw else None
        )

    def partitions(self) -> list[CubeFilePartition]:
        files = sorted(glob.glob(os.path.join(self.path, self.pattern)))
        if not files:
            raise FileNotFoundError(f"netcdf_cube: no {self.pattern} in {self.path}")
        parts = []
        for f in files:
            for v in _list_variables(f):
                if self.variables is not None and v not in self.variables:
                    continue  # partition-level variable pruning
                parts.append(CubeFilePartition(f, self.ds, v))
        return parts

    def read(self, partition: CubeFilePartition) -> Iterator:
        """Decode one (file, variable) on the Python worker and yield
        Arrow batches. Reuses the shared cube→long-rows conversion
        (fill→NULL, 1990-epoch hours decode — the two semantic traps,
        Gddp.scala:126, 188-191)."""
        import pyarrow as pa

        from netcdf_olap_spark.sources.netcdf import auto_decoder

        with open(partition.path, "rb") as fh:
            content = fh.read()
        for pdf in auto_decoder(content, partition.ds, [partition.variable]):
            table = pa.Table.from_pandas(pdf, preserve_index=False)
            yield from table.to_batches(max_chunksize=10_000)


def _ensure_importable(pkg_parent: str) -> None:
    """Make ``netcdf_olap_spark`` importable in the CURRENT process.

    The streaming Python source planner runner deserializes and runs
    the stream reader in its own process, where ``addPyFile`` does
    not reach (found via stream_zarr_ingest's driver-sim failure;
    the zarr source went fully self-contained, but the NetCDF
    decoders are far too large to inline).  The runner always runs
    on the DRIVER NODE, where the package files exist at the path
    the driver imported them from — captured at construction and
    injected here before the decode imports."""
    import importlib
    import sys

    try:
        importlib.import_module("netcdf_olap_spark")
    except ImportError:
        sys.path.insert(0, pkg_parent)


class NetCDFCubeStreamReader(SimpleDataSourceStreamReader):
    """Live cube-arrival stream: ``spark.readStream.format("netcdf_cube")``
    over a directory, each micro-batch = the cube files that appeared
    since the last offset. This is the reference's "new day of data
    lands as a new .nc file" operational model (SURVEY §2.1 S2's
    directory scan) turned into a Structured Streaming source — the
    rows flow into the same watermark/window/rollup machinery as the
    events stream (e.g. streaming/rollup_maint.py for continuous
    cube aggregates).

    Offset model: the sorted list of files already ingested —
    deterministic replay (``readBetweenOffsets``) re-decodes exactly
    the delta, so checkpoint recovery is exactly-once. The simple
    (non-partitioned) reader API decodes on the driver: right for the
    arrival rates of daily cube drops; bulk backfills use the batch
    path's (file, variable) partitions instead."""

    def __init__(self, options: dict):
        self.inner = NetCDFCubeReader(options)
        # repo/site-packages dir that makes the package importable —
        # valid on the driver node, where the planner runner lives
        self.pkg_parent = os.path.dirname(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        )

    def initialOffset(self) -> dict:
        return {"files": []}

    def _list(self) -> list[str]:
        import glob as _glob

        return sorted(_glob.glob(os.path.join(self.inner.path, self.inner.pattern)))

    def _rows_for(self, files: list[str]):
        _ensure_importable(self.pkg_parent)
        from netcdf_olap_spark.sources.netcdf import auto_decoder

        import numpy as np
        import pandas as pd

        def _py(x):
            # the batch path gets these conversions free from Arrow:
            # NaN→NULL (fill semantics) and numpy→Python scalars
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
            with open(f, "rb") as fh:
                content = fh.read()
            for pdf in auto_decoder(content, self.inner.ds, self.inner.variables):
                for t in pdf.itertuples(index=False, name=None):
                    out.append(tuple(_py(x) for x in t))
        return iter(out)

    def read(self, start: dict):
        seen = set(start.get("files", []))
        now = self._list()
        new = [f for f in now if f not in seen]
        return self._rows_for(new), {"files": now}

    def readBetweenOffsets(self, start: dict, end: dict):
        seen = set(start.get("files", []))
        return self._rows_for([f for f in end.get("files", []) if f not in seen])


def register(spark) -> None:
    """Idempotent format registration for the current session. Also
    ships the package to Python workers — the reader decodes with
    ``netcdf_olap_spark`` imports worker-side, which otherwise fail
    when the driver wasn't launched from the repo.  This module is
    additionally marked for cloudpickle BY-VALUE serialization so
    the streaming planner runner (no addPyFile, no package) can
    deserialize the reader class; its decode imports then go through
    ``_ensure_importable``'s driver-node path injection."""
    import sys

    from pyspark import cloudpickle

    try:
        cloudpickle.register_pickle_by_value(sys.modules[__name__])
    except Exception:
        pass
    from netcdf_olap_spark.sources.netcdf import ensure_package_on_workers

    ensure_package_on_workers(spark)
    spark.dataSource.register(NetCDFCubeDataSource)
