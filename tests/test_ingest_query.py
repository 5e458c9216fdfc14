"""grid_ingest_nc — the S1-S3 end-to-end ingest query — and the
worker-side package shipping that makes it (and the netcdf_cube
DataSource) survive drivers launched outside the repo.

The decoders are module-level functions, so cloudpickle serializes
them by reference; without ``ensure_package_on_workers`` a driver
whose cwd/sys.path lacks the repo dies on the executors with
ModuleNotFoundError — exactly the shape the external harness runs
(see tools/driver_sim.py). The subprocess test here reproduces that
shape; it failed before the addPyFile shipping existed.
"""

from __future__ import annotations

import os
import subprocess
import sys

import duckdb
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_ingest_fixture_idempotent_and_mixed_format():
    from netcdf_olap_spark.queries.grid import _ingest_fixture_dir
    from netcdf_olap_spark.sources.hdf5 import is_hdf5

    d1 = _ingest_fixture_dir()
    with open(os.path.join(d1, "classic.nc"), "rb") as fh:
        classic1 = fh.read()
    d2 = _ingest_fixture_dir()  # second call: content-checked no-op
    assert d1 == d2
    with open(os.path.join(d2, "classic.nc"), "rb") as fh:
        assert fh.read() == classic1
    assert classic1[:3] == b"CDF"
    with open(os.path.join(d1, "modern.nc"), "rb") as fh:
        assert is_hdf5(fh.read())


def test_grid_ingest_nc_matches_inline_oracle(spark):
    """Spark's ingest aggregate equals DuckDB's closed-form
    recomputation (no file I/O on the oracle side — decode must be
    value-perfect for these to agree)."""
    from netcdf_olap_spark.queries.grid import GRID_INGEST_NC_SQL, grid_ingest_nc

    got = [tuple(r) for r in grid_ingest_nc(spark, "unused").collect()]
    want = duckdb.sql(GRID_INGEST_NC_SQL).fetchall()
    assert got == want
    assert [r[0] for r in got] == ["bt_rh", "dn_sw", "ea_t2m", "pr", "tas"]
    # n_rows is the full cube; n_vals excludes the planted fill cells
    for _var, n_rows, n_vals, *_rest in got:
        assert n_rows == 120 and n_vals < n_rows


def test_ensure_package_on_workers_idempotent(spark):
    import glob
    import tempfile

    from netcdf_olap_spark.sources.netcdf import ensure_package_on_workers

    ensure_package_on_workers(spark)
    ensure_package_on_workers(spark)  # re-adding the same zip: no-op
    zips = glob.glob(os.path.join(tempfile.gettempdir(), "netcdf_olap_spark_*.zip"))
    assert zips, "content-hash-named package zip should exist"


def test_ingest_many_files_distributes(spark, tmp_path):
    """The unit of ingest parallelism is the file: a 24-file directory
    decodes across multiple input partitions (binaryFile packs small
    files by open-cost, so tiny fixtures still fan out) and the union
    of all files' cells comes back exactly."""
    import numpy as np

    from netcdf_olap_spark.sources.netcdf import ingest_directory
    from netcdf_olap_spark.sources.netcdf3 import write_netcdf3

    nt, ny, nx = 2, 3, 4
    lat = 40.0 + np.arange(ny)
    lon = -90.0 + np.arange(nx)
    for i in range(24):
        data = np.full((nt, ny, nx), float(i))
        b = write_netcdf3(
            dimensions={"time": None, "lat": ny, "lon": nx},
            variables={
                "time": (("time",), (np.arange(nt) + i * nt) * 24, {}),
                "lat": (("lat",), lat, {"long_name": "latitude coordinate"}),
                "lon": (("lon",), lon, {"long_name": "longitude coordinate"}),
                "v": (("time", "lat", "lon"), data, {}),
            },
        )
        (tmp_path / f"f{i:02d}.nc").write_bytes(b)

    df = ingest_directory(spark, str(tmp_path), ds="many")
    assert df.count() == 24 * nt * ny * nx
    assert df.select("time").distinct().count() == 24 * nt
    # every file's constant payload arrived intact
    vals = sorted(r.value for r in df.select("value").distinct().collect())
    assert vals == [float(i) for i in range(24)]
    assert df.rdd.getNumPartitions() > 1  # decode fans out across tasks


def test_health_scan_and_quarantine_ingest(spark, tmp_path):
    """Operational guard for big directories: scan_directory_health
    reports per-file (format, ok, error) without failing, and
    ingest_directory(skip_corrupt=True) drops the bad files while the
    default mode still fails fast."""
    import numpy as np

    from netcdf_olap_spark.sources.hdf5 import write_hdf5
    from netcdf_olap_spark.sources.netcdf import ingest_directory, scan_directory_health
    from netcdf_olap_spark.sources.netcdf3 import write_netcdf3

    lat = 40.0 + np.arange(2)
    lon = -90.0 + np.arange(3)
    good3 = write_netcdf3(
        dimensions={"time": None, "lat": 2, "lon": 3},
        variables={
            "time": (("time",), np.arange(2) * 24, {}),
            "lat": (("lat",), lat, {"long_name": "latitude coordinate"}),
            "lon": (("lon",), lon, {"long_name": "longitude coordinate"}),
            "v": (("time", "lat", "lon"), np.ones((2, 2, 3)), {}),
        },
    )
    good5 = write_hdf5(
        {
            "time": (np.arange(2, dtype="<i4") * 24 + 48, {"long_name": "time"}),
            "lat": (lat, {"long_name": "latitude coordinate"}),
            "lon": (lon, {"long_name": "longitude coordinate"}),
            "v": (np.full((2, 2, 3), 2.0), {}),
        }
    )
    (tmp_path / "good_classic.nc").write_bytes(good3)
    (tmp_path / "good_hdf5.nc").write_bytes(good5)
    (tmp_path / "truncated.nc").write_bytes(good3[: len(good3) // 3])
    (tmp_path / "foreign.nc").write_bytes(b"PK\x03\x04 not a netcdf file at all")

    health = {r.path.rsplit("/", 1)[-1]: r for r in scan_directory_health(spark, str(tmp_path)).collect()}
    assert health["good_classic.nc"].ok and health["good_classic.nc"].fmt == "classic"
    assert health["good_hdf5.nc"].ok and health["good_hdf5.nc"].fmt == "hdf5"
    assert health["good_classic.nc"].n_vars == 1 and health["good_classic.nc"].n_cells == 12
    assert not health["truncated.nc"].ok and health["truncated.nc"].error
    assert not health["foreign.nc"].ok and health["foreign.nc"].fmt == "unknown"

    # quarantine mode: the two good files' cells arrive, bad ones drop
    df = ingest_directory(spark, str(tmp_path), ds="q", skip_corrupt=True)
    assert df.count() == 2 * 12
    # fail-fast default: the corrupt file kills the job loudly
    import pytest as _pytest

    with _pytest.raises(Exception):
        ingest_directory(spark, str(tmp_path), ds="q").count()


def test_nc_stream_feeds_windowed_aggregate(spark, tmp_path):
    """The claimed integration end to end: .nc files arriving on the
    netcdf_cube STREAM flow into a standard windowed aggregate, and
    the drained result equals the batch ingest aggregated the same
    way."""
    import numpy as np
    from pyspark.sql import functions as F

    from netcdf_olap_spark.sources.netcdf import ingest_directory
    from netcdf_olap_spark.sources.netcdf3 import write_netcdf3
    from netcdf_olap_spark.sources.netcdf_datasource import register

    register(spark)
    d = tmp_path / "arrive"
    d.mkdir()
    rng = np.random.default_rng(11)
    lat = 40.0 + np.arange(2)
    lon = -90.0 + np.arange(3)
    for i in range(3):
        cube = rng.normal(10.0, 2.0, (2, 2, 3))
        b = write_netcdf3(
            dimensions={"time": None, "lat": 2, "lon": 3},
            variables={
                "time": (("time",), (np.arange(2) + i * 2) * 24, {}),
                "lat": (("lat",), lat, {"long_name": "latitude coordinate"}),
                "lon": (("lon",), lon, {"long_name": "longitude coordinate"}),
                "v": (("time", "lat", "lon"), cube, {}),
            },
        )
        (d / f"day{i}.nc").write_bytes(b)

    agg = lambda src: (  # noqa: E731
        src.groupBy(F.window("time", "1 day").alias("w"), "variable")
        .agg(
            F.count("value").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("s"),
        )
        .select(F.col("w.start").alias("w_start"), "variable", "n", "s")
    )

    stream = (
        spark.readStream.format("netcdf_cube")
        .options(path=str(d), pattern="*.nc", ds="live")
        .load()
    )
    q = (
        agg(stream)
        .writeStream.format("memory")
        .queryName("nc_windows")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {(r.w_start, r.variable): (r.n, r.s) for r in spark.table("nc_windows").collect()}
    finally:
        q.stop()

    batch = ingest_directory(spark, str(d), ds="live")
    want = {(r.w_start, r.variable): (r.n, r.s) for r in agg(batch).collect()}
    assert got == want and len(want) == 6  # 3 files × 2 daily windows


def test_grid_ingest_nc_survives_external_driver_shape():
    """The exact failure mode that bit: vanilla session, cwd=/tmp,
    non-UTC TZ — workers must import netcdf_olap_spark from the
    shipped zip, not the driver's cwd."""
    code = (
        "import sys; sys.path.insert(0, %r)\n"
        "from pyspark.sql import SparkSession\n"
        "spark = SparkSession.builder.master('local[2]').getOrCreate()\n"
        "import __spark_entry__ as e\n"
        "rows = e.queries()['grid_ingest_nc'](spark, 'unused').collect()\n"
        "assert sorted(r[0] for r in rows) == ['bt_rh', 'dn_sw', 'ea_t2m', 'pr', 'tas'], rows\n"
        "print('DRIVER_SHAPE_OK')\n" % REPO
    )
    env = dict(os.environ, TZ="America/New_York")
    env.pop("PYTHONPATH", None)
    out = subprocess.run(
        [sys.executable, "-c", code], cwd="/tmp", env=env, capture_output=True, text=True, timeout=300
    )
    assert "DRIVER_SHAPE_OK" in out.stdout, out.stdout[-2000:] + out.stderr[-2000:]
