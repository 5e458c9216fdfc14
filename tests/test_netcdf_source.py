"""NetCDF ingest source (sources/netcdf.py): the two semantic traps
(1990-epoch time decode Gddp.scala:126, fill→NULL Gddp.scala:188-191),
the distributed binaryFile+mapInPandas plumbing, the partitioned
Parquet layout's pruning, and the metadata catalog's closed-interval
overlap test (Gddp.scala:132-133)."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from netcdf_olap_spark.sources import netcdf as src
from netcdf_olap_spark.sources.netcdf3 import write_netcdf3

NT, NY, NX = 4, 5, 6
FILL = -9999.0


def _cube(seed: int = 7):
    rng = np.random.default_rng(seed)
    data = rng.normal(280.0, 5.0, (NT, NY, NX))
    data[0, 0, 0] = FILL
    data[2, 3, 4] = FILL
    time_hours = np.arange(NT) * 24  # daily, hours since 1990
    yy, xx = np.meshgrid(np.arange(NY), np.arange(NX), indexing="ij")
    lat = 42.0 + 0.1 * yy + 0.01 * xx
    lon = -84.0 + 0.1 * xx + 0.01 * yy
    return data, time_hours, lat, lon


def _nc_bytes(time_hours, lat, lon, **cubes) -> bytes:
    """Classic CDF-1 bytes: time (record dim) × y × x cubes named by
    the keywords, 2-D curvilinear lat/lon found by ``long_name``, and
    FILL as each cube's ``_FillValue``."""
    return write_netcdf3(
        dimensions={"time": None, "y": lat.shape[0], "x": lat.shape[1]},
        variables={
            "time": (("time",), time_hours, {"units": "hours since 1990-01-01"}),
            "lat": (("y", "x"), lat, {"long_name": "latitude coordinate"}),
            "lon": (("y", "x"), lon, {"long_name": "longitude coordinate"}),
            **{v: (("time", "y", "x"), d, {"_FillValue": FILL}) for v, d in cubes.items()},
        },
    )


def test_cube_to_df_time_decode_and_fill(spark):
    data, time_hours, lat, lon = _cube()
    df = src.cube_to_df(spark, "d1", "tas", data, time_hours, lat, lon, fill_value=FILL)

    assert df.count() == NT * NY * NX
    assert df.where(F.col("value").isNull()).count() == 2

    # hours-since-1990 decode: hour 24 == 1990-01-02T00:00 (Gddp.scala:126-129)
    t = sorted(r[0] for r in df.select("time").distinct().collect())
    assert t[0].isoformat() == "1990-01-01T00:00:00"
    assert t[1].isoformat() == "1990-01-02T00:00:00"

    # curvilinear coords land on the right cells
    row = df.where((F.col("y") == 3) & (F.col("x") == 4)).select("lat", "lon").first()
    assert row["lat"] == pytest.approx(42.0 + 0.3 + 0.04)
    assert row["lon"] == pytest.approx(-84.0 + 0.4 + 0.03)

    # non-fill values survive exactly
    got = (
        df.where((F.col("y") == 1) & (F.col("x") == 2))
        .orderBy("time")
        .select("value")
        .collect()
    )
    assert [r[0] for r in got] == pytest.approx(list(data[:, 1, 2]))


def test_ingest_directory_distributed(spark, tmp_path):
    """Two fake cube files through the real binaryFile+mapInPandas
    path == union of the driver-side conversions."""
    d1, th, lat, lon = _cube(1)
    d2, _, _, _ = _cube(2)
    (tmp_path / "a.nc").write_bytes(_nc_bytes(th, lat, lon, tas=d1))
    (tmp_path / "b.nc").write_bytes(_nc_bytes(th + NT * 24, lat, lon, tas=d2))

    df = src.ingest_directory(spark, str(tmp_path), ds="d1")
    assert df.count() == 2 * NT * NY * NX
    assert df.schema == src.GRID_SCHEMA
    # file 2's time axis is shifted: distinct timestamps = 2*NT
    assert df.select("time").distinct().count() == 2 * NT
    assert df.where(F.col("value").isNull()).count() == 4

    # the variables allowlist keeps only the listed variables of a file
    (tmp_path / "c.nc").write_bytes(_nc_bytes(th + 2 * NT * 24, lat, lon, tas=d1, pr=d2))
    pr = src.ingest_directory(spark, str(tmp_path), ds="d1", variables=["pr"])
    assert pr.select("variable").distinct().collect() == [("pr",)]
    assert pr.count() == NT * NY * NX


def test_ingest_directory_default_decoder_is_real_nc(spark, tmp_path):
    """Bytes that are not HDF5 go to the vendored classic reader,
    whose magic check names the problem (full end-to-end coverage in
    tests/test_netcdf3.py)."""
    bad = tmp_path / "x.nc"
    bad.write_bytes(b"not a netcdf file")
    df = src.ingest_directory(spark, str(tmp_path), ds="d1")
    with pytest.raises(Exception, match="CDF magic"):
        df.count()


def test_partitioned_roundtrip_and_pruning(spark, tmp_path):
    data, th, lat, lon = _cube()
    df = src.cube_to_df(spark, "d1", "tas", data, th, lat, lon, fill_value=FILL)
    out = os.path.join(str(tmp_path), "cube")
    src.write_cube_parquet(df, out)

    back = src.read_cube_parquet(spark, out)
    assert back.count() == NT * NY * NX
    assert [f.name for f in back.schema.fields] == [f.name for f in src.GRID_SCHEMA.fields]

    # date-derived partition column prunes the scan (the relational
    # replacement of per-file time pruning, Gddp.scala:132-133)
    day2 = back.where(F.to_date("time") == "1990-01-02")
    assert day2.count() == NY * NX
    plan = day2._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_catalog_and_overlap(spark):
    data, th, lat, lon = _cube()
    a = src.cube_to_df(spark, "d1", "tas", data, th, lat, lon, FILL)
    b = src.cube_to_df(spark, "d1", "pr", data, th + 10 * 24, lat, lon, FILL)
    cat = src.cube_catalog(a.unionByName(b))

    rows = {r["variable"]: r for r in cat.collect()}
    assert rows["tas"]["time_min"].isoformat() == "1990-01-01T00:00:00"
    assert rows["tas"]["time_max"].isoformat() == "1990-01-04T00:00:00"
    assert rows["tas"]["n_rows"] == NT * NY * NX
    assert rows["tas"]["n_values"] == NT * NY * NX - 2

    # closed-interval overlap (Gddp.scala:132-133): the request
    # [1990-01-04, 1990-01-05] touches tas's last day but not pr
    # (starts 01-11); [1990-01-11, ...] touches only pr.
    hit = {r["variable"] for r in src.overlapping_variables(cat, "1990-01-04", "1990-01-05").collect()}
    assert hit == {"tas"}
    hit = {r["variable"] for r in src.overlapping_variables(cat, "1990-01-11", "1990-01-12").collect()}
    assert hit == {"pr"}
    hit = {r["variable"] for r in src.overlapping_variables(cat, "1990-01-01", "1990-01-20").collect()}
    assert hit == {"tas", "pr"}


def test_cube_stream_ingests_arriving_files(spark, tmp_path):
    """Streaming form of the directory scan: files landing in the
    watched directory appear as micro-batches; rows equal the batch
    read of the same files (incl. fill→NULL), and a file added after
    the first drain arrives in the next one."""
    from netcdf_olap_spark.sources.netcdf_datasource import register

    register(spark)
    d = tmp_path / "arrivals"
    d.mkdir()
    data, th, lat, lon = _cube()
    (d / "day1.nc").write_bytes(_nc_bytes(th, lat, lon, tas=data))

    stream = spark.readStream.format("netcdf_cube").options(path=str(d), ds="live").load()
    q = (
        stream.writeStream.format("memory")
        .queryName("cube_arrivals")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        q.processAllAvailable()
        got1 = spark.sql("SELECT COUNT(*) AS n FROM cube_arrivals").first().n
        assert got1 == data.size

        data2 = _cube(seed=8)[0]  # fresh values, same two FILL cells
        (d / "day2.nc").write_bytes(_nc_bytes(th + len(th) * 24, lat, lon, tas=data2))
        q.processAllAvailable()
        out = spark.table("cube_arrivals")
        assert out.count() == 2 * data.size
        # fill→NULL preserved on the tuple path (2 fills per file)
        assert out.where(F.col("value").isNull()).count() == 4
        # second file's time axis is disjoint and later
        assert out.select(F.countDistinct("time")).first()[0] == 2 * len(th)
    finally:
        q.stop()


def test_ingest_directory_accepts_filesystem_uri(spark, tmp_path):
    """Remote-store path shape (reference README.md:10 reads S3/HDFS):
    ``ingest_directory`` must go through the Hadoop FileSystem URI
    machinery, not os.path — a ``file://`` absolute URI (the same
    resolution path s3a://\u2009/\u2009hdfs:// take) yields the identical
    cube as the bare local path."""
    d1, th, lat, lon = _cube(1)
    (tmp_path / "a.nc").write_bytes(_nc_bytes(th, lat, lon, tas=d1))

    plain = src.ingest_directory(spark, str(tmp_path), ds="d1")
    via_uri = src.ingest_directory(spark, f"file://{tmp_path}", ds="d1")
    assert via_uri.count() == plain.count() == NT * NY * NX
    a = {tuple(r) for r in plain.collect()}
    b = {tuple(r) for r in via_uri.collect()}
    assert a == b


def test_package_shipped_once_per_context_from_threads(spark):
    """Concurrent API requests all call ensure_package_on_workers:
    from 8 threads at once, addPyFile must run once per SparkContext
    (each call grows sys.path and invalidates import caches, which is
    not thread-safe), and the real context must list the zip once."""
    import sys
    import threading
    import time
    from concurrent.futures import ThreadPoolExecutor

    class _Context:
        def __init__(self):
            self.added = []

        def addPyFile(self, path):
            time.sleep(0.01)  # widen the window a check-then-add race needs
            self.added.append(path)

    class _Session:
        def __init__(self, sc):
            self.sparkContext = sc

    def hammer(session):
        gate = threading.Barrier(8)

        def call(_):
            gate.wait(timeout=30)
            src.ensure_package_on_workers(session)

        with ThreadPoolExecutor(8) as pool:
            list(pool.map(call, range(8), timeout=60))

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        stub = _Context()
        hammer(_Session(stub))
        hammer(spark)
    finally:
        sys.setswitchinterval(switch)
    assert stub.added == [src._package_zip()]
    includes = spark.sparkContext._python_includes
    assert includes.count(os.path.basename(src._package_zip())) == 1


def test_decode_resolves_coords_via_dimension_scales():
    """A netCDF-4 file whose coordinate variables have NO conventional
    names and NO long_name attributes still ingests: the decoder falls
    back to the DIMENSION_LIST dimension scales (structural
    attachment, how netCDF4/h5py resolve coordinates). A file with no
    resolvable coordinates raises a clean ValueError."""
    import numpy as np

    from netcdf_olap_spark.sources.hdf5 import write_hdf5

    t = np.arange(3, dtype="<i4") * 24
    la = np.linspace(40.0, 42.0, 4)
    lo = np.linspace(-80.0, -78.0, 5)
    cube = np.random.default_rng(1).normal(10, 3, (3, 4, 5))
    b = write_hdf5(
        {"m": (cube, {"units": "K"}), "tsteps": (t, {}), "rlat": (la, {}), "rlon": (lo, {})},
        dim_scales={"m": ("tsteps", "rlat", "rlon")},
    )
    (pdf,) = list(src.auto_decoder(b, "ds1"))
    assert len(pdf) == 3 * 4 * 5
    got = pdf.sort_values(["time", "y", "x"])["value"].to_numpy().reshape(3, 4, 5)
    np.testing.assert_allclose(got, cube)
    assert sorted(pdf["lat"].unique()) == sorted(np.repeat(la, 1))

    import pytest as _pytest

    b_bad = write_hdf5({"m": (cube, {}), "zz": (t, {})})
    with _pytest.raises(ValueError, match="no .* coordinate for variable 'm'"):
        list(src.auto_decoder(b_bad, "ds3"))


def test_decode_multi_grid_file_keeps_coords_per_variable():
    """Two 3-D variables on DIFFERENT grids (same shapes, different
    scale values, no conventional names): each decodes with its OWN
    dimension scales — coordinates never leak across variables."""
    import numpy as np

    from netcdf_olap_spark.sources.hdf5 import write_hdf5

    t = np.arange(2, dtype="<i4") * 24
    la1, lo1 = np.array([40.0, 41.0]), np.array([-80.0, -79.0, -78.0])
    la2, lo2 = np.array([10.0, 11.0]), np.array([100.0, 101.0, 102.0])
    c1 = np.arange(12, dtype=np.float64).reshape(2, 2, 3)
    c2 = c1 * 10
    b = write_hdf5(
        {
            "m1": (c1, {}), "m2": (c2, {}),
            "ts": (t, {}), "la1": (la1, {}), "lo1": (lo1, {}),
            "la2": (la2, {}), "lo2": (lo2, {}),
        },
        dim_scales={"m1": ("ts", "la1", "lo1"), "m2": ("ts", "la2", "lo2")},
    )
    frames = {str(p["variable"].iloc[0]): p for p in src.auto_decoder(b, "ds")}
    assert set(frames) == {"m1", "m2"}
    assert sorted(frames["m1"]["lat"].unique()) == [40.0, 41.0]
    assert sorted(frames["m2"]["lat"].unique()) == [10.0, 11.0]
    assert sorted(frames["m2"]["lon"].unique()) == [100.0, 101.0, 102.0]


def test_decode_mixed_rank_coordinates_broadcast():
    """One coordinate 2-D (curvilinear, by long_name), the other a 1-D
    dimension scale: the 1-D side broadcasts instead of failing the
    grid-shape check."""
    import numpy as np

    from netcdf_olap_spark.sources.hdf5 import write_hdf5

    t = np.arange(2, dtype="<i4") * 24
    lat2d = np.array([[40.0, 40.1, 40.2], [41.0, 41.1, 41.2]])
    lo = np.array([-80.0, -79.0, -78.0])
    cube = np.arange(12, dtype=np.float64).reshape(2, 2, 3)
    b = write_hdf5(
        {
            "m": (cube, {}),
            "latvar": (lat2d, {"long_name": "latitude coordinate"}),
            "ts": (t, {}), "lonscale": (lo, {}),
        },
        dim_scales={"m": ("ts", None, "lonscale")},
    )
    (pdf,) = list(src.auto_decoder(b, "ds"))
    assert len(pdf) == 12
    assert sorted(pdf["lon"].unique()) == [-80.0, -79.0, -78.0]
    assert sorted(pdf["lat"].unique()) == sorted(lat2d.ravel())


def test_decode_named_coords_wrong_shape_fall_through_to_scales():
    """A file-level conventional-name coordinate sized for ANOTHER grid
    must not be forced onto a variable it cannot fit: the shape guard
    falls through to that variable's own dimension scales."""
    import numpy as np

    from netcdf_olap_spark.sources.hdf5 import write_hdf5

    t = np.arange(2, dtype="<i4") * 24
    # grid A: conventional names, 2x3
    laA, loA = np.array([40.0, 41.0]), np.array([-80.0, -79.0, -78.0])
    cA = np.arange(12, dtype=np.float64).reshape(2, 2, 3)
    # grid B: different SHAPE (4x5), coords only via scales
    laB, loB = np.linspace(10, 13, 4), np.linspace(100, 104, 5)
    cB = np.arange(40, dtype=np.float64).reshape(2, 4, 5)
    b = write_hdf5(
        {
            "mA": (cA, {}), "mB": (cB, {}),
            "time": (t, {}), "lat": (laA, {}), "lon": (loA, {}),
            "laB": (laB, {}), "loB": (loB, {}),
        },
        dim_scales={"mB": ("time", "laB", "loB")},
    )
    frames = {str(p["variable"].iloc[0]): p for p in src.auto_decoder(b, "ds")}
    assert sorted(frames["mA"]["lat"].unique()) == [40.0, 41.0]
    assert sorted(frames["mB"]["lat"].unique()) == sorted(laB)
    assert sorted(frames["mB"]["lon"].unique()) == sorted(loB)
