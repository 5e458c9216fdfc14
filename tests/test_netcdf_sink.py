"""NetCDF export sink (sinks/netcdf.py): export∘ingest is identity.

The loop under test: raw arrays → (ingest) long cube → (export) .nc
files in both formats → (re-ingest through the distributed path) →
identical long cube. Exercises the vendored writers as first-class
sinks, NULL↔_FillValue inversion, the hours-since-1990 re-encode, and
curvilinear 2-D coordinate round-tripping.
"""

from __future__ import annotations

import numpy as np
import pytest

from netcdf_olap_spark.sinks.netcdf import export_netcdf_files
from netcdf_olap_spark.sources import netcdf as src

NT, NY, NX = 4, 3, 5


def _cube_df(spark, ds="exp", var="tas", seed=5, curvilinear=False):
    rng = np.random.default_rng(seed)
    data = rng.normal(280.0, 5.0, (NT, NY, NX))
    data[0, 0, 0] = np.nan  # a NULL cell: must become _FillValue and come back NULL
    data[3, 2, 4] = np.nan
    th = (np.arange(NT) * 24).astype(np.int64)
    lat1 = 42.0 + 0.5 * np.arange(NY)
    lon1 = -84.0 + 0.5 * np.arange(NX)
    lon, lat = np.meshgrid(lon1, lat1)
    if curvilinear:
        lat = lat + 0.01 * lon1[None, :]  # lat varies along x → genuinely 2-D
    return src.cube_to_df(spark, ds, var, data, th, lat, lon, fill_value=None), data


KEY = ["ds", "variable", "time", "y", "x"]


def _rows(df):
    return [tuple(r) for r in df.orderBy(*KEY).collect()]


@pytest.mark.parametrize("fmt,gzip", [("classic", None), ("hdf5", None), ("hdf5", 6)])
def test_export_then_ingest_is_identity(spark, tmp_path, fmt, gzip):
    cube, _data = _cube_df(spark, seed=7)
    rows = export_netcdf_files(cube, tmp_path / "out", fmt=fmt, gzip=gzip).collect()
    assert len(rows) == 1
    a = rows[0]
    assert (a.nt, a.ny, a.nx) == (NT, NY, NX)
    assert a.n_valid == NT * NY * NX - 2
    assert a.path.endswith(".nc")

    back = src.ingest_directory(spark, str(tmp_path / "out"), ds="exp")
    assert _rows(back) == _rows(cube)


def test_export_curvilinear_coords_roundtrip(spark, tmp_path):
    cube, _ = _cube_df(spark, seed=9, curvilinear=True)
    export_netcdf_files(cube, tmp_path / "o", fmt="hdf5").collect()
    back = src.ingest_directory(spark, str(tmp_path / "o"), ds="exp")
    assert _rows(back) == _rows(cube)


def test_export_one_artifact_per_variable(spark, tmp_path):
    a, _ = _cube_df(spark, var="tas", seed=1)
    b, _ = _cube_df(spark, var="pr", seed=2)
    cube = a.union(b)
    rows = export_netcdf_files(cube, tmp_path / "multi", fmt="classic").collect()
    assert sorted((r.ds, r.variable) for r in rows) == [("exp", "pr"), ("exp", "tas")]
    back = src.ingest_directory(spark, str(tmp_path / "multi"), ds="exp")
    assert _rows(back) == _rows(cube)


def test_export_rejects_sub_hour_times(spark, tmp_path):
    cube, _ = _cube_df(spark, seed=3)
    from pyspark.sql import functions as F

    shifted = cube.withColumn("time", F.col("time") + F.expr("INTERVAL 30 MINUTES"))
    with pytest.raises(Exception, match="hour-aligned"):
        export_netcdf_files(shifted, tmp_path, fmt="classic").collect()


def test_export_windowed_slice_keeps_original_indices(spark, tmp_path):
    """A spatial-window slice (y/x NOT starting at 0) must round-trip
    with its ORIGINAL grid indices — the integer y/x index variables
    carry them; a renumbered 0-based grid would silently break joins
    against the source cube."""
    from pyspark.sql import functions as F

    cube, _ = _cube_df(spark, seed=21)
    window = cube.where(F.col("y").between(1, 2) & F.col("x").between(2, 4))
    export_netcdf_files(window, tmp_path / "w", fmt="hdf5").collect()
    back = src.ingest_directory(spark, str(tmp_path / "w"), ds="exp")
    assert _rows(back) == _rows(window)
    ys = sorted(r.y for r in back.select("y").distinct().collect())
    assert ys == [1, 2]  # original indices, not 0/1


def test_fractional_hours_decode_exact(spark):
    """Float time axes (common in real files) decode at µs precision
    instead of truncating 12.5 h to 12 h."""
    import pandas as pd

    from netcdf_olap_spark.sources.netcdf3 import write_netcdf3

    frames = list(
        src.auto_decoder(
            write_netcdf3(
                dimensions={"time": None, "lat": 1, "lon": 1},
                variables={
                    "time": (("time",), np.array([12.5, 36.25]), {}),
                    "lat": (("lat",), np.array([40.0]), {"long_name": "latitude coordinate"}),
                    "lon": (("lon",), np.array([-90.0]), {"long_name": "longitude coordinate"}),
                    "v": (("time", "lat", "lon"), np.ones((2, 1, 1)), {}),
                },
            ),
            ds="frac",
        )
    )
    times = sorted(frames[0]["time"])
    assert times == [pd.Timestamp("1990-01-01 12:30:00"), pd.Timestamp("1990-01-02 12:15:00")]


def test_export_rejects_sub_hour_times_far_from_epoch(spark, tmp_path):
    """The hour-alignment check is exact integer arithmetic: a
    30-minute offset in 2026 (where a relative float tolerance of the
    ~321000-hour magnitude would span hours) must still be rejected."""
    import numpy as np
    from pyspark.sql import functions as F

    cube, _ = _cube_df(spark, seed=2)
    shifted = cube.withColumn("time", F.col("time") + F.expr("INTERVAL 36 YEARS") + F.expr("INTERVAL 30 MINUTES"))
    with pytest.raises(Exception, match="hour-aligned"):
        export_netcdf_files(shifted, tmp_path, fmt="classic").collect()


def test_hdf5_export_attaches_dimension_scales(spark, tmp_path):
    """hdf5-flavor exports carry DIMENSION_LIST so external netCDF-4
    tools resolve time/y/x structurally, and re-ingest through our own
    reader sees the attachment."""
    from pyspark.sql import functions as F

    from netcdf_olap_spark.session import load_grid
    from netcdf_olap_spark.sources.hdf5 import read_hdf5

    var = load_grid(spark, register=False).select("variable").first()[0]
    g = load_grid(spark, register=False).where(F.col("variable") == var).limit(300)
    row = export_netcdf_files(g, tmp_path, fmt="hdf5").first()
    f = read_hdf5(open(row.path, "rb").read())
    assert f.dim_scales == {var: ["time", "y", "x"]}
