"""End-to-end: raw cube files → distributed ingest → partitioned
parquet layout → the reference's flagship query (CubeQuery slice +
polygon mask + aggregate) — the full workflow a reference user runs
(upload NetCDF, draw polygon, pick dates, get per-variable stats),
minus only the HTTP wrapper."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from netcdf_olap_spark.plans import CubeQuery
from netcdf_olap_spark.sources import netcdf as src
from netcdf_olap_spark.sources.netcdf3 import write_netcdf3

NT, NY, NX = 10, 12, 14
FILL = -9.99e8


def _write_nc(path, var, data, th, lat, lon):
    """One cube as a classic CDF-1 file with 2-D lat/lon and FILL as
    its ``_FillValue``."""
    path.write_bytes(
        write_netcdf3(
            dimensions={"time": None, "y": NY, "x": NX},
            variables={
                "time": (("time",), th, {"units": "hours since 1990-01-01"}),
                "lat": (("y", "x"), lat, {"long_name": "latitude coordinate"}),
                "lon": (("y", "x"), lon, {"long_name": "longitude coordinate"}),
                var: (("time", "y", "x"), data, {"_FillValue": FILL}),
            },
        )
    )


def test_ingest_then_flagship_query(spark, tmp_path):
    rng = np.random.default_rng(2026)
    yy, xx = np.meshgrid(np.arange(NY), np.arange(NX), indexing="ij")
    lat = 42.0 + 0.1 * yy
    lon = -84.0 + 0.1 * xx

    cubes = {}
    for i, var in enumerate(("tas", "pr")):
        data = rng.normal(270.0 + 10 * i, 3.0, (NT, NY, NX))
        data[rng.random((NT, NY, NX)) < 0.05] = FILL
        cubes[var] = data
        _write_nc(tmp_path / f"{var}.nc", var, data, np.arange(NT) * 24, lat, lon)

    # distributed ingest → partitioned layout → read back
    raw = src.ingest_directory(spark, str(tmp_path), ds="itest")
    out = os.path.join(str(tmp_path), "cube_parquet")
    src.write_cube_parquet(raw, out)
    grid = src.read_cube_parquet(spark, out)

    # the flagship query: polygon + date range + one variable
    ring = [(-83.75, 42.15), (-83.05, 42.15), (-83.05, 42.95), (-83.75, 42.95), (-83.75, 42.15)]
    q = CubeQuery(start_date="1990-01-03", end_date="1990-01-07", variables=["tas"], polygon=ring)
    got = {r["variable"]: r for r in q.aggregate(grid).collect()}

    # ground truth in numpy: days 2..6 inclusive; rectangle covers
    # lat in [42.15, 42.95] (y 2..9), lon in [-83.75, -83.05] (x 3..9)
    # — ray-cast boundary: left/bottom edges in, right/top edges out
    sel = cubes["tas"][2:7, 2:10, 3:10]
    valid = sel[sel != FILL]
    assert got.keys() == {"tas"}
    assert got["tas"]["n_vals"] == valid.size
    assert got["tas"]["avg_val"] == pytest.approx(float(valid.mean()), rel=1e-6)

    # and the catalog sees both variables with the right extent
    cat = {r["variable"]: r for r in src.cube_catalog(grid).collect()}
    assert set(cat) == {"tas", "pr"}
    assert cat["pr"]["time_max"].isoformat() == "1990-01-10T00:00:00"
