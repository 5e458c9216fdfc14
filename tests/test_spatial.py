"""Reference-semantics tests for the spatial operators (SURVEY.md §5).

The two semantic traps (fill-value NULLs, degree-space L2 nearest
neighbor) plus ray-cast correctness against the independently
implemented fixture generator."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from fixtures.gen_fixtures import POLYGON, point_in_polygon
from netcdf_olap_spark.operators import spatial
from netcdf_olap_spark.session import load_coords, load_grid


def test_ray_cast_matches_generator(spark):
    """Engine ray-cast (pandas UDF) == fixture generator ray-cast
    (independent numpy implementation) on every grid cell."""
    coords = load_coords(spark, register=False)
    got = (
        coords.select("y", "x", "lon", "lat", spatial.in_polygon_col(POLYGON).alias("got"))
        .collect()
    )
    lon = np.array([r.lon for r in got])
    lat = np.array([r.lat for r in got])
    want = point_in_polygon(lon, lat, POLYGON)
    assert [bool(r.got) for r in got] == [bool(w) for w in want]
    assert 0 < int(want.sum()) < len(want)  # nontrivial polygon


def test_polygon_mask_subset_of_bbox(spark):
    coords = load_coords(spark, register=False)
    lat_min, lat_max, lon_min, lon_max = spatial.ring_envelope(POLYGON)
    n_bbox = spatial.bbox_filter(coords, lat_min, lat_max, lon_min, lon_max).count()
    n_poly = spatial.polygon_mask(coords, POLYGON).count()
    assert 0 < n_poly < n_bbox


def test_nearest_cell_degree_space_semantics(spark):
    """P4 (Gddp.scala:25-38): plain degree-space L2 — verify against
    a numpy argmin over the full coordinate arrays, including the
    first-index tie-break."""
    coords = load_coords(spark, register=False)
    rows = coords.select("y", "x", "lat", "lon").collect()
    lat = np.array([r.lat for r in rows])
    lon = np.array([r.lon for r in rows])
    for qlat, qlon in [(43.05, -83.2), (42.0, -84.0), (50.0, -70.0)]:  # inside, corner, far outside
        d = (lat - qlat) ** 2 + (lon - qlon) ** 2
        # reference keeps the first flattened index on ties → stable argmin
        i = int(np.lexsort((np.array([r.x for r in rows]), np.array([r.y for r in rows]), d))[0])
        got = spatial.nearest_cell(coords, qlat, qlon).collect()[0]
        assert (got.y, got.x) == (rows[i].y, rows[i].x), (qlat, qlon)


def test_nearest_topk_ordered(spark):
    coords = load_coords(spark, register=False)
    rows = spatial.nearest_cells_topk(coords, 42.71, -83.43, 5).collect()
    assert len(rows) == 5
    dists = [r.dist for r in rows]
    assert dists == sorted(dists)


def test_geojson_parse_roundtrip():
    import json

    ring = spatial.parse_geojson_polygon(
        json.dumps(
            {
                "type": "FeatureCollection",
                "features": [
                    {
                        "type": "Feature",
                        "geometry": {
                            "type": "Polygon",
                            "coordinates": [[[-83.6, 42.3], [-82.9, 42.45], [-83.3, 43.3]]],
                        },
                    }
                ],
            }
        )
    )
    assert ring[0] == ring[-1]  # auto-closed
    assert len(ring) == 4


def test_fill_value_nulls_skipped(spark):
    """P7: NULL cells (the _FillValue analog) are excluded from
    aggregates but counted in row counts."""
    g = load_grid(spark, register=False)
    row = g.agg(
        F.count(F.lit(1)).alias("rows"),
        F.count("value").alias("vals"),
        F.avg("value").alias("avg"),
    ).collect()[0]
    assert row.rows > row.vals > 0  # ~7% nulls exist
    assert row.avg is not None


# Constants whose repr is exponent-form (``1e-05``, ``1.5e+20``, and
# the ~1e-05 x-offset of the near-vertical edge) reach the SQL-string
# predicate as exponent literals.
EXP_RING = [(-83.5, 1e-05), (1.5e20, 42.8), (-83.00001, 43.3), (-83.0, 42.6), (-83.5, 1e-05)]


def test_native_expr_equals_pandas_udf_raycast(spark):
    """The unrolled JVM expression and the Arrow UDF must agree on
    every grid cell (same float64 arithmetic, same edge order)."""
    coords = load_coords(spark, register=False)
    n = coords.count()
    for ring in (POLYGON, EXP_RING):
        row = coords.select(
            (spatial.in_polygon_expr(ring) != spatial.in_polygon_col(ring)).alias("d"),
            spatial.in_polygon_expr(ring).alias("inside"),
        ).agg(F.sum(F.col("d").cast("int")).alias("diff"), F.sum(F.col("inside").cast("int")).alias("n_in")).collect()[0]
        assert row.diff == 0, ring
        assert 0 < row.n_in < n, ring  # the ring splits the grid


def test_blocked_nearest_matches_brute_force(spark):
    """Blocked NN join == per-point brute-force argmin for EVERY grid
    cell (station spacing == block size guarantees the 3x3 block
    neighborhood holds the true nearest), and the plan is an
    equi-join, never a cartesian/nested-loop product."""
    coords = load_coords(spark, register=False)
    stations = coords.where((F.col("y") % 8 == 0) & (F.col("x") % 8 == 0))
    got = {
        (r.y, r.x): (r.s_y, r.s_x)
        for r in spatial.blocked_nearest_join(coords, stations, block=8).collect()
    }
    st = [(r.s_y, r.s_x, r.s_lat, r.s_lon) for r in stations.select(
        F.col("y").alias("s_y"), F.col("x").alias("s_x"),
        F.col("lat").alias("s_lat"), F.col("lon").alias("s_lon")).collect()]
    pts = coords.select("y", "x", "lat", "lon").collect()
    assert len(got) == len(pts)
    for p in pts:
        best = min(
            ((plat := p.lat - slat) * plat + (plon := p.lon - slon) * plon, sy, sx)
            for sy, sx, slat, slon in st
        )
        assert got[(p.y, p.x)] == (best[1], best[2]), (p.y, p.x)
    plan = spatial.blocked_nearest_join(coords, stations, block=8)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
