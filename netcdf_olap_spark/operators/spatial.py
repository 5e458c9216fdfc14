"""Spatial operators: bbox window, polygon mask, nearest-cell lookup.

Reference semantics being re-expressed (SURVEY.md §2.2):

- P4 nearest cell (Gddp.scala:25-38): argmin over the coordinate
  arrays of **plain degree-space squared-Euclidean** distance — NOT
  haversine (the reference declares ``earth_radius = 6371`` at
  Gddp.scala:22 but never uses it). We preserve that semantic and
  express it as ``min_by`` — a single partial+final aggregate, no
  sort, no O(cells) driver scan (fixes the perf hazard at
  BASELINE.md "known perf hazard").
- P5 bbox window (Gddp.scala:73-94): the reference converts the
  polygon envelope to index space with a hemisphere assumption
  ("Probably only works in ... Northern and Western hemispheres",
  Gddp.scala:87). We filter on lat/lon directly — hemisphere-safe,
  and the predicate pushes down to parquet row-group stats.
- P6 polygon mask (Gddp.scala:235, delegates to GeoTrellis
  rasterization): coarse-to-fine — native bbox prefilter (pushed
  down, O4 in SURVEY §4) then an Arrow-batched vectorized ray-cast
  predicate over survivors only. No shapely dependency.

Scale note: the polygon is tiny (a query constant) — it ships inside
the UDF closure, never a join. The bbox prefilter means the Python
boundary sees only the envelope's cells, not the full cube.
"""

from __future__ import annotations

import json
import math
from typing import Iterable, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType
from pyspark.sql.window import Window

Ring = Sequence[tuple[float, float]]


def bbox_filter(df: DataFrame, lat_min: float, lat_max: float, lon_min: float, lon_max: float) -> DataFrame:
    """P5: keep cells inside the lat/lon window (inclusive bounds,
    matching the closed index ranges of Gddp.scala:223-226)."""
    return df.where(
        F.col("lat").between(F.lit(lat_min), F.lit(lat_max))
        & F.col("lon").between(F.lit(lon_min), F.lit(lon_max))
    )


def ring_envelope(ring: Ring) -> tuple[float, float, float, float]:
    """A6: (lat_min, lat_max, lon_min, lon_max) of a closed ring —
    the ``polygon.envelope`` of Gddp.scala:149 without GeoTrellis."""
    lats = [p[1] for p in ring]
    lons = [p[0] for p in ring]
    return min(lats), max(lats), min(lons), max(lons)


def parse_geojson_polygon(text: str) -> list[tuple[float, float]]:
    """S7: extract the first Polygon's outer ring from GeoJSON
    (Feature, FeatureCollection, or bare geometry — the shapes the
    reference round-trips through main.py:51-87 / Gddp.scala:143-148).

    Rejects (``ValueError``) non-finite coordinates — Python's JSON
    parser accepts ``NaN``/``Infinity`` — and rings with fewer than 4
    positions once closed (GeoJSON's minimum; a 2-point ring encloses
    nothing).
    """
    obj = json.loads(text)
    if obj.get("type") == "FeatureCollection":
        obj = obj["features"][0]
    if obj.get("type") == "Feature":
        obj = obj["geometry"]
    if obj.get("type") != "Polygon":
        raise ValueError(f"expected Polygon, got {obj.get('type')}")
    ring = [(float(lon), float(lat)) for lon, lat in obj["coordinates"][0]]
    if not all(math.isfinite(v) for p in ring for v in p):
        raise ValueError("polygon coordinates must be finite")
    if ring and ring[0] != ring[-1]:
        ring.append(ring[0])
    if len(ring) < 4:
        raise ValueError(f"polygon ring needs at least 4 positions, got {len(ring)}")
    return ring


def _ray_cast(lon: np.ndarray, lat: np.ndarray, ring: Ring) -> np.ndarray:
    """Vectorized even-odd point-in-polygon over numpy arrays."""
    inside = np.zeros(lon.shape, dtype=bool)
    for i in range(len(ring) - 1):
        x1, y1 = ring[i]
        x2, y2 = ring[i + 1]
        cond = (y1 > lat) != (y2 > lat)
        if not cond.any():
            continue
        with np.errstate(divide="ignore", invalid="ignore"):
            xcross = (x2 - x1) * (lat - y1) / (y2 - y1) + x1
        inside ^= cond & (lon < xcross)
    return inside


def in_polygon_col(ring: Ring) -> Column:
    """P6 fine stage: vectorized (Arrow-batched) point-in-polygon
    predicate column. The ring is captured in the closure — a scalar
    broadcast, not data motion.

    The ray-cast is duplicated inside the UDF body (rather than
    calling module-level ``_ray_cast``) so cloudpickle ships it **by
    value**: executors never need this package on their PYTHONPATH —
    a hard requirement once the driver isn't launched from the repo
    root (and on any real cluster without --py-files)."""
    ring_const = [tuple(p) for p in ring]

    @F.pandas_udf(BooleanType())
    def _pip(lon: pd.Series, lat: pd.Series) -> pd.Series:
        import numpy as _np
        import pandas as _pd

        lo = lon.to_numpy(dtype=_np.float64)
        la = lat.to_numpy(dtype=_np.float64)
        inside = _np.zeros(lo.shape, dtype=bool)
        for i in range(len(ring_const) - 1):
            x1, y1 = ring_const[i]
            x2, y2 = ring_const[i + 1]
            cond = (y1 > la) != (y2 > la)
            if not cond.any():
                continue
            with _np.errstate(divide="ignore", invalid="ignore"):
                xcross = (x2 - x1) * (la - y1) / (y2 - y1) + x1
            inside ^= cond & (lo < xcross)
        return _pd.Series(inside)

    return _pip(F.col("lon"), F.col("lat"))


def in_polygon_expr(ring: Ring) -> Column:
    """P6 fine stage, JVM-native: the same even-odd ray cast unrolled
    into one whole-stage-codegen'd boolean expression — one XOR term
    per polygon edge (`a != b` is boolean XOR in Spark SQL). Query
    polygons are small (the reference's UI draws rectangles → 5-point
    rings, map.jsx:174-185), so the unrolled expression stays tiny.

    Bit-identical to the pandas_udf variant (`in_polygon_col`): both
    evaluate ``lon < (x2-x1)·(lat-y1)/(y2-y1) + x1`` in float64 in the
    same edge order, and horizontal edges (y1 == y2) contribute a
    constant-false crossing term in both (numpy: cond masks the inf;
    here: the edge is skipped).

    Preferred at scale: no Arrow boundary, no Python workers in the
    flagship path — the whole slice-mask-aggregate plan is one codegen
    span over the parquet scan.

    Built as ONE SQL string parsed once: composing it from Column
    objects costs ~100 py4j calls per ring. ``repr(float) + "D"`` is an
    exact double literal (repr round-trips), so the parsed tree is the
    one ``F.lit`` columns would compose to; the XOR chain is left-associative without
    nested parentheses. Ring coordinates must be finite (guaranteed by
    ``parse_geojson_polygon``): ``inf``/``nan`` have no SQL literal."""

    def dlit(v: float) -> str:
        return repr(float(v)) + "D"

    terms = ["false"]
    for i in range(len(ring) - 1):
        x1, y1 = float(ring[i][0]), float(ring[i][1])
        x2, y2 = float(ring[i + 1][0]), float(ring[i + 1][1])
        if y1 == y2:
            continue  # crossing condition (y1>lat) != (y2>lat) is constant-false
        cond = f"(({dlit(y1)} > lat) != ({dlit(y2)} > lat))"
        xcross = f"((({dlit(x2 - x1)} * (lat - {dlit(y1)})) / {dlit(y2 - y1)}) + {dlit(x1)})"
        terms.append(f"({cond} AND (lon < {xcross}))")
    return F.expr(" != ".join(terms))


def polygon_mask(df: DataFrame, ring: Ring, method: str = "native") -> DataFrame:
    """P6: coarse bbox prefilter (native, pushed down) then exact
    ray-cast on survivors — the coarse-to-fine pattern of
    Gddp.scala:206-210 + 235 (SURVEY §4 O4).

    ``method="native"`` (default) keeps the fine stage in whole-stage
    codegen; ``"pandas"`` routes it through the Arrow-batched UDF
    (kept as the §2.10 scalar-pandas_udf surface and as the template
    for masks too complex to unroll — equality of the two is pinned
    in tests/test_spatial.py)."""
    lat_min, lat_max, lon_min, lon_max = ring_envelope(ring)
    fine = in_polygon_expr(ring) if method == "native" else in_polygon_col(ring)
    return bbox_filter(df, lat_min, lat_max, lon_min, lon_max).where(fine)


def zonal_flags(zones: dict[str, Ring]) -> Column:
    """Multi-region membership in one pass: an array of (zone_id,
    in_zone) structs, one ray-cast expression per zone — all plan
    constants, all codegen'd. Explode + filter turns it into the
    (cell, zone) pairs a zonal-statistics rollup aggregates; rows
    fan out ×|zones| map-side BEFORE the filter, so keep zone sets
    per-query small (for thousands of zones, switch to a broadcast
    zone-envelope join + per-envelope fine mask)."""
    from pyspark.sql import functions as F

    return F.array(
        *[
            F.struct(F.lit(zid).alias("zone_id"), in_polygon_expr(ring).alias("in_zone"))
            for zid, ring in sorted(zones.items())
        ]
    )


def zonal_stats(df: DataFrame, zones: dict[str, Ring], value_col: str = "value") -> DataFrame:
    """Per-zone aggregate statistics of the masked raster — the
    classic zonal-statistics operator, single scan for all zones."""
    from pyspark.sql import functions as F

    z = F.explode(zonal_flags(zones)).alias("z")
    return (
        df.select(F.col(value_col).alias("_v"), z)
        .where(F.col("z.in_zone"))
        .groupBy(F.col("z.zone_id").alias("zone_id"))
        .agg(
            F.count("_v").alias("n_cells"),
            (F.sum(F.col("_v").cast("decimal(30,6)")).cast("double") / F.count("_v")).alias("avg_val"),
            F.min("_v").alias("min_val"),
            F.max("_v").alias("max_val"),
        )
    )


def sq_degree_dist(lat: float, lon: float) -> Column:
    """The reference's distance metric (Gddp.scala:30): squared
    Euclidean distance in degree space. Deliberately not haversine."""
    return (F.col("lat") - F.lit(lat)) ** 2 + (F.col("lon") - F.lit(lon)) ** 2


def nearest_cell(coords: DataFrame, lat: float, lon: float) -> DataFrame:
    """P4/A4: the (y, x) of the grid cell nearest to a query point.

    ``min_by(struct(y, x, lat, lon), (dist, y, x))`` — one
    partial+final aggregate; ties broken by (y, x) for determinism
    (the reference's linear scan keeps the first index, i.e. smallest
    flattened y*W+x — same ordering).
    """
    d = sq_degree_dist(lat, lon).alias("dist")
    best = coords.select(
        F.min_by(
            F.struct("y", "x", "lat", "lon"), F.struct(d, F.col("y"), F.col("x"))
        ).alias("best")
    )
    return best.select("best.y", "best.x", "best.lat", "best.lon")


def nearest_cells_topk(coords: DataFrame, lat: float, lon: float, k: int) -> DataFrame:
    """Top-k nearest cells: orderBy + limit → Catalyst plans
    TakeOrderedAndProject (per-partition heap, no full sort)."""
    return (
        coords.select("y", "x", "lat", "lon", sq_degree_dist(lat, lon).alias("dist"))
        .orderBy(F.col("dist").asc(), F.col("y").asc(), F.col("x").asc())
        .limit(k)
    )


def blocked_nearest_join(
    points: DataFrame, stations: DataFrame, block: int
) -> DataFrame:
    """Grid-partitioned nearest-neighbor JOIN: for every point, the
    nearest station (degree-space L2, the reference's metric), found
    among stations in the point's (y DIV block, x DIV block) block
    and its 8 neighbors.

    This is the scale answer to the reference's known perf hazard —
    an O(cells) linear argmin PER QUERY POINT (Gddp.scala:25-38,
    ~1.39 M cells scanned twice): each point explodes map-side into
    its 9 candidate block keys (×9 rows, no shuffle), meets stations
    in ONE equi-join on the block key, and a per-point rank-1 window
    picks the winner. Cost is O(points × stations-per-neighborhood)
    instead of O(points × stations). Result is the true nearest
    whenever station spacing ≤ block (a station always exists within
    one block in index space); ties broken by (s_y, s_x).

    ``points`` needs (y, x, lat, lon); ``stations`` needs the same.
    At scale: the join co-shuffles both sides on the block key (AQE
    broadcasts the station side when small); the window shuffles on
    the point key. Pre-bucketing both tables by block key at rest
    removes the join exchange entirely (operators/shuffle.py).
    """
    st = stations.select(
        F.col("y").alias("s_y"),
        F.col("x").alias("s_x"),
        F.col("lat").alias("s_lat"),
        F.col("lon").alias("s_lon"),
        F.expr(f"y DIV {block}").alias("nby"),
        F.expr(f"x DIV {block}").alias("nbx"),
    )
    nb = F.explode(
        F.array(
            *[
                F.struct(
                    (F.expr(f"y DIV {block}") + F.lit(dy)).alias("nby"),
                    (F.expr(f"x DIV {block}") + F.lit(dx)).alias("nbx"),
                )
                for dy in (-1, 0, 1)
                for dx in (-1, 0, 1)
            ]
        )
    )
    probes = points.select("y", "x", "lat", "lon", nb.alias("nb")).select(
        "y", "x", "lat", "lon", F.col("nb.nby").alias("nby"), F.col("nb.nbx").alias("nbx")
    )
    # products/sums only (IEEE-exact on identical inputs) — no pow.
    d2 = (F.col("lat") - F.col("s_lat")) * (F.col("lat") - F.col("s_lat")) + (
        F.col("lon") - F.col("s_lon")
    ) * (F.col("lon") - F.col("s_lon"))
    cand = probes.join(st, ["nby", "nbx"]).select(
        "y", "x", "s_y", "s_x", d2.alias("d2")
    )
    w = Window.partitionBy("y", "x").orderBy(
        F.col("d2").asc(), F.col("s_y").asc(), F.col("s_x").asc()
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


def focal_mean_3x3(
    df: DataFrame, value_col: str = "value", y_col: str = "y", x_col: str = "x"
) -> DataFrame:
    """3×3 focal (neighborhood) mean over one 2-D slice — GeoTrellis
    ``focalMean`` semantics (NODATA-skipping, shrinking border
    window). Each cell explodes to the 9 targets it influences
    (map-side ×9 fan-out), one aggregate on the target key, then a
    semi-join against the real cell set prunes phantom border
    targets. One shuffle; never a 9-way self-join of the slice.
    Returns (y, x, n_neighbors, focal_mean)."""
    offsets = F.array(
        *[
            F.struct(F.lit(dy).alias("dy"), F.lit(dx).alias("dx"))
            for dy in (-1, 0, 1)
            for dx in (-1, 0, 1)
        ]
    )
    contrib = (
        df.select(
            F.col(y_col).alias("_y"), F.col(x_col).alias("_x"), F.col(value_col).alias("_v")
        )
        .select("_y", "_x", "_v", F.explode(offsets).alias("o"))
        .select(
            (F.col("_y") + F.col("o.dy")).alias("ty"),
            (F.col("_x") + F.col("o.dx")).alias("tx"),
            "_v",
        )
    )
    focal = contrib.groupBy("ty", "tx").agg(
        F.count("_v").alias("n_neighbors"),
        (F.sum(F.col("_v").cast("decimal(30,6)")).cast("double") / F.count("_v")).alias(
            "focal_mean"
        ),
    )
    cells = df.select(F.col(y_col).alias("ty"), F.col(x_col).alias("tx"))
    return focal.join(cells, ["ty", "tx"], "left_semi").select(
        F.col("ty").alias(y_col), F.col("tx").alias(x_col), "n_neighbors", "focal_mean"
    )
