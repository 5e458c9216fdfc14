"""Round-10 second-cohort plan locks + the cos-weight quantization
margin pin for grid_area_weighted_mean (the operators landed after
the r10 closing board: RFM, survival hazard, Bloom probe, duplicated
extents, area-weighted mean, heatwave events)."""

from __future__ import annotations

import math
import re

import pytest

from tests.conftest import SF_SMALL


def _counts(df) -> dict[str, int]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {
        "hash": len(re.findall(r"Exchange hashpartitioning", plan)),
        "single": len(re.findall(r"Exchange SinglePartition", plan)),
        "range": len(re.findall(r"Exchange rangepartitioning", plan)),
        "bcast": len(re.findall(r"BroadcastExchange", plan)),
    }


def test_awm_weight_margin():
    """grid_area_weighted_mean's determinism rests on every fixture
    lat's 10⁶·cos(radians(lat)) sitting far (≥1e-5) from a .5
    rounding boundary — a ≤1-ulp cos disagreement between engines
    can then never flip the quantized weight.  Re-validates on
    fixture regeneration."""
    import pyarrow.parquet as pq

    from netcdf_olap_spark.session import FIXTURES_DIR

    lats = set(pq.read_table(f"{FIXTURES_DIR}/grid.parquet", columns=["lat"])["lat"].to_pylist())
    margin = min(abs((1e6 * math.cos(math.radians(v))) % 1.0 - 0.5) for v in lats)
    assert margin > 1e-5, f"cos-weight margin too small: {margin}"


def test_awm_single_agg_no_join(spark):
    """grid_area_weighted_mean: the weight is a per-row expression —
    ONE hash exchange (the groupBy), zero joins/broadcasts, plus the
    presentation sort."""
    from netcdf_olap_spark.queries.grid import grid_area_weighted_mean

    c = _counts(grid_area_weighted_mean(spark, SF_SMALL))
    assert c["hash"] == 1 and c["single"] == 0 and c["bcast"] == 0


def test_heatwave_cell_keyed_only(spark):
    """grid_heatwave_events: ranks, threshold, and islands all key on
    the cell — no single-partition stage anywhere."""
    from netcdf_olap_spark.queries.grid import grid_heatwave_events

    c = _counts(grid_heatwave_events(spark, SF_SMALL))
    assert c["single"] == 0
    assert c["hash"] <= 3


def test_rfm_singles_are_domain_bounded(spark):
    """ev_rfm_segments: the only single-partition stages are the
    three distinct-key histogram windows and their 1-row threshold
    aggregates (domain-bounded tables, the ev_max_concurrency
    argument) — budget 6; customers themselves are never globally
    sorted (no rangepartitioning before the presentation sort)."""
    from netcdf_olap_spark.queries.analytics import ev_rfm_segments

    c = _counts(ev_rfm_segments(spark, SF_SMALL))
    assert c["single"] <= 6
    assert c["range"] == 1  # presentation ORDER BY only


def test_survival_singles_are_week_bounded(spark):
    """ev_survival_hazard: single-partition stages only for the week
    spine + its suffix-sum window (#weeks rows) — budget 3; the
    user-keyed aggregation stays hash-partitioned."""
    from netcdf_olap_spark.queries.analytics import ev_survival_hazard

    c = _counts(ev_survival_hazard(spark, SF_SMALL))
    assert c["single"] <= 3
    assert c["hash"] >= 1


def test_bloom_bitmap_broadcasts(spark):
    """doc_bloom_probe: the word bitmap and the size row ride
    broadcasts (≥3 BroadcastExchange: size×2 + bitmap + batch list);
    the corpus-sized structures never broadcast — hash exchanges stay
    ≤5 (corpus chunk distinct, bitmap groupBy, per-chunk rollup,
    exact-verify join, per-doc rollup).  r15: the BATCH chunk table
    streams into the probe join (its eager checkpoint was a whole
    blocking job buying nothing — single consumer), so the batch
    pipeline's exchange is now VISIBLE in this one plan instead of
    hidden inside the checkpoint's separate job; total exchanges
    across jobs went down by the checkpoint materialization."""
    from netcdf_olap_spark.queries.text import doc_bloom_probe

    c = _counts(doc_bloom_probe(spark, SF_SMALL))
    assert c["bcast"] >= 3
    assert c["hash"] <= 5 and c["single"] <= 2


def test_dup_extents_one_key_shuffle_one_window(spark):
    """doc_dup_span_extents: span-key dedup filter + per-doc islands
    — ≤3 hash exchanges (span groupBy, join back, doc window), no
    single-partition stage."""
    from netcdf_olap_spark.queries.text import doc_dup_span_extents

    c = _counts(doc_dup_span_extents(spark, SF_SMALL))
    assert c["single"] == 0
    assert c["hash"] <= 3


def test_bloom_pruned_join_tests_bitmap_in_fact_scan(spark):
    """join_bloom_pruned: the literal-bitmap membership test must be
    a scalar expression on the FACT side (element_at + shift inside
    codegen), pre-join — and the plan keeps the ordinary equi-join
    after it (false positives die there)."""
    from netcdf_olap_spark.queries.relational_ext2 import join_bloom_pruned

    df = join_bloom_pruned(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "element_at" in plan
    assert "Join" in plan


def test_bloom_pruned_join_caps_keys_before_collect(spark, monkeypatch):
    """join_bloom_pruned collects at most one key past the cap and
    raises: a 1-word cap allows 6 keys, and sf0.001 has more."""
    from netcdf_olap_spark.queries import relational_ext2

    monkeypatch.setattr(relational_ext2, "MAX_BLOOM_LITERAL_WORDS", 1)
    with pytest.raises(ValueError, match="more than 6 bloom keys"):
        relational_ext2.join_bloom_pruned(spark, SF_SMALL)


def test_pettitt_matches_bruteforce(spark):
    """grid_pettitt_changepoint's rank-prefix formula
    (U_t = 2·ΣR_t − t(n+1), doubled-rank integers) must equal the
    textbook double sum U_t = Σ_{i≤t}Σ_{j>t} sgn(x_i − x_j) —
    checked brute-force in numpy for a handful of cells."""
    import numpy as np

    from netcdf_olap_spark.queries.grid import grid_pettitt_changepoint
    from netcdf_olap_spark.session import load_grid

    out = {
        (r["y"], r["x"]): r
        for r in grid_pettitt_changepoint(spark, SF_SMALL).where("y < 2 AND x < 3").collect()
    }
    g = (
        load_grid(spark)
        .where("variable = 'LST_LWST_avg_daily' AND value IS NOT NULL AND y < 2 AND x < 3")
        .collect()
    )
    cells: dict[tuple, list] = {}
    base = np.datetime64("1990-01-01")
    for r in g:
        t = (np.datetime64(r["time"].date()) - base).astype(int)
        cells.setdefault((r["y"], r["x"]), []).append((int(t), r["value"]))
    for key, series in cells.items():
        series.sort()
        ts = [t for t, _ in series]
        xs = np.array([v for _, v in series])
        n = len(xs)
        u = [
            int(np.sign(xs[: t + 1][:, None] - xs[t + 1 :][None, :]).sum())
            for t in range(n - 1)
        ]
        k = max(abs(v) for v in u)
        cp = ts[min(i for i, v in enumerate(u) if abs(v) == k)]
        assert out[key]["k_stat"] == k, key
        assert out[key]["cp_day"] == cp, key


def test_mann_kendall_matches_bruteforce(spark):
    """grid_mann_kendall's pair-join S and tie-corrected 18·Var must
    equal the textbook formulas — brute-forced in numpy for a
    handful of cells."""
    import numpy as np

    from netcdf_olap_spark.queries.grid import grid_mann_kendall
    from netcdf_olap_spark.session import load_grid

    out = {
        (r["y"], r["x"]): r
        for r in grid_mann_kendall(spark, SF_SMALL).where("y < 2 AND x < 2").collect()
    }
    g = (
        load_grid(spark)
        .where("variable = 'LST_LWST_avg_daily' AND value IS NOT NULL AND y < 2 AND x < 2")
        .collect()
    )
    cells: dict[tuple, list] = {}
    for r in g:
        cells.setdefault((r["y"], r["x"]), []).append((r["time"], r["value"]))
    for key, series in cells.items():
        series.sort()
        xs = np.array([v for _, v in series])
        n = len(xs)
        s = int(np.sign(xs[None, :] - xs[:, None])[np.triu_indices(n, 1)].sum())
        _, counts = np.unique(xs, return_counts=True)
        var18 = n * (n - 1) * (2 * n + 5) - int(
            sum(t * (t - 1) * (2 * t + 5) for t in counts if t > 1)
        )
        assert out[key]["s_stat"] == s and out[key]["var18"] == var18, key
