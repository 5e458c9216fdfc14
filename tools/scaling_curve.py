"""Scaling-curve measurement (judge ask r7#8): wall-time of the most
expensive headline queries across scale factors, so superlinear
growth is a recorded number instead of an argument. Run
tools/gen_scale.py first to materialize the amplified sf1.0 dir.

Each query runs SPARK_GRAFT_BENCH_REPS times per scale factor (median
reported) through bench.py's own noop-sink rep loop (``time_reps``).
Output: one JSON line with per-query medians per sf + the growth
exponent alpha fitted between the two largest scale factors (time ~
N^alpha; alpha <= ~1.1 is the linear-ish band, >1.3 flags superlinear
growth worth explaining).

Usage: python tools/scaling_curve.py [sf_dir ...]
  default: /root/testdata/sf0.01 /root/testdata/sf0.1 <repo>/.scaledata/sf1.0
"""

from __future__ import annotations

import json
import math
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

os.environ.setdefault("SPARK_GRAFT_MAX_PARTITION_BYTES", "8m")

from bench import bench_reps, time_reps  # noqa: E402

QUERIES = [
    "q1_pricing_summary",
    "q21_lone_late_supplier",
    "join_asof_last_order",
    "doc_minhash_dedup_pairs",
    "doc_span_contamination",
    # second r8 pass: the CDC chunk family + the bucket-blocked graph.
    # Since r9 emb_knn_graph IS the auto form (plane count grows with
    # footer-stats N, bucket size constant -> linear pair work); the
    # fixed-6-plane twin that measured alpha=1.60 on the 10x step was
    # retired from the registry (still pinned in test_similarity.py).
    "doc_shift_dedup",
    "doc_boilerplate",
    "emb_knn_graph",
    # r9 extension (judge ask r8#7): the remaining r8 operators that
    # had no recorded curve — component closure over near-dup edges,
    # the cross-source chunk-join matrix, per-source packing/sampling
    # windows, the epoch permutation, both adaptive-gate forms (the
    # histogram swap should hold its lead as sources skew), and the
    # two streaming drains (bounded-state gates re-run per sf).
    "doc_cluster_split",
    "doc_source_overlap",
    "doc_context_pack",
    "doc_fixed_k_sample",
    "doc_epoch_order",
    "doc_adaptive_quality_filter",
    "doc_adaptive_quality_filter_auto",
    "stream_template_counts",
    "stream_near_dup_filter",
    # r9 second extension: the round's new JOIN-family operators (the
    # class the curve exists to police) — bucket-blocked hard-negative
    # mining, the calibration audit's signature/verify joins, the
    # delta-vs-corpus probes, and the vocab membership join.
    "emb_hard_negatives",
    "doc_minhash_calibration",
    "doc_delta_dedup",
    "doc_oov_rate",
    # r9 fourth pass: the overlap-graph PageRank (chunk-hash self-join
    # + 3 unrolled source-keyed iterations), the sweep-line peak
    # concurrency (two-level prefix scan — should hold alpha ~ 1),
    # the Matryoshka audit's two sampled crossJoin passes, and the
    # datacard's scan+mode rollup.  (The grid family lives in
    # GRID_QUERIES below — since r10 the cube amplifies with sf.)
    "doc_source_pagerank",
    "ev_max_concurrency",
    "emb_matryoshka_recall",
    "doc_datacard",
    # survivorship rides the jaccard-pair + components pipeline (the
    # join family) with a component-keyed window on top
    "doc_survivorship",
    # the at-rest index path: build (chunking + aggregation + write)
    # AND pruned probe, end to end per invocation.
    # profile_footer_stats is deliberately absent: the footer profile
    # reads no data pages at all.
    "doc_delta_dedup_indexed",
    # r10 extension (judge ask r9#8): the last r9 operators without a
    # recorded curve — the SCD2 point-in-time join and tolerance as-of
    # (union+window carries, should track the fact-table sort),
    # the portable quantile sketch (md5 row sample + interpolation),
    # and the two profiling aggregations (single-scan moments).
    "join_scd2_pit",
    "join_asof_tolerance",
    "agg_quantile_sketch_portable",
    "profile_correlations",
    "profile_join_skew",
    # r13: reworked two-level (col,value) profiling — curve recorded
    # at rework time (the old multi-distinct Expand→SortAggregate
    # shape was never curved)
    "profile_lineitem",
    # r10 operators (token-linear HOF intra-dedup; batch-blocked
    # incremental ANN; apportionment window; winnowing's doc window;
    # register-table HLL set algebra)
    "doc_intra_dedup",
    "emb_delta_knn",
    "doc_quota_alloc",
    "doc_winnow_fingerprints",
    "agg_hll_intersect_portable",
    "ev_path_trigrams",
    "emb_centroid_confusion",
    "ev_ab_lift",
    "ev_attribution_credit",
    "maintenance_snapshot_diff",
    # r10 second cohort: quintile-by-value segmentation (domain-
    # bounded histograms — the single-partition stages must NOT grow
    # with customers), the weekly life table, the Bloom build+probe
    # (bitmap growth is ∝ corpus keys but the probe side is
    # batch-proportional), duplicated-extent merging (span-keyed
    # shuffle + doc window), and RAKE (vocab-keyed stats join).
    # grid_ingest_zarr / grid_export_zarr_roundtrip are absent like
    # profile_footer_stats: they read fixed fixture stores, not sf
    # tables.
    "ev_rfm_segments",
    "ev_survival_hazard",
    # r11 time-series pair (per-user window passes; output ∝ span)
    "ev_time_weighted_avg",
    "ev_resample_linear",
    "ev_lttb_downsample",
    "doc_bloom_probe",
    "doc_dup_span_extents",
    "doc_rake_keywords",
    # r12 window entrants without a recorded curve: the cohort LTV
    # triangle (week-keyed rollup + running window — must track
    # events, not users×weeks), the Matryoshka recall audit (prefix
    # vs full-width brute force over the fixed 20-query sample; work
    # ∝ vectors), and the contract audit (single scans + dimension
    # joins).  profile_footer_stats_distributed is absent like
    # profile_footer_stats: footers only, no data pages.
    "ev_cohort_ltv",
    "emb_matryoshka_recall",
    "maintenance_dq_audit",
    # r13 window entrants without a recorded curve: the two deep
    # TPC-H join trees (broadcast-dim chains — must track the fact
    # scans), the analytic battery and robust-stats order statistics
    # (per-key window passes), the funnel's per-user ordered match,
    # BM25 (postings join ∝ tokens), the sketch contract audit (two
    # fact scans + broadcast quantile verify), and the streaming
    # heavy-hitters drain.  rcte_month_spine is absent like
    # profile_footer_stats: a constant-depth month spine reads no sf
    # tables' data pages at scale (rows ∝ months, not sf).
    "q8_market_share",
    "q9_profit_by_nation",
    "window_analytic_suite",
    "agg_robust_stats",
    "ev_funnel",
    "doc_bm25_topk",
    "agg_approx_sketches",
    "stream_heavy_hitters",
]

# The grid family (r10 judge ask #2): these run ONLY on dirs that
# carry an amplified grid.parquet (tools/gen_scale.py writes one —
# x-tiled ka x, day-extended kt x, ka*kt = K) via the
# SPARK_GRAFT_GRID_PATH override in session.load_grid.  Driver
# testdata dirs have no grid.parquet, so there the queries read the
# base fixture — their medians are recorded but alpha is only
# meaningful on steps where BOTH dirs' grid sizes track the sf ratio
# (base fixture -> K-amplified, i.e. the last step when gen_scale ran
# with K = the lineitem ratio).
GRID_QUERIES = [
    "grid_trend_ols",       # per-cell moments -> closed form
    "grid_streak_runs",     # gaps-and-islands window per cell
    "grid_gdd_accumulate",  # cumulative window per cell
    "grid_zonal_stats",     # one-scan multi-zone ray-cast rollup
    "grid_hyperslab",       # bbox+time slice scan
    "grid_climatology_anomaly",  # two window passes over the cube
    "grid_quantile_breaks",  # global approx quantiles
    # r10 cube statistics
    "grid_percent_of_record",  # per-cell rank window
    "grid_morans_i",           # neighbor equi-join + moment rollups
    "grid_cross_corr",         # variable pairing join + cell moments
    "grid_ewma_dyadic",        # 8-LAG window kernel per cell
    "grid_theil_sen",          # per-cell O(d^2/2) pair median
    "grid_standardized_anomaly",  # moments broadcast back per cell
    # r10 second cohort
    "grid_area_weighted_mean",  # one-scan weighted rollup
    "grid_heatwave_events",     # rank window + islands per cell
    "grid_pettitt_changepoint",  # two rank windows per cell
    "grid_mann_kendall",        # theil-sen pair join + tie rollup
    "grid_forecast_skill",      # LAG window + clim join per cell
    # r11 additions
    "grid_getis_gi",            # 5-offset neighbor join + owner rollup
    "grid_quantile_map",        # two per-cell rank windows + 2 k-joins
]


def main() -> None:
    reps = bench_reps()
    dirs = sys.argv[1:] or [
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
        os.path.join(REPO, ".scaledata", "sf1.0"),
    ]
    from netcdf_olap_spark.queries import all_queries
    from netcdf_olap_spark.session import get_spark

    spark = get_spark("scaling-curve")
    spark.sparkContext.setLogLevel("ERROR")
    registry = all_queries()

    out: dict[str, dict[str, float]] = {}
    sizes: dict[str, int] = {}
    grid_sizes: dict[str, int] = {}
    for d in dirs:
        # key by the full path — two dirs sharing a basename (e.g.
        # two amplified sf1.0 builds) must not silently collapse
        sf = os.path.abspath(d.rstrip("/"))
        sizes[sf] = (
            spark.read.parquet(os.path.join(d, "lineitem.parquet")).count()
        )
        # point the grid family at this dir's amplified cube if it has
        # one (gen_scale.py), else the base fixture
        amp_grid = os.path.join(d, "grid.parquet")
        if os.path.exists(amp_grid):
            os.environ["SPARK_GRAFT_GRID_PATH"] = amp_grid
        else:
            os.environ.pop("SPARK_GRAFT_GRID_PATH", None)
        from netcdf_olap_spark.session import load_grid

        grid_sizes[sf] = load_grid(spark, register=False).count()
        # warm the session on this dir (JIT/codegen, not results)
        registry["q1_pricing_summary"](spark, d).write.format("noop").mode("overwrite").save()
        # SPARK_GRAFT_CURVE_ONLY=a,b,c runs a subset (new-entrant
        # curves without re-running the whole official list)
        only = {
            s for s in os.environ.get("SPARK_GRAFT_CURVE_ONLY", "").split(",") if s
        }
        # r13 advisor: a typo'd name silently measured nothing and the
        # output was indistinguishable from an official full-curve run
        unknown = only - set(QUERIES + GRID_QUERIES)
        if unknown:
            raise SystemExit(
                f"SPARK_GRAFT_CURVE_ONLY names not in the curve lists: {sorted(unknown)}"
            )
        for name in QUERIES + GRID_QUERIES:
            if only and name not in only:
                continue
            samples, _ = time_reps(spark, registry[name], d, reps)
            out.setdefault(name, {})[sf] = sorted(samples)[len(samples) // 2]
    os.environ.pop("SPARK_GRAFT_GRID_PATH", None)

    sfs = list(sizes)
    alpha = {}
    if len(sfs) >= 2:
        a, b = sfs[-2], sfs[-1]
        for name, t in out.items():
            # grid queries scale with the CUBE's row count, not
            # lineitem's — fit each family against its own N
            fam = grid_sizes if name in GRID_QUERIES else sizes
            ratio_n = fam[b] / fam[a]
            # guard degenerate medians (0.0 after rounding) and equal sizes
            if t[a] > 0 and t[b] > 0 and ratio_n > 0 and ratio_n != 1:
                alpha[name] = round(math.log(t[b] / t[a]) / math.log(ratio_n), 2)
            else:
                alpha[name] = None
    record = {
        "sizes": sizes,
        "grid_sizes": grid_sizes,
        "queries": out,
        "alpha_last_step": alpha,
        "reps": reps,
    }
    # r13 advisor: a subset run's output must be distinguishable from
    # an official full-curve record
    subset = sorted(
        s for s in os.environ.get("SPARK_GRAFT_CURVE_ONLY", "").split(",") if s
    )
    if subset:
        record["subset"] = subset
    print(json.dumps(record))


if __name__ == "__main__":
    main()
