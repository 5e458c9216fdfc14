"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": <total_sec>, "unit": "sec",
   "queries": {<5 slowest medians only>}, "n_queries": N, "sf": <sf>}

Protocol (round 13, judge ask r12#2): the final line's ``queries``
map holds ONLY the 5 slowest per-query medians — the full 67-query
map overflowed the driver's 2,000-char stdout capture in round 12
(BENCH_r12 ``parsed: null``). The complete medians map is written to
``bench_detail.json`` under ``"medians"``.

Each query is forced end-to-end with the ``noop`` sink (full
computation, zero collect/serialization overhead) after a warm-up of
the session. Timings are per-query wall clock.

Protocol (round 6): every query runs ``SPARK_GRAFT_BENCH_REPS`` times
(default 3) back-to-back and reports the MEDIAN — a single noisy
measurement (GC pause, JIT recompile, machine contention) can no
longer swing a query or the total by 30% round-over-round, which is
exactly what the round-5 record showed (a uniform 1.1-1.7× band over
round 4 with identical plans). ``value`` is the sum of per-query
medians; ``shared16_total`` is the same sum restricted to the 16
queries present since round 1, the stable cross-round comparator.

Protocol (round 8): every query gets ``plan_fp2`` — a fingerprint of
the NORMALIZED physical plan (expression/subquery ids, lambda-binder
counters, paths, and size statistics stripped; md5, 12 hex chars). A
query whose median moved >1.3× between rounds while its ``plan_fp2``
is unchanged is environment/JVM noise by construction; a changed
``plan_fp2`` names exactly the queries whose executed strategy
changed (judge ask r7#2).

Protocol (round 9): the final stdout line is a COMPACT summary only
(medians, totals, and one ``plan_fp2_digest`` md5 over the sorted
fingerprint map) so it fits the driver's tail-capture window — the
r8 record was truncated mid-line by the full runs/fingerprint
payload. Raw per-rep timings and the per-query fingerprints are
written to ``bench_detail.json`` beside this script (gitignored —
timings are machine noise); the committed ``PLAN_FP2_r{N}.json``
snapshots hold the fingerprint map, so a digest change in any future
BENCH record is attributable by diffing against the last committed
snapshot even when that round's detail file is gone. (The older
``PLAN_FP_r{N}.json`` snapshots hold the retired first fingerprint,
which kept the lambda counters.)

Protocol (round 11, judge ask r10#7): a fixed CALIBRATION probe — a
synthetic, I/O-free, codegen-heavy aggregation over ``spark.range``
whose work is identical every round by construction — runs at the
start and after each third of the headline list; ``calib_sec`` (the
median) lands in the summary line and the full series in
bench_detail.json.  Cross-round, the calibration ratio IS the
machine/JVM contention band for that run: a query whose median moved
with the calibration (and whose ``plan_fp2`` is unchanged) is
environment noise; a query that moved beyond it names a real change.
This makes movers decidable from the JSON record alone as the
headline set keeps growing (the r5/r10 uniform-inflation signature no
longer needs cross-round archaeology).

Protocol (round 14, judge asks r13#2a/b): (a) a LIGHT per-query
ambient probe (a ~5× smaller flavor of the CPU probe) plus a loadavg
snapshot runs before EVERY query — BENCH_r13's medians swung up to
3.9× on byte-identical plans and the per-third probes could not
attribute individual movers; the per-query series lands in
bench_detail.json ("ambient"), queries measured under ≥1.5× the run's
median probe are named in "ambient_flagged", and the summary line
carries the probe median + flag count.  The per-third probe pair is
UNCHANGED (cross-round comparable).  (b) all persistent
RDD/localCheckpoint blocks are unpersisted after each query's reps —
late queries in a 79-query single-session run previously executed
under block-manager pressure the early ones didn't have.

Protocol (round 15, judge asks r14#1/#3 — ADDITIONS ONLY; every
existing field, the timed region, and the query set are unchanged):
(a) contention-robust totals: the summary line adds ``value_min``
(sum of per-query MINIMA) and ``shared16_min`` next to the unchanged
median-based ``value``/``shared16_total``, and bench_detail.json adds
the per-query ``mins`` map — two consecutive rounds of driver records
were ambient-dominated (r14: the plan-unchanged shared16 set inflated
3.57× while 21/79 per-query probes self-flagged), and a median of a
few reps does not survive sustained steal where a minimum does.
(b) fixed-key scaling panel: ``panel`` (per-query median) and
``panel_min`` (per-query min) carry FIVE pinned representative
queries — one per family, the same keys at every core count — so the
driver's low-core/high-core comparator always has common keys
(PERF_r14's ``scaling.per_query`` was empty because the two runs'
top-5 sets were disjoint).  (c) the judge's optional "raise reps to
5" was tried and REVERTED after measurement: higher-order-function
lambda variables embed a session-global counter in their NAMES
(``lambda x_1`` vs ``lambda x_15``) which the r8 normalization did
not strip, so every HOF query's fingerprint depended on how many
expressions earlier queries allocated — same code at reps=5 produced
~12 phantom fingerprint diffs vs the reps=3 baseline.  Default reps
stays 3 (bit-comparable medians vs every prior round); (d)
``plan_fp2``/``plan_fp2_digest`` added as the counter-proof
fingerprint (same normalization + lambda-counter strip, verified
context-stable) so rounds can change reps without losing plan
comparability.  It is the only fingerprint.

Plan-fp caveat (r14 advisor): queries that eagerly materialize
subtrees via localCheckpoint expose only the post-checkpoint tail to
``explain`` — an unchanged ``plan_fp2`` for those queries does NOT
certify the upstream strategy is unchanged.  The committed
``plans/r{N}/<query>_{before,after}.txt`` dumps (which include the
pre-checkpoint build plans) are the authoritative strategy evidence
for checkpointed queries.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys
import time

import pandas as pd

REPO = os.path.dirname(os.path.abspath(__file__))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

# Harness-scale split size (files ≤ ~100 MB; default 128 MB splits
# leave most cores idle on scans). Library default stays untouched —
# see session.get_spark.
os.environ.setdefault("SPARK_GRAFT_MAX_PARTITION_BYTES", "8m")

# Headline set: the flagship cube query + the heaviest relational and
# north-star operators. Names must exist in the registry.
HEADLINE = [
    "grid_polygon_stats",
    "grid_rolling_mean",
    "q1_pricing_summary",
    "join_q3_revenue",
    "join_q5_region_revenue",
    "window_rank_topk",
    "topk_orders",
    "agg_cube",
    "events_json_extract",
]

# North-star queries appended once implemented (kept separate so a
# missing entry fails loudly below rather than silently shrinking).
HEADLINE += [
    "doc_minhash_dedup_pairs",
    "emb_knn_brute",
    "join_asof_last_order",
    "doc_bpe_token_stats",
]

# Round-1 additions (settled before the first recorded BENCH so the
# baseline covers them): the hardest subquery topology, the rollup
# merge, and the binned range join.
HEADLINE += [
    "q21_lone_late_supplier",
    "ev_rollup_hybrid",
    "ev_range_join_binned",
]

# Round-5 additions: the heaviest round-4 operator families (span-level
# substring dedup, SemDeDup cluster blocking, perceptual-hash Hamming
# dedup) so regressions in the new code are visible round-over-round.
# NOTE for cross-round comparison: totals before BENCH_r05 exclude
# these three — compare per-query, or the pre-r5 subtotal.
HEADLINE += [
    "doc_span_contamination",
    "emb_semantic_dedup",
    "media_phash_dedup",
]

# Round-8 additions: the new LLM-pipeline operators (PII scrub,
# repetition filter, temperature mixing, portable PQ, int8
# quantization) — excluded from shared16, present from BENCH_r08 on.
EXTRA_R8 = [
    "doc_pii_scrub",
    "doc_repetition_stats",
    "doc_temperature_mix",
    "emb_pq_portable",
    "emb_int8_quantize",
    # second r8 widening pass: shift-robust CDC dedup + per-source
    # boilerplate removal (both exercise the chunk machinery end to
    # end) and the bucket-blocked all-vectors k-NN graph
    "doc_shift_dedup",
    "doc_boilerplate",
    "emb_knn_graph",
]
HEADLINE += EXTRA_R8

# Round-9 additions: contrastive hard-negative mining (the knn-graph
# join with a label residual), curriculum mixing (doc × epochs
# expansion), and the adaptive gate's histogram-broadcast scale form —
# excluded from shared16, present from BENCH_r09 on.
EXTRA_R9 = [
    "emb_hard_negatives",
    "doc_curriculum_mix",
    "doc_adaptive_quality_filter_auto",
    # fourth r9 pass: the overlap-graph PageRank (chunk self-join +
    # three unrolled key-partitioned iterations — the heaviest of the
    # pass's five operators)
    "doc_source_pagerank",
]
HEADLINE += EXTRA_R9

# Round-10 additions: the round's new operators, benched from birth —
# intra-document CDC dedup (per-row O(c²/2) fold), incremental ANN
# (batch × bucket-blocked corpus join), and the largest-remainder
# budget apportionment — excluded from shared16, present from
# BENCH_r10 on.
EXTRA_R10 = [
    "doc_intra_dedup",
    "emb_delta_knn",
    "doc_quota_alloc",
    # second r10 pass: winnowing (doc-keyed sliding-min window), the
    # two cube statistics (neighbor-join Moran's I; paired-variable
    # per-cell correlation), and the HLL set algebra
    "doc_winnow_fingerprints",
    "grid_morans_i",
    "grid_cross_corr",
    "agg_hll_intersect_portable",
    # third r10 pass (the second cohort): the Zarr chunk-object
    # ingest, the Bloom membership probe (corpus bitmap build +
    # batch probe), the Bloom-pruned fact join, the cross-document
    # substring rewrite (the heaviest: span ownership + HOF rewrite),
    # and the quintile-by-value RFM rollup
    "grid_ingest_zarr",
    "doc_bloom_probe",
    "join_bloom_pruned",
    "doc_dup_rewrite",
    "ev_rfm_segments",
]
HEADLINE += EXTRA_R10

# Round-11 additions: the rows rotated into the checked window this
# round, benched from birth (doc_dup_rewrite already entered with
# EXTRA_R10) — excluded from shared16, present from BENCH_r11 on.
EXTRA_R11 = [
    "grid_mann_kendall",
    "grid_ingest_geotiff",
    "maintenance_forget_users",
    "ev_k_anonymity",
    # second r11 pass: the union-growth rotation's read-only entrants
    # (grid_export_roundtrip is side-effecting and stays un-benched,
    # like every other export roundtrip; emb_delta_knn already entered
    # with EXTRA_R10)
    "join_asof_tolerance",
    "grid_heatwave_events",
    # r11 new operators, benched from birth: the local hotspot
    # statistic (neighbor join + owner rollup) and quantile-mapping
    # bias correction (two per-cell rank windows + two order-index
    # joins)
    "grid_getis_gi",
    "grid_quantile_map",
    # the warehouse contract audit (two big-table joins + five scans)
    "maintenance_dq_audit",
    # third r11 pass window entrants
    "scalar_bitwise_funcs",
    "ev_survival_hazard",
    "media_audio_dedup",
    # r11 time-series pair: trapezoid TWA (one window + aggregate) and
    # irregular->regular linear resampling (union + one window pass)
    "ev_time_weighted_avg",
    "ev_resample_linear",
    "ev_lttb_downsample",
]
HEADLINE += EXTRA_R11

# Round-12 additions: the remaining rows rotated into the checked
# window this round, benched from birth (getis/quantile_map/dq_audit/
# TWA/resample/LTTB already entered with EXTRA_R11) — excluded from
# shared16, present from BENCH_r12 on.
EXTRA_R12 = [
    "grid_theil_sen",
    "ev_cohort_ltv",
    "agg_quantile_sketch_portable",
    "doc_rake_keywords",
    "emb_matryoshka_recall",
    "profile_footer_stats_distributed",
    # second/third r12 pass window entrants
    "grid_pettitt_changepoint",
    "ev_ab_lift",
    "ev_attribution_credit",
]
HEADLINE += EXTRA_R12

# Round-13 additions: the rows rotated into the checked window this
# round, benched from birth (the whole pre-validated r12 queue plus
# the union-repair sketch row) — excluded from shared16, present from
# BENCH_r13 on.
EXTRA_R13 = [
    "grid_forecast_skill",
    "q8_market_share",
    "q9_profit_by_nation",
    "rcte_month_spine",
    "window_analytic_suite",
    "ev_funnel",
    "doc_bm25_topk",
    "stream_heavy_hitters",
    "maintenance_snapshot_diff",
    "agg_robust_stats",
    "profile_correlations",
    "agg_approx_sketches",
]
HEADLINE += EXTRA_R13


def plan_fingerprint2(df) -> str:
    """Stable fingerprint of a DataFrame's physical plan: the
    pre-execution executedPlan string with run-varying tokens
    normalized — expression ids (``#123``), plan/subquery ids, file
    paths and their counts, statistics sizes, and lambda-binder
    counters — so the SAME logical strategy hashes identically across
    sessions and testdata regenerations, while any operator/ordering
    change hashes differently.

    Higher-order-function lambda variables are NAMED with a
    session-global expression counter (``lambda x_1`` / ``lambda
    x_15``) that lives BEFORE the ``#id`` suffix, so without the strip
    any HOF query's fingerprint would depend on how many expressions
    the session allocated earlier (query order, reps, warmups).
    Normalizing ``lambda name_N#x`` → ``lambda name_n#x`` makes the
    fingerprint a pure function of the plan (verified stable across
    fresh/burned sessions); only lambda binders are stripped, so plain
    columns such as ``a_1`` and ``a_2`` stay distinct.  The name keeps
    its ``2`` (round 15's second rule, now the only one) so every
    committed PLAN_FP2_r{N} map stays comparable."""
    s = df._jdf.queryExecution().executedPlan().toString()
    s = re.sub(r"#\d+[A-Z]*", "#x", s)
    s = re.sub(r"\[id=#?\d+\]", "[id=x]", s)
    s = re.sub(r"plan_id=\d+", "plan_id=x", s)
    s = re.sub(r"(file|s3a?|hdfs):[^\s,\]\)]+", "path", s)
    s = re.sub(r"\d+(\.\d+)?\s*(B|KiB|MiB|GiB|TiB)\b", "sz", s)
    s = re.sub(r"\b\d+ paths?\b", "n paths", s)
    s = re.sub(r"\blambda ([A-Za-z]+)_\d+#x", r"lambda \1_n#x", s)  # lambda counters
    s = re.sub(r"\s+", " ", s).strip()
    return hashlib.md5(s.encode()).hexdigest()[:12]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "0.1")

    from netcdf_olap_spark.queries import all_queries
    from netcdf_olap_spark.session import get_spark

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    # Untruncated FileScan metadata for plan fingerprinting: the
    # default 100-char cut lands mid-expression, and because raw
    # expression ids vary in WIDTH (#7 vs #4132), the cut point — and
    # with it the normalized text — would depend on the session's id
    # counter, making fingerprints sensitive to unrelated upstream
    # changes. With full metadata, normalization removes every
    # id-width effect (verified: fp stable under forced id shifts).
    spark.conf.set("spark.sql.maxMetadataStringLength", "100000")
    registry = all_queries()

    warm_up(spark, sf_dir)
    from pyspark.sql import functions as F

    def calibration() -> float:
        """Fixed synthetic probe: no parquet I/O, no Python workers —
        pure JVM codegen + one shuffle, identical work every run, so
        its round-over-round ratio isolates machine/JVM contention
        from query changes."""
        t0 = time.perf_counter()
        (
            spark.range(0, 20_000_000, 1, 32)
            .select(F.xxhash64("id").alias("h"))
            .groupBy((F.col("h") % 1024).alias("b"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum(F.abs(F.col("h") % 1000)).alias("s"))
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        return round(time.perf_counter() - t0, 3)

    def calibration_scan() -> float:
        """Second probe flavor: a fixed parquet scan+aggregate over
        lineitem — covers the I/O/page-cache band the CPU probe is
        blind to (observed: a run with calib_sec at its record value
        and UNIFORM 1.3x inflation on scan-heavy queries)."""
        t0 = time.perf_counter()
        (
            spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("s"))
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        return round(time.perf_counter() - t0, 3)

    def calibration_quick() -> float:
        """Per-query ambient probe (round 14, judge ask r13#2a): a
        ~5× lighter flavor of the CPU probe, cheap enough to run
        before EVERY query so each mover carries its own ambient
        certificate — BENCH_r13's medians swung up to 3.9× on
        byte-identical plans and only judge-side re-runs could rule
        out regressions, because the per-third probes couldn't
        attribute individual queries. The full per-third probe pair
        stays, unchanged, as the cross-round comparable series."""
        t0 = time.perf_counter()
        (
            spark.range(0, 4_000_000, 1, 32)
            .select(F.xxhash64("id").alias("h"))
            .groupBy((F.col("h") % 1024).alias("b"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum(F.abs(F.col("h") % 1000)).alias("s"))
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        return round(time.perf_counter() - t0, 3)

    calibration()  # their own codegen warmup, unbilled
    calibration_scan()
    calibration_quick()

    reps = bench_reps()
    timings: dict[str, float] = {}
    mins: dict[str, float] = {}
    runs: dict[str, list[float]] = {}
    plan_fp2: dict[str, str] = {}
    ambient: dict[str, dict[str, float]] = {}
    present = [n for n in HEADLINE if n in registry]
    calib_at = {0, len(present) // 3, 2 * len(present) // 3, len(present) - 1}
    calib_runs: list[float] = []
    calib_scan_runs: list[float] = []
    for pos, name in enumerate(present):
        if pos in calib_at:
            calib_runs.append(calibration())
            calib_scan_runs.append(calibration_scan())
        ambient[name] = {
            "probe": calibration_quick(),
            "load1": round(os.getloadavg()[0], 2),
        }
        samples, df = time_reps(spark, registry[name], sf_dir, reps)
        runs[name] = samples
        timings[name] = sorted(samples)[len(samples) // 2]  # median
        mins[name] = min(samples)
        try:
            # fingerprint the last rep's DataFrame (its own
            # QueryExecution is never executed by the write, so this
            # is the pre-execution plan) — re-invoking fn() would
            # redo driver-side work like PQ training for nothing
            plan_fp2[name] = plan_fingerprint2(df)
        except Exception:
            plan_fp2[name] = "error"

    total = round(sum(timings.values()), 3)
    # every post-r7 addition is excluded from the shared16 subtotal —
    # it exists to stay comparable to the round-1 16-query anchor
    late = {
        "doc_span_contamination",
        "emb_semantic_dedup",
        "media_phash_dedup",
        *EXTRA_R8,
        *EXTRA_R9,
        *EXTRA_R10,
        *EXTRA_R11,
        *EXTRA_R12,
        *EXTRA_R13,
    }
    shared16 = round(sum(v for k, v in timings.items() if k not in late), 3)
    # round-15 contention-robust twins (judge ask r14#1): same sums
    # over per-query MINIMA — a median of a few reps inflates under
    # sustained host steal, the minimum of the same reps does not
    total_min = round(sum(mins.values()), 3)
    shared16_min = round(sum(v for k, v in mins.items() if k not in late), 3)
    # round-15 fixed-key scaling panel (judge ask r14#3): five pinned
    # representative queries — one per family — present at EVERY core
    # count so the driver's scaling comparator always has common keys
    # (the r14 32c/8c top-5 sets were disjoint and scaling.per_query
    # came back empty). Keys are pinned; never rotate them.
    PANEL = [
        "q1_pricing_summary",
        "doc_minhash_dedup_pairs",
        "emb_knn_graph",
        "grid_polygon_stats",
        "ev_rollup_hybrid",
    ]
    panel = {q: timings[q] for q in PANEL if q in timings}
    panel_min = {q: mins[q] for q in PANEL if q in mins}

    # Round-9 output contract (judge ask r8#1): BENCH_r08.json came
    # back `parsed: null` because the single summary line had grown
    # (raw runs + full fingerprint map) past the driver's stdout tail
    # capture. The FINAL stdout line is now a compact summary — the
    # per-query medians plus one md5 digest over the sorted plan_fp2
    # map — and the full detail (raw runs, per-query fingerprints)
    # goes to bench_detail.json beside this script. Cross-round plan
    # comparison: equal plan_fp2_digest ⇒ every plan unchanged; on a
    # digest change, diff the two bench_detail.json files to name the
    # queries whose strategy moved.
    fp2_digest = hashlib.md5(
        json.dumps(plan_fp2, sort_keys=True).encode()
    ).hexdigest()[:12]
    calib_sec = sorted(calib_runs)[len(calib_runs) // 2]
    calib_scan_sec = sorted(calib_scan_runs)[len(calib_scan_runs) // 2]
    # per-query ambient flag (round 14): a query whose pre-query probe
    # ran ≥1.5× the run's median probe was measured under elevated
    # ambient contention — its median is suspect on its own record,
    # no cross-round archaeology needed
    probe_med = sorted(a["probe"] for a in ambient.values())[len(ambient) // 2]
    flagged = sorted(
        n for n, a in ambient.items() if probe_med > 0 and a["probe"] >= 1.5 * probe_med
    )
    detail_path = os.path.join(REPO, "bench_detail.json")
    with open(detail_path, "w") as f:
        json.dump(
            {
                "sf": sf,
                "reps": reps,
                "runs": runs,
                "medians": timings,
                "mins": mins,
                "plan_fp2": plan_fp2,
                "calib_runs": calib_runs,
                "calib_scan_runs": calib_scan_runs,
                "ambient": ambient,
                "ambient_probe_median": probe_med,
                "ambient_flagged": flagged,
            },
            f,
            indent=1,
            sort_keys=True,
        )
    # Round-13 output contract (judge ask r12#2): BENCH_r12.json came
    # back `parsed: null` AGAIN — the r9 compact line kept the FULL
    # per-query medians map, and at 67 queries it outgrew the
    # driver's 2,000-char stdout capture (~2,150 chars, truncated
    # mid-line). The final line now carries only the 5 slowest
    # medians under "queries" (a bounded-size sample naming the
    # queries that dominate `value`) plus `n_queries`; the complete
    # medians map lives in bench_detail.json ("medians") and the raw
    # runs/fingerprints beside it, as before. Line size is now
    # O(1) in registry size — <600 chars at any future query count.
    top5 = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:5])
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": top5,
                "n_queries": len(timings),
                "sf": sf,
                "reps": reps,
                "shared16_total": shared16,
                "value_min": total_min,
                "shared16_min": shared16_min,
                "panel": panel,
                "panel_min": panel_min,
                "calib_sec": calib_sec,
                "calib_scan_sec": calib_scan_sec,
                "ambient_probe_med": probe_med,
                "n_ambient_flagged": len(flagged),
                "plan_fp2_digest": fp2_digest,
            }
        )
    )


def warm_up(spark, sf_dir: str) -> None:
    """Warm up JVM JIT, codegen, and the Python worker pool so one-time
    process startup isn't billed to the first timed query. No query
    results are cached — every timed run reads parquet fresh."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType
    from pyspark.sql.window import Window

    warm = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    warm.groupBy("l_returnflag").agg(F.sum("l_quantity")).collect()

    @F.pandas_udf(DoubleType())
    def _warm_udf(v: pd.Series) -> pd.Series:
        return v * 1.0

    warm.limit(1000).select(_warm_udf(F.col("l_quantity"))).collect()

    # Warm the remaining codegen/JIT infrastructure families the
    # headline queries use (decimal aggregation, window exec,
    # broadcast join build) on throwaway shapes — process warmup, not
    # result caching; every timed run still reads parquet fresh.
    warm.limit(5000).groupBy("l_linestatus").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)"))
    ).collect()
    warm.limit(5000).select(
        F.row_number().over(Window.partitionBy("l_returnflag").orderBy("l_orderkey"))
    ).collect()
    tiny = spark.range(100).withColumnRenamed("id", "l_orderkey")
    warm.limit(5000).join(F.broadcast(tiny), "l_orderkey").count()


def bench_reps() -> int:
    """Timed reps per query: ``SPARK_GRAFT_BENCH_REPS``, default 3."""
    return max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))


def time_reps(spark, fn, sf_dir: str, reps: int):
    """Run ``fn(spark, sf_dir)`` ``reps`` times through the ``noop``
    sink; return the per-rep wall seconds and the last rep's DataFrame.
    The reps' localCheckpoint/persist blocks are freed afterwards."""
    samples = []
    df = None
    for _ in range(reps):
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        samples.append(round(time.perf_counter() - t0, 3))
    unpersist_all(spark)
    return samples, df


def unpersist_all(spark) -> None:
    """Free accumulated localCheckpoint/persist blocks between
    queries (round 14, judge ask r13#2b): queries cut repeated
    subtrees with eager localCheckpoints, and in a 79-query × reps
    single-session run those blocks were never freed — late queries
    ran under block-manager pressure the early ones didn't have, a
    protocol confound independent of the machine."""
    for _, rdd in spark.sparkContext._jsc.getPersistentRDDs().items():
        rdd.unpersist()


if __name__ == "__main__":
    main()
