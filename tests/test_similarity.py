"""Similarity-search tests: LSH vs brute-force recall, centroid
sanity, aggregate-sketch accuracy (SURVEY.md §5.5)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from netcdf_olap_spark.operators import aggregates, similarity
from tests.conftest import SF_ORACLE as SF


def _emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_knn_brute_self_similarity(spark):
    e = _emb(spark)
    q = [r[0] for r in e.where(F.col("vec_id") == 3).select(F.explode("embedding")).collect()]
    top = similarity.knn_brute(e, q, k=1).collect()[0]
    assert top.vec_id == 3
    assert abs(top.cos_sim - 1.0) < 1e-9


def test_knn_lsh_subset_of_brute(spark):
    """LSH results are genuine cosine scores; every returned id must
    appear in the brute-force ranking with the same score."""
    e = _emb(spark)
    q = [r[0] for r in e.where(F.col("vec_id") == 0).select(F.explode("embedding")).collect()]
    corpus = e.where(F.col("vec_id") != 0)
    brute = {r.vec_id: r.cos_sim for r in similarity.knn_brute(corpus, q, k=500).collect()}
    lsh = similarity.knn_lsh(corpus, q, k=10, n_planes=8).collect()
    assert len(lsh) >= 1
    for r in lsh:
        assert abs(brute[r.vec_id] - r.cos_sim) < 1e-12


def test_knn_rp_scores_exact_and_recall(spark):
    """RP-prefilter results carry EXACT full-dimension cosines (the
    rerank pass), and with pool=100 ≫ k=10 the top-10 should recover
    most of the brute-force answer on a 64→16-dim sketch."""
    e = _emb(spark)
    q = [r[0] for r in e.where(F.col("vec_id") == 0).select(F.explode("embedding")).collect()]
    corpus = e.where(F.col("vec_id") != 0)
    brute = similarity.knn_brute(corpus, q, k=10).collect()
    brute_scores = {r.vec_id: r.cos_sim for r in similarity.knn_brute(corpus, q, k=500).collect()}
    rp = similarity.knn_rp(corpus, q, k=10, pool=100, d_out=16).collect()
    assert len(rp) == 10
    for r in rp:
        assert abs(brute_scores[r.vec_id] - r.cos_sim) < 1e-12
    recall = len({r.vec_id for r in rp} & {r.vec_id for r in brute}) / 10
    # deterministic (fixed data + md5 signs): exactly 0.6 today —
    # near-random synthetic vectors are the worst case for any sketch
    assert recall >= 0.5, f"JL sketch recall collapsed: {recall}"


def test_rp_signs_deterministic_and_balanced(spark):
    s = similarity.rp_signs(16, 64)
    assert s == similarity.rp_signs(16, 64)
    flat = [x for row in s for x in row]
    assert set(flat) == {1.0, -1.0}
    # md5 bits are unbiased: the sign balance can't be degenerate
    assert 0.35 < flat.count(1.0) / len(flat) < 0.65


def test_knn_graph_edges_exact_and_bucket_local(spark):
    """Every graph edge carries the exact pairwise cosine, ranks are
    contiguous from 1 per source vector, and no source exceeds k."""
    # deterministic subset — an unordered limit() can pick different
    # rows in the two jobs below (partition-scheduling dependent)
    e = _emb(spark).where(F.col("vec_id") < 300)
    g = similarity.knn_graph_lsh(e, k=3, n_planes=6, dim=64).collect()
    assert g, "graph has edges"
    by_src = {}
    for r in g:
        by_src.setdefault(r.src_id, []).append(r)
    vecs = {r.vec_id: r.embedding for r in e.collect()}
    import math

    for src, rows in by_src.items():
        rows.sort(key=lambda r: r.nbr_rank)
        assert [r.nbr_rank for r in rows] == list(range(1, len(rows) + 1))
        assert len(rows) <= 3
        # scores descend and equal the sequential-fold cosine
        sims = [r.cos_sim for r in rows]
        assert sims == sorted(sims, reverse=True)
        for r in rows:
            a, b = vecs[r.src_id], vecs[r.dst_id]
            dot = sum(float(x) * float(y) for x, y in zip(a, b))
            na = math.sqrt(sum(float(x) * float(x) for x in a))
            nb = math.sqrt(sum(float(x) * float(x) for x in b))
            assert abs(dot / (na * nb) - r.cos_sim) < 1e-9
            assert r.src_id != r.dst_id


def test_auto_n_planes_keeps_pair_work_linear():
    """2^planes ≈ N/target: expected bucket size stays ≤ target for
    every N inside the int-bucket ceiling (2^30·64 ≈ 6.9e10 rows) —
    including AT the documented coverage bound, so the clamp cannot
    silently reintroduce superlinear pair work inside it."""
    for n in (10, 100, 500, 2_000, 20_000, 10**6, 10**9, (1 << 30) * 64):
        p = similarity.auto_n_planes(n)
        assert 4 <= p <= 30
        if n > 64:
            assert n / (1 << p) <= 64, f"N={n}: bucket {n / (1 << p):.0f}"


def test_knn_graph_auto_is_fixed_graph_at_derived_plane_count(spark):
    """knn_graph_auto ≡ the generic graph operator run with
    md5-sign planes at the footer-derived count — no second edge
    path to drift (the registered emb_knn_graph rides this form
    since round 9; the Gaussian fixed-plane twin stays pinned by
    test_knn_graph_edges_exact_and_bucket_local above)."""
    from netcdf_olap_spark.operators.similarity import (
        _bucketed_with_norms,
        _graph_edges,
        md5_sign_planes,
    )
    from netcdf_olap_spark.sources.stats import parquet_num_rows

    n = parquet_num_rows(f"{SF}/embeddings.parquet")
    p = similarity.auto_n_planes(n)
    e = _emb(spark)
    manual = _graph_edges(
        _bucketed_with_norms(e, md5_sign_planes(p, 64), "vec_id", "embedding"),
        3, "vec_id", "embedding",
    ).orderBy("src_id", "nbr_rank")
    auto = similarity.knn_graph_auto(e, n_rows=n, k=3, dim=64).orderBy("src_id", "nbr_rank")
    assert [tuple(r) for r in auto.collect()] == [tuple(r) for r in manual.collect()]


def test_md5_sign_planes_portable_and_balanced():
    """±1 entries derive from the md5-52 family exactly as the DuckDB
    oracle re-derives them inline, and the signs are not degenerate."""
    import hashlib

    p = similarity.md5_sign_planes(4, 64)
    assert set(p.flatten().tolist()) == {1.0, -1.0}
    assert 0.35 < (p == 1.0).mean() < 0.65
    h = int(hashlib.md5(b"knng:2:17").hexdigest()[:13], 16)
    assert p[2][17] == (1.0 if h % 2 == 0 else -1.0)


def test_knn_graph_at_rest_matches_and_join_is_exchange_free(spark, tmp_path):
    """The bucketed-by-LSH-bucket at-rest layout: identical edges to
    the in-memory graph, and the pair self-join plans with ZERO
    Exchange (bucketed scans already provide the hash partitioning)."""
    emb = _emb(spark)
    want = {tuple(r) for r in similarity.knn_graph_lsh(emb, k=3, n_planes=6, dim=64).collect()}

    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        out = similarity.knn_graph_at_rest(
            spark, emb, "t_knn_graph_rest", k=3, n_planes=6, dim=64,
            path=str(tmp_path / "kg"),
        )
        assert {tuple(r) for r in out.collect()} == want

        pairs = similarity.graph_pair_candidates(spark.table("t_knn_graph_rest"))
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, f"pair join still shuffles:\n{plan}"
    finally:
        spark.sql("DROP TABLE IF EXISTS t_knn_graph_rest")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)


def test_lsh_bucket_prunes(spark):
    """The probed bucket must be a strict subset of the corpus —
    that's the entire point of the index."""
    e = _emb(spark)
    planes = similarity._planes(8, 64)
    bucketed = e.withColumn("b", similarity.lsh_bucket_col(F.col("embedding"), planes))
    counts = bucketed.groupBy("b").count().collect()
    assert len(counts) > 10  # spread across many buckets
    assert max(c["count"] for c in counts) < e.count()


def test_arrow_and_jvm_bucketing_disagree_on_nan(spark):
    """Pins the finite-input precondition of _bucket_nrm_arrow_udf:
    the dot of a NaN-bearing vector is NaN, numpy's NaN >= 0 is False
    (bit 0) and Spark's is True (bit 1); finite vectors agree."""
    planes = np.array([[1.0, 1.0]])
    df = spark.createDataFrame(
        [(0, [float("nan"), 1.0]), (1, [2.0, -1.0]), (2, [-2.0, 1.0])],
        "id int, v array<double>",
    )
    arrow = similarity._bucket_nrm_arrow_udf(planes)(F.col("v")).bucket
    jvm = similarity.lsh_bucket_col(F.col("v"), planes)
    got = {
        r["id"]: (r["arrow"], r["jvm"])
        for r in df.select("id", arrow.alias("arrow"), jvm.alias("jvm")).collect()
    }
    assert got == {0: (0, 1), 1: (1, 1), 2: (0, 0)}


def test_centroid_norms_reasonable(spark):
    e = _emb(spark)
    cent = (
        e.select("label", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(F.avg("val").alias("c"))
    )
    assert cent.count() == e.select("label").distinct().count() * 64


def test_approx_quantile_within_error(spark):
    """A1/A2: percentile_approx (the StreamingHistogram analog) within
    sketch error of exact percentile."""
    from netcdf_olap_spark.session import load_grid

    g = load_grid(spark, register=False).where(F.col("value").isNotNull())
    approx = g.agg(F.percentile_approx("value", 0.5, 10000).alias("m")).collect()[0].m
    exact = g.agg(F.percentile("value", 0.5).alias("m")).collect()[0].m
    assert abs(approx - exact) < 0.05  # generous vs value range ~30


def test_histogram_total_equals_rows(spark):
    from netcdf_olap_spark.session import load_grid

    g = load_grid(spark, register=False)
    h = aggregates.histogram(g, width=2.0, group_cols=["variable"])
    total = h.agg(F.sum("cnt")).collect()[0][0]
    assert total == g.where(F.col("value").isNotNull()).count()


def test_ivf_all_probes_equals_brute(spark):
    """nprobe == n_lists degenerates to exact brute force: same ids,
    same scores."""
    e = _emb(spark)
    qvec = [r[0] for r in e.where(F.col("vec_id") == 0).select(F.explode("embedding")).collect()]
    corpus = e.where(F.col("vec_id") != 0)
    brute = similarity.knn_brute(corpus, qvec, k=10).collect()
    ivf = similarity.knn_ivf(corpus, qvec, k=10, n_lists=4, nprobe=4).collect()
    assert [(r["vec_id"], round(r["cos_sim"], 12)) for r in ivf] == [
        (r["vec_id"], round(r["cos_sim"], 12)) for r in brute
    ]


def test_ivf_partial_probe_recall_and_exactness(spark):
    """Probing a subset of lists: still k rows, every score exact
    (IVF only restricts the candidate set), reasonable recall."""
    e = _emb(spark)
    qvec = [r[0] for r in e.where(F.col("vec_id") == 0).select(F.explode("embedding")).collect()]
    corpus = e.where(F.col("vec_id") != 0)
    brute = {r["vec_id"]: r["cos_sim"] for r in similarity.knn_brute(corpus, qvec, k=10).collect()}
    ivf = similarity.knn_ivf(corpus, qvec, k=10, n_lists=8, nprobe=3).collect()
    assert len(ivf) == 10
    exact_all = {
        r["vec_id"]: r["cos_sim"]
        for r in corpus.select(
            "vec_id", similarity.cosine(F.col("embedding"), F.array(*[F.lit(v) for v in qvec])).alias("cos_sim")
        ).collect()
    }
    for r in ivf:
        assert r["cos_sim"] == pytest.approx(exact_all[r["vec_id"]], abs=1e-12)
    overlap = len(set(brute) & {r["vec_id"] for r in ivf})
    assert overlap >= 3  # recall floor for nprobe=3/8 on random data


def test_ivf_train_deterministic(spark):
    e = _emb(spark)
    c1 = similarity.ivf_train(e, n_lists=4, n_iters=2)
    c2 = similarity.ivf_train(e, n_lists=4, n_iters=2)
    import numpy as np

    assert all(np.array_equal(a, b) for a, b in zip(c1, c2))


def test_ivf_at_rest_index_prunes_partitions(spark, tmp_path):
    """The 100 TB layout, executed: corpus written partitioned by IVF
    list, probe scans only nprobe lists' files (inputFiles +
    PartitionFilters prove the pruning), results equal the fused
    knn_ivf."""
    import re

    e = _emb(spark)
    qvec = [r[0] for r in e.where(F.col("vec_id") == 0).select(F.explode("embedding")).collect()]
    corpus = e.where(F.col("vec_id") != 0)
    cents = similarity.ivf_train(corpus, n_lists=8, n_iters=2)

    idx = str(tmp_path / "ivf_index")
    similarity.write_ivf_index(corpus, idx, cents)

    probed = similarity.probe_ivf_index(spark, idx, qvec, cents, k=10, nprobe=3)
    fused = similarity.knn_ivf(corpus, qvec, k=10, n_lists=8, nprobe=3)
    assert [(r.vec_id, round(r.cos_sim, 12)) for r in probed.collect()] == [
        (r.vec_id, round(r.cos_sim, 12)) for r in fused.collect()
    ]

    # partition pruning: the files ACTUALLY READ (input_file_name at
    # execution time) are a strict subset, all from the probed lists
    all_files = {r[0] for r in spark.read.parquet(idx).select(F.input_file_name()).distinct().collect()}
    cand = spark.read.parquet(idx).where(F.col("list_id").isin([0, 1, 2]))
    read_files = {r[0] for r in cand.select(F.input_file_name()).distinct().collect()}
    assert read_files < all_files
    assert all(any(f"list_id={i}/" in f for i in (0, 1, 2)) for f in read_files)
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[(?!\])", plan), plan[:500]


def test_train_sample_bounded_and_deterministic(spark):
    """The md5-Bernoulli training sample: ≈cap rows out of n_rows,
    identical membership across runs and partitionings (pure function
    of ids), and a no-op when the corpus already fits the cap."""
    e = _emb(spark)
    n = e.count()
    assert similarity.train_sample(e, n_rows=n, cap=n + 1) is e  # no-op under cap

    cap = 100
    s1 = {r["vec_id"] for r in similarity.train_sample(e, n_rows=n, cap=cap).select("vec_id").collect()}
    s2 = {
        r["vec_id"]
        for r in similarity.train_sample(e.repartition(13), n_rows=n, cap=cap)
        .select("vec_id")
        .collect()
    }
    assert s1 == s2
    # Bernoulli at rate cap/n: expect ≈cap, allow 4σ
    sigma = (cap * (1 - cap / n)) ** 0.5
    assert abs(len(s1) - cap) < 4 * sigma + 1, (len(s1), cap)


def test_ivf_train_sample_matches_local_lloyd(spark):
    """Sample-trained centroids == numpy Lloyd over the same id-sorted
    sample matrix (bitwise), independent of input partitioning."""
    import numpy as np

    e = _emb(spark)
    n = e.count()
    c1 = similarity.ivf_train_sample(e, n_lists=6, n_rows=n)
    c2 = similarity.ivf_train_sample(e.repartition(17), n_lists=6, n_rows=n)
    assert all(np.array_equal(a, b) for a, b in zip(c1, c2))

    rows = sorted(e.select("vec_id", "embedding").collect(), key=lambda r: r[0])
    V = np.asarray([r[1] for r in rows], dtype=np.float64)
    ref = similarity.lloyd_local(V, n_lists=6)
    assert all(np.array_equal(a, b) for a, b in zip(c1, ref))


def test_semantic_dedup_centroid_passthrough(spark):
    """Train-once: passing pre-trained centroids into semantic_dedup
    gives the same keep/drop set as letting it train internally (same
    deterministic sample → same centroids), with no training jobs."""
    e = _emb(spark)
    n = e.count()
    k = similarity.auto_n_lists(n)
    cents = similarity.ivf_train_sample(e, n_lists=k, n_rows=n)
    via_param = {
        (r["vec_id"], r["cluster"], r["is_kept"])
        for r in similarity.semantic_dedup(e, threshold=0.95, centroids=cents).collect()
    }
    internal = {
        (r["vec_id"], r["cluster"], r["is_kept"])
        for r in similarity.semantic_dedup(e, threshold=0.95, n_rows=n).collect()
    }
    assert via_param == internal


def test_parquet_num_rows_matches_count(spark, tmp_path):
    from netcdf_olap_spark.sources.stats import parquet_num_rows

    e = _emb(spark)
    assert parquet_num_rows(f"{SF}/embeddings.parquet") == e.count()
    # directory-of-files form
    out = str(tmp_path / "multi")
    e.repartition(5).write.parquet(out)
    assert parquet_num_rows(out) == e.count()
    with pytest.raises(FileNotFoundError):
        parquet_num_rows(str(tmp_path / "empty_dir_nope"))


def test_oracle_sql_plane_literals_are_plain_floats():
    """Plane literals in the generated DuckDB SQL must interpolate
    builtin floats: repr(np.float64(x)) becomes 'np.float64(x)' under
    numpy >= 2, which is a DuckDB syntax error (regression: the VALUES
    rows used {x!r} on raw numpy scalars)."""
    from netcdf_olap_spark.queries.similarity import EMB_KNN_LSH_SQL, EMB_SEMANTIC_LSH_SQL

    assert "np." not in EMB_KNN_LSH_SQL
    assert "np." not in EMB_SEMANTIC_LSH_SQL


def test_int8_quantize_matches_scalar_replay_and_is_shuffle_free(spark):
    """int8 codes equal an exact scalar replay (floor-half-up on IEEE
    division), zero vectors drop, and the plan is a pure map."""
    import math

    from netcdf_olap_spark.operators.similarity import int8_quantize

    rows = [
        (1, [0.5, -1.0, 0.25, 0.0]),
        (2, [0.001, 0.002, -0.003, 0.004]),
        (3, [0.0, 0.0, 0.0, 0.0]),  # zero vector -> dropped
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r.vec_id: r for r in int8_quantize(df).collect()}
    assert set(got) == {1, 2}
    for vid, vec in rows[:2]:
        fv = [float(__import__("numpy").float32(x)) for x in vec]
        scale = max(abs(x) for x in fv)
        want = [max(min(math.floor(x / scale * 127 + 0.5), 127), -127) for x in fv]
        assert got[vid].qv == want, (vid, got[vid].qv, want)
        assert got[vid].scale == scale
    # clamp edge: exactly representable max hits +/-127, never wraps
    assert max(got[1].qv) == 127 or min(got[1].qv) == -127

    plan = int8_quantize(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    for n in ("ArrowEvalPython", "BatchEvalPython"):
        assert n not in plan


def test_zero_vector_ranks_last_not_first(spark):
    """cosine() defines a zero vector's similarity as 0.0 — the raw
    0/0 NaN would sort ABOVE every real similarity in a descending
    top-k and put direction-less vectors at the head of every result
    (review finding)."""
    from netcdf_olap_spark.operators.similarity import knn_brute

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [0.6, 0.8])],
        "vec_id long, embedding array<float>",
    )
    top = knn_brute(df, [1.0, 0.0], k=3).collect()
    assert top[0]["vec_id"] == 1 and top[0]["cos_sim"] == 1.0
    assert top[-1]["vec_id"] == 2 and top[-1]["cos_sim"] == 0.0


def test_zero_vector_guard_in_precomputed_norm_paths(spark):
    """The precomputed-norm pair paths (graph / delta / hard-negative)
    must carry cosine()'s zero-vector guard too: dot/(a.nrm*c.nrm) is
    0/0 = NaN for a zero vector, and the descending top-k would rank
    it FIRST (r11 advice — the guard existed only in cosine())."""
    import math

    from netcdf_olap_spark.operators.similarity import (
        delta_knn,
        hard_negatives,
        knn_graph_lsh,
    )

    # n_planes small enough that everything lands in few buckets; the
    # zero vector must pair with same-bucket rows at cos_sim=0.0.
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [0.6, 0.8]), (4, [0.9, 0.1])],
        "vec_id long, embedding array<float>",
    )
    edges = knn_graph_lsh(df, k=3, n_planes=1, dim=2).collect()
    assert edges, "expected same-bucket edges"
    assert all(not math.isnan(r["cos_sim"]) for r in edges)
    assert all(r["cos_sim"] == 0.0 for r in edges if 2 in (r["src_id"], r["dst_id"]))
    # a zero-vector dst never outranks a real similarity
    for r in edges:
        if r["nbr_rank"] == 1 and r["dst_id"] == 2:
            sims = [e["cos_sim"] for e in edges if e["src_id"] == r["src_id"]]
            assert max(sims) == 0.0

    batch = spark.createDataFrame([(10, [0.0, 0.0])], "vec_id long, embedding array<float>")
    d = delta_knn(df, batch, n_rows=4, k=3, dim=2).collect()
    assert all(not math.isnan(r["cos_sim"]) for r in d)

    lab = df.withColumn("label", (F.col("vec_id") % 2).cast("long"))
    h = hard_negatives(lab, n_rows=4, k=3, dim=2).collect()
    assert all(not math.isnan(r["cos_sim"]) for r in h)


def test_zero_vector_guard_in_pair_filters(spark):
    """The two thresholded pair paths found unguarded in the r11
    review: a zero vector's 0/0 NaN passes `NaN > threshold` in Spark
    and would near-dup-match it to everything."""
    import math

    from netcdf_olap_spark.operators.similarity import semantic_pair_candidates

    assigned = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 1.0, 0),
            (2, [0.0, 0.0], 0.0, 0),  # zero vector, same cluster
            (3, [1.0, 0.0], 1.0, 0),
        ],
        "id long, v array<float>, nrm double, cluster int",
    )
    dropped = {r["id"] for r in semantic_pair_candidates(assigned, 0.9).collect()}
    # only the genuine duplicate (id 3 of id 1) drops — never the
    # pairs involving the zero vector
    assert dropped == {3}

    from netcdf_olap_spark.queries.similarity import _near_dup_pairs

    e = spark.createDataFrame(
        [(1, 0, [1.0, 0.0]), (2, 0, [0.0, 0.0]), (3, 0, [1.0, 0.0])],
        "vec_id long, label int, embedding array<float>",
    )
    pairs = _near_dup_pairs(e).collect()
    assert all(not math.isnan(r["cos_sim"]) for r in pairs)
    assert {(r.id1, r.id2) for r in pairs} == {(1, 3)}


def test_ivf_train_clamps_small_inputs(spark):
    """Fewer rows than lists must clamp (lloyd_local's rule), not
    KeyError on never-assigned list ids (review finding)."""
    from netcdf_olap_spark.operators.similarity import ivf_train

    df = spark.createDataFrame(
        [(i, [float(i), float(i % 2)]) for i in range(5)],
        "vec_id long, embedding array<float>",
    )
    cents = ivf_train(df, n_lists=8, n_iters=1)
    assert len(cents) == 5
    import pytest as _pytest

    with _pytest.raises(ValueError, match="empty"):
        ivf_train(df.where("vec_id < 0"), n_lists=4)
