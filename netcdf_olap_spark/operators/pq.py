"""Product quantization (PQ): compressed-vector ANN for 100 TB-scale
embedding corpora.

The scale problem IVF alone doesn't solve: even with partition-pruned
probes, candidate lists still hold full float vectors (dim × 4 bytes).
PQ splits each vector into ``m`` subspaces, trains a tiny k-entry
codebook per subspace, and stores each vector as ``m`` small codes
(dim×4 bytes → m bytes; 64-dim float → 8 bytes at m=8, a 32×
compression). Queries score candidates with an asymmetric distance
computation (ADC): per subspace, a k-entry lookup table of exact
query-to-centroid distances — the approximate distance is ``m`` table
lookups + adds per candidate, never a float-vector read.

Spark-first design (mirrors operators/similarity.py IVF):

- **Training** is distributed Lloyd over ALL subspaces at once: one
  assignment map + ONE groupBy per iteration keyed on
  (subspace, code, dim-position) — only m×k×subdim scalars ever reach
  the driver. No per-subspace passes over the corpus.
- **Codebooks become plan constants**: encoding and ADC scoring are
  pure map expressions (zip_with/aggregate over array literals) —
  whole-stage-codegen'd, no UDF, no shuffle, no join.
- **At rest**, the encoded table is (id, codes: array<tinyint-scale
  ints>) — combined with the IVF layout (write_ivf_index) this is the
  standard IVF-PQ index: partition-pruned probe, then ADC over codes.

Deterministic throughout: init = the k smallest-id vectors per
subspace, no RNG; ties in argmin resolve to the lowest code via
array_position's first-match semantics.

The reference has no vector surface; this extends the rebuild's
similarity family (SURVEY.md §2.11 north star).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

Codebooks = list[list[np.ndarray]]  # [subspace][code] -> subdim vector


def pq_codes_col(vec_col: Column, codebooks: Codebooks) -> Column:
    """array<int> of m codes — the encoded vector, as one native
    expression (plan-constant codebooks → pure map).

    The whole m×k×subdim codebook is ONE 3-level nested literal
    iterated by a single indexed transform lambda — not m unrolled
    per-subspace expressions (and before r8, not m×k unrolled
    per-entry aggregates): codegen compiles ONE inner loop for all
    256 entries at m=16/k=16, which measured 3.3 s cold → sub-second
    for the sf0.1 encode (compile time, not math, dominated). The
    fold order per entry is unchanged, so distances, argmin
    tie-breaks, and the DuckDB oracle parity are bit-identical.
    ``dists`` appears twice inside the lambda (array_position +
    array_min — no CSE inside HOF lambdas), doubling the tiny
    per-row math; that trade is the point: pay 2× the arithmetic,
    skip m× the JIT."""
    subdim = len(codebooks[0][0])
    cb_lit = F.array(
        *[
            F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in cb])
            for cb in codebooks
        ]
    )

    def per_subspace(cb: Column, s: Column) -> Column:
        sub = F.slice(vec_col, s * subdim + 1, subdim)
        dists = F.transform(
            cb,
            lambda c: F.aggregate(
                F.zip_with(sub, c, lambda x, y: x.cast("double") - y),
                F.lit(0.0),
                lambda acc, v: acc + v * v,
            ),
        )
        return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")

    return F.transform(cb_lit, per_subspace)


def pq_distortion_col(vec_col: Column, codebooks: Codebooks) -> Column:
    """Squared reconstruction error of PQ-encoding a vector: per
    subspace the distance to its NEAREST codebook entry (what encoding
    loses, independent of argmin tie-breaks — the min distance is
    unique even when the code is not), summed across subspaces in
    fixed s-order.  Same single-literal/single-lambda compilation
    shape as pq_codes_col; pure map, no shuffle."""
    subdim = len(codebooks[0][0])
    cb_lit = F.array(
        *[
            F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in cb])
            for cb in codebooks
        ]
    )

    def per_subspace(cb: Column, s: Column) -> Column:
        sub = F.slice(vec_col, s * subdim + 1, subdim)
        dists = F.transform(
            cb,
            lambda c: F.aggregate(
                F.zip_with(sub, c, lambda x, y: x.cast("double") - y),
                F.lit(0.0),
                lambda acc, v: acc + v * v,
            ),
        )
        return F.array_min(dists)

    # s-ordered sequential fold — the oracle must replay the same
    # order (list_sum over list(... ORDER BY s)), not an unordered SUM
    return F.aggregate(F.transform(cb_lit, per_subspace), F.lit(0.0), lambda a, v: a + v)


def md5_codebooks(m: int = 4, k: int = 8, subdim: int = 16, scale: float = 0.25) -> Codebooks:
    """Deterministic pseudo-random codebooks derived from md5 — the
    portable-twin trick (cf. doc_minhash_portable): entry (s, c, p) is
    ``(md5_int("pq:s:c:p") / 16^13) * 2*scale - scale``, computed with
    hashlib at build time, so the SAME float literals can be embedded
    in both the Spark plan and a DuckDB oracle. Quantization quality
    is irrelevant to what this verifies — encoding (per-subspace
    argmin) and ADC scoring are exercised exactly as with trained
    codebooks."""
    import hashlib

    out: Codebooks = []
    for s in range(m):
        cb = []
        for c in range(k):
            vals = [
                (
                    int(hashlib.md5(f"pq:{s}:{c}:{p}".encode()).hexdigest()[:13], 16)
                    / float(16**13)
                )
                * 2.0
                * scale
                - scale
                for p in range(subdim)
            ]
            cb.append(np.asarray(vals, dtype=np.float64))
        out.append(cb)
    return out


#: Micro-unit snap for integer ADC scores. ONE definition: the Spark
#: LUT builder below and the oracle SQL generator
#: (queries/similarity._pq_portable_sql) both derive from it — a
#: one-sided change would silently break cross-engine parity.
ADC_UNIT = 1e6


def adc_lut_units(
    query_vec: list[float], codebooks: Codebooks, unit: float = ADC_UNIT
) -> list[list[int]]:
    """Integer micro-unit ADC lookup tables: per (subspace, code), the
    exact sequential-fold squared L2 of the query subvector to the
    codebook entry, snapped to ``floor(d*unit + 0.5)``. The snap makes
    the per-candidate ADC score an INTEGER sum — order-free, so a SQL
    oracle can SUM over an unordered group and still match bit-exactly
    (a raw double sum would depend on addition order). The fold
    mirrors F.aggregate / DuckDB list_sum element order."""
    import math

    subdim = len(codebooks[0][0])
    luts: list[list[int]] = []
    for s, cb in enumerate(codebooks):
        row = []
        for c in cb:
            acc = 0.0
            for p in range(subdim):
                d = query_vec[s * subdim + p] - float(c[p])
                acc += d * d
            row.append(math.floor(acc * unit + 0.5))
        luts.append(row)
    return luts


def adc_topk_units(
    encoded: DataFrame,
    lut_units: list[list[int]],
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Integer-unit ADC top-k (the oracle-checkable twin of adc_topk):
    each candidate costs m element_at lookups + exact long adds."""
    score = None
    for s, lut in enumerate(lut_units):
        term = F.element_at(
            F.array(*[F.lit(int(v)) for v in lut]), F.element_at("codes", s + 1) + 1
        ).cast("long")
        score = term if score is None else score + term
    return (
        encoded.select(F.col(id_col), score.alias("adc_units"))
        .orderBy(F.col("adc_units").asc(), F.col(id_col))
        .limit(k)
    )


def pq_train(
    df: DataFrame,
    m: int = 8,
    k: int = 16,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> Codebooks:
    """Distributed Lloyd over all m subspaces simultaneously.

    Per iteration: one assignment map (codes for every subspace) +
    one posexplode→groupBy((subspace, code, pos)) mean — a single
    shuffle of m×k×subdim running sums regardless of corpus size.
    Empty codes keep their previous centroid (same policy as
    ivf_train)."""
    first = df.orderBy(id_col).limit(k).select(vec_col).collect()
    dim = len(first[0][0])
    assert dim % m == 0, f"dim {dim} not divisible by m={m}"
    subdim = dim // m
    seeds = [np.asarray(r[0], dtype=np.float64) for r in first]
    codebooks: Codebooks = [
        [seeds[j % len(seeds)][s * subdim : (s + 1) * subdim].copy() for j in range(k)]
        for s in range(m)
    ]
    for _ in range(n_iters):
        codes = pq_codes_col(F.col(vec_col), codebooks)
        exploded = (
            df.select(codes.alias("codes"), F.col(vec_col).alias("v"))
            .select(F.posexplode("v").alias("pos", "val"), "codes")
            .select(
                (F.col("pos") / subdim).cast("int").alias("s"),
                (F.col("pos") % subdim).alias("p"),
                F.element_at("codes", (F.col("pos") / subdim).cast("int") + 1).alias("code"),
                F.col("val").cast("double").alias("val"),
            )
        )
        means = exploded.groupBy("s", "code", "p").agg(F.avg("val").alias("mean")).collect()
        fresh: dict[tuple[int, int], np.ndarray] = {}
        for r in means:
            key = (r["s"], r["code"])
            if key not in fresh:
                fresh[key] = codebooks[key[0]][key[1]].copy()
            fresh[key][r["p"]] = r["mean"]
        for (s, j), c in fresh.items():
            codebooks[s][j] = c
    return codebooks


def pq_train_sample(
    df: DataFrame,
    m: int = 8,
    k: int = 16,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_rows: int | None = None,
    cap: int | None = None,
) -> Codebooks:
    """Sample-trained PQ codebooks — the published FAISS recipe (train
    the quantizer on a bounded sample, encode the corpus with plan
    constants), the same shape that fixed emb_semantic_dedup in round
    7. ONE Spark job total: the deterministic md5-Bernoulli sample
    collect (≤cap×dim doubles however large the corpus); per-subspace
    Lloyd then runs vectorized on the driver — no per-iteration
    distributed pass, no posexplode aggregation, and no k×dim literal
    expression rebuilt (and re-JIT-compiled) every iteration, which is
    what makes the distributed ``pq_train`` cost seconds per call.

    Conventions mirror ``similarity.lloyd_local``: the sample is
    id-sorted, init = the first k sample rows' subvectors, empty codes
    keep their previous centroid — no RNG anywhere, so the codebooks
    are bitwise run-to-run reproducible and partitioning-independent.
    ``n_rows`` should come from ingest-time stats
    (sources/stats.parquet_num_rows); ``df.count()`` is the fallback.
    ``pq_train`` (distributed, exactness-pinned vs a local replay)
    remains for corpora whose sample cannot represent the tails."""
    from netcdf_olap_spark.operators.similarity import TRAIN_SAMPLE_CAP, train_sample

    if cap is None:
        cap = TRAIN_SAMPLE_CAP
    if n_rows is None:
        n_rows = df.count()
    rows = train_sample(df, n_rows, cap=cap, id_col=id_col).select(id_col, vec_col).collect()
    rows.sort(key=lambda r: r[0])
    if not rows:
        raise ValueError("pq_train_sample: empty training input")
    vecs = np.asarray([r[1] for r in rows], dtype=np.float64)
    dim = vecs.shape[1]
    assert dim % m == 0, f"dim {dim} not divisible by m={m}"
    subdim = dim // m
    out: Codebooks = []
    for s in range(m):
        sub = vecs[:, s * subdim : (s + 1) * subdim]
        kk = min(k, len(sub))
        C = sub[:kk].copy()
        for _ in range(n_iters):
            d2 = (C * C).sum(axis=1)[None, :] - 2.0 * (sub @ C.T)
            a = np.argmin(d2, axis=1)
            for i in range(kk):
                members = sub[a == i]
                if len(members):
                    C[i] = members.mean(axis=0)
        out.append([C[i] for i in range(kk)])
    return out


def pq_encode(
    df: DataFrame,
    codebooks: Codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes) — the compressed index table (m ints per vector;
    cast to BYTE at rest when k ≤ 256)."""
    return df.select(F.col(id_col), pq_codes_col(F.col(vec_col), codebooks).alias("codes"))


def adc_topk(
    encoded: DataFrame,
    query_vec: list[float],
    codebooks: Codebooks,
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance top-k over the encoded table: the per-
    subspace lookup tables are exact query→centroid distances computed
    driver-side (m×|codebook| scalars) and inlined as array literals;
    each candidate costs m element_at lookups + adds. TakeOrdered
    top-k, no global sort."""
    q = np.asarray(query_vec, dtype=np.float64)
    subdim = len(codebooks[0][0])
    luts = [
        [float(np.sum((q[s * subdim : (s + 1) * subdim] - c) ** 2)) for c in cb]
        for s, cb in enumerate(codebooks)
    ]
    score = None
    for s, lut in enumerate(luts):
        term = F.element_at(
            F.array(*[F.lit(v) for v in lut]), F.element_at("codes", s + 1) + 1
        )
        score = term if score is None else score + term
    return (
        encoded.select(F.col(id_col), score.alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col(id_col))
        .limit(k)
    )


def write_ivfpq_index(
    df: DataFrame,
    out_dir: str,
    centroids: list[np.ndarray],
    codebooks: Codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """The full IVF-PQ layout at rest: rows partitioned by coarse IVF
    list, payload reduced to (id, m PQ codes) — float vectors never
    stored. A probe is a partition-pruned scan of nprobe/n_lists of
    files whose rows are m small ints each: both the I/O *selectivity*
    (IVF) and the I/O *density* (PQ, ~16×) legs of billion-scale ANN.
    Assignment and encoding are pure maps against plan constants; one
    writer per list avoids tiny files."""
    from netcdf_olap_spark.operators.similarity import assign_nearest_col

    (
        df.select(
            F.col(id_col),
            pq_codes_col(F.col(vec_col), codebooks).alias("codes"),
            assign_nearest_col(F.col(vec_col), centroids).alias("list_id"),
        )
        .repartition("list_id")
        .write.partitionBy("list_id")
        .mode("overwrite")
        .parquet(out_dir)
    )


def probe_ivfpq_index(
    spark,
    index_dir: str,
    query_vec: list[float],
    centroids: list[np.ndarray],
    codebooks: Codebooks,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC top-k against the at-rest IVF-PQ index: `list_id IN probes`
    prunes partitions, then each surviving row costs m lookup-adds —
    no float vector is ever read."""
    qv = np.asarray(query_vec, dtype=np.float64)
    order = np.argsort([float(np.sum((qv - c) ** 2)) for c in centroids], kind="stable")
    probe = [int(i) for i in order[:nprobe]]
    cand = spark.read.parquet(index_dir).where(F.col("list_id").isin(probe))
    return adc_topk(cand, query_vec, codebooks, k=k, id_col=id_col)


def knn_pq(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    m: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: Codebooks | None = None,
) -> DataFrame:
    """Train + encode + ADC top-k fused (benchmark form; at corpus
    scale train/encode happen at ingest and only ADC runs per query).
    Pass pre-trained ``codebooks`` (pq_train_sample at scale) to skip
    the internal distributed ``pq_train``."""
    # `is not None`, not `or`: an explicitly passed empty codebook
    # list is a caller bug and must error here, not silently trigger
    # a full distributed training pass (nor encode to empty codes)
    if codebooks is not None and len(codebooks) == 0:
        raise ValueError("codebooks is empty — pass None to train, or a trained list")
    cbs = codebooks if codebooks is not None else pq_train(
        df, m=m, k=n_codes, id_col=id_col, vec_col=vec_col
    )
    return adc_topk(pq_encode(df, cbs, id_col, vec_col), query_vec, cbs, k=k, id_col=id_col)
