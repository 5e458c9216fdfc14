"""Streaming queries for the driver registry.

Each entry stages the sf's events table into time-ordered parquet
micro-batch files, runs the REAL Structured Streaming pipeline
(readStream → watermark → stateful op → memory sink, availableNow),
and returns the drained sink. Rows-only checks: seeded micro-batching
and watermark state aren't SQL-expressible, but batch equivalence is
proven in tests/test_streaming.py against the oracle-checked batch
twins (queries/events.py).

Output timestamps are emitted as integer microseconds (``unix_micros``
of window bounds over a ts derived from the nanos-integer column) —
window() bucket alignment is session-timezone-dependent for odd-offset
zones, so the checked surface sticks to integers like queries/events.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from netcdf_olap_spark.queries.text import DUCK_CHUNKS, DUCK_CUTS, DUCK_TOKS
from netcdf_olap_spark.session import load_events
from netcdf_olap_spark.streaming import ops
from netcdf_olap_spark.streaming.runner import (
    auto_state_partitions,
    events_file_stream,
    run_to_memory,
    stage_event_files,
)
from netcdf_olap_spark.streaming.stateful import running_user_totals


def _staged_stream(spark: SparkSession, sf_dir: str, n_files: int = 4) -> tuple[DataFrame, str]:
    directory = tempfile.mkdtemp(prefix="noss_stream_")
    try:
        batch = load_events(spark, sf_dir).select(
            "event_id", "ts", "user_id", "event_type", "value", "props"
        )
        stage_event_files(batch, directory, n_files=n_files)
        return events_file_stream(spark, directory), directory
    except BaseException:
        # the caller's try/finally only starts once we return — a
        # staging failure must not leave the mkdtemp behind
        shutil.rmtree(directory, ignore_errors=True)
        raise


def stream_tumbling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 10-minute event-time windows computed by a real
    micro-batched stream with a 30-minute watermark.

    Oracle-checked (not rows-only): ``window()`` buckets in
    instant-microsecond space (epoch-aligned integer arithmetic — no
    calendar), and the value sum rides a decimal accumulator, so the
    drained sink is bitwise-equal to the batch bucket formula
    ``ts_us - ts_us % 10min`` however the rows were micro-batched —
    proven against the batch twin in tests/test_streaming.py and
    against DuckDB by STREAM_TUMBLING_SQL."""
    stream, directory = _staged_stream(spark, sf_dir)
    try:
        out = run_to_memory(
            ops.tumbling_stats(stream, watermark="30 minutes"),
            "complete",
            state_partitions=auto_state_partitions(spark, directory),
        )
        return (
            out.select(
                F.unix_micros("win_start").alias("win_start_us"),
                "event_type",
                "n_events",
                "sum_value",
            )
            .orderBy("win_start_us", "event_type")
            .localCheckpoint()  # materialize before the staging dir is removed
        )
    finally:
        shutil.rmtree(directory, ignore_errors=True)


def stream_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): final
    per-user running totals after replaying all micro-batches.

    Oracle-checked: the GroupState count grows monotonically, so the
    max over all update-mode emissions IS the final total = the batch
    COUNT per user — replay order cannot change it."""
    stream, directory = _staged_stream(spark, sf_dir)
    try:
        out = run_to_memory(
            running_user_totals(stream),
            "update",
            state_partitions=auto_state_partitions(spark, directory),
        )
        final = (
            out.groupBy("user_id")
            .agg(F.max(F.struct("n_events", "sum_value")).alias("s"))
            .select("user_id", F.col("s.n_events").alias("n_events"))
        )
        return final.orderBy("user_id").localCheckpoint()
    finally:
        shutil.rmtree(directory, ignore_errors=True)


def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join run as a real two-stream pipeline:
    clicks ⋈ views within a 2-hour lookback, both sides
    watermarked (4 h) so join state is bounded; availableNow
    replay, append-mode memory sink, then the same per-user rollup as
    the oracle-checked batch twin (ev_interval_join — equality proven
    in tests/test_streaming.py)."""
    stream, directory = _staged_stream(spark, sf_dir)
    try:
        pairs = run_to_memory(
            ops.interval_join(stream, watermark="4 hours"),
            "append",
            state_partitions=auto_state_partitions(spark, directory),
        )
        gap_us = F.unix_micros("c_ts") - F.unix_micros("v_ts")
        return (
            pairs.groupBy(F.col("c_user").alias("user_id"))
            .agg(F.count(F.lit(1)).alias("n_pairs"), F.max(gap_us).alias("max_gap_us"))
            .orderBy("user_id")
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(directory, ignore_errors=True)


def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST2: native ``session_window`` (30-minute gap) over a real
    micro-batched stream with watermark — the streaming form of the
    gaps-and-islands query (batch twin: ev_sessionize, oracle-checked;
    equivalence proven in tests/test_streaming.py). Session state
    merges across micro-batches and is bounded by the watermark."""
    stream, directory = _staged_stream(spark, sf_dir)
    try:
        out = run_to_memory(
            ops.session_stats(stream, gap="30 minutes", watermark="2 hours"),
            "complete",
            state_partitions=auto_state_partitions(spark, directory),
        )
        return (
            out.select(
                "user_id",
                F.unix_micros("first_ts").alias("session_start_us"),
                "n_events",
            )
            .orderBy("user_id", "session_start_us")
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(directory, ignore_errors=True)


def _staged_doc_stream(
    spark: SparkSession,
    sf_dir: str,
    n_files: int = 4,
    with_source: bool = False,
    files_per_batch: int = 8,
):
    """Documents replayed as an ordered micro-batched file stream with
    synthetic arrival timestamps (one minute per doc). Arrival base is
    2024-01-01: doc 0 must NOT land exactly on epoch 0 — the stream's
    initial watermark is the epoch, and watermark-aware operators
    discard rows at-or-before it as late (lost doc 0 before). Returns
    (stream_df, staging_directory); caller removes the directory.

    Each logical batch is staged as ``files_per_batch`` subfiles with
    a shared mtime and consumed with maxFilesPerTrigger =
    files_per_batch: one trigger = one logical batch (membership and
    every batch-deterministic result unchanged), but the batch's
    map-side work (minhash, CDC chunking) runs files_per_batch-wide
    instead of on one core — the r10 drain decomposition's dominant
    fixable cost (201 → 111 s at sf1.0)."""
    from netcdf_olap_spark.streaming.runner import stage_files
    from pyspark.sql.types import LongType, StringType, StructField, StructType, TimestampType

    directory = tempfile.mkdtemp(prefix="noss_docstream_")
    try:
        from pyspark.sql.window import Window

        base_us = 1_704_067_200_000_000
        # arrival = base + POSITION(doc_id order)·1min, not doc_id
        # itself: on the driver's dense-0..N-1 ids the two are equal
        # (oracles unchanged), but sparse/amplified id spaces (copy
        # offsets of +1e8·c) would otherwise mint year-3900 stamps
        # that overflow the pandas ns domain inside every
        # applyInPandasWithState operator. The global window is fine
        # here — this is test-stream STAGING (stage_files globally
        # sorts anyway), not a scale operator.
        pos = F.row_number().over(Window.orderBy("doc_id")) - F.lit(1)
        cols = [
            F.col("doc_id"),
            F.timestamp_micros(F.lit(base_us) + pos.cast("long") * 60_000_000).alias("ts"),
            F.col("text"),
        ] + ([F.col("source")] if with_source else [])
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(*cols)
        stage_files(
            docs, directory, n_files=n_files, order_cols=["doc_id"], files_per_batch=files_per_batch
        )
        fields = [
            StructField("doc_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("text", StringType()),
        ] + ([StructField("source", StringType())] if with_source else [])
        schema = StructType(fields)
        stream = (
            spark.readStream.schema(schema)
            .format("parquet")
            .option("maxFilesPerTrigger", str(files_per_batch))
            .load(directory)
        )
        return stream, directory
    except BaseException:
        # the caller's try/finally only starts once we return — a
        # staging failure must not leave the mkdtemp behind
        shutil.rmtree(directory, ignore_errors=True)
        raise


def stream_corpus_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming training-corpus ingestion: documents replayed as
    micro-batches (synthetic arrival ts, one minute per doc), quality
    gate + bounded-state fingerprint dedup
    (streaming/corpus.corpus_ingest). Output is the deterministic
    projection (fp, n_tokens) — which doc of a duplicate group arrives
    first is replay-dependent, the surviving fingerprint set is not
    (and n_tokens is fp-functional: the fingerprint normalizes only
    case/whitespace, which whitespace tokenization ignores). The
    fingerprint is md5 of normalized text — engine-portable, so the
    surviving set is plain SQL (oracle below). Batch equivalence also
    proven in tests/test_streaming.py."""
    from netcdf_olap_spark.streaming.corpus import corpus_ingest

    stream, directory = _staged_doc_stream(spark, sf_dir)
    try:
        out = run_to_memory(
            corpus_ingest(stream, watermark="2 hours"),
            "append",
            state_partitions=auto_state_partitions(spark, directory),
        )
        return out.select("fp", "n_tokens").orderBy("fp").localCheckpoint()
    finally:
        shutil.rmtree(directory, ignore_errors=True)


def stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming count-min sketch: the (depth, bucket) counter table
    maintained as a streaming aggregation over replayed micro-batches
    — streaming state is the SKETCH, i.e. bounded at depth×4096 rows
    no matter how many events flow (the sketch's mergeability is what
    makes it a legal incremental aggregate). The final sketch then
    answers heavy-hitter queries: estimates for the top-10 true users,
    est ≥ true asserted in tests/test_streaming.py. Hash-backed: the
    md5-bucket count-min build is plain SQL, so the final estimates
    carry a full value-level DuckDB oracle (STREAM_HEAVY_SQL);
    sketch equality to the batch build is additionally pytest-pinned."""
    from netcdf_olap_spark.operators import sketches

    stream, directory = _staged_stream(spark, sf_dir)
    try:
        probes = stream.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(d).alias("depth"),
                            sketches.cm_bucket(F.col("user_id"), d, 3).alias("bucket"),
                        )
                        for d in range(3)
                    ]
                )
            ).alias("db")
        ).select("db.depth", "db.bucket")
        sk_stream = probes.groupBy("depth", "bucket").agg(F.count(F.lit(1)).alias("cnt"))
        # the streaming state is the SKETCH — capped at depth×4096
        # rows by construction — so the stateful agg runs at a small
        # fixed partition count (state-store open+commit is per
        # partition per trigger; the cluster-wide default is pure
        # fixed cost here, measured 2.7× of the drain). Input-scan
        # parallelism is untouched — only the bounded merge narrows.
        sketch = run_to_memory(sk_stream, "complete", state_partitions=8)

        batch = load_events(spark, sf_dir)
        top = (
            batch.groupBy(F.col("user_id"))
            .agg(F.count(F.lit(1)).alias("true_cnt"))
            .orderBy(F.col("true_cnt").desc(), F.col("user_id"))
            .limit(10)
        )
        est = sketches.countmin_estimate(
            sketch, top.select("user_id"), "user_id", depth=3, hex_digits=3
        )
        return (
            top.join(est, "user_id")
            .select("user_id", "true_cnt", "cm_est")
            .orderBy(F.col("true_cnt").desc(), "user_id")
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(directory, ignore_errors=True)


def stream_transition_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming twin of ev_transition_matrix: per-user
    last-event-type carried in GroupState across micro-batches
    (applyInPandasWithState), pair stream aggregated after drain.
    rows-only; stream ≡ batch asserted in tests/test_streaming.py."""
    from netcdf_olap_spark.streaming.stateful import transition_pairs

    stream, directory = _staged_stream(spark, sf_dir)
    try:
        pairs = run_to_memory(
            transition_pairs(stream),
            "append",
            state_partitions=auto_state_partitions(spark, directory),
        )
        return (
            pairs.groupBy("prev_type", "next_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("prev_type", "next_type")
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(directory, ignore_errors=True)


# DuckDB oracle for the streaming tumbling aggregation: the stream's
# window() start is the epoch-aligned 10-minute bucket of the event
# instant, so the batch bucket arithmetic IS the streaming result
# (same clock as queries/events.EV_TUMBLING_SQL, minus the exact
# count-distinct the streaming agg cannot express).
STREAM_TUMBLING_SQL = """
SELECT epoch_us(ts) - epoch_us(ts) % 600000000 AS win_start_us,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY win_start_us, event_type
"""


STREAM_RUNNING_SQL = """
SELECT user_id, COUNT(*) AS n_events
FROM events
GROUP BY user_id
ORDER BY user_id
"""


# Identical to queries/events.EV_INTERVAL_JOIN_SQL: the streaming
# two-stream join drains to the same per-user rollup the batch twin
# computes (inner interval joins emit every match exactly once in
# append mode — arrival order cannot change the pair set).
STREAM_INTERVAL_SQL = """
WITH c AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
     v AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'view')
SELECT c.user_id AS user_id, COUNT(*) AS n_pairs,
       MAX(epoch_us(c.ts) - epoch_us(v.ts)) AS max_gap_us
FROM c JOIN v ON c.user_id = v.user_id
             AND v.ts <= c.ts
             AND v.ts >= c.ts - INTERVAL 2 HOUR
GROUP BY 1
ORDER BY user_id
"""


# session_window semantics: two consecutive events merge iff their
# sessions [t, t+gap) OVERLAP, i.e. a new session starts when the gap
# is >= 30 min (the batch gaps-and-islands twin ev_sessionize uses
# strictly >, a deliberate semantic variant — both are checked).
STREAM_SESSIONIZE_SQL = """
WITH gapped AS (
  SELECT user_id, epoch_us(ts) AS ts_us,
         CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL THEN 1
              WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w >= 1800000000 THEN 1
              ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
sessions AS (
  SELECT user_id, ts_us,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM gapped)
SELECT user_id, MIN(ts_us) AS session_start_us, COUNT(*) AS n_events
FROM sessions
GROUP BY user_id, sid
ORDER BY user_id, session_start_us
"""


# The count-min sketch is built from md5-hex buckets (engine-portable
# BY DESIGN — operators/sketches.py), so the streamed sketch state and
# its estimates are plain SQL: same counters, same min-over-depths.
STREAM_HEAVY_SQL = """
WITH top AS (
  SELECT user_id, COUNT(*) AS true_cnt FROM events
  GROUP BY 1 ORDER BY true_cnt DESC, user_id LIMIT 10),
sk AS (
  SELECT d.depth,
         substr(md5(CAST(d.depth AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)), 1, 3) AS bucket,
         COUNT(*) AS cnt
  FROM events CROSS JOIN (VALUES (0), (1), (2)) AS d(depth)
  GROUP BY 1, 2),
probes AS (
  SELECT user_id, d.depth,
         substr(md5(CAST(d.depth AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)), 1, 3) AS bucket
  FROM top CROSS JOIN (VALUES (0), (1), (2)) AS d(depth)),
est AS (
  SELECT p.user_id, MIN(COALESCE(sk.cnt, 0)) AS cm_est
  FROM probes p LEFT JOIN sk ON sk.depth = p.depth AND sk.bucket = p.bucket
  GROUP BY 1)
SELECT t.user_id, t.true_cnt, e.cm_est
FROM top t JOIN est e USING (user_id)
ORDER BY true_cnt DESC, user_id
"""


# Survivor set of the quality gate + fingerprint dedup: fp is md5 of
# the case/whitespace-normalized text, and n_tokens is the same for
# every member of an fp group (whitespace tokenization is invariant
# under the normalization), so ANY arrival order yields this set.
STREAM_CORPUS_SQL = r"""
WITH g AS (
  SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
         len(list_filter(string_split_regex(trim(text), '\s+'), t -> t != '')) AS n_tokens,
         length(text) AS len_chars
  FROM documents)
SELECT fp, MIN(n_tokens) AS n_tokens
FROM g WHERE n_tokens >= 10 AND len_chars >= 50
GROUP BY fp
ORDER BY fp
"""


# GroupState last-type carry over in-order replay ≡ the batch LAG
# (staging orders globally by (ts, event_id); the stateful op re-sorts
# each micro-batch the same way), so the pair counts are the
# transition-matrix counts.
STREAM_TRANSITION_SQL = """
WITH seq AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
           AS prev_type
  FROM events)
SELECT prev_type, event_type AS next_type, COUNT(*) AS n
FROM seq WHERE prev_type IS NOT NULL
GROUP BY 1, 2
ORDER BY prev_type, next_type
"""


def stream_near_dup_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming NEAR-duplicate gate: documents replayed as ordered
    micro-batches; a custom applyInPandasWithState operator tracks the
    first-arrival OWNER of every MinHash band key (16 md5-52 mins, 8
    bands of 2 — the portable family), with event-time-timeout state
    eviction; a document survives iff it owned all 8 of its bands.

    Oracle-checked: per-batch ownership is min(ts, doc_id), arrival ts
    is monotone in doc_id, and the state TTL here covers the replay
    span, so the drained ownership stream reduces to the deterministic
    batch twin — owner of a band key = min doc_id — which is plain SQL
    in the md5-52 hash family (STREAM_NEAR_DUP_SQL). Bounded-state
    behavior (eviction DROPPING old owners at a short TTL) is pinned
    separately in tests/test_streaming.py."""
    from netcdf_olap_spark.streaming.corpus import near_dup_filter, near_dup_reduce

    stream, directory = _staged_doc_stream(spark, sf_dir)
    try:
        # TTL >> replay span: horizon effects are pinned in pytest, the
        # checked surface is the full-history ownership reduction
        owned = run_to_memory(
            near_dup_filter(stream, watermark="2 hours", state_ttl_ms=10**12),
            "append",
            state_partitions=auto_state_partitions(spark, directory),
        )
        return near_dup_reduce(owned).orderBy("doc_id").localCheckpoint()
    finally:
        shutil.rmtree(directory, ignore_errors=True)


# Deterministic min-owner reduction of the band-ownership stream: the
# owner of a band key is the smallest doc_id presenting it (arrival ts
# is monotone in doc_id), and a doc is kept iff it owns all 8 bands.
# Docs with < 3 tokens have no shingles and no row (both engines).
STREAM_NEAR_DUP_SQL = r"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), t -> t != '') AS t
  FROM documents),
sh AS (
  SELECT doc_id AS id,
         unnest([concat_ws(' ', t[i], t[i+1], t[i+2]) FOR i IN generate_series(1, len(t) - 2)]) AS sh
  FROM toks),
mins AS (
  SELECT id, j,
         MIN(('0x' || substr(md5(CAST(j AS VARCHAR) || '|' || sh), 1, 13))::BIGINT) AS h
  FROM sh CROSS JOIN generate_series(0, 15) AS g(j)
  GROUP BY id, j),
bands AS (
  SELECT id, j // 2 AS band, STRING_AGG(CAST(h AS VARCHAR), ',' ORDER BY j) AS key
  FROM mins GROUP BY id, j // 2),
owners AS (SELECT band, key, MIN(id) AS owner FROM bands GROUP BY band, key)
SELECT b.id AS doc_id,
       CAST(COUNT(*) FILTER (WHERE o.owner = b.id) AS BIGINT) AS n_owned,
       COUNT(*) FILTER (WHERE o.owner = b.id) = 8 AS is_kept
FROM bands b JOIN owners o ON o.band = b.band AND o.key = b.key
GROUP BY b.id
ORDER BY doc_id
"""


def stream_template_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental boilerplate detection: the streaming form of
    doc_boilerplate's frequency pass.  Documents replayed as
    micro-batches are CDC-chunked MAP-side (the same content_cutpoints
    expressions — no UDF on the stream), per-doc repeats collapse in
    dropDuplicatesWithinWatermark (state bounded by the watermark
    horizon), and a streaming aggregation maintains the (source,
    chunk-hash) distinct-doc counts — the template table grows
    incrementally as docs arrive instead of re-scanning the corpus.
    Drained output keeps counts ≥ 3 (the batch operator's absolute
    floor).

    Oracle-checked: chunking is deterministic, the replay covers the
    whole corpus, and dedup-then-count ≡ COUNT(DISTINCT doc_id) —
    plain SQL in the md5 family.  Streaming state = in-horizon
    (doc, chunk) keys + one counter row per (source, chunk)."""
    from netcdf_olap_spark.operators import text as textops

    stream, directory = _staged_doc_stream(spark, sf_dir, with_source=True)
    try:
        toks = stream.select(
            "doc_id", "ts", "source", textops.tokens("text").alias("tk")
        ).where(F.size("tk") > 0)
        cuts = toks.select(
            "doc_id", "ts", "source", "tk", textops.content_cutpoints(F.col("tk")).alias("c")
        )
        ch = cuts.select(
            "doc_id",
            "ts",
            "source",
            F.explode(textops.chunks_from_cuts(F.col("tk"), F.col("c"))).alias("ct"),
        ).select("doc_id", "ts", "source", F.md5("ct").alias("h"))
        dedup = ch.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(
            ["doc_id", "h"]
        )
        counts = dedup.groupBy("source", "h").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs")
        )
        out = run_to_memory(
            counts, "complete", state_partitions=auto_state_partitions(spark, directory)
        )
        return (
            out.where(F.col("n_docs") >= 3).orderBy("source", "h").localCheckpoint()
        )
    finally:
        shutil.rmtree(directory, ignore_errors=True)


STREAM_TEMPLATE_SQL = f"""
WITH toks AS (SELECT doc_id, source, {DUCK_TOKS} AS t FROM documents),
cuts AS (
  SELECT doc_id, source, t, {DUCK_CUTS} AS c
  FROM toks WHERE len(t) > 0),
ch AS (
  SELECT doc_id, source, md5(unnest({DUCK_CHUNKS})) AS h
  FROM cuts)
SELECT source, h, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM ch
GROUP BY source, h
HAVING COUNT(DISTINCT doc_id) >= 3
ORDER BY source, h
"""


def stream_zarr_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CUBE ingestion from a Zarr store: the chunk-arrival
    stream (``readStream.format("zarr_cube")`` —
    sources/zarr.py, offsets = the chunk-object set)
    drained through a complete-mode per-variable aggregation.  The
    micro-batch boundaries are whatever the source picked; counts
    and the decimal sum are batching-invariant, so the drained sink
    hash-matches the closed-form oracle — the cloud-native twin of
    the netcdf_cube file-arrival stream (which stays pytest-checked
    in tests/test_netcdf_source.py)."""
    import uuid

    from netcdf_olap_spark.queries.grid import _zarr_fixture_dir
    from netcdf_olap_spark.sources.zarr import register

    register(spark)
    stream = (
        spark.readStream.format("zarr_cube")
        .options(path=_zarr_fixture_dir(), ds="zarr")
        .load()
    )
    agg = stream.groupBy("variable").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("value").alias("n_vals"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_val"),
    )
    name = f"sink_{uuid.uuid4().hex[:12]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name).orderBy("variable").localCheckpoint(eager=True)


def _zarr_vals_cte() -> str:
    from netcdf_olap_spark.queries.grid import INGEST_NT, INGEST_NX, INGEST_NY

    return f"""
WITH cells AS (
  SELECT rt.t AS t, ry.y AS y, rx.x AS x
  FROM range(0, {INGEST_NT}) rt(t), range(0, {INGEST_NY}) ry(y), range(0, {INGEST_NX}) rx(x)
), vals AS (
  SELECT 'zr_pr' AS variable,
         CASE WHEN (t + y + x) % 5 = 0 THEN NULL
              ELSE CAST(t * 100 + y * 10 + x AS DOUBLE) * 1.5 - 2.0 END AS value
  FROM cells
  UNION ALL
  SELECT 'zr_t2m',
         CASE WHEN (t + y + x) % 4 = 0 THEN NULL
              ELSE CAST(t * 100 + y * 10 + x AS DOUBLE) * 0.25 + 1.5 END
  FROM cells
  UNION ALL
  SELECT 'zr_nobs',
         CASE WHEN (t + y + x) % 3 = 0 THEN NULL
              ELSE CAST((t * 100 + y * 10 + x) * 2 + 1 AS DOUBLE) END
  FROM cells
)"""


STREAM_ZARR_SQL = (
    _zarr_vals_cte()
    + """
SELECT variable,
       COUNT(*) AS n_rows,
       COUNT(value) AS n_vals,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_val
FROM vals
GROUP BY variable
ORDER BY variable
"""
)


QUERIES = {
    "stream_tumbling_stats": (stream_tumbling_stats, STREAM_TUMBLING_SQL),
    "stream_zarr_ingest": (stream_zarr_ingest, STREAM_ZARR_SQL),
    "stream_running_totals": (stream_running_totals, STREAM_RUNNING_SQL),
    "stream_interval_join": (stream_interval_join, STREAM_INTERVAL_SQL),
    "stream_sessionize": (stream_sessionize, STREAM_SESSIONIZE_SQL),
    "stream_corpus_ingest": (stream_corpus_ingest, STREAM_CORPUS_SQL),
    "stream_heavy_hitters": (stream_heavy_hitters, STREAM_HEAVY_SQL),
    "stream_transition_counts": (stream_transition_counts, STREAM_TRANSITION_SQL),
    "stream_near_dup_filter": (stream_near_dup_filter, STREAM_NEAR_DUP_SQL),
    "stream_template_counts": (stream_template_counts, STREAM_TEMPLATE_SQL),
}
