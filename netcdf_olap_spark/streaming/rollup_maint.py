"""Continuous-aggregate maintenance: a streaming job keeps the
hypertable rollup (operators/rollup.py) up to date incrementally.

Pattern: ``foreachBatch`` computes the micro-batch's per-(bucket,
event_type) PARTIALS and writes them under a ``batch_id=N``
partition with DYNAMIC partition overwrite.  Two properties fall out:

- **mergeable**: the partials are mergeable aggregates (long counts,
  decimal sums, min/max) — readers re-combine partials per key, so N
  fragments for one bucket collapse to the same result as one; no
  read-modify-write, and late/out-of-order events just add another
  fragment to their (old) bucket.
- **replay-idempotent**: ``foreachBatch`` is at-least-once (a crash
  between the sink write and the checkpoint commit re-runs the
  batch).  A plain append would double-count that batch's partials
  (a review finding); the dynamic overwrite of exactly the
  ``batch_id=N`` partition makes the re-run rewrite its own output
  instead — the standard exactly-once recipe for idempotent
  foreachBatch sinks.

An optional compaction rewrites fragments into one row per key;
queries are correct before and after it.  The protocol (r11; hardened
by the r11 review) is the snapshot pattern in miniature:

- each compaction writes its merge to a FRESH partition
  ``batch_id=-<epoch>`` — it never overwrites the previous compacted
  partition, so a torn write can only produce an ORPHAN directory no
  reader ever addresses;
- the atomically-renamed EPOCH-NAMED store-root manifest is THE
  commit record (readers address the max committed epoch, so the
  publish never opens a no-manifest window to a concurrent reader):
  it names the epoch (→ which negative partition is live) and, per
  consumed fragment, the exact DATA FILE NAMES consumed.  Readers
  address ``batch_id=-<manifest.epoch>`` plus every fragment whose
  current files are NOT all in the consumed record — so a fragment
  id reused by a restarted stream (fresh checkpoint ⇒ batch ids
  restart at 0; Spark part-file names are UUID-unique) is read
  normally instead of silently blacklisted, and a crash between the
  merge commit and the cleanup never double-counts;
- cleanup (and the next compaction's repair step) deletes exactly the
  recorded files, never a directory that has since been rewritten.

At scale: each micro-batch shuffles only its own events (one
aggregation), the store grows by O(batch buckets) rows per trigger,
and compaction is scheduled off-peak — the standard
continuous-aggregate design (TimescaleDB/Materialize style) on plain
Spark + parquet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DecimalType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from netcdf_olap_spark.operators.rollup import US_10MIN, build_rollup

# every fragment and the compacted file declare the SAME sum type —
# build_rollup's sum over decimal(18,2) widens to this; a narrower
# cast anywhere would mix parquet schemas across fragments and break
# the vectorized reader on the next scan (a review finding)
_SUM_DEC = DecimalType(28, 2)

#: store-root manifest: the compaction COMMIT RECORD (epoch + the
#: exact files each consumed fragment contributed); the leading
#: underscore hides it from Spark's file index.  Manifests are
#: EPOCH-NAMED (``_compaction_manifest.<epoch>.json``) and readers
#: address the max epoch — publishing a new manifest never opens a
#: no-manifest window for a concurrent reader (the r11 advisor
#: finding against the old delete-then-rename of one fixed name,
#: which made a racing read_rollup_store skip the live compacted
#: partition and silently undercount); stale lower-epoch manifests
#: are deleted only AFTER the new one is visible.
MANIFEST_PREFIX = "_compaction_manifest."


def _manifest_name(epoch: int) -> str:
    return f"{MANIFEST_PREFIX}{int(epoch)}.json"

#: one uniform schema for fragments and compacted partitions; the
#: read never infers (and never needs to — compacted files carry no
#: extra columns under this protocol)
_STORE_SCHEMA = StructType(
    [
        StructField("bucket_us", LongType()),
        StructField("event_type", StringType()),
        StructField("p_count", LongType()),
        StructField("p_sum", _SUM_DEC),
        StructField("p_min", DoubleType()),
        StructField("p_max", DoubleType()),
        StructField("batch_id", IntegerType()),
    ]
)


def write_rollup_batch(
    batch: DataFrame, out_dir: str, batch_id: int, bucket_us: int = US_10MIN
) -> None:
    """One micro-batch's partials → the ``batch_id=<id>`` partition,
    dynamic-overwritten: running this twice for the same id (the
    foreachBatch replay case) leaves exactly one copy.  Negative ids
    are reserved for compaction output."""
    if int(batch_id) < 0:
        raise ValueError("negative batch_id values are reserved for compaction output")
    (
        build_rollup(batch, bucket_us)
        .withColumn("p_sum", F.col("p_sum").cast(_SUM_DEC))
        .withColumn("batch_id", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(out_dir)
    )


def start_rollup_maintenance(
    stream_events: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    bucket_us: int = US_10MIN,
):
    """Start the maintenance stream (availableNow-compatible): every
    micro-batch writes its partials under ``batch_id=<id>`` with
    dynamic overwrite (re-runs replace, never duplicate).
    ``stream_events`` must carry ``ts_us`` (long microseconds) +
    event_type + value."""

    def upsert(batch: DataFrame, batch_id: int) -> None:
        write_rollup_batch(batch, out_dir, batch_id, bucket_us)

    return (
        stream_events.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------------------
# store filesystem helpers (Hadoop FS API so s3a/hdfs behave like local)
# ---------------------------------------------------------------------------


def _fs_for(spark: SparkSession, out_dir: str):
    jvm = spark._jvm
    path_cls = jvm.org.apache.hadoop.fs.Path
    fs = path_cls(out_dir).getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, path_cls


def _manifest_epochs(spark: SparkSession, out_dir: str) -> list[int]:
    """Epochs of every committed manifest at the store root,
    ascending (normally one; two transiently if the previous
    compaction crashed between publish and stale-manifest cleanup)."""
    fs, path_cls = _fs_for(spark, out_dir)
    root = path_cls(out_dir)
    if not fs.exists(root):
        return []
    epochs: list[int] = []
    for status in fs.listStatus(root):
        name = status.getPath().getName()
        if status.isFile() and name.startswith(MANIFEST_PREFIX) and name.endswith(".json"):
            mid = name[len(MANIFEST_PREFIX) : -len(".json")]
            if mid.isdigit():
                epochs.append(int(mid))
    return sorted(epochs)


def _is_file_not_found(java_exc) -> bool:
    """True when the JVM exception's class is
    ``java.io.FileNotFoundException`` or a subclass of it (walks
    ``getSuperclass()``); False if the class cannot be inspected."""
    try:
        cls = java_exc.getClass()
        while cls is not None:
            if cls.getName() == "java.io.FileNotFoundException":
                return True
            cls = cls.getSuperclass()
    except Exception:
        pass
    return False


def _read_manifest(spark: SparkSession, out_dir: str) -> dict | None:
    """The LIVE manifest = the max committed epoch (epoch-named
    files, so a reader racing a compaction always sees either the old
    or the new commit record — never neither).

    The open is RETRIED on a missing file (r12 advisor finding): a
    reader that listed epoch N−1 as the max just before epoch N's
    rename landed can find N−1 already reaped by the writer's
    post-publish cleanup.  Re-listing then finds epoch N (the reaper
    only runs after the new manifest is visible), so one fresh
    list+open per attempt restores the 'old or new, never neither'
    guarantee; three attempts bound the pathological case of racing
    several back-to-back compactions."""
    import json

    fs, path_cls = _fs_for(spark, out_dir)
    last_err: Exception | None = None
    for _ in range(3):
        epochs = _manifest_epochs(spark, out_dir)
        if not epochs:
            return None
        try:
            stream = fs.open(path_cls(out_dir, _manifest_name(epochs[-1])))
        except Exception as e:
            # ONLY the list→reap race (the file vanished between the
            # listing and the open) warrants a retry; anything else —
            # permission denied, corrupt FS config — must surface
            # immediately, not after three blind retries (r13 advisor
            # finding). For a py4j-wrapped JVM error, classify by the
            # thrown exception's own class (r14 advisor: str(e) renders
            # the whole chained stack trace, where an unrelated
            # failure can MENTION FileNotFoundException); fall back to
            # the substring match only when no java_exception exists.
            # Subclasses count: a FileSystem may throw its own
            # FileNotFoundException subtype for the same race.
            java_exc = getattr(e, "java_exception", None)
            if java_exc is not None:
                if not _is_file_not_found(java_exc):
                    raise
            elif "FileNotFoundException" not in str(e):
                raise
            last_err = e
            continue
        try:
            text = spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        finally:
            stream.close()
        return json.loads(text)
    # three consecutive list→reap races: surface with the retry context
    raise RuntimeError(
        "_read_manifest: manifest open failed after 3 list->open retries "
        "(each attempt re-listed and found a manifest that was reaped "
        "before the open)"
    ) from last_err


def _write_manifest(spark: SparkSession, out_dir: str, manifest: dict) -> None:
    """Atomic publish — THE compaction commit: write to a temp name,
    rename to the FRESH epoch-named target (no delete window —
    concurrent readers keep resolving the previous epoch until the
    rename lands), then drop stale lower-epoch manifests."""
    import json

    fs, path_cls = _fs_for(spark, out_dir)
    epoch = int(manifest["epoch"])
    target = path_cls(out_dir, _manifest_name(epoch))
    tmp = path_cls(out_dir, _manifest_name(epoch) + ".tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(json.dumps(manifest).encode("utf-8")))
    finally:
        out.close()
    if not fs.rename(tmp, target):
        raise IOError(f"could not publish {target}")
    for old in _manifest_epochs(spark, out_dir):
        if old < epoch:
            fs.delete(path_cls(out_dir, _manifest_name(old)), False)


def _is_data_file(name: str) -> bool:
    return not (name.startswith("_") or name.startswith("."))


def _list_partitions(spark: SparkSession, out_dir: str) -> dict[int, list[str]]:
    """{batch_id: [data file names]} for every partition directory."""
    fs, path_cls = _fs_for(spark, out_dir)
    root = path_cls(out_dir)
    if not fs.exists(root):
        return {}
    out: dict[int, list[str]] = {}
    for status in fs.listStatus(root):
        name = status.getPath().getName()
        if name.startswith("batch_id=") and status.isDirectory():
            bid = int(name.split("=", 1)[1])
            files = [
                f.getPath().getName()
                for f in fs.listStatus(status.getPath())
                if f.isFile() and _is_data_file(f.getPath().getName())
            ]
            out[bid] = sorted(files)
    return out


def _live_dirs(
    out_dir: str, manifest: dict | None, parts: dict[int, list[str]]
) -> list[str]:
    """The partition directories a reader must address: the
    manifest's compacted partition (if any) plus every non-negative
    fragment whose CURRENT files are not all consumed.  Orphan
    negative partitions (a compaction that died before its manifest
    commit) are never addressed."""
    dirs: list[str] = []
    epoch = int(manifest["epoch"]) if manifest else 0
    consumed: dict[str, list[str]] = manifest.get("consumed", {}) if manifest else {}
    if manifest:
        if -epoch not in parts:
            raise IOError(
                f"rollup store corrupted: manifest epoch {epoch} but "
                f"batch_id={-epoch} is missing under {out_dir}"
            )
        dirs.append(f"{out_dir}/batch_id={-epoch}")
    for bid, files in sorted(parts.items()):
        if bid < 0:
            continue
        recorded = set(consumed.get(str(bid), ()))
        if files and recorded and set(files) <= recorded:
            continue  # exactly the consumed data (cleanup pending) — skip
        if files:
            dirs.append(f"{out_dir}/batch_id={bid}")
    return dirs


def read_rollup_store(spark: SparkSession, out_dir: str) -> DataFrame:
    """Merge the live partitions back to one row per (bucket,
    event_type) — exact (decimal/long/min/max merges are
    order-independent).  The merged sum keeps the FRAGMENT precision
    (decimal(28,2)) so compaction output and fresh fragments always
    share one parquet schema.

    Reads by EXPLICIT partition-directory list (see _live_dirs): the
    manifest-addressed compacted partition plus unconsumed fragments.
    A consumed fragment that still exists (cleanup crashed) is skipped
    by its recorded file names — and a REUSED fragment id (restarted
    stream, fresh checkpoint) is read normally because its part-file
    names differ from the record (r11 review: a bare id blacklist
    silently lost reused ids)."""
    manifest = _read_manifest(spark, out_dir)
    parts = _list_partitions(spark, out_dir)
    dirs = _live_dirs(out_dir, manifest, parts)
    if not dirs:
        df = spark.createDataFrame([], _STORE_SCHEMA)
    else:
        df = (
            spark.read.schema(_STORE_SCHEMA)
            .option("basePath", out_dir)
            .parquet(*dirs)
        )
    return df.groupBy("bucket_us", "event_type").agg(
        F.sum("p_count").alias("p_count"),
        F.sum("p_sum").cast(_SUM_DEC).alias("p_sum"),
        F.min("p_min").alias("p_min"),
        F.max("p_max").alias("p_max"),
    )


def _delete_recorded(
    spark: SparkSession,
    out_dir: str,
    consumed: dict[str, list[str]],
    parts: dict[int, list[str]],
) -> None:
    """Delete exactly the recorded consumed files (never a directory
    that has since been rewritten under a reused id), then any
    emptied fragment directory."""
    fs, path_cls = _fs_for(spark, out_dir)
    for bid_str, files in consumed.items():
        bid = int(bid_str)
        current = set(parts.get(bid, ()))
        for name in files:
            if name in current:
                fs.delete(path_cls(f"{out_dir}/batch_id={bid}", name), False)
        left = [
            f.getPath().getName()
            for f in (
                fs.listStatus(path_cls(out_dir, f"batch_id={bid}"))
                if fs.exists(path_cls(out_dir, f"batch_id={bid}"))
                else []
            )
            if _is_data_file(f.getPath().getName())
        ]
        if not left and fs.exists(path_cls(out_dir, f"batch_id={bid}")):
            fs.delete(path_cls(out_dir, f"batch_id={bid}"), True)


def compact_rollup_store(spark: SparkSession, out_dir: str) -> None:
    """Rewrite the live partitions to one row per key — crash-safe
    exactly-once (every step individually restartable; the store
    reads back correctly between any two steps):

    1. REPAIR: finish the previous compaction's cleanup if it died
       mid-delete (remove its recorded consumed files), and remove
       orphan negative partitions (a merge that died before its
       manifest commit).
    2. Write the merge of the CURRENT live view (previous compacted
       partition + unconsumed fragments) into the FRESH partition
       ``batch_id=-(epoch+1)``.  Nothing addresses it yet — a torn
       write here is an orphan, invisible to readers (r11 review:
       overwriting the live compacted partition in place made a torn
       dynamic-overwrite commit readable as complete).
    3. Atomically publish the manifest naming the new epoch and the
       exact files of each consumed fragment — THE commit: from this
       instant readers address the new compacted partition and skip
       exactly those files.
    4. Delete the consumed files and the previous compacted
       partition.  A crash mid-delete leaves only data the manifest
       already excludes.

    CONTRACT (documented, not enforced): run compaction from a single
    writer while the maintenance stream is STOPPED — plain parquet
    directories have no transaction log, so concurrent appends during
    the swap can be consumed-and-kept or missed-and-kept.  Concurrent
    READERS are safe at the commit point (epoch-named manifests: a
    racing read resolves the old or the new epoch, never neither) but
    can still hit a deleted-file read error if step 4's cleanup
    overtakes a read that resolved the old epoch — loud, never an
    undercount; a table format (Delta/Iceberg) is the real answer at
    warehouse scale."""
    fs, path_cls = _fs_for(spark, out_dir)
    manifest = _read_manifest(spark, out_dir)
    parts = _list_partitions(spark, out_dir)
    prev_epoch = int(manifest["epoch"]) if manifest else 0

    # 1. repair: prior cleanup + orphan merges
    if manifest:
        _delete_recorded(spark, out_dir, manifest.get("consumed", {}), parts)
    for bid in list(parts):
        if bid < 0 and bid != -prev_epoch:
            fs.delete(path_cls(out_dir, f"batch_id={bid}"), True)
    parts = _list_partitions(spark, out_dir)

    consumed = {
        str(bid): files for bid, files in sorted(parts.items()) if bid >= 0 and files
    }
    if not consumed:
        return
    epoch = prev_epoch + 1

    # 2. merge the live view into the fresh negative partition;
    # localCheckpoint freezes the inputs before the store mutates
    merged = (
        read_rollup_store(spark, out_dir)
        .withColumn("batch_id", F.lit(-epoch))
        .localCheckpoint()
    )
    merged.write.mode("overwrite").option("partitionOverwriteMode", "dynamic").partitionBy(
        "batch_id"
    ).parquet(out_dir)

    # 3. the commit
    _write_manifest(spark, out_dir, {"epoch": epoch, "consumed": consumed})

    # 4. cleanup
    _delete_recorded(spark, out_dir, consumed, parts)
    if prev_epoch and fs.exists(path_cls(out_dir, f"batch_id={-prev_epoch}")):
        fs.delete(path_cls(out_dir, f"batch_id={-prev_epoch}"), True)
