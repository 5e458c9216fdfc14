"""Compaction snapshot protocol (streaming/rollup_maint.py; r11
advice + r11 review hardening): a crash between the merged commit and
the consumed-partition cleanup used to DOUBLE-COUNT silently, an
in-place overwrite of the compacted partition made a torn commit
readable as complete, and a bare batch-id blacklist silently LOST
fragments whose id a restarted stream reused.  The protocol now
writes each merge to a fresh ``batch_id=-<epoch>`` partition,
commits via an atomically-renamed manifest recording the exact
consumed FILES, and reads by explicit live-partition addressing.
These tests simulate every crash point plus id reuse and assert the
store reads back exactly-once at each of them."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from netcdf_olap_spark.streaming import rollup_maint as rm

ROWS = [
    # (ts_us, event_type, value) — two 10-min buckets, two types
    (0, "click", 1.0),
    (1_000_000, "click", 2.0),
    (1_000_000, "view", 10.0),
    (700_000_000, "click", 4.0),
    (700_000_000, "view", 20.0),
]


@pytest.fixture()
def events(spark):
    return spark.createDataFrame(ROWS, "ts_us long, event_type string, value double")


def _snapshot(spark, out):
    return sorted(
        tuple(r)
        for r in rm.read_rollup_store(spark, out)
        .select("bucket_us", "event_type", "p_count", "p_sum", "p_min", "p_max")
        .collect()
    )


def _write_batches(spark, events, out):
    splits = (F.col("value") < 2.0, F.col("value").between(2.0, 9.0), F.col("value") > 9.0)
    for bid, pred in enumerate(splits):
        rm.write_rollup_batch(events.where(pred), out, bid)


def _fragment_ids(spark, out):
    return sorted(b for b in rm._list_partitions(spark, out) if b >= 0)


def test_compaction_roundtrip_and_cleanup(spark, events, tmp_path):
    out = str(tmp_path / "store")
    _write_batches(spark, events, out)
    want = _snapshot(spark, out)
    rm.compact_rollup_store(spark, out)
    assert _snapshot(spark, out) == want
    assert _fragment_ids(spark, out) == []
    m = rm._read_manifest(spark, out)
    assert m["epoch"] == 1 and sorted(m["consumed"]) == ["0", "1", "2"]
    assert -1 in rm._list_partitions(spark, out)  # the live compacted partition


def test_crash_before_cleanup_does_not_double_count(spark, events, tmp_path, monkeypatch):
    """THE advice scenario: manifest committed, process died before
    deleting the consumed files — both copies exist on disk, the read
    must count one."""
    out = str(tmp_path / "store")
    _write_batches(spark, events, out)
    want = _snapshot(spark, out)
    monkeypatch.setattr(rm, "_delete_recorded", lambda *a, **k: None)
    rm.compact_rollup_store(spark, out)  # dies before cleanup
    monkeypatch.undo()
    assert _fragment_ids(spark, out) == [0, 1, 2]  # survivors
    assert _snapshot(spark, out) == want  # NOT doubled
    # next compaction repairs: leftovers removed, store unchanged
    rm.compact_rollup_store(spark, out)
    assert _fragment_ids(spark, out) == []
    assert _snapshot(spark, out) == want


def test_crash_between_merge_and_commit_is_invisible(spark, events, tmp_path, monkeypatch):
    """The merge landed in its fresh negative partition but the
    manifest commit never happened: readers never address the orphan,
    and the next compaction removes it and retries cleanly."""
    out = str(tmp_path / "store")
    _write_batches(spark, events, out)
    want = _snapshot(spark, out)

    def boom(*a, **k):
        raise RuntimeError("crash before commit")

    monkeypatch.setattr(rm, "_write_manifest", boom)
    with pytest.raises(RuntimeError):
        rm.compact_rollup_store(spark, out)
    monkeypatch.undo()
    parts = rm._list_partitions(spark, out)
    assert -1 in parts  # the orphan merge exists on disk...
    assert rm._read_manifest(spark, out) is None
    assert _snapshot(spark, out) == want  # ...but is never read
    rm.compact_rollup_store(spark, out)  # removes the orphan, retries
    assert _snapshot(spark, out) == want
    assert rm._read_manifest(spark, out)["epoch"] == 1


def test_reused_batch_id_is_not_blacklisted(spark, events, tmp_path):
    """The r11 review finding: a restarted stream (fresh checkpoint)
    reuses batch_id=0.  The consumed record names FILES, and Spark
    part-file names are unique per write — so the reused fragment is
    read normally and the next compaction merges it instead of
    deleting it unmerged."""
    out = str(tmp_path / "store")
    _write_batches(spark, events, out)
    rm.compact_rollup_store(spark, out)
    base = _snapshot(spark, out)
    # restarted stream: new data lands under the already-consumed id 0
    late = events.withColumn("value", F.col("value") + 100.0)
    rm.write_rollup_batch(late, out, 0)
    got = _snapshot(spark, out)
    assert got != base  # the reused fragment is READ
    # exactly-once: equals a direct rollup of both event sets
    both = events.unionAll(late)
    want = sorted(
        tuple(r)
        for r in rm.build_rollup(both)
        .withColumn("p_sum", F.col("p_sum").cast(rm._SUM_DEC))
        .collect()
    )
    assert got == want
    rm.compact_rollup_store(spark, out)  # merges, never deletes unmerged
    assert _snapshot(spark, out) == want
    assert rm._read_manifest(spark, out)["epoch"] == 2
    parts = rm._list_partitions(spark, out)
    assert -2 in parts and -1 not in parts and _fragment_ids(spark, out) == []


def test_second_compaction_with_fresh_fragments(spark, events, tmp_path):
    out = str(tmp_path / "store")
    _write_batches(spark, events, out)
    rm.compact_rollup_store(spark, out)
    rm.write_rollup_batch(events.where(F.col("value") > 3.0), out, 3)
    want = _snapshot(spark, out)
    rm.compact_rollup_store(spark, out)
    assert _snapshot(spark, out) == want
    assert rm._read_manifest(spark, out)["epoch"] == 2
    assert _fragment_ids(spark, out) == []


def test_compact_noop_when_no_fragments(spark, events, tmp_path):
    out = str(tmp_path / "store")
    _write_batches(spark, events, out)
    rm.compact_rollup_store(spark, out)
    want = _snapshot(spark, out)
    rm.compact_rollup_store(spark, out)  # nothing to consume
    assert _snapshot(spark, out) == want
    assert rm._read_manifest(spark, out)["epoch"] == 1  # unchanged


def test_negative_batch_id_rejected(spark, events, tmp_path):
    with pytest.raises(ValueError, match="reserved"):
        rm.write_rollup_batch(events, str(tmp_path / "s"), -1)


def test_stale_manifest_after_publish_crash_is_shadowed_then_reaped(
    spark, events, tmp_path
):
    """r11 advisor finding: the old fixed-name protocol DELETED the
    manifest before renaming its replacement — a reader in that window
    saw no manifest, skipped the live compacted partition, and
    silently undercounted.  Epoch-named manifests close it: publish is
    a rename to a FRESH name, so the crash window leaves TWO manifests
    (old + new) and readers resolve the max epoch; the next publish
    reaps the stale one."""
    import json
    import os

    out = str(tmp_path / "store")
    _write_batches(spark, events, out)
    want = _snapshot(spark, out)
    rm.compact_rollup_store(spark, out)
    # simulate a crash between epoch-2's publish and its stale-manifest
    # cleanup: both epoch files on disk
    m1 = json.load(open(os.path.join(out, rm._manifest_name(1))))
    rm.write_rollup_batch(events, out, 7)
    with open(os.path.join(out, rm._manifest_name(0)), "w") as f:
        json.dump({"epoch": 0, "consumed": {}}, f)  # the stale survivor
    assert rm._manifest_epochs(spark, out) == [0, 1]
    assert rm._read_manifest(spark, out) == m1  # max epoch wins
    rm.compact_rollup_store(spark, out)  # next publish reaps epoch 0
    assert rm._manifest_epochs(spark, out) == [2]
    assert _snapshot(spark, out) != want  # fragment 7 was merged
    assert rm._read_manifest(spark, out)["epoch"] == 2


def test_reader_retries_when_listed_manifest_is_reaped(
    spark, events, tmp_path, monkeypatch
):
    """r12 advisor finding: a reader that listed epoch N-1 as max
    just before epoch N's publish can find N-1 already deleted by the
    writer's post-publish cleanup — the open must re-list and find N,
    not throw FileNotFoundException."""
    out = str(tmp_path / "store")
    _write_batches(spark, events, out)
    rm.compact_rollup_store(spark, out)  # publishes epoch 1 (only file)
    live = rm._read_manifest(spark, out)
    assert live["epoch"] == 1
    # simulate the stale listing: first call reports the reaped epoch
    # 0, later calls the truth
    real = rm._manifest_epochs
    calls = {"n": 0}

    def stale_once(s, d):
        calls["n"] += 1
        return [0] if calls["n"] == 1 else real(s, d)

    monkeypatch.setattr(rm, "_manifest_epochs", stale_once)
    assert rm._read_manifest(spark, out) == live
    assert calls["n"] == 2  # one failed open, one successful retry


def test_reader_raises_after_three_reap_races(spark, events, tmp_path, monkeypatch):
    """Pathological case: every re-list keeps naming an already-reaped
    epoch — the reader surfaces the error loudly after 3 attempts
    instead of looping."""
    out = str(tmp_path / "store")
    _write_batches(spark, events, out)
    rm.compact_rollup_store(spark, out)
    monkeypatch.setattr(rm, "_manifest_epochs", lambda s, d: [999])
    with pytest.raises(Exception):
        rm._read_manifest(spark, out)


class _JClass:
    """Stub of a py4j ``java.lang.Class`` handle: name + superclass."""

    def __init__(self, name, parent=None):
        self.name, self.parent = name, parent

    def getName(self):
        return self.name

    def getSuperclass(self):
        return self.parent


class _JavaError(Exception):
    """Stub of a py4j-wrapped JVM error (carries ``java_exception``)."""

    def __init__(self, cls):
        super().__init__(cls.name)
        self.java_exception = type("JExc", (), {"getClass": lambda _self: cls})()


_IO = _JClass("java.io.IOException", _JClass("java.lang.Exception", _JClass("java.lang.Object")))
_FNF = _JClass("java.io.FileNotFoundException", _IO)


@pytest.mark.parametrize(
    "cls,retried",
    [
        (_JClass("org.example.fs.SubFileNotFoundException", _FNF), True),
        (_JClass("java.nio.file.AccessDeniedException", _JClass("java.nio.file.FileSystemException", _IO)), False),
    ],
    ids=["fnf-subclass", "unrelated"],
)
def test_reader_retry_follows_java_class_chain(monkeypatch, cls, retried):
    """Only the list→reap race is retried: a FileNotFoundException
    SUBCLASS (found by walking getSuperclass) retries until the
    3-attempt cap; any other JVM error surfaces on the first open."""
    opens = []

    class _FS:
        def open(self, path):
            opens.append(path)
            raise _JavaError(cls)

    monkeypatch.setattr(rm, "_manifest_epochs", lambda s, d: [1])
    monkeypatch.setattr(rm, "_fs_for", lambda s, d: (_FS(), lambda *parts: parts))
    if retried:
        with pytest.raises(RuntimeError, match="after 3"):
            rm._read_manifest(None, "store")
        assert len(opens) == 3
    else:
        with pytest.raises(_JavaError):
            rm._read_manifest(None, "store")
        assert len(opens) == 1
