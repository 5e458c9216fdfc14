"""Spans around calls into the package, and Spark's own per-job accounting.

A ``Tracer`` keeps spans in memory: name, start, end, parent and request id.
Calls into the package are timed by wrapping the public functions at their
import sites for the duration of a traced run (the package itself is not
changed).  After an op, ``SparkLedger`` drains the listener bus and reads the
in-process status store for the op's job group; its stages become child spans
of the op by their submission and completion times.
"""

from __future__ import annotations

import contextlib
import itertools
import threading
import time

from py4j.protocol import Py4JJavaError


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []

    def add(self, span: dict) -> None:
        with self._lock:
            self.spans.append(span)

    def spans_of(self, rid: str) -> list[dict]:
        with self._lock:
            return [s for s in self.spans if s["rid"] == rid]

    @contextlib.contextmanager
    def op(self, rid: str, name: str):
        """Root span of one op; spans opened on this thread nest under it."""
        root = {"id": next(self._ids), "name": name, "rid": rid, "parent": None, "start": time.time()}
        self._local.stack = [root]
        try:
            yield root
        finally:
            root["end"] = time.time()
            self._local.stack = None
            self.add(root)

    @contextlib.contextmanager
    def span(self, name: str):
        stack = getattr(self._local, "stack", None)
        if not stack:  # no traced op on this thread: pass through
            yield None
            return
        s = {"id": next(self._ids), "name": name, "rid": stack[0]["rid"], "parent": stack[-1]["id"], "start": time.time()}
        stack.append(s)
        try:
            yield s
        finally:
            stack.pop()
            s["end"] = time.time()
            self.add(s)

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span per call."""
        orig = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._restore.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()



def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time_s(span: dict, children: list[dict]) -> float:
    """Span duration minus the part of it its children cover."""
    clipped = [(max(c["start"], span["start"]), min(c["end"], span["end"])) for c in children]
    return (span["end"] - span["start"]) - union_s([(s, e) for s, e in clipped if e > s])


SPARK_COUNTS = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.input_bytes",
    "spark.input_rows",
    "spark.output_rows",
    "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes",
    "spark.spill_bytes",
    "spark.failed_tasks",
)
SPARK_TIMES = ("spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s")


def _ms(opt_date) -> float | None:
    return opt_date.get().getTime() / 1000.0 if opt_date.isDefined() else None


class SparkLedger:
    """Per-job-group totals from Spark's in-process status store."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()

    def group(self, group: str) -> tuple[dict, list[tuple[float, float]], list[dict]]:
        """(totals, job intervals, stage spans) for every job in ``group``."""
        self.bus.waitUntilEmpty()
        tot = dict.fromkeys(SPARK_COUNTS + SPARK_TIMES, 0)
        jobs, stages = [], []
        seen = set()
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            job = self.store.job(jid)
            start, end = _ms(job.submissionTime()), _ms(job.completionTime())
            if start is not None and end is not None:
                jobs.append((start, end))
            tot["spark.jobs"] += 1
            ids = job.stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self.store.lastStageAttempt(sid)
                except Py4JJavaError:  # never attempted
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                tot["spark.stages"] += 1
                tot["spark.tasks"] += st.numTasks()
                tot["spark.failed_tasks"] += st.numFailedTasks()
                tot["spark.executor_run_s"] += st.executorRunTime() / 1e3
                tot["spark.executor_cpu_s"] += st.executorCpuTime() / 1e9
                tot["spark.gc_s"] += st.jvmGcTime() / 1e3
                tot["spark.input_bytes"] += st.inputBytes()
                tot["spark.input_rows"] += st.inputRecords()
                tot["spark.output_rows"] += st.outputRecords()
                tot["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
                tot["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
                tot["spark.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                s0, s1 = _ms(st.submissionTime()), _ms(st.completionTime())
                if s0 is not None and s1 is not None:
                    stages.append({"name": f"spark.stage.{sid}", "start": s0, "end": s1})
        return tot, jobs, stages
