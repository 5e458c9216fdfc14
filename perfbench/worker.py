"""One benchmark run in its own process: set up, drive one workload, check it.

Started by ``run.py``, which passes the run context as JSON on the command
line and reads this process's result from ``--out``.  ``--role gen`` instead
exports the cube to the two ``.nc`` ingest directories and exits.

Timeline of a run:

1. three set-ups: a cold one from process start (session, app or registry,
   first op), then twice: stop the session, build it and the app or registry
   again, first op again.  Each set-up's op is of another op class.
2. an untimed warm-up of the same closed loop, so the JIT and Spark's code
   cache settle before timing; its ops come from the far end of the op list.
   It is a fixed number of ops, not a fixed time: on a slow host a timed
   warm-up ends early and leaves still-cold ops in the measured window.  A
   registry query's first warm-up op collects its result for the oracle check.
3. the timed closed loop.  With ``--trace 1`` every op runs twice, plain and
   traced, alternating which goes first; a traced op then runs its pipeline
   again into the noop sink, to split scan-and-decode time from sink time.
4. output checks on every op, and once-per-run checks, outside the timing.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import shutil
import statistics
import threading
import time
import zipfile

T0 = float(os.environ.get("PERFBENCH_T0") or time.time())

import checks  # noqa: E402  (T0 is taken before the heavy imports)
import inputs  # noqa: E402
import tracing  # noqa: E402

NPROC = len(os.sched_getaffinity(0))
WARMUP_CAP_S = 40.0  # keeps a very slow host inside run.py's time limit


class OpFailed(Exception):
    pass


def _vmhwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _cpu_ticks() -> tuple[int, int]:
    """(all, steal) ticks of every CPU since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def _get_spark():
    from netcdf_olap_spark.session import get_spark

    return get_spark("perfbench")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dur(span) -> float:
    return (span["end"] - span["start"]) if span else 0.0


# ---------------------------------------------------------------------------
# Workloads
# ---------------------------------------------------------------------------


class Serve:
    """``POST /fetchResult`` through the Flask test client."""

    def __init__(self, ctx: dict, specs: list[dict], clients: int) -> None:
        self.ctx = ctx
        self.specs = specs
        self.clients = clients
        tail = list(reversed(specs))
        self.setup_ops = [next(s for s in tail if s["format"] == f) for f in ("png", "nc", "nc4")]
        self.warm_ops = tail
        self.warmup_n = 6 * clients

    def build(self, spark) -> None:
        from netcdf_olap_spark.api import create_app

        self.spark = spark
        self.app = create_app(spark)

    def new_state(self):
        return self.app.test_client()

    @staticmethod
    def op_class(spec) -> str:
        return spec["format"]

    @staticmethod
    def _body(spec) -> dict:
        return {k: v for k, v in spec.items() if k != "kind"}

    def run(self, spec, client):
        resp = client.post("/fetchResult", json=self._body(spec))
        if resp.status_code != 200:
            raise OpFailed(f"HTTP {resp.status_code}: {resp.get_data(as_text=True)[:200]}")
        return resp.data

    warm_run = run

    def traced_op(self, spec, client, _tracer):
        return self.run(spec, client)  # spans come from the wrappers instrument() installs

    def instrument(self, tracer: tracing.Tracer) -> None:
        import netcdf_olap_spark.api as api
        import netcdf_olap_spark.sinks.netcdf as nc_sink
        from netcdf_olap_spark.plans import CubeQuery

        tracer.wrap(api, "parse_query_payload", "api.parse_query_payload")
        tracer.wrap(api, "load_grid", "session.load_grid")
        tracer.wrap(CubeQuery, "apply", "plans.CubeQuery.apply")
        tracer.wrap(api, "render_png_files", "sinks.render_png_files")
        tracer.wrap(nc_sink, "export_netcdf_files", "sinks.export_netcdf_files")
        tracer.wrap(api, "_zip_manifest", "api.zip")

    def pipeline(self, spec):
        """The request's slice and mask, without its sink."""
        from netcdf_olap_spark.api import parse_query_payload
        from netcdf_olap_spark.session import load_grid

        return parse_query_payload(self._body(spec)).apply(load_grid(self.spark, register=False))

    def layers(self, spec, spans, payload, noop) -> dict:
        by = {s["name"]: s for s in spans}
        sink = by.get("sinks.render_png_files") or by.get("sinks.export_netcdf_files")
        zspan = by.get("api.zip")
        with zipfile.ZipFile(io.BytesIO(payload)) as z:
            artifact_bytes = sum(i.file_size for i in z.infolist())
        rows = noop["rows"]
        return {
            "api.parse_s": _dur(by.get("api.parse_query_payload")),
            "session.load_grid_s": _dur(by.get("session.load_grid")),
            "plans.build_s": _dur(by.get("plans.CubeQuery.apply")) + _dur(sink),
            ("sinks.render_s" if spec["format"] == "png" else "sinks.export_s"): (
                zspan["start"] - sink["start"] if sink and zspan else 0.0
            ),
            "api.zip_s": _dur(zspan),
            "api.bytes_out": len(payload),
            "sinks.artifact_bytes": artifact_bytes,
            "operators.mask_s": noop["wall_s"],
            "operators.rows_selected": rows,
            "operators.scan_selectivity": rows / max(1, noop["spark.input_rows"]),
            "op.bytes_out": len(payload),
        }

    def check(self, results: list[dict]) -> None:
        import duckdb

        con = duckdb.connect()
        try:
            for r in results:
                if r["err"] is None:
                    r["err"] = checks.check_served_zip(con, self.ctx["cube"], r["spec"], r["payload"])
                r["payload"] = None
        finally:
            con.close()

    def once_checks(self) -> tuple[int, list[str]]:
        return 0, []


class Batch:
    """Ingest jobs (``.nc`` directory to partitioned Parquet) and registry
    queries (into the noop sink), from one client.  A spec is ``("ingest",
    flavor)`` or ``("query", name)``."""

    clients = 1
    warmup_n = 12  # two passes: each ingest flavor three times, each query twice

    def __init__(self, ctx: dict, specs: list[tuple[str, str]]) -> None:
        self.ctx = ctx
        self.specs = specs
        classes = list(dict.fromkeys(specs))
        self.setup_ops = (classes * 3)[:3]
        self.warm_ops = list(reversed(specs))
        self.queries = sorted({name for kind, name in specs if kind == "query"})
        self.digests: dict[str, tuple[int, str]] = {}
        self._n = 0
        self._lock = threading.Lock()

    def build(self, spark) -> None:
        from netcdf_olap_spark.sources import netcdf as src

        self.spark = spark
        self.src = src
        if self.queries:
            from netcdf_olap_spark.queries import all_queries

            registry = all_queries()
            self.fns = {name: registry[name] for name in self.queries}

    def new_state(self):
        return None

    @staticmethod
    def op_class(spec) -> str:
        return ":".join(spec)

    def _out_dir(self) -> str:
        with self._lock:
            self._n += 1
            return os.path.join(self.ctx["tmp"], "ops", f"ingest-{self._n}")

    def run(self, spec, _state):
        kind, arg = spec
        if kind == "ingest":
            out = self._out_dir()
            self.src.write_cube_parquet(self.src.ingest_directory(self.spark, self.ctx["nc"][arg], inputs.DS), out)
            return out
        _noop(self.fns[arg](self.spark, self.ctx["data"]))
        return None

    def _digest(self, name: str) -> tuple[int, str]:
        df = self.fns[name](self.spark, self.ctx["data"])
        return checks.result_digest(list(df.columns), [tuple(r) for r in df.collect()])

    def warm_run(self, spec, state):
        """A warm-up op; a query's first one collects its result for the
        oracle check instead of discarding it, which spares the check a Spark
        run of its own after the loop."""
        kind, arg = spec
        if kind == "query" and arg not in self.digests:
            self.digests[arg] = self._digest(arg)
            return None
        return self.run(spec, state)

    def traced_op(self, spec, _state, tracer: tracing.Tracer):
        kind, arg = spec
        if kind == "ingest":
            out = self._out_dir()
            with tracer.span("sources.ingest_directory"):
                df = self.src.ingest_directory(self.spark, self.ctx["nc"][arg], inputs.DS)
            with tracer.span("sources.write_cube_parquet"):
                self.src.write_cube_parquet(df, out)
            return out
        with tracer.span(f"queries.{arg}.driver"):
            df = self.fns[arg](self.spark, self.ctx["data"])
        with tracer.span(f"queries.{arg}.run"):
            _noop(df)
        return df

    def instrument(self, tracer: tracing.Tracer) -> None:
        pass

    def pipeline(self, spec):
        """An ingest's decode alone (a query already ends in the noop sink, so
        it has no separate pipeline)."""
        kind, arg = spec
        return self.src.ingest_directory(self.spark, self.ctx["nc"][arg], inputs.DS) if kind == "ingest" else None

    def layers(self, spec, spans, payload, noop) -> dict:
        kind, arg = spec
        by = {s["name"]: s for s in spans}
        if kind == "query":
            run = by.get(f"queries.{arg}.run")
            return {
                f"queries.{arg}.driver_s": _dur(by.get(f"queries.{arg}.driver")),
                f"queries.{arg}.run_s": _dur(run),
                "pipeline.noop_s": _dur(run),
                "op.rows": payload.count(),
                "op.bytes_out": 0,
            }
        nc_dir = self.ctx["nc"][arg]
        in_bytes = sum(os.path.getsize(os.path.join(nc_dir, f)) for f in os.listdir(nc_dir))
        files = [os.path.join(d, f) for d, _, fs in os.walk(payload) for f in fs if f.endswith(".parquet")]
        written = sum(os.path.getsize(f) for f in files)
        return {
            "sources.plan_s": _dur(by.get("sources.ingest_directory")),
            "sources.decode_s": noop["wall_s"],
            "sources.write_s": _dur(by.get("sources.write_cube_parquet")),
            "sources.input_bytes": in_bytes,
            "sources.rows_decoded": noop["rows"],
            "sources.bytes_written": written,
            "sources.files_written": len(files),
            "sources.write_amplification": written / max(1, in_bytes),
            "op.bytes_out": written,
        }

    def check(self, results: list[dict]) -> None:
        """Every landed ingest holds the cube's rows and non-null values."""
        import duckdb

        con = duckdb.connect()
        try:
            want = checks.parquet_counts(
                con, self.ctx["cube"], f"time < TIMESTAMP '1990-01-01' + INTERVAL {self.ctx['ingest_days']} DAY"
            )
            for r in results:
                out = r["payload"] if r["spec"][0] == "ingest" else None
                if r["err"] is None and out:
                    got = checks.parquet_counts(con, os.path.join(out, "**", "*.parquet"))
                    if got != want:
                        r["err"] = f"landed (rows, non-null) {got} != cube {want}"
                if out:
                    shutil.rmtree(out, ignore_errors=True)
                r["payload"] = None
        finally:
            con.close()

    def once_checks(self) -> tuple[int, list[str]]:
        """Each query against its DuckDB oracle twin over the same cube:
        (checks made, failures)."""
        if not self.queries:
            return 0, []
        import duckdb

        from netcdf_olap_spark.queries import all_oracle_sql
        from netcdf_olap_spark.session import FIXTURES_DIR

        sqls = all_oracle_sql()
        fixture = f"{FIXTURES_DIR}/grid.parquet"
        failures = []
        con = duckdb.connect()
        try:
            for name in self.queries:
                sql = sqls.get(name, "")
                if fixture not in sql:
                    failures.append(f"{name}: oracle does not read the grid cube")
                    continue
                cur = con.execute(sql.replace(fixture, self.ctx["cube"]))
                want = checks.result_digest([d[0] for d in cur.description], cur.fetchall())
                got = self.digests.get(name) or self._digest(name)
                if got != want:
                    failures.append(f"{name}: spark (rows, digest) {got} != oracle {want}")
        finally:
            con.close()
        return len(self.queries), failures


def make_workload(name: str, ctx: dict, seed: int):
    scale = ctx["scale"]
    if name == "serve_small":
        return Serve(ctx, inputs.serve_small_requests(seed, scale), clients=min(2, NPROC))
    if name == "serve_large":
        return Serve(ctx, inputs.serve_large_requests(seed, scale), clients=1)
    ingest, query = {"ingest_panel": (True, True), "ingest_nc": (True, False), "query_panel": (False, True)}[name]
    return Batch(ctx, inputs.batch_ops(seed, ingest=ingest, queries=query))


# ---------------------------------------------------------------------------
# Loops
# ---------------------------------------------------------------------------


class OpFeed:
    """Hands out (index, spec) until the deadline or ``max_ops``."""

    def __init__(self, specs, deadline: float, max_ops: int | None) -> None:
        self._it = enumerate(specs)
        self._lock = threading.Lock()
        self.deadline = deadline
        self.left = max_ops

    def next(self):
        with self._lock:
            if time.time() >= self.deadline or self.left == 0:
                return None
            if self.left is not None:
                self.left -= 1
            return next(self._it, None)


def _timed(fn, *args) -> tuple[float, object, str | None]:
    t = time.perf_counter()
    try:
        payload, err = fn(*args), None
    except Exception as e:  # op boundary: a failed op is counted, the loop goes on
        payload, err = None, f"{type(e).__name__}: {e}"[:300]
    return time.perf_counter() - t, payload, err


def closed_loop(wl, feed: OpFeed, body) -> list[dict]:
    """``wl.clients`` threads, each sending its next op when the last returns."""
    results: list[dict] = []
    lock = threading.Lock()
    errors: list[BaseException] = []

    def client():
        try:
            state = wl.new_state()
            while (item := feed.next()) is not None:
                for r in body(item[0], item[1], state):
                    with lock:
                        results.append(r)
        except BaseException as e:  # re-raised on the main thread below
            errors.append(e)

    threads = [threading.Thread(target=client, name=f"client-{i}") for i in range(wl.clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    return results


def _record(wl, i, spec, lat, payload, err, traced) -> dict:
    return {"i": i, "spec": spec, "cls": wl.op_class(spec), "lat": lat, "end": time.time(),
            "payload": payload, "err": err, "traced": traced}


def plain_body(wl, run=None):
    run = run or wl.run

    def body(i, spec, state):
        yield _record(wl, i, spec, *_timed(run, spec, state), False)

    return body


def traced_body(wl, tracer: tracing.Tracer, ledger: tracing.SparkLedger):
    sc = wl.spark.sparkContext
    plain = plain_body(wl)

    def in_group(group, fn, *args):
        sc.setJobGroup(group, group)
        try:
            return fn(*args)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    def traced(i, spec, state):
        rid = f"op-{i}"

        def op():
            with tracer.op(rid, wl.op_class(spec)) as root:
                res = _timed(wl.traced_op, spec, state, tracer)
            return root, res

        root, (lat, payload, err) = in_group(rid, op)
        rec = _record(wl, i, spec, lat, payload, err, True)
        if err is not None:
            return rec
        tot, jobs, stages = ledger.group(rid)
        for st in stages:  # stages are child spans of the op
            tracer.add(dict(st, id=None, rid=rid, parent=root["id"]))
        noop = {"wall_s": 0.0, "rows": 0, "spark.input_rows": 0}
        df = wl.pipeline(spec)
        if df is not None:
            t = time.perf_counter()
            in_group(rid + "/noop", _noop, df)
            noop = {"wall_s": time.perf_counter() - t, "rows": df.count(), **ledger.group(rid + "/noop")[0]}
        spans = [s for s in tracer.spans_of(rid) if s is not root]
        window = [(max(a, root["start"]), min(b, root["end"])) for a, b in jobs]
        layer = {
            "self_s": tracing.self_time_s(root, spans),
            "driver.plan_s": (min(a for a, _ in jobs) - root["start"]) if jobs else lat,
            "driver.post_s": (root["end"] - max(b for _, b in jobs)) if jobs else 0.0,
            "driver.outside_spark_s": lat - tracing.union_s([(a, b) for a, b in window if b > a]),
            "spark.job_wall_s": tracing.union_s(jobs),
            "spark.tasks_per_core": tot["spark.tasks"] / NPROC,
            "pipeline.noop_s": noop["wall_s"],
            "op.rows": noop["rows"] or tot["spark.output_rows"],
            **tot,
        }
        layer.update(wl.layers(spec, spans, payload, noop))
        rec["layer"] = layer
        return rec

    def body(i, spec, state):
        if i % 2 == 0:
            yield from plain(i, spec, state)
        yield traced(i, spec, state)
        if i % 2 == 1:
            yield from plain(i, spec, state)

    return body


# ---------------------------------------------------------------------------
# Metrics
# ---------------------------------------------------------------------------


def tail(lats: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n) at the highest percentile with at least ten
    samples above it; the maximum when there are ten or fewer samples."""
    xs = sorted(lats)
    n = len(xs)
    if n > 10:
        return xs[n - 11], 100.0 * (n - 10) / n, n
    return xs[-1], 100.0, n


def end_to_end(results, elapsed: float, setups: list[float]) -> tuple[dict, dict]:
    ok = [r for r in results if r["err"] is None]
    lats = [r["lat"] for r in ok] or [float("nan")]
    by_cls: dict[str, list[float]] = {}
    for r in ok:
        by_cls.setdefault(r["cls"], []).append(r["lat"])
    metrics = {
        "setup_s": (statistics.median(setups), "s"),
        "latency_p50_s": (statistics.median(lats), "s"),
        "throughput_ops_per_s": (len(ok) / elapsed if elapsed > 0 else 0.0, "1/s"),
    }
    value, pct, n = tail(lats)
    detail = {
        "class_p50_sum_s": sum(statistics.median(v) for v in by_cls.values()),
        "latency_tail_s": value,
        "tail_percentile": pct,
        "tail_samples": n,
        "ops_by_class": {k: len(v) for k, v in sorted(by_cls.items())},
        "class_p50_s": {k: statistics.median(v) for k, v in sorted(by_cls.items())},
        "elapsed_s": elapsed,
        "latencies_s": [round(r["lat"], 4) for r in ok],
    }
    return metrics, detail


PER_LAYER_UNITS = {
    "driver.plan_s": "s",
    "driver.post_s": "s",
    "driver.outside_spark_s": "s",
    "pipeline.noop_s": "s",
    "spark.job_wall_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.tasks_per_core": "count",
    "spark.input_bytes": "bytes",
    "spark.input_rows": "rows",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.failed_tasks": "count",
}


def per_layer(results, rss_mb: float) -> tuple[dict, dict]:
    """Per-op means of every layer figure over the traced ops: the metrics in
    PER_LAYER_UNITS, the tracing overhead and peak RSS; the rest as detail."""
    recs = [r["layer"] for r in results if r.get("layer")]
    keys = sorted({k for rec in recs for k in rec})
    means = {k: statistics.fmean(rec[k] for rec in recs if k in rec) for k in keys}
    plain = [r["lat"] for r in results if not r["traced"] and r["err"] is None]
    traced = [r["lat"] for r in results if r["traced"] and r["err"] is None]
    metrics = {k: (means[k], u) for k, u in PER_LAYER_UNITS.items()}
    metrics["trace.overhead_frac"] = (statistics.median(traced) / statistics.median(plain) - 1.0, "ratio")
    metrics["driver.peak_rss_mb"] = (rss_mb, "MB")
    detail = {k: v for k, v in means.items() if k not in PER_LAYER_UNITS}
    detail.update(traced_ops=len(recs), plain_p50_s=statistics.median(plain), traced_p50_s=statistics.median(traced))
    return metrics, detail


# ---------------------------------------------------------------------------
# Roles
# ---------------------------------------------------------------------------


def warm_python_workers(spark) -> None:
    """Start one Arrow-ready Python worker per core, so the loop does not pay
    their start-up after the last set-up restarted the session."""

    def ident(batches):
        import pandas  # noqa: F401

        yield from batches

    _noop(spark.range(0, NPROC, 1, NPROC).mapInPandas(ident, "id long"))


def run(args, ctx) -> dict:
    wl = make_workload(args.workload, ctx, args.seed)
    load_before_setup = os.getloadavg()

    setups = []
    spark = None
    for k, spec in enumerate(wl.setup_ops):
        t = T0 if k == 0 else time.time()
        if spark is not None:
            spark.stop()
        spark = _get_spark()
        wl.build(spark)
        wl.run(spec, wl.new_state())
        setups.append(time.time() - t)
    warm_python_workers(spark)
    warm_n = wl.warmup_n if args.max_ops is None else min(args.max_ops, wl.warmup_n)
    t = time.time()
    warm = closed_loop(wl, OpFeed(wl.warm_ops, t + WARMUP_CAP_S, warm_n), plain_body(wl, wl.warm_run))
    warm_s = time.time() - t
    # warm-up outputs (ingest directories) are not checked; drop them
    shutil.rmtree(os.path.join(ctx["tmp"], "ops"), ignore_errors=True)

    tracer = None
    if args.trace:
        tracer = tracing.Tracer()
        wl.instrument(tracer)
        body = traced_body(wl, tracer, tracing.SparkLedger(spark))
    else:
        body = plain_body(wl)
    load_before = os.getloadavg()
    ticks_before = _cpu_ticks()
    t_start = time.time()
    results = closed_loop(wl, OpFeed(wl.specs, t_start + args.seconds, args.max_ops), body)
    elapsed = max((r["end"] for r in results), default=t_start) - t_start
    load_after = os.getloadavg()
    ticks = [b - a for a, b in zip(ticks_before, _cpu_ticks())]
    if tracer:
        tracer.unwrap_all()

    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    rss_mb = (_vmhwm_kb("self") + _vmhwm_kb(jvm_pid)) / 1024.0
    env = {
        "nproc": NPROC,
        "master": spark.sparkContext.master,
        "pyspark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "loadavg_before_setup": load_before_setup,
        "loadavg_before": load_before,
        "loadavg_after": load_after,
        # share of the machine's CPU time the hypervisor gave to other guests
        # during the timed loop: a high figure marks a run slowed from outside
        "cpu_steal_frac": ticks[1] / max(1, ticks[0]),
        "setups_s": setups,
        "warmup_s": warm_s,
        "warmup_ops": len(warm),
        "peak_rss_mb": rss_mb,
    }

    t = time.time()
    wl.check(results)
    n_checks, once_failures = wl.once_checks()
    env["checks_s"] = time.time() - t
    spark.stop()

    failures = [f"op {r['i']} ({r['cls']}): {r['err']}" for r in results if r["err"] is not None]
    failures += once_failures
    if args.trace:
        metrics, detail = per_layer(results, rss_mb)
    else:
        metrics, detail = end_to_end(results, elapsed, setups)
    out = {
        "attempted": len(results) + n_checks,
        "failed": len(failures),
        "failures": failures[:20],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "detail": detail,
        "env": env,
    }
    if tracer:
        out["trace"] = {
            "spans": tracer.spans,
            "ops": [{k: r[k] for k in ("i", "cls", "lat", "traced", "err")} | {"layer": r.get("layer")}
                    for r in results],
        }
    return out


def generate(ctx) -> dict:
    """Export the first ``ingest_days`` days of the cube to one classic and one
    gzip NetCDF-4 directory, one file per (variable, month)."""
    from pyspark.sql import functions as F

    from netcdf_olap_spark.sinks.netcdf import export_netcdf_files

    spark = _get_spark()
    try:
        cube = spark.read.parquet(ctx["cube"]).where(
            F.col("time") < F.lit("1990-01-01").cast("timestamp") + F.expr(f"INTERVAL {ctx['ingest_days']} DAYS")
        )
        files = {}
        for flavor, gzip in (("classic", None), ("hdf5", 6)):
            rows = export_netcdf_files(cube, ctx["nc"][flavor], fmt=flavor, gzip=gzip, chunk="month").collect()
            files[flavor] = len(rows)
        return {"files": files}
    finally:
        spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--role", choices=("run", "gen"), default="run")
    ap.add_argument("--ctx", required=True, help="run context as JSON")
    ap.add_argument("--out", required=True)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--max-ops", type=int, default=None)
    args = ap.parse_args()
    ctx = json.loads(args.ctx)
    result = generate(ctx) if args.role == "gen" else run(args, ctx)
    with open(args.out, "w") as f:
        json.dump(result, f, default=str)


if __name__ == "__main__":
    main()
