"""Benchmark of the engine's product path, end to end and per layer.

Run from the repository root::

    python3 perfbench/run.py --workload serve_small --seed 1 --seconds 10 --trace 0

Workloads (closed loops on a warm ``local[nproc]`` session; see
``perfbench/layers.json`` for why each exists and which layer metric should
move which end-to-end metric):

- ``serve_small``: ``POST /fetchResult`` through ``create_app(spark).test_client()``
  from 2 client threads; small polygons, 1 variable, 1-14 days, png/nc4/nc
  60/20/20, half the requests revisit one of three hot regions.
- ``serve_large``: the same route from 1 client; polygons over 30-80% of the
  cube, 3 variables, 60-120 days, every request distinct.
- ``ingest_nc``: ``sources.netcdf.ingest_directory`` then ``write_cube_parquet``,
  alternating a classic CDF-1 and a gzip NetCDF-4 directory.
- ``query_panel``: pinned grid registry queries into the noop sink.

Inputs are generated under ``.bench_build/perfbench`` in the current directory
on first use and reused while their content hashes match.  ``--seed`` drives
every per-run draw.  The last line of stdout is one JSON object: with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
metrics; earlier lines carry the run record (environment, set-up samples,
tail percentile, input sizes, per-module layer figures).  A traced run also
writes its spans to ``.bench_build/perfbench/traces/``.

Exit status is non-zero, with no result line, when the run cannot be made
(for example outside a checkout of the repository).
"""

from __future__ import annotations

import argparse
import fcntl
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import inputs

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("serve_small", "ingest_panel", "serve_large", "ingest_nc", "query_panel")
RUN_TIMEOUT_S = 150
FIRST_RUN_TIMEOUT_S = 850

SPARK_DEFAULTS = """\
spark.ui.showConsoleProgress false
spark.local.dir {tmp}
spark.driver.extraJavaOptions -Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem
"""
LOG4J2 = """\
rootLogger.level = error
rootLogger.appenderRef.stderr.ref = console
appender.console.type = Console
appender.console.name = console
appender.console.target = SYSTEM_ERR
appender.console.layout.type = PatternLayout
appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n%ex
"""


def _group_alive(pgid: int) -> bool:
    """True while a non-zombie process of group ``pgid`` exists."""
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z" and int(fields[2]) == pgid:
            return True
    return False


def _stop_group(proc: subprocess.Popen) -> None:
    """Stop the worker and everything it started (JVM, Python workers)."""
    pgid = proc.pid
    deadline = time.time() + 20
    sig = signal.SIGTERM
    while _group_alive(pgid) or proc.poll() is None:
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            pass
        if time.time() > deadline - 10:
            sig = signal.SIGKILL
        if time.time() > deadline:
            raise RuntimeError(f"processes of group {pgid} did not stop")
        time.sleep(0.1)
    proc.wait()


def run_worker(argv: list[str], env: dict, log_path: str, timeout: float) -> dict:
    out_path = log_path + ".json"
    with open(log_path, "wb") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), "--out", out_path, *argv],
            env=env,
            stdout=log,
            stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL,
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _stop_group(proc)
    if code != 0:
        with open(log_path, "rb") as f:
            tail = f.read()[-4000:].decode(errors="replace")
        what = "timed out" if code is None else f"exited with {code}"
        raise RuntimeError(f"worker {what}; log tail:\n{tail}")
    with open(out_path) as f:
        return json.load(f)


def worker_env(root: str, tmp: str, ctx: dict) -> dict:
    conf = os.path.join(tmp, "conf")
    os.makedirs(conf, exist_ok=True)
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as f:
        f.write(SPARK_DEFAULTS.format(tmp=tmp))
    with open(os.path.join(conf, "log4j2.properties"), "w") as f:
        f.write(LOG4J2)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p),
        PYTHONDONTWRITEBYTECODE="1",
        TMPDIR=tmp,
        SPARK_CONF_DIR=conf,
        SPARK_LOCAL_DIRS=tmp,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_GRID_PATH=ctx["cube"],
        PERFBENCH_T0=str(time.time()),
    )
    return env


def ensure_inputs(root: str, work: str, scale: str, tmp: str) -> tuple[dict, dict]:
    """Generate the cube and the two .nc directories unless a generation with
    the same parameters and content hashes is already there."""
    data_root = os.path.join(work, f"data-{scale}")
    data = os.path.join(data_root, "data")
    params = {"version": inputs.GENERATOR_VERSION, "cube_seed": inputs.CUBE_SEED, **inputs.SCALES[scale]}
    ctx = {
        "scale": scale,
        "data": data,
        "cube": os.path.join(data, "cube", "grid.parquet"),
        "nc": {f: os.path.join(data, f"nc_{f}") for f in ("classic", "hdf5")},
        "ingest_days": inputs.SCALES[scale]["ingest_days"],
        "tmp": tmp,
    }
    os.makedirs(work, exist_ok=True)
    with open(os.path.join(work, "generate.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        generated = False
        if not inputs.manifest_matches(data_root, params):
            shutil.rmtree(data_root, ignore_errors=True)
            os.makedirs(os.path.dirname(ctx["cube"]))
            t = time.time()
            rows = inputs.write_cube(ctx["cube"], scale)
            cube_s = time.time() - t
            t = time.time()
            env = worker_env(root, tmp, ctx)
            run_worker(["--role", "gen", "--ctx", json.dumps(ctx)], env, os.path.join(tmp, "gen.log"),
                       FIRST_RUN_TIMEOUT_S - 60)
            inputs.write_manifest(data_root, params, {"cube_rows": rows, "cube_gen_s": cube_s,
                                                      "nc_gen_s": time.time() - t})
            generated = True
        with open(os.path.join(data_root, "MANIFEST.json")) as f:
            man = json.load(f)
    sizes = {}
    for name, path in (("cube", os.path.dirname(ctx["cube"])), *ctx["nc"].items()):
        files = [os.path.join(path, f) for f in os.listdir(path)]
        sizes[name] = {"files": len(files), "bytes": sum(os.path.getsize(f) for f in files)}
    record = {
        "generated_this_run": generated,
        "generation_s": man["cube_gen_s"] + man["nc_gen_s"],
        "cube_rows": man["cube_rows"],
        "cube_cells_x_days": list(inputs.cube_dims(scale)),
        "input_sizes": sizes,
    }
    return ctx, record


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(inputs.SCALES), default="full", help="tiny: smoke-test inputs")
    ap.add_argument("--max-ops", type=int, default=None, help="stop the timed loop after this many ops")
    args = ap.parse_args()

    started = time.time()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "netcdf_olap_spark", "__init__.py")):
        print("perfbench: run from the repository root (netcdf_olap_spark/ not found)", file=sys.stderr)
        return 2
    work = os.path.join(root, ".bench_build", "perfbench")
    tmp = os.path.join(work, "tmp", f"run-{os.getpid()}")
    os.makedirs(tmp)
    try:
        ctx, record = ensure_inputs(root, work, args.scale, tmp)
        budget = (FIRST_RUN_TIMEOUT_S if record["generated_this_run"] else RUN_TIMEOUT_S) - (time.time() - started)
        argv = ["--ctx", json.dumps(ctx), "--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace)]
        if args.max_ops is not None:
            argv += ["--max-ops", str(args.max_ops)]
        res = run_worker(argv, worker_env(root, tmp, ctx), os.path.join(tmp, "run.log"), budget)
    except RuntimeError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    record.update(workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace,
                  env=res["env"], detail=res["detail"], failures=res["failures"])
    if args.trace:
        traces = os.path.join(work, "traces")
        os.makedirs(traces, exist_ok=True)
        path = os.path.join(traces, f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"record": record, **res["trace"]}, f, default=str)
        record["trace_file"] = os.path.relpath(path, root)
    print("record " + json.dumps(record, default=str))
    for name, m in res["metrics"].items():
        print(f"metric {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": res["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
