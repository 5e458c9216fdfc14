"""Smoke test of the benchmark itself, on tiny inputs with one op per workload.

Run from the repository root::

    python3 perfbench/smoke.py

For every workload it runs ``run.py --scale tiny --max-ops 1`` untraced, and
traced for the workloads BENCHMARK.json names, and asserts that the result line
carries exactly the metrics BENCHMARK.json lists, each a finite number with its
unit, and that every output check passed.  Exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "1",
           "--seconds", "1", "--trace", str(trace), "--scale", "tiny", "--max-ops", "1"]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    if proc.returncode != 0:
        raise AssertionError(f"{workload} trace={trace}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.splitlines()[-1])


def check(result: dict, expected: dict[str, str], what: str) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, f"{what}: keys {sorted(result)}"
    assert result["correct"] is True and result["failed"] == 0, f"{what}: {result}"
    assert result["attempted"] >= 1, f"{what}: nothing attempted"
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == expected, f"{what}: metrics {got} != {expected}"
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], (int, float)) and math.isfinite(m["value"]), f"{what}: {name} = {m['value']}"


def main() -> int:
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    named = [w["name"] for w in bench["workloads"]]
    extra = ["serve_large", "ingest_nc", "query_panel"]
    for workload in named + extra:
        check(run(workload, 0), e2e, f"{workload} untraced")
        print(f"ok {workload} untraced", flush=True)
    for workload in named:
        check(run(workload, 1), layers, f"{workload} traced")
        print(f"ok {workload} traced", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
