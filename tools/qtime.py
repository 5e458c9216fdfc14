"""Ad-hoc per-query timer for optimization work (not the official
bench): runs the named registry queries with the noop sink, REPS reps
each, prints min/median per query. min-of-reps is the
noise-robust statistic for DECISION-MAKING on a machine with
host-level contention spikes; the official bench.py keeps its
median-of-reps contract. The warm-up and the rep loop are bench.py's
own (``warm_up``, ``time_reps``).

CLI: python tools/qtime.py <query> [query ...]
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_BENCH_REPS (default 3)
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

os.environ.setdefault("SPARK_GRAFT_MAX_PARTITION_BYTES", "8m")

from bench import bench_reps, time_reps, warm_up  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = bench_reps()
    names = sys.argv[1:]

    from netcdf_olap_spark.queries import all_queries
    from netcdf_olap_spark.session import get_spark

    spark = get_spark("qtime")
    spark.sparkContext.setLogLevel("ERROR")
    registry = all_queries()

    warm_up(spark, sf_dir)

    for name in names:
        samples, _ = time_reps(spark, registry[name], sf_dir, reps)
        mn = min(samples)
        med = sorted(samples)[len(samples) // 2]
        print(f"{name:38s} min={mn:7.3f} med={med:7.3f} runs={samples} load={os.getloadavg()[0]:.1f}", flush=True)


if __name__ == "__main__":
    main()
