"""Ad-hoc per-query timer for optimization work (not the official
bench): runs the named registry queries with the noop sink, REPS reps
each, prints min/median per query. min-of-reps is the
noise-robust statistic for DECISION-MAKING on a machine with
host-level contention spikes; the official bench.py keeps its
median-of-reps contract. The warm-up and the between-rep unpersist
are bench.py's own (``warm_up``, ``unpersist_all``).

CLI: python tools/qtime.py <query> [query ...]
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, QTIME_REPS (default 3)
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

os.environ.setdefault("SPARK_GRAFT_MAX_PARTITION_BYTES", "8m")

from bench import unpersist_all, warm_up  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("QTIME_REPS", "3"))
    names = sys.argv[1:]

    from netcdf_olap_spark.queries import all_queries
    from netcdf_olap_spark.session import get_spark

    spark = get_spark("qtime")
    spark.sparkContext.setLogLevel("ERROR")
    registry = all_queries()

    warm_up(spark, sf_dir)

    for name in names:
        fn = registry[name]
        samples = []
        for _ in range(reps):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            samples.append(round(time.perf_counter() - t0, 3))
            unpersist_all(spark)  # free localCheckpoint blocks between reps
        mn = min(samples)
        med = sorted(samples)[len(samples) // 2]
        print(f"{name:38s} min={mn:7.3f} med={med:7.3f} runs={samples} load={os.getloadavg()[0]:.1f}", flush=True)


if __name__ == "__main__":
    main()
