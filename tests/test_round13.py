"""Round-13 regression tests.

1. ev_resample_linear no longer crashes on a user whose whole span
   lies strictly inside one hour (r12 advisor finding — Spark's
   sequence() throws 'Illegal sequence boundaries' where DuckDB's
   generate_series returns empty).
2. bench.py's final stdout line stays bounded (r12 judge ask #2 —
   the full medians map overflowed the driver's 2,000-char capture).
3. bench.py's ``plan_fp2`` strips only lambda-binder counters.
"""

from __future__ import annotations

import json

from pyspark.sql import functions as F

US_1H = 3_600_000_000


def test_resample_subhour_span_is_empty_not_crash(spark, monkeypatch):
    """A user whose observations all fall strictly between two hour
    boundaries must contribute ZERO grid rows (the oracle's
    generate_series-empty behavior), not throw 'Illegal sequence
    boundaries' from Spark's sequence()."""
    from netcdf_olap_spark.queries import events as ev_mod

    base = 1_700_000_000_000_000 - (1_700_000_000_000_000 % US_1H)
    rows = [
        # user 1: entire span inside (base+1h, base+2h) — no boundary
        (1, base + US_1H + 11, 10.0),
        (1, base + US_1H + 999, 20.0),
        # user 2: spans one boundary — exactly one grid point
        (2, base + US_1H - 5, 1.0),
        (2, base + US_1H + 5, 3.0),
    ]
    df = spark.createDataFrame(
        [(u, t * 1000, v) for u, t, v in rows],
        "user_id INT, ts_ns LONG, value DOUBLE",
    )
    monkeypatch.setattr(
        ev_mod, "_ev", lambda s, d: df.withColumn("ts_us", F.expr("ts_ns DIV 1000"))
    )
    out = ev_mod.ev_resample_linear(spark, "unused").collect()
    assert [r.user_id for r in out] == [2]
    assert out[0].grid_ts_us == base + US_1H
    # linear interpolation across the boundary: 1 + (5/10)*(3-1) = 2
    assert abs(out[0].value_interp - 2.0) < 1e-12


def test_bench_final_line_is_bounded():
    """The driver captures only the last 2,000 chars of bench.py
    stdout; the final summary line must stay far below that at ANY
    registry size. Assert the line-building shape: 5-query cap on the
    inline medians map keeps a worst-case line under 800 chars."""
    # worst-case field widths: 40-char query names, 4-digit counts
    top5 = {f"q_{'x' * 38}_{i}": 99.999 for i in range(5)}
    line = json.dumps(
        {
            "metric": "headline_queries_total_wall",
            "value": 9999.999,
            "unit": "sec",
            "queries": top5,
            "n_queries": 9999,
            "sf": 0.1,
            "reps": 3,
            "shared16_total": 9999.999,
            "calib_sec": 99.999,
            "calib_scan_sec": 99.999,
            "ambient_probe_med": 99.999,
            "n_ambient_flagged": 9999,
            "plan_fp2_digest": "a" * 12,
        }
    )
    assert len(line) < 800, len(line)
    # and bench.py really does cap the map at 5 entries
    import ast
    import pathlib

    src = (pathlib.Path(__file__).parent.parent / "bench.py").read_text()
    assert '"queries": top5' in src and "[:5]" in src
    ast.parse(src)


def test_plan_fingerprint2_strips_only_lambda_counters(spark):
    """Columns ``a_1`` / ``a_2`` stay distinct under ``plan_fp2``; two
    builds of one ``F.transform`` plan, whose lambda variables carry
    different session-counter names (``lambda x_N``), hash equal."""
    import re

    from bench import plan_fingerprint2

    base = spark.range(3)
    assert plan_fingerprint2(base.selectExpr("id AS a_1")) != plan_fingerprint2(
        base.selectExpr("id AS a_2")
    )
    a, b = (base.select(F.transform(F.array("id"), lambda x: x + 1)) for _ in range(2))
    binders = [
        re.findall(r"lambda x_\d+", df._jdf.queryExecution().executedPlan().toString())
        for df in (a, b)
    ]
    assert binders[0] and binders[1] and binders[0] != binders[1]  # the counter moved
    assert plan_fingerprint2(a) == plan_fingerprint2(b)
