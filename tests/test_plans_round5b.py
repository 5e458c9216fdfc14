"""Plan-shape locks for the later round-5 additions (ingest query,
export round-trip, portable MinHash): exchange budgets and
Python-boundary placement must not silently regress.
"""

from __future__ import annotations

from netcdf_olap_spark.queries import all_queries
from tests.conftest import SF_SMALL


def _plan(spark, name: str) -> str:
    df = all_queries()[name](spark, SF_SMALL)
    return df._jdf.queryExecution().executedPlan().toString()


def test_ingest_nc_decode_stays_narrow(spark):
    """grid_ingest_nc: decode is a narrow MapInPandas over the
    binaryFile scan — file bytes NEVER shuffle. The only wide exchange
    is the final per-variable aggregate, fed by a map-side partial."""
    plan = _plan(spark, "grid_ingest_nc")
    assert plan.count("MapInPandas") == 1
    # one wide exchange (the groupBy); the decode side of it is narrow
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "partial" in plan.lower()  # map-side combine before the shuffle
    # no exchange BELOW the Python decode: bytes flow scan→decode directly
    below = plan.split("MapInPandas")[-1]
    assert "Exchange" not in below.split("Scan")[0] or "Exchange" not in below


def test_export_roundtrip_single_python_stage_each_way(spark):
    """grid_export_roundtrip: exactly two Python boundaries — the
    export's FlatMapGroupsInPandas and the re-ingest's MapInPandas.
    The export group-shuffle is the one wide exchange feeding Python.
    Since r9 the REGISTRY query eagerly checkpoints (its returned
    plan is an ExistingRDD scan by design — fresh_invocation_dir's
    stale-sweep contract), so the plan assertions run on the lazy
    inner form."""
    from netcdf_olap_spark.queries.grid import _export_roundtrip_lazy, grid_export_roundtrip

    plan = (
        _export_roundtrip_lazy(spark)._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("MapInPandas") == 1  # re-ingest decode
    # the export's manifest collect runs eagerly, so the lazy plan is
    # the re-ingest aggregate only; its shuffle budget matches ingest
    assert plan.count("Exchange hashpartitioning") <= 1
    # and the registry form really is the materialized cut
    reg_plan = (
        grid_export_roundtrip(spark, SF_SMALL)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Scan ExistingRDD" in reg_plan


def test_minhash_portable_shuffle_budget_and_checkpoint(spark):
    """doc_minhash_portable: signature subtree computes once (the
    candidate set is checkpointed → ExistingRDD feeds the verify
    stage), no Python anywhere, and the exchange budget stays at the
    fast path's level (shingle index, signatures, band join, verify
    join family) — the portable hashing must not add shuffles."""
    plan = _plan(spark, "doc_minhash_portable")
    for node in ("ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas", "MapInPandas"):
        assert node not in plan
    assert "Scan ExistingRDD" in plan  # checkpointed index + candidates
    # the shingle index is checkpointed (tokenize runs ONCE for its
    # three consumers); the materialized RDD re-enters each consumer
    # through its own exchange, so the budget is exchanges-of-small
    # not tokenize-work — 10 exchanges, zero re-tokenization
    assert plan.count("Exchange hashpartitioning") <= 10
    assert "split(" not in plan.split("Scan ExistingRDD")[-1]  # no re-tokenize downstream
    assert "CartesianProduct" not in plan  # banding, never all-pairs


def test_ingest_catalog_prunes_before_output(spark):
    """grid_ingest_catalog: the overlap filter is a post-aggregate
    predicate on the tiny catalog (per-variable rows), not a re-scan —
    a single aggregate exchange, one MapInPandas decode."""
    plan = _plan(spark, "grid_ingest_catalog")
    assert plan.count("MapInPandas") == 1
    assert plan.count("Exchange hashpartitioning") <= 1
