"""Global plan-quality gate: no registered batch query may plan a
CartesianProduct. An accidental unkeyed join is O(n^2) shuffle I/O at
100 TB; every intentional cross join in this repo is a 1-row scalar
broadcast (BroadcastNestedLoopJoin over a 1-row build side), which is
a different physical node. Streaming queries are skipped: building
their result executes the stream (plan inspection happens in their own
plan-shape and recovery tests).

The same built DataFrame also pins the row-order contract (see
``registry``): a registered query's row order is unspecified, so below
any top-level ``Project`` its optimized plan must not end in a ``Sort``
— a global one costs a range exchange plus a sampling job, and a
``repartition(1).sortWithinPartitions`` tail funnels the result through
one task, both only to present rows in order. TPC-H ``q<N>_`` queries
keep the ORDER BY of the spec text and are exempt."""

from __future__ import annotations

import re

import pytest

from pyspark_postgres_loader_spark.registry import QUERIES, _ensure_loaded

_ensure_loaded()
BATCH_QUERIES = sorted(n for n in QUERIES if not n.startswith("stream_"))
_TPCH = re.compile(r"q\d+_")


@pytest.mark.parametrize("name", BATCH_QUERIES)
def test_no_cartesian_product(spark, sf_dir, name):
    df = QUERIES[name].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, (
        f"{name} plans a CartesianProduct:\n{plan[:1500]}"
    )
    if _TPCH.match(name):
        return
    top = df._jdf.queryExecution().optimizedPlan()
    while top.nodeName() == "Project":
        top = top.child()
    assert top.nodeName() != "Sort", (
        f"{name} ends in a presentation Sort; row order is "
        f"unspecified, so drop it:\n{top.toString()[:1500]}"
    )


# FileScan budget per query (the triangle-census lesson, round 5: a
# query whose edge set was consumed five times re-planned the whole
# pair-support pipeline per consumer — 48 FileScans for a 300-row
# result). Most queries scan each input table once or twice; a plan
# suddenly exceeding its historical scan count means a shared
# sub-DAG lost its materialization or a rewrite duplicated a branch.
# Budgets are deliberately loose (~2x the measured round-6 counts):
# plan details drift a little with session state and fixture size, and
# the gate's job is catching BLOWUPS (the triangle census hit 48),
# not 1-2 scans of benign Catalyst variation. Everything unlisted gets
# the default.
_DEFAULT_SCAN_BUDGET = 10
_SCAN_BUDGETS = {
    "q2_min_cost_supplier": 18,     # decorrelated min-cost subquery re-scans
    "ann_recall_report": 14,        # composes brute-force + IVF pipelines
    "q8_market_share": 14,
    "dedup_prefix_containment": 14,
    "contamination_bloom_prefilter": 13,
}


@pytest.mark.parametrize("name", BATCH_QUERIES)
def test_scan_count_within_budget(spark, sf_dir, name):
    df = QUERIES[name].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_scans = plan.count("FileScan parquet")
    budget = _SCAN_BUDGETS.get(name, _DEFAULT_SCAN_BUDGET)
    assert n_scans <= budget, (
        f"{name}: {n_scans} FileScans exceeds its budget of {budget} — a "
        "shared sub-DAG probably lost its cache/localCheckpoint (see the "
        "round-5 triangle-census recompute) or a rewrite duplicated a branch"
    )
