"""Plan-shaping helpers: small, value-preserving tricks that steer
Catalyst toward the physical plan we actually want.

These exist because two silent planner behaviors wreck the similarity /
dedup operators:

1. A ``.filter(sim >= t)`` over a projected similarity column gets
   folded into the join condition of the candidate join, where the
   expensive expression (array_intersect, dot product) is re-evaluated
   2-3× per candidate pair with no subexpression elimination —
   measured 24s → 0.9s on dedup_ngram_jaccard at sf0.1.
2. A small parquet fixture arrives as ONE scan split; when every
   downstream join is a broadcast join there is no shuffle to restore
   parallelism, so the whole per-pair pipeline runs as a single task.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def nondet_keep(col: Column) -> Column:
    """Taint ``col`` nondeterministic without changing its value.

    ``x + 0.0 * rand()`` is numerically identical to ``x`` for every
    finite non-negative ``x`` (similarities/jaccards are), but Catalyst
    will not push a filter through a projection it cannot prove
    deterministic — so the filter stays ABOVE the projection and the
    expensive expression is evaluated exactly once per row.
    """
    return col + F.lit(0.0) * F.rand(seed=42)


def spread(df: DataFrame) -> DataFrame:
    """Round-robin the input across all cores — ONLY when the scan is
    actually narrow.

    On local fixtures a small parquet arrives as one split, and without
    a shuffle every narrow/broadcast stage built on top runs as a
    single task — repartitioning is the difference between 1 and
    ``defaultParallelism``-way execution. On a real cluster the scan is
    already wide (thousands of splits at 100 TB) and an unconditional
    repartition would be a full shuffle of the corpus for nothing, so
    it is skipped whenever the input already has at least half the
    target parallelism.

    The width probe is driver-side METADATA only — ``df.rdd`` (the old
    gate) forced a logical-plan→RDD conversion per query build, real
    driver overhead at high query volume. Scan width is estimated as
    max(input file count, plan-stats bytes / maxPartitionBytes): many
    small files each open ≥1 split, and one giant file opens
    size/maxPartitionBytes splits, so the max lower-bounds both shapes
    without touching an RDD. Non-file plans (memory ranges in tests)
    report 0 files / tiny stats → treated as narrow; repartitioning
    those is the desired outcome anyway.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        max_split = int(
            df.sparkSession.conf.get(
                "spark.sql.files.maxPartitionBytes", "134217728"
            ).lower().rstrip("b")
        )
    except ValueError:  # "128m"-style setting: exact value doesn't matter
        max_split = 128 * 1024 * 1024
    size_bytes = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    width = max(len(df.inputFiles()), size_bytes // max_split)
    if width * 2 >= target:
        return df
    return df.repartition(target)

