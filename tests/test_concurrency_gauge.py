"""Concurrency-gauge invariants: the sweep line must end at zero, the
gauge is bounded by the distinct-user count, and the prefix-sum is
invariant to how the range partitioner places the boundaries."""

from __future__ import annotations

from pyspark.sql import functions as F

from pyspark_postgres_loader_spark.registry import all_queries
from pyspark_postgres_loader_spark.tables import load_table


def test_gauge_bounds(spark, sf_dir):
    gauge = all_queries()["concurrency_gauge_hourly"](spark, sf_dir).toPandas()
    n_users = (
        load_table(spark, sf_dir, "events").select("user_id").distinct().count()
    )
    # an hour whose only event points are session ends (running sum
    # evaluated AFTER the decrement) can legitimately gauge 0
    assert (gauge["max_concurrent"] >= 0).all()
    assert (gauge["max_concurrent"] <= n_users).all()


def test_gauge_hours_unique(spark, sf_dir):
    gauge = all_queries()["concurrency_gauge_hourly"](spark, sf_dir).toPandas()
    assert gauge["hour"].is_unique


def test_gauge_matches_single_partition_reference(spark, sf_dir):
    """The distributed prefix sum equals a plain single-window run
    (small data lets the naive global window serve as reference)."""
    from pyspark.sql.window import Window

    from pyspark_postgres_loader_spark.operators.temporal import (
        sessionize_events_30m,
    )

    sessions = sessionize_events_30m(spark, sf_dir).select(
        "user_id", "session_seq", "session_start", "session_end"
    )
    deltas = sessions.select(
        F.col("session_start").alias("ts"), F.lit(1).alias("delta"),
        "user_id", "session_seq",
    ).unionAll(
        sessions.select(
            F.col("session_end").alias("ts"), F.lit(-1).alias("delta"),
            "user_id", "session_seq",
        )
    )
    w = Window.orderBy(
        F.col("ts").asc(), F.col("delta").desc(),
        F.col("user_id").asc(), F.col("session_seq").asc(),
    ).rowsBetween(Window.unboundedPreceding, 0)
    ref = (
        deltas.withColumn("conc", F.sum("delta").over(w))
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"))
        .agg(F.max("conc").cast("bigint").alias("max_concurrent"))
        .toPandas()
        .sort_values("hour")
        .reset_index(drop=True)
    )
    got = (
        all_queries()["concurrency_gauge_hourly"](spark, sf_dir)
        .toPandas()
        .sort_values("hour")
        .reset_index(drop=True)
    )
    assert got.equals(ref)
