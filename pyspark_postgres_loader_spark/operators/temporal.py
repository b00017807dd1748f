"""Temporal / change-data-capture batch operators: slowly-changing-
dimension (type 2) interval construction and gap-based batch
sessionization over the events table.

The reference has no temporal operators at all (its surface is load-
and-upsert — psycopg2_database_helper.py); these are the batch
counterparts of the streaming session windows (streaming/windows.py)
and the incremental JDBC read (sources/jdbc.py:read_jdbc_incremental):
together they cover the "events land append-only, downstream wants
current-state / per-session views" pipeline.

Scale notes (100 TB design):
- Both operators are one shuffle each: a single hash partitioning on
  ``user_id`` feeds every window function (same partition key, so the
  sort for lag/lead/running-sum is reused across all of them within
  one WholeStageCodegen span). No joins, no driver state.
- Ordering within a key is pinned to (ts, event_id) — a total order —
  so results are deterministic under any partitioning and any engine.
- Per-user event counts are bounded (no key holds a material fraction
  of the table), which is the precondition for window-over-key at
  scale; a pathological hot user would need the salting pattern from
  joins_advanced.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.deterministic import dsum, sql_dsum
from ..registry import register
from ..tables import load_table

_GAP_SECONDS = 30 * 60  # sessionization gap
# open-interval sentinel: must survive the driver's pandas bridge
# (datetime64[ns] overflows past 2262-04-11, so no 9999-12-31)
_SCD2_OPEN_END = "2200-01-01 00:00:00"


@register(
    "scd2_user_state_intervals",
    oracle=f"""
    WITH changes AS (
      SELECT user_id, event_type, ts, event_id,
             LAG(event_type) OVER w AS prev_type
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), state AS (
      SELECT user_id, event_type, ts, event_id
      FROM changes
      WHERE prev_type IS NULL OR event_type <> prev_type
    )
    SELECT user_id,
           event_type AS state,
           ts AS valid_from,
           COALESCE(LEAD(ts) OVER w, TIMESTAMP '{_SCD2_OPEN_END}') AS valid_to,
           CAST(LEAD(ts) OVER w IS NULL AS BOOLEAN) AS is_current
    FROM state
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ORDER BY user_id, valid_from
    """,
)
def scd2_user_state_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension build from an append-only event
    log: each user's ``event_type`` transitions become validity
    intervals ``[valid_from, valid_to)`` with an open-ended current row
    — the standard CDC materialization (Kimball SCD2) expressed as two
    window passes over ONE partitioning:

    1. drop rows that do not change the state (``lag`` compare), then
    2. close each surviving interval with the next change's ``lead``.

    Consecutive duplicate suppression before interval construction is
    what distinguishes SCD2 from a raw event list — without it every
    repeat event would open a spurious zero-information version.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(F.col("prev_type").isNull() | (F.col("event_type") != F.col("prev_type")))
    # same partition key and prefix ordering: Catalyst reuses the sort
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w2)
    return (
        changes.select(
            "user_id",
            F.col("event_type").alias("state"),
            F.col("ts").alias("valid_from"),
            F.coalesce(nxt, F.lit(_SCD2_OPEN_END).cast("timestamp")).alias("valid_to"),
            nxt.isNull().alias("is_current"),
        )
    )


@register(
    "sessionize_events_30m",
    oracle=f"""
    WITH marked AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN CAST(EXTRACT(EPOCH FROM ts) AS BIGINT)
                       - LAG(CAST(EXTRACT(EPOCH FROM ts) AS BIGINT)) OVER w
                       > {_GAP_SECONDS}
                       OR LAG(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM marked
    )
    SELECT user_id,
           CAST(session_seq AS BIGINT) AS session_seq,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           COUNT(*) AS n_events,
           {sql_dsum('value')} AS sum_value
    FROM numbered
    GROUP BY user_id, session_seq
    ORDER BY user_id, session_seq
    """,
)
def sessionize_events_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based batch sessionization: a session breaks after 30 idle
    minutes. The batch twin of ``stream_session_windows`` (which uses
    ``session_window`` + watermark): lag marks session starts, a
    running sum numbers them, one aggregation summarizes each session.
    All three window passes share the (user_id)×(ts, event_id)
    partitioning+ordering, so physically it is ONE shuffle and ONE
    sort; the final per-session aggregate reuses the same hash
    partitioning (user_id is a prefix of the grouping key).

    Gap comparison is on integer epoch seconds — identical arithmetic
    in Spark (``unix_timestamp``) and DuckDB (``EXTRACT(EPOCH ..)``),
    immune to interval-type semantics differences.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.unix_timestamp("ts")
    marked = ev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        (
            F.lag(epoch).over(w).isNull()
            | ((epoch - F.lag(epoch).over(w)) > _GAP_SECONDS)
        )
        .cast("int")
        .alias("new_session"),
    )
    numbered = marked.select(
        "user_id",
        "ts",
        "value",
        F.sum("new_session")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("bigint")
        .alias("session_seq"),
    )
    return (
        numbered.groupBy("user_id", "session_seq")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
            dsum("value").alias("sum_value"),
        )
    )


# --------------------------------------------------------------------------
# Changelog apply (CDC MERGE semantics) and event-path transitions
# --------------------------------------------------------------------------

# event_type -> changelog op: the events fixture stands in for a CDC
# feed (signup opens a row, activity updates it, error tombstones it).
_CDC_OP_SQL = (
    "CASE event_type WHEN 'signup' THEN 'insert' "
    "WHEN 'error' THEN 'delete' ELSE 'update' END"
)


@register(
    "cdc_apply_changelog",
    oracle=f"""
    WITH c AS (
      SELECT user_id, {_CDC_OP_SQL} AS op, ts, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
               ORDER BY ts DESC, event_id DESC) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n_ops
      FROM events
    )
    SELECT user_id, op AS last_op, CAST(ts AS TIMESTAMP) AS last_ts,
           value AS last_value, CAST(n_ops AS BIGINT) AS n_ops
    FROM c WHERE rn = 1 AND op <> 'delete'
    """,
)
def cdc_apply_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/CDC apply: treat the event stream as a keyed changelog
    (insert/update/delete derived from event_type) and materialize the
    current snapshot - latest op per key wins, delete tombstones drop
    the row. One hash shuffle on the key feeding both window functions
    (row_number + count share the partitioning; the sort is reused),
    no joins, no driver state. This is the batch twin of the upsert
    sink's keyed idempotence (sinks/upsert.py) expressed relationally:
    replaying any prefix of the changelog then applying the rest gives
    the same snapshot."""
    ev = load_table(spark, sf_dir, "events")
    op = (
        F.when(F.col("event_type") == "signup", "insert")
        .when(F.col("event_type") == "error", "delete")
        .otherwise("update")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    wn = Window.partitionBy("user_id")
    c = ev.select(
        "user_id",
        op.alias("op"),
        "ts",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wn).alias("n_ops"),
    )
    return c.filter((F.col("rn") == 1) & (F.col("op") != "delete")).select(
        "user_id",
        F.col("op").alias("last_op"),
        F.col("ts").cast("timestamp").alias("last_ts"),
        F.col("value").alias("last_value"),
        F.col("n_ops").cast("long").alias("n_ops"),
    )


@register(
    "path_top_transitions",
    oracle="""
    WITH t AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    g AS (
      SELECT prev_type, event_type, COUNT(*) AS n
      FROM t WHERE prev_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT prev_type, event_type, CAST(n AS BIGINT) AS n,
           CAST(n * 1000000 // SUM(n) OVER () AS BIGINT) AS share_micros
    FROM g
    """,
)
def path_top_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-path transition matrix: per-user consecutive event-type
    bigrams (lag over the (ts, event_id) total order), global counts,
    and each transition's share in exact integer micros. One user_id
    shuffle for the lag, one tiny shuffle for the 25-row aggregate;
    the share denominator is a window over the aggregated frame (25
    rows), not a second scan."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    g = t.groupBy("prev_type", "event_type").agg(F.count("*").alias("n"))
    return g.select(
        "prev_type",
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.expr("CAST(n * 1000000 div SUM(n) OVER () AS BIGINT)").alias(
            "share_micros"
        ),
    )


@register(
    "timeseries_ohlc_hourly",
    oracle=f"""
    WITH b AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket, value,
             ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
               ORDER BY ts, event_id) AS rn_a,
             ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
               ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM events
    )
    SELECT event_type, bucket,
           MAX(CASE WHEN rn_a = 1 THEN value END) AS open_value,
           MAX(value) AS high_value,
           MIN(value) AS low_value,
           MAX(CASE WHEN rn_d = 1 THEN value END) AS close_value,
           {sql_dsum("value")} AS volume,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM b
    GROUP BY event_type, bucket
    ORDER BY event_type, bucket
    """,
)
def timeseries_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling: per (event_type, hour) bucket, the first/last
    value in the (ts, event_id) total order plus min/max/volume — the
    classic time-series resample (candlestick) shape the reference's
    load-only surface has no answer to.

    Scale notes: open/close use ``min_by``/``max_by`` over a
    ``struct(ts, event_id)`` ordering key, so the whole resample is ONE
    hash aggregation — no window function, hence no per-key sort and no
    second shuffle. Partials carry a constant-size (value, key) pair
    per bucket, so map-side combine reduces each partition to
    |buckets| rows before the exchange; at 100 TB the shuffle volume is
    O(event_types x hours), independent of row count. The DuckDB oracle
    mirrors the total order with two ROW_NUMBER windows (engine-neutral
    phrasing of the same first/last semantics); volume uses the
    decimal-exact sum so both engines agree bitwise.
    """
    ev = load_table(spark, sf_dir, "events")
    key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        ev.select(
            "event_type",
            F.date_trunc("hour", "ts").alias("bucket"),
            "value",
            key.alias("ord"),
        )
        .groupBy("event_type", "bucket")
        .agg(
            F.min_by("value", F.col("ord")).alias("open_value"),
            F.max("value").alias("high_value"),
            F.min("value").alias("low_value"),
            F.max_by("value", F.col("ord")).alias("close_value"),
            dsum("value").alias("volume"),
            F.count("*").cast("long").alias("n_events"),
        )
    )


# --------------------------------------------------------------------------
# Concurrency gauge: sweep line over session intervals
# --------------------------------------------------------------------------


@register(
    "concurrency_gauge_hourly",
    oracle=None,  # set below: composes the sessionize oracle via nested WITH
)
def concurrency_gauge_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per hour — the interval-overlap gauge
    (how many users were mid-session at once), computed by SWEEP LINE:
    each session contributes (+1 at start, -1 at end), the running sum
    of deltas over the global (ts, delta DESC, user_id, session_seq)
    order is the live concurrency, and the per-hour MAX over the
    event points in that hour is the gauge. Ties process +1 before -1
    (inclusive overlap), with (user_id, session_seq) as the unique
    tail so both engines see one total order.

    Scale: the global running sum uses the same range-partition +
    per-partition window + broadcast partition-offset pattern as
    ``pack_token_budget_bins`` — no single global-window partition over
    the deltas. Input is 2 rows per SESSION (orders of magnitude below
    event count); output is one row per hour.
    """
    sessions = sessionize_events_30m(spark, sf_dir).select(
        "user_id", "session_seq", "session_start", "session_end"
    )
    starts = sessions.select(
        F.col("session_start").alias("ts"),
        F.lit(1).alias("delta"),
        "user_id",
        "session_seq",
    )
    ends = sessions.select(
        F.col("session_end").alias("ts"),
        F.lit(-1).alias("delta"),
        "user_id",
        "session_seq",
    )
    deltas = starts.unionAll(ends)

    order_cols = [
        F.col("ts").asc(),
        F.col("delta").desc(),
        F.col("user_id").asc(),
        F.col("session_seq").asc(),
    ]
    d = deltas.repartitionByRange(32, *order_cols).withColumn(
        "pid", F.spark_partition_id()
    )
    w_local = (
        Window.partitionBy("pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # cached for the same ReuseExchange reason as pack_token_budget_bins
    d2 = d.withColumn("local_cs", F.sum("delta").over(w_local)).cache()
    w_off = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        d2.groupBy("pid")
        .agg(F.sum("delta").alias("ptot"))
        .select("pid", F.coalesce(F.sum("ptot").over(w_off), F.lit(0)).alias("off"))
    )
    run = d2.join(F.broadcast(offsets), "pid").select(
        "ts", (F.col("off") + F.col("local_cs")).cast("bigint").alias("conc")
    )
    return (
        run.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"))
        .agg(F.max("conc").alias("max_concurrent"))
    )


def _concurrency_oracle() -> str:
    """Replays the sweep line over the SAME session set by nesting the
    sessionize oracle as a CTE (the composition pattern
    ann_recall_report established)."""
    from ..registry import QUERIES

    sess = QUERIES["sessionize_events_30m"].oracle
    return f"""
    WITH sessions AS ({sess}),
    deltas AS (
      SELECT session_start AS ts, 1 AS delta, user_id, session_seq
      FROM sessions
      UNION ALL
      SELECT session_end AS ts, -1 AS delta, user_id, session_seq
      FROM sessions
    ),
    run AS (
      SELECT ts,
             SUM(delta) OVER (ORDER BY ts, delta DESC, user_id, session_seq
                              ROWS UNBOUNDED PRECEDING) AS conc
      FROM deltas
    )
    SELECT date_trunc('hour', ts) AS hour,
           CAST(MAX(conc) AS BIGINT) AS max_concurrent
    FROM run GROUP BY hour ORDER BY hour
    """


# registered with oracle=None above so the decorator could run before
# this helper existed; patch the real composed oracle in now.
from ..registry import QUERIES as _Q  # noqa: E402

_Q["concurrency_gauge_hourly"] = _Q["concurrency_gauge_hourly"].__class__(
    name="concurrency_gauge_hourly",
    fn=_Q["concurrency_gauge_hourly"].fn,
    oracle=_concurrency_oracle(),
    doc=_Q["concurrency_gauge_hourly"].doc,
)
