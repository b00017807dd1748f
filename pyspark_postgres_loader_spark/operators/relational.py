"""Relational operator suite: scans, filters, joins, aggregations,
windows, sorts/top-k, set ops, scalar expressions.

The reference delegates ALL relational work to PySpark (SURVEY.md §2c-§2h
— it implements none of these itself); this module is the explicit,
tested surface our engine exposes for them. Every query is a declarative
DataFrame/SQL composition — Catalyst handles pushdown, join strategy
selection, partial aggregation, and whole-stage codegen.

Scale notes (100 TB design):
- Dimension tables (region/nation, filtered customer/supplier sides)
  are broadcast explicitly — no shuffle of the fact table for them.
- Fact-fact joins (lineitem ⋈ orders) shuffle on the join key once; AQE
  handles skew and coalesces post-shuffle partitions.
- Top-k is orderBy().limit() which Catalyst executes as
  TakeOrderedAndProject (per-partition heap + driver merge of k rows,
  never a global sort).
- Aggregates are hash aggs with map-side partial aggregation; the
  decimal-sum determinism pattern (functions/deterministic.py) keeps
  them order-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.deterministic import DEC, davg, dsum, sql_davg, sql_dsum
from ..registry import register
from ..tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Flagship: TPC-H Q1-style pricing summary (scan → filter → agg → sort)
# ---------------------------------------------------------------------------

@register(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity')} AS sum_qty,
           {sql_dsum('l_extendedprice')} AS sum_base_price,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           {sql_davg('l_quantity')} AS avg_qty,
           {sql_davg('l_extendedprice')} AS avg_price,
           {sql_davg('l_discount')} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary report: 2 group cols + 8 aggregates over lineitem.

    Physical plan: parquet scan with the shipdate filter pushed down →
    partial hash agg → single shuffle on (returnflag, linestatus) →
    final hash agg → sort of ~6 rows. One shuffle total; survives any
    scale factor because group cardinality is tiny and partial aggs
    shrink data map-side.
    """
    l = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# Multi-way joins (TPC-H Q3 / Q5 style)
# ---------------------------------------------------------------------------

@register(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l.l_orderkey,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o.o_orderdate, l.l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unshipped-orders revenue: 3-way join → agg → deterministic top-10.

    The filtered customer side is small (1 of 5 market segments) →
    broadcast, so the orders/lineitem fact join is the only shuffle.
    Tie-break on l_orderkey makes the LIMIT deterministic.
    """
    cutoff = F.lit("1998-03-15 00:00:00").cast("timestamp")
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@register(
    "q5_local_supplier_volume",
    oracle=f"""
    SELECT n.n_name,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM region r
    JOIN nation n ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n.n_name
    ORDER BY revenue DESC, n.n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by nation where supplier and customer share the nation.

    region/nation/supplier are bounded dimensions → broadcast joins; the
    only shuffles are the two fact joins (orders⋈customer is fact⋈dim at
    TPC-H ratios — customer is 1/10 of orders — but we let AQE decide
    there rather than force a broadcast of an unbounded table).
    """
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    lo = F.lit("1996-01-01 00:00:00").cast("timestamp")
    hi = F.lit("1998-01-01 00:00:00").cast("timestamp")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (s.s_suppkey == l.l_suppkey) & (s.s_nationkey == c.c_nationkey),
        )
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


# ---------------------------------------------------------------------------
# Join variants: left outer, semi, anti
# ---------------------------------------------------------------------------

@register(
    "join_left_order_counts",
    oracle="""
    SELECT c.c_custkey, c.c_name, COUNT(o.o_orderkey) AS order_count
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_name
    """,
)
def join_left_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers with zero orders."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("order_count"))
    )


@register(
    "join_semi_big_orders",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)
    """,
)
def join_semi_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: orders having a line with quantity ≥ 49 (EXISTS)."""
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 49)
    return o.join(l, o.o_orderkey == l.l_orderkey, "left_semi").select(
        "o_orderkey", "o_totalprice"
    )


@register(
    "join_anti_idle_customers",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderdate >= TIMESTAMP '1998-06-01 00:00:00')
    """,
)
def join_anti_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no order since mid-1998
    (NOT EXISTS). Date-bounded because the fixture generator gives
    every customer at least one order ever — the unbounded predicate
    matched nothing at any sf, making the driver compare vacuous."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1998-06-01 00:00:00").cast("timestamp")
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


# ---------------------------------------------------------------------------
# Aggregation variants: global stats, distinct, rollup, cube, grouping sets,
# pivot
# ---------------------------------------------------------------------------

@register(
    "agg_global_stats",
    oracle=f"""
    SELECT COUNT(*) AS n_rows,
           COUNT(DISTINCT l_orderkey) AS n_orders,
           COUNT(DISTINCT l_suppkey) AS n_suppliers,
           MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
           {sql_dsum('l_extendedprice')} AS total_price
    FROM lineitem
    """,
)
def agg_global_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global aggregate: count, multi count-distinct, min/max, sum."""
    l = _t(spark, sf_dir, "lineitem")
    return l.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        dsum("l_extendedprice").alias("total_price"),
    )


@register(
    "agg_rollup_flag_status",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n, {sql_dsum('l_quantity')} AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP: hierarchical subtotals (flag, flag+status, grand total)."""
    l = _t(spark, sf_dir, "lineitem")
    return l.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"), dsum("l_quantity").alias("sum_qty")
    )


@register(
    "agg_cube_flag_status",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n, {sql_dsum('l_quantity')} AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all grouping-set combinations of (flag, status)."""
    l = _t(spark, sf_dir, "lineitem")
    return l.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"), dsum("l_quantity").alias("sum_qty")
    )


@register(
    "agg_grouping_sets",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n, {sql_dsum('o_totalprice')} AS sum_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS via the SQL API (Catalyst Expand operator)."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(
        f"""
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n, {sql_dsum('o_totalprice')} AS sum_price
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        """
    )


@register(
    "agg_pivot_status",
    oracle=f"""
    SELECT l_returnflag,
           {sql_dsum("CASE WHEN l_linestatus = 'O' THEN l_quantity END")} AS O,
           {sql_dsum("CASE WHEN l_linestatus = 'F' THEN l_quantity END")} AS F
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot l_linestatus into columns (sum of quantity per cell)."""
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(dsum("l_quantity"))
    )


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------

@register(
    "window_top3_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rn
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def window_top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via row_number window (the scalable top-k idiom:
    one shuffle on the partition key, no global sort)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


@register(
    "window_running_customer_spend",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6)))
                OVER (PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS running_spend
    FROM orders
    """,
)
def window_running_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total per customer (frame: unbounded preceding → current).

    Decimal-sum inside the frame keeps the running value exact and
    order-independent across engines.
    """
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(F.col("o_totalprice").cast(DEC)).over(w).cast("double").alias("running_spend"),
    )


@register(
    "window_lag_event_delta",
    oracle="""
    SELECT user_id, event_id, value,
           value - LAG(value) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS delta
    FROM events
    """,
)
def window_lag_event_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag(): per-user change in value between consecutive events."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "user_id",
        "event_id",
        "value",
        (F.col("value") - F.lag("value").over(w)).alias("delta"),
    )


@register(
    "window_rank_supplier_revenue",
    oracle=f"""
    SELECT l_suppkey, revenue,
           RANK() OVER (ORDER BY revenue DESC, l_suppkey) AS rnk
    FROM (
      SELECT l_suppkey,
             {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
      FROM lineitem GROUP BY l_suppkey
    )
    """,
)
def window_rank_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank() over an aggregated relation (agg → window compose)."""
    l = _t(spark, sf_dir, "lineitem")
    rev = l.groupBy("l_suppkey").agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
    )
    w = Window.orderBy(F.desc("revenue"), F.asc("l_suppkey"))
    return rev.select("l_suppkey", "revenue", F.rank().over(w).alias("rnk"))


# ---------------------------------------------------------------------------
# Sort / limit / top-k, set operations
# ---------------------------------------------------------------------------

@register(
    "topk_orders_by_price",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
    """,
)
def topk_orders_by_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: Catalyst plans TakeOrderedAndProject (per-partition
    heaps, driver merges k rows — no full sort at any scale)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@register(
    "setop_active_nations",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def setop_active_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: nations having both customers and suppliers."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@register(
    "setop_customer_only_nations",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9000.0
    EXCEPT
    SELECT s_nationkey AS nationkey FROM supplier WHERE s_acctbal > 9000.0
    """,
)
def setop_customer_only_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT: nations with a rich customer but no rich supplier (set
    semantics — ``subtract`` is EXCEPT DISTINCT, unlike ``exceptAll``'s
    bag diff). Balance-bounded because all 25 nations have both
    customers and suppliers in the fixtures — the unbounded EXCEPT was
    always empty and verified nothing."""
    c = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000.0)
        .select(F.col("c_nationkey").alias("nationkey"))
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 9000.0)
        .select(F.col("s_nationkey").alias("nationkey"))
    )
    return c.subtract(s)


@register(
    "setop_union_all_keys",
    oracle="""
    SELECT k, COUNT(*) AS n FROM (
      SELECT c_nationkey AS k FROM customer
      UNION ALL
      SELECT s_nationkey AS k FROM supplier
    ) GROUP BY k
    """,
)
def setop_union_all_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL then group: bag semantics preserved."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k"))
    return c.unionAll(s).groupBy("k").agg(F.count("*").alias("n"))


# ---------------------------------------------------------------------------
# Scalar expression surface: strings, dates, math, conditionals
# ---------------------------------------------------------------------------

@register(
    "scalar_string_date_funcs",
    oracle="""
    SELECT o_orderkey,
           UPPER(o_orderpriority) AS pri_upper,
           SUBSTRING(o_orderpriority, 1, 1) AS pri_code,
           LENGTH(o_orderpriority) AS pri_len,
           CONCAT(o_orderstatus, '-', o_orderpriority) AS status_pri,
           CAST(YEAR(o_orderdate) AS INTEGER) AS order_year,
           CAST(MONTH(o_orderdate) AS INTEGER) AS order_month,
           CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS order_month_start
    FROM orders
    """,
)
def scalar_string_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String + date scalar functions in a pure projection (no shuffle)."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.upper("o_orderpriority").alias("pri_upper"),
        F.substring("o_orderpriority", 1, 1).alias("pri_code"),
        F.length("o_orderpriority").cast("long").alias("pri_len"),
        F.concat_ws("-", "o_orderstatus", "o_orderpriority").alias("status_pri"),
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.date_trunc("month", F.col("o_orderdate")).alias("order_month_start"),
    )


@register(
    "scalar_case_math",
    oracle=f"""
    SELECT size_class,
           COUNT(*) AS n,
           {sql_dsum('l_extendedprice')} AS sum_price,
           {sql_dsum('ABS(l_extendedprice * l_discount)')} AS sum_discount_amt,
           MIN(CAST(FLOOR(l_quantity / 10) AS BIGINT)) AS min_qty_decile,
           MAX(CAST(CEIL(l_quantity / 10) AS BIGINT)) AS max_qty_decile
    FROM (
      SELECT CASE WHEN l_quantity < 10 THEN 'small'
                  WHEN l_quantity < 35 THEN 'medium'
                  ELSE 'large' END AS size_class, *
      FROM lineitem
    ) GROUP BY size_class
    """,
)
def scalar_case_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN bucketing + math functions (abs/floor/ceil) + agg."""
    l = _t(spark, sf_dir, "lineitem")
    size_class = (
        F.when(F.col("l_quantity") < 10, "small")
        .when(F.col("l_quantity") < 35, "medium")
        .otherwise("large")
    )
    return (
        l.withColumn("size_class", size_class)
        .groupBy("size_class")
        .agg(
            F.count("*").alias("n"),
            dsum("l_extendedprice").alias("sum_price"),
            dsum(F.abs(F.col("l_extendedprice") * F.col("l_discount"))).alias(
                "sum_discount_amt"
            ),
            F.min(F.floor(F.col("l_quantity") / 10)).alias("min_qty_decile"),
            F.max(F.ceil(F.col("l_quantity") / 10)).alias("max_qty_decile"),
        )
    )


# ---------------------------------------------------------------------------
# Reference-parity projection: the §1 type map as a query
# ---------------------------------------------------------------------------

@register(
    "cast_align_orders",
    oracle="""
    SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
           CAST(o_custkey AS BIGINT) AS o_custkey,
           CAST(o_orderstatus AS VARCHAR) AS o_orderstatus,
           CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS o_totalprice,
           strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS o_orderdate,
           CAST(o_orderpriority AS VARCHAR) AS o_orderpriority
    FROM orders
    """,
)
def cast_align_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's cast-with-alias projection (its entire expression
    surface, load_postgres_from_spark_df.py:150-163) applied to orders
    against a Postgres-style target schema:
    bigint / numeric(12,2) / date / text.

    The decimal/date columns are re-cast to double/ISO-string in a final
    compare-facing projection: pandas fetches DuckDB DECIMAL as float64
    and DATE as datetime64 while Spark yields Decimal/date objects, so
    the raw types can never hash-match across engines even when every
    value is equal. The decimal(12,2)/date alignment itself is asserted
    in tests/test_schema_contract_properties.py. Both engines' decimal
    round-trip is exact here (fixture money has 2 decimal places) and
    the decimal->double conversion is correctly rounded in both.
    """
    from ..schema_contract import align_to_target

    o = _t(spark, sf_dir, "orders")
    target = {
        "o_orderkey": "bigint",
        "o_custkey": "bigint",
        "o_orderstatus": "text",
        "o_totalprice": "numeric(12,2)",
        "o_orderdate": "date",
        "o_orderpriority": "character varying(15)",
    }
    aligned = align_to_target(o, target)
    return aligned.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
        "o_orderpriority",
    )


# ---------------------------------------------------------------------------
# Exact percentiles + approximate sketches
# ---------------------------------------------------------------------------

@register(
    "agg_percentiles_by_status",
    oracle="""
    SELECT o_orderstatus,
           quantile_cont(o_totalprice, 0.25) AS p25,
           quantile_cont(o_totalprice, 0.5)  AS p50,
           quantile_cont(o_totalprice, 0.75) AS p75,
           quantile_cont(o_totalprice, 0.9)  AS p90
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def agg_percentiles_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation percentiles of order price per status.
    Spark's ``percentile`` and DuckDB's ``quantile_cont`` use the same
    interpolation and match bitwise (verified).

    All four quantiles go through ONE ``percentile(col, array(...))``
    aggregate: a separate aggregate per quantile ships a full copy of
    every group's values through the shuffle per quantile (the partial
    buffer IS the value multiset) — the array form ships one buffer,
    measured ~25% faster here and 4× less shuffle payload at scale.

    Scale note: exact percentile is a sort-based aggregate — at 100 TB
    switch to ``percentile_approx`` (see ``agg_approx_sketches``) whose
    GK sketch is mergeable map-side with bounded memory.
    """
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.expr("percentile(o_totalprice, array(0.25, 0.5, 0.75, 0.9))").alias("ps")
        )
        .select(
            "o_orderstatus",
            F.col("ps")[0].alias("p25"),
            F.col("ps")[1].alias("p50"),
            F.col("ps")[2].alias("p75"),
            F.col("ps")[3].alias("p90"),
        )
    )


@register(
    "agg_approx_sketches",
    oracle="""
    SELECT COUNT(DISTINCT l_partkey) AS exact_parts,
           TRUE AS approx_parts_ok,
           quantile_cont(l_extendedprice, 0.5) AS exact_median_price,
           TRUE AS approx_median_ok
    FROM lineitem
    """,
    tags=("contract",),
)
def agg_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate sketch aggregates, the 100 TB substitutes for their
    exact forms: HLL++ ``approx_count_distinct`` (vs COUNT DISTINCT's
    full shuffle of distinct keys) and GK ``percentile_approx`` (vs the
    sort-based exact percentile).

    Raw sketch values are engine-specific (Spark HLL++ vs DuckDB's own
    HLL) so they can never be value-compared; the differential instead
    asserts the sketch's ERROR CONTRACT against the oracle's exact
    values — ``approx_parts_ok`` (HLL within 3x its 0.05 rsd of the
    exact distinct count; rsd is a standard deviation, not a bound, so
    the contract uses the 3-sigma envelope — the same one
    tests/test_sketch_bounds.py asserts — to stay scale-factor-stable)
    and ``approx_median_ok`` (GK median between the
    exact 0.49/0.51 quantiles, i.e. within its 1/10000 rank accuracy)
    must come out TRUE, which the oracle states as literals. Tighter
    per-run bounds are asserted in tests/test_sketch_bounds.py.

    Registered with ``tags=("contract",)``: the exact countDistinct +
    percentile here exist ONLY to judge the sketches — at 100 TB the
    exact side is the scale-killer and production runs the sketch path
    alone. bench.py reports this query under ``contract_queries`` so
    its wall time reads as harness cost, not production cost.
    """
    l = _t(spark, sf_dir, "lineitem")
    # r16 restructure (same values, one plan defect removed): mixing the
    # DISTINCT count with the percentile aggregates in ONE agg made
    # Spark's distinct-rewrite group the percentile OBJECT BUFFERS by
    # l_partkey — the r15 plan audit shows 4 ObjectHashAggregates with
    # the first exchange shuffling a per-partkey percentile buffer (the
    # whole price multiset as serialized objects, keyed 20k ways).
    # Split the two sides: the partkey side dedups first (countDistinct
    # ≡ count over the distinct keys, and the HLL sketch is insertion-
    # idempotent so approx_count_distinct over the deduped keys is the
    # SAME sketch → same estimate), the price side aggregates globally
    # with no grouping. Both sides are 1-row; crossJoin reassembles.
    # Guide §2.3 (shuffle fewer bytes: longs instead of object buffers).
    dk = l.select("l_partkey").where(F.col("l_partkey").isNotNull()).distinct()
    approx_parts = F.approx_count_distinct("l_partkey")
    exact_parts = F.count("*").cast("long")
    parts = dk.agg(
        exact_parts.alias("exact_parts"),
        (
            F.abs(approx_parts.cast("double") - exact_parts.cast("double"))
            / exact_parts.cast("double")
            <= 0.15
        ).alias("approx_parts_ok"),
    )
    # one value-buffer for all three exact quantiles (see
    # agg_percentiles_by_status for why the array form matters)
    ps = F.expr("percentile(l_extendedprice, array(0.49, 0.5, 0.51))")
    prices = l.agg(
        ps.alias("ps"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("am"),
    )
    return parts.crossJoin(F.broadcast(prices)).select(
        "exact_parts",
        "approx_parts_ok",
        F.col("ps")[1].alias("exact_median_price"),
        F.col("am").between(F.col("ps")[0], F.col("ps")[2]).alias("approx_median_ok"),
    )


@register(
    "agg_stats_moments",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS s1,
           CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS s2,
           (CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,6))) AS DOUBLE)
            - CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE)
              * CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*))
           / (COUNT(*) - 1) AS var_qty,
           (CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
            - CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE)
              * CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*))
           / (COUNT(*) - 1) AS covar_qty_price
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def agg_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical moments (variance, covariance) computed from exact
    decimal power sums rather than ``var_samp``/``covar_samp`` — the
    engine-native streaming estimators (Welford) are order-dependent in
    float and would never hash-match across engines; sums of decimals
    are exact and order-free, so the assembled moments are bit-identical.
    Map-side partial aggregation still applies (sums are commutative).
    """
    l = _t(spark, sf_dir, "lineitem")
    n = F.count("*")
    s1 = dsum("l_quantity")
    s2 = dsum(F.col("l_quantity") * F.col("l_quantity"))
    sp = dsum(F.col("l_extendedprice"))
    sxy = dsum(F.col("l_quantity") * F.col("l_extendedprice"))
    return (
        l.groupBy("l_returnflag")
        .agg(
            n.alias("n"),
            s1.alias("s1"),
            s2.alias("s2"),
            ((s2 - s1 * s1 / n) / (n - F.lit(1))).alias("var_qty"),
            ((sxy - s1 * sp / n) / (n - F.lit(1))).alias("covar_qty_price"),
        )
    )


@register(
    "scalar_higher_order_array",
    oracle="""
    SELECT o_orderkey, n_big, total_qty,
           CAST(unnest(range(len(qtys))) AS INTEGER) AS pos,
           unnest(qtys) AS qty,
           unnest(doubled) AS doubled
    FROM (
      SELECT o_orderkey,
             qtys,
             len(list_filter(qtys, q -> q >= 25.0)) AS n_big,
             CAST(list_reduce(list_prepend(CAST(0 AS DECIMAL(38,6)),
                  list_transform(qtys, q -> CAST(q AS DECIMAL(38,6)))),
                  (acc, q) -> acc + q) AS DOUBLE) AS total_qty,
             list_transform(qtys, q -> q * 2.0) AS doubled
      FROM (
        SELECT l_orderkey AS o_orderkey,
               list_sort(list(l_quantity)) AS qtys
        FROM lineitem
        GROUP BY l_orderkey
      )
      WHERE o_orderkey % 100 = 0
    )
    """,
)
def scalar_higher_order_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions over per-order quantity vectors:
    ``filter`` (count over predicate), ``aggregate`` (exact decimal
    fold), ``transform`` (elementwise map). The array is assembled with
    ``array_sort(collect_list(...))`` so both engines fold identical
    sequences; the fold accumulates in decimal so the total is exact.

    The compare-facing output posexplodes the (qty, doubled) arrays to
    scalar rows — array columns crash pandas-based canonicalizers
    (unhashable lists), so the driver compare sees only scalars. The
    higher-order transform/filter/aggregate still run over the arrays
    (both here and in the oracle's list_* functions).
    """
    l = _t(spark, sf_dir, "lineitem")
    per_order = (
        l.groupBy(F.col("l_orderkey").alias("o_orderkey"))
        .agg(F.array_sort(F.collect_list("l_quantity")).alias("qtys"))
        .filter(F.col("o_orderkey") % 100 == 0)
        .select(
            "o_orderkey",
            "qtys",
            F.size(F.filter("qtys", lambda q: q >= 25.0)).cast("long").alias("n_big"),
            F.aggregate(
                "qtys",
                F.lit(0).cast(DEC),
                lambda acc, q: acc + q.cast(DEC),
            ).cast("double").alias("total_qty"),
            F.transform("qtys", lambda q: q * 2.0).alias("doubled"),
        )
    )
    return per_order.select(
        "o_orderkey",
        "n_big",
        "total_qty",
        F.posexplode(F.arrays_zip("qtys", "doubled")).alias("pos", "z"),
    ).select(
        "o_orderkey",
        "n_big",
        "total_qty",
        "pos",
        F.col("z.qtys").alias("qty"),
        F.col("z.doubled").alias("doubled"),
    )


@register(
    "agg_unpivot_metrics",
    oracle="""
    SELECT l_returnflag, metric, CAST(val AS DOUBLE) AS val
    FROM (
      SELECT l_returnflag,
             CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price,
             CAST(SUM(CAST(l_discount AS DECIMAL(38,6))) AS DOUBLE) AS sum_disc
      FROM lineitem GROUP BY l_returnflag
    ) UNPIVOT (val FOR metric IN (sum_qty, sum_price, sum_disc))
    """,
)
def agg_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshape (``unpivot``/melt, the inverse of pivot): one
    row per (group, metric). The unpivot is a zero-shuffle Expand over
    the already-aggregated (tiny) wide table."""
    l = _t(spark, sf_dir, "lineitem")
    wide = l.groupBy("l_returnflag").agg(
        dsum("l_quantity").alias("sum_qty"),
        dsum("l_extendedprice").alias("sum_price"),
        dsum("l_discount").alias("sum_disc"),
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["sum_qty", "sum_price", "sum_disc"],
        variableColumnName="metric",
        valueColumnName="val",
    )


@register(
    "window_range_frame_spend",
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) OVER w AS DOUBLE)
             AS trailing_14d_spend,
           COUNT(*) OVER w AS trailing_14d_orders
    FROM orders
    WINDOW w AS (
      PARTITION BY o_custkey
      ORDER BY epoch(o_orderdate)
      RANGE BETWEEN 1209600 PRECEDING AND CURRENT ROW
    )
    """,
)
def window_range_frame_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window (value range, not row count): each order's
    trailing 14-day spend/count for its customer. Unlike a ROWS frame,
    ties and gaps in time are handled by VALUE distance — the frame is
    'orders within 1,209,600 seconds', however many rows that is. One
    shuffle on the partition key; per-partition sort + sliding frame.
    """
    from pyspark.sql.window import Window

    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-14 * 86400, 0)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.sum(F.col("o_totalprice").cast(DEC)).over(w).cast("double").alias(
            "trailing_14d_spend"
        ),
        F.count("*").over(w).alias("trailing_14d_orders"),
    )


# ---------------------------------------------------------------------------
# Round-2 coverage widening: full-outer join, multiset set ops,
# distribution window functions, null semantics, ordered string agg
# ---------------------------------------------------------------------------

@register(
    "join_full_outer_event_coverage",
    oracle="""
    SELECT COALESCE(e.user_id, c.c_custkey) AS id,
           CAST(COALESCE(e.n_events, 0) AS BIGINT) AS n_events,
           COALESCE(c.c_acctbal, 0.0) AS acctbal,
           CASE WHEN c.c_custkey IS NULL THEN 'event_only'
                WHEN e.user_id IS NULL THEN 'customer_only'
                ELSE 'both' END AS presence
    FROM (SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id) e
    FULL OUTER JOIN (SELECT c_custkey, c_acctbal FROM customer
                     WHERE c_custkey % 2 = 0) c
      ON e.user_id = c.c_custkey
    """,
)
def join_full_outer_event_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join (the one §2c join shape not yet registered):
    event activity vs an even-keyed customer slice, classifying rows as
    both/event_only/customer_only. All output columns are COALESCEd so
    the compare surface carries no nulls (null ints degrade to float64
    differently per engine's pandas bridge). One shuffle per side on the
    join key; unmatched rows stream through without materializing nulls
    beyond the join itself.
    """
    from ..tables import load_table as _lt

    e = (
        _lt(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"))
    )
    c = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 2 == 0)
        .select("c_custkey", "c_acctbal")
    )
    j = e.join(c, e.user_id == c.c_custkey, "full_outer")
    return j.select(
        F.coalesce("user_id", "c_custkey").alias("id"),
        F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
        F.coalesce("c_acctbal", F.lit(0.0)).alias("acctbal"),
        F.when(F.col("c_custkey").isNull(), "event_only")
        .when(F.col("user_id").isNull(), "customer_only")
        .otherwise("both")
        .alias("presence"),
    )


@register(
    "setop_intersect_except_all",
    oracle="""
    SELECT 'intersect_all' AS op, o_orderpriority, o_orderstatus FROM (
      SELECT o_orderpriority, o_orderstatus FROM orders WHERE o_orderkey % 3 = 0
      INTERSECT ALL
      SELECT o_orderpriority, o_orderstatus FROM orders WHERE o_orderkey % 3 = 1
    )
    UNION ALL
    SELECT 'except_all' AS op, o_orderpriority, o_orderstatus FROM (
      SELECT o_orderpriority, o_orderstatus FROM orders WHERE o_orderkey % 3 = 0
      EXCEPT ALL
      SELECT o_orderpriority, o_orderstatus FROM orders WHERE o_orderkey % 3 = 1
    )
    """,
)
def setop_intersect_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset set operations (``intersectAll``/``exceptAll`` — bag
    semantics with duplicate counts, vs the distinct-set ``setop_*``
    queries): both compile to a count-compare aggregation on the row
    value, one shuffle each, no O(n^2) anti-join expansion.
    """
    a = _t(spark, sf_dir, "orders").filter(F.expr("o_orderkey % 3 = 0")).select(
        "o_orderpriority", "o_orderstatus"
    )
    b = _t(spark, sf_dir, "orders").filter(F.expr("o_orderkey % 3 = 1")).select(
        "o_orderpriority", "o_orderstatus"
    )
    inter = a.intersectAll(b).select(
        F.lit("intersect_all").alias("op"), "o_orderpriority", "o_orderstatus"
    )
    exc = a.exceptAll(b).select(
        F.lit("except_all").alias("op"), "o_orderpriority", "o_orderstatus"
    )
    return inter.unionByName(exc)


@register(
    "window_distribution_funcs",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           CAST(ntile(4) OVER w AS INTEGER) AS price_quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume,
           first_value(o_orderkey) OVER w2 AS cheapest_key,
           last_value(o_orderkey) OVER w2 AS priciest_key
    FROM orders
    WHERE o_orderkey % 50 = 0
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey),
           w2 AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def window_distribution_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (ntile/percent_rank/cume_dist) plus
    whole-partition first/last_value with an explicit unbounded ROWS
    frame (the default frame stops at CURRENT ROW, which silently makes
    last_value ≡ current row — a classic correctness trap). percent_rank
    = (rank-1)/(n-1) is an exact double both engines compute identically;
    the o_orderkey tie-break makes every rank deterministic.
    """
    from pyspark.sql.window import Window

    o = _t(spark, sf_dir, "orders").filter(F.expr("o_orderkey % 50 = 0"))
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    w2 = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        F.ntile(4).over(w).alias("price_quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.first("o_orderkey").over(w2).alias("cheapest_key"),
        F.last("o_orderkey").over(w2).alias("priciest_key"),
    )


@register(
    "scalar_null_semantics",
    oracle="""
    SELECT status_filled, null_safe_open, COUNT(*) AS n
    FROM (
      SELECT COALESCE(NULLIF(o_orderstatus, 'O'), 'OPEN') AS status_filled,
             NULLIF(o_orderstatus, 'O') IS NOT DISTINCT FROM CAST(NULL AS VARCHAR)
               AS null_safe_open
      FROM orders
    )
    GROUP BY status_filled, null_safe_open
    """,
)
def scalar_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-handling semantics: NULLIF / COALESCE and the null-safe
    equality operator (Spark ``<=>`` ≡ SQL ``IS NOT DISTINCT FROM``) —
    the three-valued-logic corners an engine must get right for WHERE
    vs JOIN vs GROUP BY null behavior. Aggregated so the compare
    surface is null-free.
    """
    o = _t(spark, sf_dir, "orders")
    return (
        o.select(
            F.coalesce(F.expr("nullif(o_orderstatus, 'O')"), F.lit("OPEN")).alias(
                "status_filled"
            ),
            F.expr("nullif(o_orderstatus, 'O') <=> cast(null as string)").alias(
                "null_safe_open"
            ),
        )
        .groupBy("status_filled", "null_safe_open")
        .agg(F.count("*").alias("n"))
    )


@register(
    "agg_string_concat",
    oracle="""
    SELECT r.r_name,
           string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations,
           COUNT(*) AS n_nations
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def agg_string_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG/string_agg): per region, the
    comma-joined sorted nation list. ``collect_list`` order is partition
    -dependent, so the deterministic form is array_sort before the join
    — same reason the oracle's string_agg carries ORDER BY. The region
    dim is broadcast (bounded reference data)."""
    n = _t(spark, sf_dir, "nation")
    r = F.broadcast(_t(spark, sf_dir, "region"))
    return (
        n.join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_list("n_name"))).alias("nations"),
            F.count("*").alias("n_nations"),
        )
    )


@register(
    "scalar_regexp_datetime",
    oracle="""
    SELECT o_orderkey,
           regexp_extract(o_orderpriority, '^([0-9]+)', 1) AS pri_num,
           regexp_matches(o_orderpriority, 'HIGH|URGENT') AS is_hot,
           CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31')
                AS INTEGER) AS days_to_eoy,
           strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
           strftime(CAST(o_orderdate AS DATE) + 90, '%Y-%m-%d') AS followup_date,
           CAST(date_part('quarter', o_orderdate) AS INTEGER) AS q
    FROM orders
    WHERE o_orderkey % 40 = 0
    """,
)
def scalar_regexp_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex extraction/matching + calendar arithmetic (datediff,
    last_day, date_add, quarter) — the scalar surface an ETL date/text
    normalization pass needs, all codegen'd JVM expressions in a pure
    projection (no shuffle; the modulus filter is pushed to the scan).
    Dates are ISO-strings in the compare surface (date objects vs
    datetime64 can't hash-match across pandas bridges)."""
    o = _t(spark, sf_dir, "orders").filter(F.expr("o_orderkey % 40 = 0"))
    d = F.to_date("o_orderdate")
    return o.select(
        "o_orderkey",
        F.regexp_extract("o_orderpriority", r"^([0-9]+)", 1).alias("pri_num"),
        F.col("o_orderpriority").rlike("HIGH|URGENT").alias("is_hot"),
        F.datediff(F.lit("1998-12-31").cast("date"), d).alias("days_to_eoy"),
        F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
        F.date_format(F.date_add(d, 90), "yyyy-MM-dd").alias("followup_date"),
        F.quarter("o_orderdate").alias("q"),
    )


@register(
    "agg_bitwise_flags",
    oracle="""
    SELECT o_orderstatus,
           CAST(bit_and(o_orderkey % 256) AS BIGINT) AS flags_and,
           CAST(bit_or(o_orderkey % 256) AS BIGINT) AS flags_or,
           CAST(bit_xor(o_orderkey % 256) AS BIGINT) AS flags_xor,
           COUNT(*) AS n
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_bitwise_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregate functions (bit_and/bit_or/bit_xor) over a
    derived flag byte — the idiom for folding permission/feature
    bitmasks. Fully commutative/associative, so map-side partial
    aggregation applies like any sum."""
    o = _t(spark, sf_dir, "orders")
    flags = F.expr("o_orderkey % 256")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.expr("bit_and(o_orderkey % 256)").cast("long").alias("flags_and"),
            F.expr("bit_or(o_orderkey % 256)").cast("long").alias("flags_or"),
            F.expr("bit_xor(o_orderkey % 256)").cast("long").alias("flags_xor"),
            F.count("*").alias("n"),
        )
    )


@register(
    "scalar_explode_outer_arrays",
    oracle="""
    SELECT o_orderkey, COALESCE(qty, -1.0) AS qty, n_items
    FROM (
      SELECT o.o_orderkey,
             l.qtys,
             CAST(COALESCE(len(l.qtys), -1) AS BIGINT) AS n_items
      FROM orders o
      LEFT JOIN (SELECT l_orderkey, list_sort(list(l_quantity)) AS qtys
                 FROM lineitem WHERE l_quantity >= 49 GROUP BY l_orderkey) l
        ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderkey % 200 = 0
    ) LEFT JOIN LATERAL (SELECT unnest(qtys) AS qty) u ON TRUE
    """,
)
def scalar_explode_outer_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``explode_outer``: lateral array fan-out that PRESERVES rows with
    empty/null arrays (plain explode silently drops them — the classic
    row-loss trap when a fraction of rows lack the nested data). Orders
    with no qualifying big-quantity items survive with a -1 sentinel.
    Compare surface is null-free; n_items counts the exploded arity.
    """
    o = _t(spark, sf_dir, "orders").filter(F.expr("o_orderkey % 200 = 0"))
    l = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 49)
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_list("l_quantity")).alias("qtys"))
    )
    j = o.join(l, o.o_orderkey == l.l_orderkey, "left").select(
        "o_orderkey",
        "qtys",
        F.coalesce(F.size("qtys"), F.lit(-1)).alias("n_items_raw"),
    )
    return j.select(
        "o_orderkey",
        F.explode_outer("qtys").alias("qty_raw"),
        "n_items_raw",
    ).select(
        "o_orderkey",
        F.coalesce("qty_raw", F.lit(-1.0)).alias("qty"),
        F.col("n_items_raw").cast("long").alias("n_items"),
    )


@register(
    "agg_rollup_grouping_id",
    oracle="""
    SELECT COALESCE(l_returnflag, '<all>') AS returnflag,
           COALESCE(l_linestatus, '<all>') AS linestatus,
           CAST(grouping(l_returnflag) AS INTEGER) AS g_flag,
           CAST(grouping(l_linestatus) AS INTEGER) AS g_status,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
)
def agg_rollup_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with ``grouping()`` indicators — the only correct way to
    tell a subtotal row's NULL from a data NULL (coalescing alone would
    conflate them). grouping() is metadata from the Expand operator, so
    this costs nothing beyond the rollup itself."""
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
            F.count("*").alias("n"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("<all>")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("<all>")).alias("linestatus"),
            "g_flag",
            "g_status",
            "n",
        )
    )


# ---------------------------------------------------------------------------
# Round-3 TPC-H-pattern additions (the fixture schema's subset of the
# classic suite — each one exercises a distinct plan pattern)
# ---------------------------------------------------------------------------

@register(
    "q6_revenue_forecast",
    oracle=f"""
    SELECT {sql_dsum('l_extendedprice * l_discount')} AS revenue,
           COUNT(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 pattern: pure scan-filter-aggregate, zero joins. The
    whole query is one codegen stage: all three predicates push into
    the parquet scan (shipdate as min/max row-group stats pruning),
    only 4 of 11 columns are read, and the single global aggregate is
    a partial-then-final pair with no data shuffle beyond one row per
    partition. The 100 TB cost is exactly "read the pruned scan once".
    """
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.03, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
            F.count("*").alias("n"),
        )
    )


@register(
    "q13_customer_order_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o
        ON o.o_custkey = c.c_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 pattern: the order-count distribution over customers,
    including zero-order customers — the LEFT join with a predicate ON
    the join (not a WHERE, which would silently turn it inner). Two
    aggregations: per-customer count (shuffles on custkey — same key as
    the join, so AQE reuses the partitioning), then the tiny
    distribution aggregate over distinct counts.
    """
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@register(
    "q14_promo_revenue_share",
    oracle=f"""
    SELECT 100.0 * {sql_dsum("CASE WHEN p.p_type = 'PROMO' THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END")}
             / {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS promo_revenue_pct,
           {sql_dsum("CASE WHEN p.p_type = 'PROMO' THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END")} AS promo_revenue,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS total_revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
    """,
)
def q14_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 pattern: promo revenue share for one month. The part
    dimension broadcasts (no fact shuffle); the conditional aggregate
    is a single pass — both sums come out of one partial-agg pipeline,
    and the percentage is a driver-free scalar division of two exact
    decimal sums (deterministic across engines).
    """
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg(
            dsum(promo).alias("promo_revenue"),
            dsum(rev).alias("total_revenue"),
        )
        .select(
            (F.lit(100.0) * F.col("promo_revenue") / F.col("total_revenue")).alias(
                "promo_revenue_pct"
            ),
            "promo_revenue",
            "total_revenue",
        )
    )


@register(
    "q19_disjunctive_predicates",
    oracle=f"""
    SELECT {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           COUNT(*) AS n
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 20 AND 50
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 pattern: OR-of-ANDs across both join sides. Catalyst
    cannot push the cross-side disjunction below the join, but it DOES
    derive and push the single-side implications (brand IN (...) on the
    part scan, quantity ranges on the lineitem scan) — the test for a
    planner is that the scans are pre-filtered even though the full
    predicate must evaluate post-join. Part stays broadcast.
    """
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    band = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#13") & F.col("p_size").between(10, 30)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(20, 50)
           & F.col("l_quantity").between(20, 30))
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .filter(band)
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count("*").alias("n"),
        )
    )


@register(
    "q22_idle_rich_customers",
    oracle=f"""
    WITH avg_bal AS (
      SELECT {sql_davg('c_acctbal')} AS a FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c.c_mktsegment,
           COUNT(*) AS numcust,
           {sql_dsum('c.c_acctbal')} AS totacctbal
    FROM customer c
    WHERE c.c_acctbal > (SELECT a FROM avg_bal)
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderdate >= TIMESTAMP '1998-06-01 00:00:00')
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
)
def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 pattern: above-average-balance customers idle since
    mid-1998, grouped by segment. Two decorrelations in one query: the
    scalar AVG subquery becomes a 1-row broadcast cross join (computed
    once, never per-row), and NOT EXISTS becomes a LEFT ANTI join on
    the (deduplicated, broadcastable) recently-ordering customer key
    set. The customer table scans twice but shuffles zero times.
    (The fixture generator gives every customer at least one order, so
    the classic never-ordered predicate matches nothing at any sf — the
    date-bounded variant keeps the exact plan shape while the driver's
    value compare exercises real rows.)
    """
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        davg("c_acctbal").alias("a")
    )
    buyers = (
        o.filter(F.col("o_orderdate") >= F.lit("1998-06-01 00:00:00").cast("timestamp"))
        .select("o_custkey")
        .distinct()
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("a"))
        .join(buyers, c.c_custkey == buyers.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("numcust"),
            dsum("c_acctbal").alias("totacctbal"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "agg_corr_qty_price",
    oracle="""
    WITH d AS (
      -- DECIMAL(19,6), not (18,6): DuckDB multiplies width-18 decimals
      -- in int64 and overflows on price*price; width 19 forces hugeint.
      -- Spark keeps (18,6) (its product rules already promote exactly);
      -- the VALUES are identical either way.
      SELECT l_returnflag,
             CAST(l_quantity AS DECIMAL(19,6)) AS qx,
             CAST(l_extendedprice AS DECIMAL(19,6)) AS qy
      FROM lineitem
    ),
    s AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(qx) AS DOUBLE) AS sx,
             CAST(SUM(qy) AS DOUBLE) AS sy,
             CAST(SUM(qx * qy) AS DOUBLE) AS sxy,
             CAST(SUM(qx * qx) AS DOUBLE) AS sxx,
             CAST(SUM(qy * qy) AS DOUBLE) AS syy
      FROM d GROUP BY l_returnflag
    )
    SELECT l_returnflag, CAST(n AS BIGINT) AS n,
           ROUND((n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 9) AS corr_qp
    FROM s ORDER BY l_returnflag
    """,
)
def agg_corr_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation per group WITHOUT the built-in ``corr``:
    Spark's corr folds doubles in partition order (run-to-run stable but
    engine-divergent), so the moments are accumulated as exact
    DECIMAL(38,6) sums — order-independent — and the final correlation
    is assembled per-group from those exact values with pinned operand
    order (every +,-,*,/,sqrt is IEEE-correctly-rounded, so both
    engines produce the same bits). One shuffle; partial aggregation
    map-side; the assembly runs on G rows, not N.

    Moment subtlety: products are formed in DECIMAL (factor-cast THEN
    multiply), never cast from a computed double — a ~1e10 double's 6th
    decimal lies beyond its 17 significant digits, and the engines'
    double->decimal conversions disagree out there (observed: syy
    differing at the 1e-4 digit, amplified ~1e5x by the cancellation in
    the corr numerator)."""
    l = _t(spark, sf_dir, "lineitem")
    dec = "decimal(18,6)"
    d = l.select(
        "l_returnflag",
        F.col("l_quantity").cast(dec).alias("qx"),
        F.col("l_extendedprice").cast(dec).alias("qy"),
    )
    s = d.groupBy("l_returnflag").agg(
        F.count("*").cast("double").alias("n"),
        F.sum("qx").cast("double").alias("sx"),
        F.sum("qy").cast("double").alias("sy"),
        F.sum(F.col("qx") * F.col("qy")).cast("double").alias("sxy"),
        F.sum(F.col("qx") * F.col("qx")).cast("double").alias("sxx"),
        F.sum(F.col("qy") * F.col("qy")).cast("double").alias("syy"),
    )
    corr = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return s.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n"),
        # round to 9 decimals: the exact-decimal moments agree
        # bit-for-bit, but each engine's decimal->double conversion of
        # 16+-digit values can differ in the last ulp (~1e-16) - far
        # below the 1e-9 compare surface
        F.round(corr, 9).alias("corr_qp"),
    )


# ---------------------------------------------------------------------------
# Mergeable-sketch rollup (hierarchical distinct counts, datasketches HLL)
# ---------------------------------------------------------------------------


@register(
    "rollup_hll_mergeable",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
           TRUE AS merged_estimate_ok
    FROM events
    GROUP BY event_type
    """,
    tags=("contract",),
)
def rollup_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical distinct counts via MERGEABLE sketches: per
    (event_type, day) HLL sketches (``hll_sketch_agg``, Apache
    DataSketches) are unioned up to per-event_type totals with
    ``hll_union_agg`` — distinct-count rollup without re-touching raw
    rows, which is THE 100 TB pattern (daily sketch partials persist
    a few KB each; any ad-hoc grain — week, month, all-time — is a
    sketch union over partials, never a rescan; ``approx_count_distinct``
    sketches, by contrast, are consumed inside one aggregation and
    can't be stored or re-merged).

    Like ``agg_approx_sketches``, raw sketch bytes are engine-specific,
    so the differential pins the ERROR CONTRACT: the merged estimate
    must land within a 10 % envelope — ~6 sigma of HLL at lgConfigK=12
    (rsd = 1.04/sqrt(2^12) ≈ 1.6 %) — which the oracle states as a
    literal TRUE next to the exact values. The envelope is deliberately
    wider than the 3-sigma (~4.9 %) statistical bound because the
    estimate is DETERMINISTIC per dataset and fixtures regenerate
    between rounds: a group whose error landed between 3 and 6 sigma
    would hash-fail with no way to observe it beforehand (measured max
    error across sf0.001/0.01/0.1 fixtures: 0.8 %). The exact
    countDistinct branch exists only for this differential — production
    keeps the sketch path alone.
    """
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id", 12).alias("sk")
    )
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk", False)).alias("est"),
        F.countDistinct("day").cast("long").alias("n_days"),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("exact_users")
    )
    tol = 0.10  # ~6 sigma at lgK=12; see docstring (fixture-regen safety)
    return merged.join(exact, "event_type").select(
        "event_type",
        "exact_users",
        "n_days",
        (
            F.abs(F.col("est").cast("double") - F.col("exact_users").cast("double"))
            / F.col("exact_users").cast("double")
            <= F.lit(tol)
        ).alias("merged_estimate_ok"),
    )


# ---------------------------------------------------------------------------
# ANSI-mode error-safe scalar functions (try_*)
# ---------------------------------------------------------------------------


@register(
    "scalar_try_ansi_safe",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_discount = 0 THEN NULL
                ELSE l_extendedprice / l_discount END AS safe_ratio,
           TRY_CAST(CASE WHEN l_orderkey % 991 = 0
                         THEN l_returnflag
                         ELSE CAST(l_orderkey AS VARCHAR) END
                    AS BIGINT) AS maybe_int,
           CASE WHEN l_orderkey % 997 = 0
                THEN CASE WHEN l_orderkey = 0
                          THEN 9223372036854775807 ELSE NULL END
                ELSE l_orderkey END AS guarded_overflow,
           (range(1, l_linenumber + 1))[3] AS third_or_null
    FROM lineitem
    """,
)
def scalar_try_ansi_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe scalar functions under ANSI mode (Spark 4 default):
    ``try_divide`` (÷0 → NULL instead of DIVIDE_BY_ZERO), ``try_cast``
    (unparseable → NULL), ``try_add`` (bigint overflow → NULL),
    ``try_element_at`` (out-of-range → NULL). Poison inputs are
    injected on ~0.1 % of rows (``l_orderkey % 991/997``) so both
    outcomes occur at every scale factor. The oracle phrases the same
    semantics with guards/TRY_CAST/list indexing — DuckDB's own
    out-of-range and cast-failure behavior is already NULL.

    Perf note (measured, sf0.1): each failing ``try_cast``/``try_add``
    row costs a caught JVM exception — an all-rows-failing variant ran
    ~100× slower than this one (11 s vs 0.1 s for the try_add column
    alone). ``try_*`` is the right tool when poison rows are RARE (one
    bad row must not kill a 1000-executor stage); at high failure
    rates, express the guard as a CASE predicate instead, which stays
    branch-only inside codegen. Pure projection, zero shuffles."""
    l = _t(spark, sf_dir, "lineitem")
    maybe_str = F.when(
        F.col("l_orderkey") % 991 == 0, F.col("l_returnflag")
    ).otherwise(F.col("l_orderkey").cast("string"))
    # overflows (→ NULL) only on the %997 rows with l_orderkey > 0:
    # MAX - orderkey + orderkey == MAX exactly at orderkey == 0
    big = F.when(
        F.col("l_orderkey") % 997 == 0, F.lit(9223372036854775807)
    ).otherwise(F.lit(0))
    return l.select(
        "l_orderkey",
        "l_linenumber",
        F.try_divide("l_extendedprice", "l_discount").alias("safe_ratio"),
        maybe_str.try_cast("bigint").alias("maybe_int"),
        F.when(F.col("l_orderkey") % 997 == 0, F.try_add(big, F.col("l_orderkey")))
        .otherwise(F.col("l_orderkey"))
        .alias("guarded_overflow"),
        F.try_element_at(
            F.sequence(F.lit(1), F.col("l_linenumber")), F.lit(3)
        ).alias("third_or_null"),
    )


# ---------------------------------------------------------------------------
# Equi-depth histogram (broadcast quantile bounds, no global sort)
# ---------------------------------------------------------------------------


@register(
    "agg_histogram_equidepth",
    oracle="""
    WITH b AS (
      SELECT quantile_cont(o_totalprice,
               [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bounds
      FROM orders
    )
    SELECT len(list_filter(b.bounds, x -> x <= o.o_totalprice)) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(o.o_totalprice) AS lo,
           MAX(o.o_totalprice) AS hi
    FROM orders o CROSS JOIN b
    GROUP BY 1
    """,
)
def agg_histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equal-frequency) 10-bucket histogram of order
    totals — the optimizer-statistics / data-profiling shape. The
    naive form is ``NTILE(10) OVER (ORDER BY price)``: a GLOBAL sort
    through one window partition, hopeless at 100 TB. Instead the nine
    decile bounds come from ONE exact-percentile aggregation (a 1-row
    broadcast), and bucket assignment is a map-side count of bounds ≤
    value over the broadcast array — scan-speed, one small aggregate
    shuffle for the per-bucket stats. Spark ``percentile`` / DuckDB
    ``quantile_cont`` interpolation is the pairing the percentile
    operators already pin as bit-compatible; the bucket id is an exact
    integer comparison count, so ties land identically. At unbounded
    cardinality swap the bounds source for ``percentile_approx``
    (identical downstream shape)."""
    o = _t(spark, sf_dir, "orders")
    bounds = o.agg(
        F.expr(
            "percentile(o_totalprice,"
            " array(0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9))"
        ).alias("bounds")
    )
    return (
        o.crossJoin(F.broadcast(bounds))
        .select(
            F.size(
                F.filter("bounds", lambda x: x <= F.col("o_totalprice"))
            ).alias("bucket"),
            "o_totalprice",
        )
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
    )
