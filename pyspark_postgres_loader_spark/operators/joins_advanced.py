"""Advanced join operators the reference lacks entirely (SURVEY.md §2c:
"None implemented in the engine") and Spark has no single built-in for:
as-of joins, range/interval joins, skew-salted joins, and correlated
subquery patterns (EXISTS / scalar) expressed as decorrelated joins.

Scale notes (100 TB design):
- The as-of join is NOT an inequality join (which would be a
  broadcast-nested-loop or O(n·m)-per-key sort-merge): both sides are
  unioned and sorted once per key by a single window — one shuffle on
  the key, linear scan per partition. This is the standard
  "union + last(ignorenulls)" streaming-merge formulation.
- The range join broadcasts the (tiny, bounded) band dimension; the
  fact side never shuffles.
- The salted join demonstrates explicit skew mitigation: the dimension
  is replicated ``_SALT`` ways and the fact side picks a deterministic
  salt, so one hot key spreads over ``_SALT`` reducers. (AQE skew-join
  handles this adaptively; the salted form is the portable/static
  variant and the result is bit-identical to the plain join.)
- EXISTS/scalar subqueries are written as semi joins / agg-joins —
  exactly the decorrelation Catalyst would do, stated explicitly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.deterministic import davg, dsum, sql_davg, sql_dsum
from ..functions.planctl import spread as _spread
from ..registry import register
from ..tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# As-of join: each event matched to the customer's latest prior order
# ---------------------------------------------------------------------------

@register(
    "join_asof_latest_order",
    oracle="""
    SELECT event_id, user_id, ts, asof_orderkey, asof_totalprice
    FROM (
      SELECT e.event_id, e.user_id, e.ts,
             o.o_orderkey AS asof_orderkey, o.o_totalprice AS asof_totalprice,
             ROW_NUMBER() OVER (
               PARTITION BY e.event_id
               ORDER BY o.o_orderdate DESC, o.o_orderkey DESC
             ) AS rn
      FROM events e
      LEFT JOIN orders o
        ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
    ) WHERE rn = 1
    """,
)
def join_asof_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (point-in-time) join: for every event, the latest order of
    the same customer with ``o_orderdate <= ts`` (ties broken by highest
    o_orderkey); events with no prior order keep NULLs.

    Implementation is the scalable union+window merge, not an
    inequality join: tag both sides, sort each user's timeline once
    (orders before events at equal timestamps, ascending o_orderkey so
    the LAST seen wins ties), and carry order attributes forward with
    ``last(..., ignorenulls=True)``. One shuffle on the key; per-key
    cost is linear — survives 100× scale where a range join would not.
    """
    e = _t(spark, sf_dir, "events").select(
        F.col("user_id").alias("k"),
        F.col("ts").alias("t"),
        F.lit(1).alias("is_event"),
        "event_id",
        F.lit(None).cast("bigint").alias("o_orderkey"),
        F.lit(None).cast("double").alias("o_totalprice"),
    )
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("t"),
        F.lit(0).alias("is_event"),
        F.lit(None).cast("bigint").alias("event_id"),
        "o_orderkey",
        "o_totalprice",
    )
    # at equal t: orders (is_event=0) sort first → inclusive <=;
    # among equal-t orders: ascending o_orderkey → last() takes the max
    w = (
        Window.partitionBy("k")
        .orderBy("t", "is_event", F.asc_nulls_first("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = e.unionByName(o).select(
        "k",
        "t",
        "is_event",
        "event_id",
        F.last("o_orderkey", ignorenulls=True).over(w).alias("asof_orderkey"),
        F.last("o_totalprice", ignorenulls=True).over(w).alias("asof_totalprice"),
    )
    return merged.filter(F.col("is_event") == 1).select(
        "event_id",
        F.col("k").alias("user_id"),
        F.col("t").alias("ts"),
        "asof_orderkey",
        "asof_totalprice",
    )


# ---------------------------------------------------------------------------
# Range (interval) join: orders into non-uniform price bands
# ---------------------------------------------------------------------------

_BANDS = [
    ("budget", 0.0, 50_000.0),
    ("mid", 50_000.0, 150_000.0),
    ("premium", 150_000.0, 300_000.0),
    ("luxury", 300_000.0, 1e18),
]

_BANDS_SQL = ", ".join(f"('{n}', {lo}, {hi})" for n, lo, hi in _BANDS)


@register(
    "join_range_price_band",
    oracle=f"""
    SELECT band, COUNT(*) AS n_orders, {sql_dsum('o_totalprice')} AS sum_price
    FROM orders
    JOIN (VALUES {_BANDS_SQL}) AS bands(band, lo, hi)
      ON o_totalprice >= lo AND o_totalprice < hi
    GROUP BY band
    ORDER BY band
    """,
)
def join_range_price_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range/interval join: each order lands in the price band whose
    [lo, hi) interval contains it; aggregate per band.

    The band table is bounded reference data → broadcast; the fact side
    streams map-side through a broadcast nested-loop with the range
    predicate and never shuffles before the (tiny) final aggregation.
    For equal-width bands this would collapse to a pure projection
    (``floor(price/width)``) — kept as a real interval join because the
    bands are non-uniform.
    """
    o = _spread(_t(spark, sf_dir, "orders"))
    bands = spark.createDataFrame(_BANDS, "band string, lo double, hi double")
    return (
        o.join(
            F.broadcast(bands),
            (F.col("o_totalprice") >= F.col("lo")) & (F.col("o_totalprice") < F.col("hi")),
        )
        .groupBy("band")
        .agg(
            F.count("*").alias("n_orders"),
            dsum("o_totalprice").alias("sum_price"),
        )
    )


# ---------------------------------------------------------------------------
# Skew-salted join: static salting, bit-identical to the plain join
# ---------------------------------------------------------------------------

_SALT = 8


@register(
    "join_skew_salted_orders",
    oracle=f"""
    SELECT n.n_name, COUNT(*) AS n_orders, {sql_dsum('o.o_totalprice')} AS sum_price
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY n.n_name
    ORDER BY n.n_name
    """,
)
def join_skew_salted_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders per customer nation via an explicitly SALTED fact-dim
    join: the customer dim is replicated {salt}× with a salt column,
    each order picks a deterministic salt (hash of its own key), and
    the join key becomes (custkey, salt) — a single hot customer now
    spreads across {salt} reducers instead of one.

    The result is bit-identical to the unsalted join (oracle runs the
    plain SQL). At 100 TB you'd reach for this when a handful of keys
    dominate and you want a static, planner-independent fix; AQE's
    skew-join split is the adaptive alternative.
    """
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")

    c_salted = c.select(
        "c_custkey",
        "c_nationkey",
        F.explode(F.sequence(F.lit(0), F.lit(_SALT - 1))).alias("salt"),
    )
    o_salted = o.withColumn(
        "salt", F.pmod(F.xxhash64("o_orderkey"), F.lit(_SALT)).cast("int")
    )
    return (
        o_salted.join(
            c_salted,
            (o_salted.o_custkey == c_salted.c_custkey)
            & (o_salted.salt == c_salted.salt),
        )
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice").alias("sum_price"))
    )


join_skew_salted_orders.__doc__ = join_skew_salted_orders.__doc__.format(salt=_SALT)


# ---------------------------------------------------------------------------
# Correlated EXISTS → semi join (TPC-H Q4 pattern)
# ---------------------------------------------------------------------------

@register(
    "q4_order_priority_exists",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE EXISTS (
      SELECT 1 FROM lineitem
      WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
    )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q4_order_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 pattern: orders having at least one line item shipped
    after the order date, counted by priority. The correlated EXISTS is
    expressed directly as a LEFT SEMI join with the correlated
    predicate in the join condition — the decorrelation Catalyst would
    perform, stated explicitly; the probe side streams, the semi join
    short-circuits on first match.
    """
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    return (
        o.join(
            l,
            (o.o_orderkey == l.l_orderkey) & (l.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Correlated scalar subquery → agg + join (TPC-H Q17 pattern)
# ---------------------------------------------------------------------------

@register(
    "q17_small_quantity_revenue",
    oracle=f"""
    SELECT CAST({sql_dsum('l.l_extendedprice')} / 7.0 AS DOUBLE) AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN (
      SELECT l_partkey, 0.2 * ({sql_davg('l_quantity')}) AS qty_limit
      FROM lineitem GROUP BY l_partkey
    ) t ON t.l_partkey = l.l_partkey
    WHERE p.p_size <= 5 AND l.l_quantity < t.qty_limit
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 pattern: revenue from line items whose quantity is
    below 20% of the per-part average — a correlated scalar subquery
    decorrelated into (per-part aggregate) ⋈ (fact), the plan Catalyst
    produces for the subquery form. The per-part limits are a reduced
    aggregate of the fact (small) and broadcast-eligible; the fact
    scans once.
    """
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_size") <= 5)
    limits = l.groupBy(F.col("l_partkey").alias("lim_partkey")).agg(
        (F.lit(0.2) * davg("l_quantity")).alias("qty_limit")
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(limits, l.l_partkey == F.col("lim_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_limit"))
        .agg((dsum("l_extendedprice") / 7.0).cast("double").alias("avg_yearly"))
    )


# ---------------------------------------------------------------------------
# HAVING-subquery decorrelation (TPC-H Q18 pattern)
# ---------------------------------------------------------------------------

@register(
    "q18_large_volume_customer",
    oracle=f"""
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
           CAST(o.o_totalprice AS DOUBLE) AS o_totalprice,
           {sql_dsum('l.l_quantity')} AS total_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey
      HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) > 250
    )
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderdate, o.o_orderkey
    LIMIT 100
    """,
)
def q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 pattern: customers with any order whose total line-item
    quantity exceeds a threshold. The IN (GROUP BY .. HAVING) subquery
    is decorrelated into an aggregate → LEFT SEMI join — the qualifying
    orderkey set is a reduced aggregate (tiny) and broadcasts into the
    fact join, so the fact table scans once and shuffles once for the
    final per-order aggregation. Deterministic top-100 via full
    tie-break ordering.
    """
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    big_orders = (
        l.groupBy("l_orderkey")
        .agg(dsum("l_quantity").alias("tq"))
        .filter(F.col("tq") > 250)
        .select(F.col("l_orderkey").alias("big_orderkey"))
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(
            F.broadcast(big_orders), o.o_orderkey == F.col("big_orderkey"), "left_semi"
        )
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(dsum("l_quantity").alias("total_qty"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderdate", "o_orderkey")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Returned-item revenue top-k (TPC-H Q10 pattern)
# ---------------------------------------------------------------------------

@register(
    "q10_returned_item_revenue",
    oracle=f"""
    SELECT c.c_custkey, c.c_name, n.n_name,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def q10_returned_item_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 pattern: top-20 customers by revenue lost to returns.
    The returnflag filter is pushed to the lineitem scan; nation is a
    bounded broadcast dim; one fact-fact shuffle (lineitem ⋈ orders) +
    one shuffle for the per-customer aggregation; deterministic top-20
    via TakeOrderedAndProject with a custkey tie-break.
    """
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Round-3 TPC-H-pattern additions (multi-dimension join shapes)
# ---------------------------------------------------------------------------

@register(
    "q7_volume_shipping",
    oracle=f"""
    SELECT sn.n_name AS supp_nation,
           cn.n_name AS cust_nation,
           CAST(EXTRACT(YEAR FROM l.l_shipdate) AS BIGINT) AS l_year,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
    JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
    WHERE ((sn.n_name = 'NATION_3' AND cn.n_name = 'NATION_2')
        OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_3'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY sn.n_name, cn.n_name, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 pattern: bilateral trade volume between two nations by
    year. Five-way join where every dimension chain (supplier→nation,
    customer→nation) broadcasts; the only shuffle is the one fact-fact
    join (lineitem ⋈ orders). The nation-pair disjunction evaluates
    post-join but each single-side nation filter is derived and pushed:
    the supplier/customer broadcast sides are pre-filtered to the two
    nations, shrinking the hash tables ~12.5x (2 of 25 nations).
    """
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_3", "NATION_2")
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(n.select(F.col("n_nationkey"), F.col("n_name").alias("supp_nation"))),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "supp_nation")
    )
    c = (
        _t(spark, sf_dir, "customer")
        .join(
            F.broadcast(n.select(F.col("n_nationkey"), F.col("n_name").alias("cust_nation"))),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", "cust_nation")
    )
    return (
        l.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .filter(
            ((F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_3"))
        )
        .withColumn("l_year", F.year("l_shipdate").cast("bigint"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "q8_market_share",
    oracle=f"""
    SELECT CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT) AS o_year,
           {sql_dsum("CASE WHEN sn.n_name = 'NATION_5' THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END")}
             / {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS mkt_share,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS region_revenue
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
    JOIN region r   ON r.r_regionkey = cn.n_regionkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
    WHERE r.r_name = 'ASIA' AND p.p_type = 'ECONOMY'
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 pattern: one nation's share of a region's revenue for a
    part type, by order year. Seven-way join — every dimension
    (part-filtered, customer→nation→region-filtered, supplier→nation)
    broadcasts; lineitem ⋈ orders is again the single shuffle. The
    share is a conditional-over-total ratio of exact decimal sums from
    ONE aggregation pass (no second scan for the denominator).
    """
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nat = _t(spark, sf_dir, "nation")
    cn = nat.join(
        F.broadcast(r), nat.n_regionkey == r.r_regionkey
    ).select(F.col("n_nationkey").alias("cn_key"))
    c = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .select("c_custkey")
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nat.select(F.col("n_nationkey"), F.col("n_name").alias("supp_nation"))),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "supp_nation")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    nation_rev = F.when(F.col("supp_nation") == "NATION_5", rev).otherwise(F.lit(0.0))
    return (
        l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .withColumn("o_year", F.year("o_orderdate").cast("bigint"))
        .groupBy("o_year")
        .agg(
            dsum(nation_rev).alias("nation_revenue"),
            dsum(rev).alias("region_revenue"),
        )
        .select(
            "o_year",
            (F.col("nation_revenue") / F.col("region_revenue")).alias("mkt_share"),
            "region_revenue",
        )
        .orderBy("o_year")
    )


@register(
    "q15_top_supplier",
    oracle=f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             {sql_dsum('l_extendedprice * (1 - l_discount)')} AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s.s_suppkey
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 pattern: supplier(s) with the maximum quarterly
    revenue. The scalar MAX subquery over the revenue view is
    decorrelated into a 1-row broadcast joined back against the same
    aggregate — the revenue view computes ONCE (cached), the max is one
    more reduction over it, and the equality filter is exact because
    both sides are the same decimal-sum double, not a re-computed
    float. No window over the full supplier set, no second scan.
    """
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    s = _t(spark, sf_dir, "supplier")
    revenue = (
        l.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "total_revenue"
            )
        )
        .cache()
    )
    top = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        revenue.crossJoin(F.broadcast(top))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(s), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@register(
    "q20_heavy_widget_suppliers",
    oracle=f"""
    SELECT s.s_suppkey, s.s_name, n.n_name
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE s.s_suppkey IN (
      SELECT l.l_suppkey
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_name LIKE '%widget%'
        AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l.l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY l.l_suppkey
      HAVING {sql_dsum('l.l_quantity')} > 100.0
    )
    ORDER BY s.s_suppkey
    """,
)
def q20_heavy_widget_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 pattern: suppliers who moved more than a threshold
    volume of a part family in a year. The IN (GROUP BY .. HAVING)
    subquery decorrelates to aggregate → LEFT SEMI join, same plan
    family as Q18: the qualifying supplier-key set is a reduced
    aggregate (bounded by supplier cardinality), broadcasts, and the
    supplier table never shuffles. Part filter broadcasts into the
    fact scan side.
    """
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").contains("widget"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    heavy = (
        l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(dsum("l_quantity").alias("tq"))
        .filter(F.col("tq") > 100.0)
        .select("l_suppkey")
    )
    return (
        s.join(F.broadcast(heavy), s.s_suppkey == F.col("l_suppkey"), "left_semi")
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("s_suppkey", "s_name", "n_name")
        .orderBy("s_suppkey")
    )
