"""Preference queries: the 2-D skyline (Pareto frontier) operator —
"orders no other order beats on BOTH total price and recency". A
capability extension (SURVEY.md §2l): the reference has no preference
operator, and Spark has no SKYLINE keyword, so this shows the engine
expressing a non-relational query class with relational building
blocks.

Scale design — the naive formulation is a quadratic NOT EXISTS
self-join (the oracle uses exactly that, fine at gate scale, fatal at
100 TB). The distributed form is SORT-BASED, decomposed by PRICE BAND
(``floor(price / W)``) so no window ever spans the whole data:

1. collapse to one row per (band, price): the max date per price group
   — a hash aggregation;
2. "dominated by a strictly higher price in MY band" = per-band prefix
   max of group dates over descending distinct prices (a window over
   per-band DISTINCT PRICES, parallel across bands);
3. "dominated by any higher band" = per-band prefix max over ~#bands
   rows (tiny, broadcast back) — higher bands always have strictly
   higher prices, lower bands can never dominate;
4. "dominated within my own price group" = group max date strictly
   later than mine.

One aggregation, two windows (one per-band, one #bands-sized), one
hash join back — NO pairwise join anywhere (a first cut pair-joined
same-band rows: Σ band_size² work, 28 s at sf0.1 vs ~1 s for this
form, and hopeless at 100 TB). Result values are invariant to W; W
only controls per-band window width.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import register
from ..tables import load_table

_SKY_BAND_WIDTH = 10_000.0  # ~60 bands over the fixture's price range


@register(
    "skyline_orders_price_date",
    oracle="""
    SELECT a.o_orderkey, a.o_totalprice, a.o_orderdate
    FROM orders a
    WHERE NOT EXISTS (
      SELECT 1 FROM orders b
      WHERE b.o_totalprice >= a.o_totalprice
        AND b.o_orderdate  >= a.o_orderdate
        AND (b.o_totalprice > a.o_totalprice
             OR b.o_orderdate > a.o_orderdate)
    )
    ORDER BY a.o_totalprice DESC, a.o_orderkey
    """,
)
def skyline_orders_price_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline: orders not dominated on (o_totalprice, o_orderdate)
    — no other order is >= on both dimensions and > on at least one.
    Banded decomposition (see module docstring) replaces the oracle's
    quadratic NOT EXISTS with a broadcast prefix-max + an in-band
    equi-join; every comparison is exact (double/timestamp), so the
    result is value-identical to the naive form for any band width.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        "o_orderdate",
        F.floor(F.col("o_totalprice") / F.lit(_SKY_BAND_WIDTH)).alias("band"),
    )

    # Dominance facts, decomposed sort-wise (NO pairwise join anywhere —
    # a first cut pair-joined same-band rows, which is Σ band_size² work
    # and took 28 s at sf0.1; this formulation is linear + windows):
    # a row is dominated iff
    #   (a) some STRICTLY higher price carries date >= its date, or
    #   (b) its own price group carries a strictly later date.
    # (a) splits into "higher price in my band" (per-band window over
    # DISTINCT prices) and "any price in a higher band" (per-band
    # prefix-max over ~#bands rows).
    grp = o.groupBy("band", "o_totalprice").agg(
        F.max("o_orderdate").alias("grp_max")
    )
    w_in = (
        Window.partitionBy("band")
        .orderBy(F.desc("o_totalprice"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    grp = grp.withColumn("in_band_prefix", F.max("grp_max").over(w_in))

    band_max = grp.groupBy("band").agg(F.max("grp_max").alias("bmax"))
    w_higher = Window.orderBy(F.desc("band")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    higher = band_max.select(
        "band", F.max("bmax").over(w_higher).alias("higher_band_prefix")
    )

    info = grp.join(F.broadcast(higher), "band").select(
        "band",
        "o_totalprice",
        "grp_max",
        # greatest() ignores nulls: max date over ALL strictly higher
        # prices, null when this is the global max price
        F.greatest("in_band_prefix", "higher_band_prefix").alias("strict_dom"),
    )

    return (
        o.join(info, ["band", "o_totalprice"])
        .filter(
            ~(
                F.coalesce(
                    F.col("strict_dom") >= F.col("o_orderdate"), F.lit(False)
                )
                | (F.col("grp_max") > F.col("o_orderdate"))
            )
        )
        .select("o_orderkey", "o_totalprice", "o_orderdate")
    )
