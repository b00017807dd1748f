"""Python UDTF (Spark 4 user-defined table function) and cogrouped
``applyInPandas`` coverage — the two remaining Python-evaluation
surfaces after scalar/grouped-map/grouped-state (SURVEY.md §2j).

Both are SLOW-PATH tools by policy (everything expressible with
built-ins elsewhere in this repo uses built-ins); they exist for logic
that genuinely needs per-row fan-out with Python state (UDTF) or an
aligned two-table group merge (cogroup). Scale notes:

- The UDTF runs Arrow-batched and stateless per row — it parallelizes
  like any projection; its cost is the Python boundary, so it belongs
  after filters/column pruning (here: after the ``n_chars`` filter).
- Cogroup shuffles BOTH sides once on the group key, then hands each
  key's two frames to one Python worker — the distributed equivalent
  of a per-key merge script, bounded by per-key group size.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import udtf

from ..functions.deterministic import sql_dsum
from ..registry import register
from ..tables import load_table


@udtf(returnType="pos int, bigram string")
class BigramExplode:
    """Emit (position, bigram) rows for a whitespace-tokenized text —
    the UDTF shape (one input row → many output rows with per-row
    Python logic). eval() must be deterministic: pure function of the
    argument, no RNG, no external state."""

    def eval(self, text: str):  # noqa: D102 - contract documented above
        if not text:
            return
        toks = text.lower().split()
        for i in range(len(toks) - 1):
            yield i, f"{toks[i]} {toks[i + 1]}"


@register(
    "udtf_bigram_topk",
    oracle="""
    SELECT bigram, COUNT(*) AS n
    FROM (
      SELECT unnest(list_transform(
               range(1, len(w)),
               i -> w[i] || ' ' || w[i + 1])) AS bigram
      FROM (SELECT regexp_split_to_array(lower(text), '\\s+') AS w
            FROM documents WHERE n_chars >= 100)
    )
    GROUP BY bigram
    HAVING COUNT(*) >= 10
    ORDER BY n DESC, bigram
    """,
)
def udtf_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent bigrams via a registered Python UDTF in a LATERAL join.
    The length filter runs BEFORE the UDTF (prune first, then pay the
    Python boundary); the count/HAVING is ordinary JVM-side hash
    aggregation over the UDTF's output. (The pure-built-in formulation
    lives in text.py — this query exists to cover the UDTF surface
    with the same oracle-checked rigor, not to replace it.)
    """
    spark.udtf.register("bigram_explode", BigramExplode)
    docs = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") >= 100)
    docs.createOrReplaceTempView("udtf_docs_in")
    return spark.sql(
        """
        SELECT b.bigram, COUNT(*) AS n
        FROM udtf_docs_in d, LATERAL bigram_explode(d.text) b
        GROUP BY b.bigram
        HAVING COUNT(*) >= 10
        """
    )


@register(
    "cogroup_user_activity_profile",
    oracle=f"""
    WITH e AS (
      SELECT user_id, COUNT(*) AS n_events, {sql_dsum('value')} AS event_value
      FROM events GROUP BY user_id
    ), o AS (
      SELECT o_custkey AS user_id, COUNT(*) AS n_orders,
             {sql_dsum('o_totalprice')} AS order_value
      FROM orders GROUP BY o_custkey
    )
    SELECT COALESCE(e.user_id, o.user_id) AS user_id,
           COALESCE(e.n_events, 0) AS n_events,
           COALESCE(e.event_value, 0.0) AS event_value,
           COALESCE(o.n_orders, 0) AS n_orders,
           COALESCE(o.order_value, 0.0) AS order_value
    FROM e FULL JOIN o ON e.user_id = o.user_id
    WHERE e.user_id IS NOT NULL OR o.user_id IS NOT NULL
    ORDER BY user_id
    """,
)
def cogroup_user_activity_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-table per-key merge via ``groupBy().cogroup().applyInPandas``:
    aligned event/order batches arrive as two pandas frames in one
    Python call — the distributed form of a per-key merge script
    (custom reconciliation, interleaving, as-of stitching).

    Scale design — cogroup on a KEY BUCKET, not the raw key: Spark
    invokes the Python function (and materializes one Arrow batch pair)
    once per distinct cogroup key, so keying by raw user_id means
    per-user Python/Arrow overhead — measured 38.7s at sf0.1 (~15k
    users x ~2.5ms). Keying by ``pmod(user_id, nbuckets)`` makes each
    call handle many users with the per-user merge VECTORIZED inside
    pandas (groupby + outer join), amortizing the boundary cost while
    producing identical rows. The bucket count is 2× the cluster's
    ``defaultParallelism`` (skew headroom without excess per-call
    overhead), NOT a constant: each Python invocation costs ~15-25 ms
    of Arrow/fork overhead regardless of batch size, so a fixed 256
    buckets on a 32-core box paid 256 serial calls (3.8 s at sf0.01)
    where 64 cluster-sized buckets pay 1.3 s for identical output; on
    a 1000-executor cluster the same rule yields thousands of buckets
    and full parallelism. Same principle as Arrow batch sizing: the
    unit of Python work must be a batch, never a key, and the batch
    count must track the cluster, not the data.

    Determinism: per-user stats are counts + exact integer-micro sums
    (same trick as the TWS processor), order-independent under any
    partitioning; bucketing only regroups the inputs.
    """

    def profile(key, events_pdf: pd.DataFrame, orders_pdf: pd.DataFrame) -> pd.DataFrame:
        ev = (
            events_pdf.assign(
                micro=(events_pdf["value"] * 1_000_000).round().astype("int64")
            )
            .groupby("user_id")
            .agg(n_events=("user_id", "size"), ev_micro=("micro", "sum"))
        )
        od = (
            orders_pdf.assign(
                micro=(orders_pdf["o_totalprice"] * 1_000_000).round().astype("int64")
            )
            .groupby("user_id")
            .agg(n_orders=("user_id", "size"), ord_micro=("micro", "sum"))
        )
        merged = ev.join(od, how="outer").fillna(0).reset_index()
        return pd.DataFrame(
            {
                "user_id": merged["user_id"].astype("int64"),
                "n_events": merged["n_events"].astype("int64"),
                "event_value": merged["ev_micro"] / 1e6,
                "n_orders": merged["n_orders"].astype("int64"),
                "order_value": merged["ord_micro"] / 1e6,
            }
        )

    nbuckets = max(2 * spark.sparkContext.defaultParallelism, 16)
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "value", F.pmod("user_id", F.lit(nbuckets)).alias("bucket")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        "o_totalprice",
        F.pmod("o_custkey", F.lit(nbuckets)).alias("bucket"),
    )
    return (
        ev.groupBy("bucket")
        .cogroup(orders.groupBy("bucket"))
        .applyInPandas(
            profile,
            schema=(
                "user_id long, n_events long, event_value double, "
                "n_orders long, order_value double"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Grouped Arrow-native aggregation (applyInArrow)
# ---------------------------------------------------------------------------


@register(
    "arrow_grouped_value_stats",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(CAST(value AS DOUBLE) * 1000000) AS BIGINT))
                AS BIGINT) AS sum_micros,
           MIN(value) AS vmin,
           MAX(value) AS vmax
    FROM events GROUP BY event_type
    """,
)
def arrow_grouped_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group aggregation through ``applyInArrow`` — the grouped
    Arrow-native execution surface (completing the set alongside
    ``mapInArrow``, ``applyInPandas``, cogrouped pandas, and UDTFs):
    each group's rows arrive as ONE ``pyarrow.Table`` with no pandas
    boxing, and the reduction runs on the Arrow buffers via
    ``pyarrow.compute``. Values quantize to integer micros with FLOOR
    (numpy/pyarrow rounding is half-even where SQL's is half-away —
    floor is identical everywhere), so the group sums are exact and the
    oracle replays them bit-for-bit. Use this surface when a reduction
    needs Arrow-side libraries over whole groups; the shuffle is the
    same single groupBy exchange a builtin aggregation pays — but
    builtins stay JVM-side and remain the first choice for anything
    expressible (see text.py's design rules)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def stats(table: pa.Table) -> pa.Table:
        v = pc.cast(table.column("value"), pa.float64())
        micros = pc.cast(pc.floor(pc.multiply(v, 1_000_000.0)), pa.int64())
        return pa.table(
            {
                "event_type": [table.column("event_type")[0].as_py()],
                "n": pa.array([table.num_rows], pa.int64()),
                "sum_micros": pa.array([pc.sum(micros).as_py()], pa.int64()),
                "vmin": pa.array([pc.min(v).as_py()], pa.float64()),
                "vmax": pa.array([pc.max(v).as_py()], pa.float64()),
            }
        )

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    return ev.groupBy("event_type").applyInArrow(
        stats,
        "event_type string, n long, sum_micros long, vmin double, vmax double",
    )
