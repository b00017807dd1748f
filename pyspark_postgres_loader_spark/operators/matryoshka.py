"""Matryoshka embedding truncation: retrieval recall as a function
of kept prefix dimensions.

Matryoshka Representation Learning (Kusupati et al., NeurIPS'22)
trains embeddings so that any PREFIX of the vector is itself a
usable lower-dimensional embedding. Production stacks exploit this
to cut ANN index cost 2-8×: retrieve with the first d dims, rerank
(or not) with the full vector. Whether that trade is safe is an
empirical question per corpus — this operator measures it: for each
truncation d it runs top-k retrieval in the d-dim prefix space and
reports recall@k against the full-dimension ground truth.

Determinism contract: prefix cosines reuse the matched
left-to-right double fold (operators/similarity.py) with the fold
range bounded by d on BOTH engines, so every ranking —
and therefore every recall count — is engine-identical. The d=64
row is the self-check: recall is exactly 1.0 there by construction.

Scale notes (100 TB): the scored set is |Q|·N·|dims| rows for the
FIXED evaluation query sample — the same deliberate, amortized
O(|Q|·N) evaluation pass as ``ann_recall_report``, never a per-query
production cost. Prefix norms are computed once per (vector, dim)
before the broadcast join (not per scored pair), the anchors
broadcast, and the overlap join handles |Q|·k rows per dim. At
production scale you run this on a sampled corpus slice after each
embedding/model change and alert on the recall-vs-dim curve
shifting.

Reference: reference repo has no embedding surface (SURVEY.md §2
extension family: similarity search).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.planctl import spread as _spread
from ..registry import register
from ..tables import load_table
from .similarity import _QUERY_IDS, _dot_dec

_MRL_DIMS = (8, 16, 32, 64)
_MRL_K = 10
_QID_SQL = ", ".join(str(q) for q in _QUERY_IDS)


def _sql_dot_prefix(a: str, b: str, d: str) -> str:
    """DuckDB prefix dot product with the fold order matched to
    Spark's aggregate over a sliced array (0.0 init prepended, then
    products in index order, bounded by ``d``)."""
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, {d} + 1), i -> "
        f"CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), "
        f"(acc, x) -> acc + x)"
    )


def _mrl_oracle() -> str:
    cos = (
        f"{_sql_dot_prefix('a.q_emb', 'c.embedding', 'a.dim')}"
        f" / (a.q_norm * c.v_norm)"
    )
    return f"""
    WITH dims AS (SELECT unnest([{', '.join(map(str, _MRL_DIMS))}]) AS dim),
    pref AS (
      SELECT d.dim, e.vec_id, e.embedding,
             sqrt({_sql_dot_prefix('e.embedding', 'e.embedding', 'd.dim')})
               AS v_norm
      FROM embeddings e CROSS JOIN dims d
    ),
    anchors AS (
      SELECT dim, vec_id AS query_id, embedding AS q_emb,
             v_norm AS q_norm
      FROM pref WHERE vec_id IN ({_QID_SQL})
    ),
    ranked AS (
      SELECT a.dim, a.query_id, c.vec_id,
             ROW_NUMBER() OVER (
               PARTITION BY a.dim, a.query_id
               ORDER BY {cos} DESC,
                        c.vec_id) AS rn
      FROM anchors a JOIN pref c
        ON c.dim = a.dim AND c.vec_id <> a.query_id
    ),
    topk AS (SELECT * FROM ranked WHERE rn <= {_MRL_K}),
    truth AS (SELECT query_id, vec_id FROM topk WHERE dim = 64),
    hits AS (
      SELECT t.dim, COUNT(*) AS n_hits
      FROM topk t JOIN truth g
        ON t.query_id = g.query_id AND t.vec_id = g.vec_id
      GROUP BY t.dim
    )
    SELECT d.dim,
           CAST({len(_QUERY_IDS)} AS BIGINT) AS n_queries,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST({_MRL_K} AS BIGINT) AS k,
           CAST(COALESCE(h.n_hits, 0) AS DOUBLE)
             / ({_MRL_K} * {len(_QUERY_IDS)}) AS recall
    FROM dims d LEFT JOIN hits h ON d.dim = h.dim
    ORDER BY d.dim
    """


@register("embedding_matryoshka_recall", oracle=_mrl_oracle())
def embedding_matryoshka_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Recall@{k} of prefix-truncated (Matryoshka) retrieval vs the
    full-dimension ground truth, for dims {dims} over {nq} fixed
    queries — the curve that decides whether a truncated ANN index
    is safe for this corpus. The d=64 row is the pinned self-check
    (recall exactly 1.0).

    One corpus scan explodes the dims axis and computes each prefix
    norm ONCE per (vector, dim); the {nq} anchors broadcast; per-
    (dim, query) ranking is a window over the scored triples; the
    overlap join against the d=64 truth set is |Q|·k rows per dim."""
    e = _spread(load_table(spark, sf_dir, "embeddings"))
    dims = F.array(*[F.lit(d) for d in _MRL_DIMS])
    pref = e.select(
        "vec_id",
        F.explode(dims).alias("dim"),
        F.expr("slice(embedding, 1, dim)").alias("pemb"),
    ).select(
        "dim",
        "vec_id",
        "pemb",
        F.sqrt(_dot_dec(F.col("pemb"), F.col("pemb"))).alias("v_norm"),
    )
    anchors = pref.filter(F.col("vec_id").isin(*_QUERY_IDS)).select(
        F.col("dim").alias("qdim"),
        F.col("vec_id").alias("query_id"),
        F.col("pemb").alias("q_emb"),
        F.col("v_norm").alias("q_norm"),
    )
    scored = (
        pref.join(
            F.broadcast(anchors),
            (F.col("dim") == F.col("qdim"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "dim",
            "query_id",
            "vec_id",
            (
                _dot_dec(F.col("q_emb"), F.col("pemb"))
                / (F.col("q_norm") * F.col("v_norm"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("dim", "query_id").orderBy(
        F.desc("cosine"), F.asc("vec_id"))
    topk = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _MRL_K)
        .select("dim", "query_id", "vec_id")
    )
    truth = topk.filter(F.col("dim") == 64).select("query_id", "vec_id")
    hits = (
        topk.join(F.broadcast(truth), ["query_id", "vec_id"])
        .groupBy("dim")
        .agg(F.count("*").alias("n_hits"))
    )
    all_dims = spark.range(0, 1).select(
        F.explode(dims).alias("dim"))
    return (
        all_dims.join(hits, "dim", "left")
        .select(
            "dim",
            F.lit(len(_QUERY_IDS)).cast("long").alias("n_queries"),
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long")
            .alias("n_hits"),
            F.lit(_MRL_K).cast("long").alias("k"),
            (
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
                / F.lit(_MRL_K * len(_QUERY_IDS))
            ).alias("recall"),
        )
    )


embedding_matryoshka_recall.__doc__ = (
    embedding_matryoshka_recall.__doc__.format(
        k=_MRL_K, dims=_MRL_DIMS, nq=len(_QUERY_IDS))
)
