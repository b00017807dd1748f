"""DSIR-style data selection via hashed-feature importance weights
(Xie et al., "Data Selection for Language Models via Importance
Resampling") — the published pipeline stage that sits between the
heuristic quality ladder and training: score every raw document by
how much more likely it is under a TARGET-domain feature LM than
under the RAW-pool LM, then keep the top slice.

Spark-first and integer-exact end to end (the perplexity.py policy:
quantized rationals + the exact bit-length/milli-bit log2 ladder, so
the DuckDB oracle replays every score bit-identically — a selection
stage whose WEIGHTS are value-checked, not just its output counts):

- features: hashed word unigrams into B=64 buckets,
  ``bucket(w) = (7·len(w) + ascii(w[0])) mod B`` — closed-form on
  both engines; collisions are part of the method (that's the
  "hashed" in hashed n-gram DSIR);
- two add-one-smoothed bucket LMs: TARGET = documents with
  lang='en' (the target-domain proxy), RAW = the whole pool;
- per-bucket importance weight in milli-bits:
  ``w[b] = nll_raw[b] − nll_target[b]`` with each nll computed by
  perplexity.py's exact ladder on the quantized rational
  ``(c_b+1)·2^20 div (total+B)`` — a 64-row table, broadcast;
- per-doc score ``lambda_milli = Σ_tokens w[bucket(token)]``
  (positive = looks more target-like than the pool average);
- selection: the DETERMINISTIC variant of importance resampling —
  rank by (lambda_milli, doc_id) and keep the top 20 % (both
  engines replay the rank; true Gumbel resampling would need
  randomness the oracle contract forbids, and top-k selection is
  the published deterministic ablation).

Output per doc: n_tokens, lambda_milli, is_target, selected.

Scale notes (100 TB): the LMs are B-row aggregates (64 rows!)
broadcast to a pure map-side scorer — no shuffle touches document
bodies; the only full shuffle is the final rank, which at cluster
scale becomes the distributed top-k the training.py samplers already
use. This is exactly how DSIR runs on real crawls: tiny hashed LMs,
one pass to score, one partial top-k to select.

Reference: the DSIR paper (public); quantization recipe shared with
operators/perplexity.py; no repo counterpart (SURVEY.md §2l
extension).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import register
from ..tables import load_table
from .perplexity import _bl_ladder, _LOG2_MILLI, _MAX_NLL, _Q_BITS, _Q_ONE

_B = 64              # hashed feature buckets
_KEEP_PCT = 20       # deterministic top-slice selection


def _nll_expr(c: str, total: str, dialect: str) -> str:
    """Exact milli-bit −log2 of the add-one bucket probability as a
    flat SQL expression: q = max(1,(c+1)·2^20 div (total+B)), then
    the bit-length ladder + milli table. The table lookup is 1-based
    on both engines (element_at for Spark, [] for DuckDB)."""
    div = "DIV" if dialect == "spark" else "//"
    q = f"greatest(1, (({c} + 1) * {_Q_ONE}) {div} ({total} + {_B}))"
    bl = _bl_ladder(q)
    m = "".join(
        f" WHEN {bl} = {b} THEN (({q}) * 64) {div} {1 << b}"
        for b in range(_Q_BITS + 1)
    )
    tab = ", ".join(str(v) for v in _LOG2_MILLI)
    if dialect == "spark":
        look = (f"element_at(array({tab}), "
                f"CAST((CASE{m} END) - 63 AS INT))")
    else:
        look = f"([{tab}])[(CASE{m} END) - 63]"
    return f"({_MAX_NLL} - (1000 * {bl} + {look}))"


def _dsir_oracle() -> str:
    nll_t = _nll_expr("tc", "tcnt", "duckdb")
    nll_r = _nll_expr("rc", "rcnt", "duckdb")
    return f"""
    WITH toks AS (
      SELECT doc_id, lang, t
      FROM (SELECT doc_id, lang,
                   unnest(regexp_split_to_array(lower(text), '\\s+'))
                     AS t
            FROM documents)
      WHERE LENGTH(t) > 0
    ),
    bt AS (
      SELECT doc_id, (lang = 'en') AS is_t,
             (7 * LENGTH(t) + ascii(SUBSTR(t, 1, 1))) % {_B} AS b
      FROM toks
    ),
    rcounts AS (
      SELECT b, CAST(COUNT(*) AS BIGINT) AS rc FROM bt GROUP BY b
    ),
    tcounts AS (
      SELECT b, CAST(COUNT(*) AS BIGINT) AS tc
      FROM bt WHERE is_t GROUP BY b
    ),
    totals AS (
      SELECT CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT)
               AS tcnt,
             CAST(COUNT(*) AS BIGINT) AS rcnt
      FROM bt
    ),
    weights AS (
      SELECT b, CAST({nll_r} - {nll_t} AS BIGINT) AS w
      FROM (SELECT r.b, r.rc, COALESCE(t.tc, 0) AS tc,
                   totals.tcnt, totals.rcnt
            FROM rcounts r LEFT JOIN tcounts t USING (b), totals)
    ),
    docb AS (
      SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS n
      FROM bt GROUP BY doc_id, b
    ),
    scored AS (
      SELECT d.doc_id,
             CAST(COALESCE(SUM(db.n), 0) AS BIGINT) AS n_tokens,
             CAST(COALESCE(SUM(db.n * w.w), 0) AS BIGINT)
               AS lambda_milli,
             CAST(CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS INT)
               AS is_target
      FROM documents d
      LEFT JOIN docb db ON d.doc_id = db.doc_id
      LEFT JOIN weights w ON db.b = w.b
      GROUP BY d.doc_id, d.lang
    ),
    ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (ORDER BY lambda_milli DESC, doc_id)
               AS rk,
             COUNT(*) OVER () AS nd
      FROM scored
    )
    SELECT doc_id, n_tokens, lambda_milli, is_target,
           CAST(CASE WHEN rk <= (nd * {_KEEP_PCT}) // 100
                THEN 1 ELSE 0 END AS INT) AS selected
    FROM ranked
    ORDER BY doc_id
    """


@register("corpus_dsir_select", oracle=_dsir_oracle())
def corpus_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance scoring + deterministic top-20 % selection
    over hashed unigram buckets; see module docstring. The 64-row
    weight table (nll_raw − nll_target per bucket, exact milli-bit
    ladder) is broadcast; scoring is map-side; the final rank is the
    only document-level shuffle."""
    d = load_table(spark, sf_dir, "documents")
    toks = (
        d.select("doc_id", "lang",
                 F.explode(F.split(F.lower("text"), r"\s+")).alias("t"))
        .filter(F.length("t") > 0)
    )
    bt = toks.select(
        "doc_id",
        (F.col("lang") == "en").alias("is_t"),
        ((F.length("t") * 7 + F.ascii(F.substring("t", 1, 1))) % _B)
        .alias("b"),
    )
    # NOTE (r15): a restructure sharing ONE (doc_id, is_t, b) count
    # aggregate across rcounts/tcounts/totals/docb was A/B-measured
    # SLOWER at sf0.1 (3.39 s original vs 3.96 s shared-agg vs 5.83 s
    # shared-agg + localCheckpoint — the materialization job plus the
    # stats-free RDD scan demoting downstream broadcasts cost more
    # than the duplicate explode passes, which run concurrently on
    # idle cores). Kept un-materialized deliberately.
    #
    # r16: the three WEIGHT-side aggregates (rcounts, tcounts, totals)
    # are all derivable from ONE 64-row groupBy("b") pass with a
    # conditional sum — rc per bucket, tc per bucket
    # (sum(is_t) ≡ the filtered count, 0 where the filter emptied the
    # bucket ≡ the old left-join + na.fill), and the totals as sums of
    # the 64-row result (exact integers, order-free). The explode now
    # runs twice per query (weights + docb) instead of four times —
    # guide §2.4 (share one pass), with NO grain change and NO
    # materialization, so the r15 rejection's failure mode (stats-free
    # checkpoint demoting broadcasts) does not apply. A/B at sf0.1
    # isolated min-of-3: 3.05 s → 3.09 s — LOCALLY FLAT, because the
    # duplicate explode passes ran concurrently on idle cores (the
    # same effect behind the r15 rejection); kept anyway because the
    # plan evidence is 4 Generate subtrees → 2 (each a full pass over
    # document text at scale, where aggregate scan throughput — not
    # idle-core latency — is the budget), and the change is free
    # locally.
    wcounts = bt.groupBy("b").agg(
        F.count("*").cast("long").alias("rc"),
        F.sum(F.when(F.col("is_t"), 1).otherwise(0))
        .cast("long").alias("tc"),
    )
    # totals ride a global window over the SAME 64-row aggregate (an
    # agg + crossJoin would re-instantiate — and re-execute — the
    # wcounts explode subtree a second time); a single-partition
    # window over 64 rows is free, and the sums are exact integers
    w_all = Window.partitionBy()
    weights = wcounts.select(
        "b", "rc", "tc",
        F.sum("tc").over(w_all).cast("long").alias("tcnt"),
        F.sum("rc").over(w_all).cast("long").alias("rcnt"),
    ).select(
        "b",
        (F.expr(_nll_expr("rc", "rcnt", "spark"))
         - F.expr(_nll_expr("tc", "tcnt", "spark"))).cast("long").alias("w"),
    )
    docb = bt.groupBy("doc_id", "b").agg(
        F.count("*").cast("long").alias("n"))
    scored = (
        d.select("doc_id", "lang")
        .join(
            docb.join(F.broadcast(weights), "b")
            .groupBy("doc_id")
            .agg(F.sum("n").cast("long").alias("n_tokens"),
                 F.sum(F.col("n") * F.col("w")).cast("long")
                 .alias("lambda_milli")),
            "doc_id", "left",
        )
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("long")
            .alias("n_tokens"),
            F.coalesce("lambda_milli", F.lit(0)).cast("long")
            .alias("lambda_milli"),
            F.when(F.col("lang") == "en", 1).otherwise(0).cast("int")
            .alias("is_target"),
        )
    )
    w_rank = Window.orderBy(F.col("lambda_milli").desc(), "doc_id")
    ranked = (scored
              .withColumn("rk", F.row_number().over(w_rank))
              .withColumn("nd", F.count("*").over(
                  Window.partitionBy())))
    return ranked.select(
        "doc_id", "n_tokens", "lambda_milli", "is_target",
        F.when(F.col("rk") <= F.expr(f"(nd * {_KEEP_PCT}) DIV 100"), 1)
        .otherwise(0).cast("int").alias("selected"),
    )
