"""N-gram-LM perplexity corpus filtering — the CCNet curation stage:
train a token-bigram language model on a reference split, score every
corpus document by its average per-bigram surprise, and filter at a
data-derived threshold. This completes the engine's quality ladder:
heuristic rules (text.py) → learned classifier (quality_model.py) →
LM-based perplexity (here).

Like every iterative/transcendental operator in this repo, the model
is re-expressed over INTEGERS so the DuckDB oracle replays scores
bit-exactly (the unigram.py integer-EM / quality_model.py
quantized-activation policy):

- bigram probabilities are additively smoothed rationals
  P(w2|w1) = (c12 + 1) / (c1 + V) over training counts (c12 = count
  of the bigram, c1 = count of w1 as a left context, V = training
  vocabulary size);
- the probability is quantized to q = max(1, (c12+1)·2^20 DIV
  (c1+V)) — truncating integer division over NON-NEGATIVE operands,
  which Spark's DIV and DuckDB's // compute identically (the
  truncate-vs-floor gotcha only bites at negative operands);
- −log2 is decomposed exactly: bl = floor(log2 q) by a 21-branch
  comparison ladder (no float log anywhere near a boundary), a 6-bit
  mantissa m = q·64 DIV 2^bl ∈ [64,127], and a 64-entry milli-bit
  lookup table LOG2_MILLI[m−64] = round(1000·log2(m/64)) — the
  quality_model.py quantized-sigmoid recipe applied to log2;
- per-bigram surprise nll = 20000 − (1000·bl + LOG2_MILLI[m−64])
  milli-bits (q ≤ 2^20 ⇒ nll ≥ 0); a document's score is
  ppl_milli = Σnll DIV n_bigrams (bigram-less documents score the
  20000 maximum); the keep threshold is the corpus mean score
  (floor of one exactly-representable double division), so both
  sides of the filter are non-vacuous at any fixture.

Scale design (100 TB): bigrams come from zip_with over the per-doc
token array — NO shuffle to form n-grams; training counts are two
vocabulary-sized aggregations over the reference split only (CCNet
trains on Wikipedia-scale references, and production LMs are pruned
to fit exactly this broadcast regime); the count tables and the
vocabulary scalar broadcast to a PURE-MAP scoring pass; the only
full-corpus shuffle is the per-doc groupBy(doc_id) fold of bigram
surprisals. No Python UDFs anywhere.

Reference: Wenzek et al. 2020 (CCNet) perplexity-filter pattern; no
repo counterpart (SURVEY.md §2l extension).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..tables import load_table

_Q_BITS = 20
_Q_ONE = 1 << _Q_BITS          # 2^20 probability quantum
_MAX_NLL = 1000 * _Q_BITS      # surprise of q = 1, in milli-bits
_TRAIN_MOD = 5                 # doc_id % 5 = 0 is the reference split
_TOPK_LM = 50                  # rows surfaced by the train query

# LOG2_MILLI[k] = round(1000 * log2((64 + k) / 64)), k in [0, 63]
_LOG2_MILLI = tuple(
    math.floor(1000.0 * math.log2((64 + k) / 64.0) + 0.5)
    for k in range(64)
)


def _bl_ladder(q: str) -> str:
    """floor(log2(q)) for q in [1, 2^20] as a comparison ladder —
    identical integer semantics in Spark SQL and DuckDB."""
    branches = "".join(
        f" WHEN {q} >= {1 << b} THEN {b}"
        for b in range(_Q_BITS, 0, -1)
    )
    return f"(CASE{branches} ELSE 0 END)"


def _nll_spark(c12: str, c1: str, nv: str) -> F.Column:
    """Per-bigram surprise in milli-bits as flat Spark column
    expressions (the oracle's CTE pipeline, inlined)."""
    div_q = f"greatest(1L, (({c12} + 1L) * {_Q_ONE}L) DIV ({c1} + {nv}))"
    q = F.expr(div_q)
    bl = F.expr(
        "CASE"
        + "".join(
            f" WHEN {div_q} >= {1 << b} THEN {b}"
            for b in range(_Q_BITS, 0, -1)
        )
        + " ELSE 0 END"
    ).cast("long")
    m = F.expr(
        "CASE"
        + "".join(
            f" WHEN ({div_q} >= {1 << b} AND {div_q} < {1 << (b + 1)}) "
            f"THEN (({div_q}) * 64) DIV {1 << b}"
            for b in range(_Q_BITS + 1)
        )
        + " END"
    ).cast("long")
    tab = F.array(*(F.lit(v).cast("long") for v in _LOG2_MILLI))
    return (
        F.lit(_MAX_NLL).cast("long")
        - (F.lit(1000).cast("long") * bl
           + F.element_at(tab, (m - F.lit(63)).cast("int")))
    )


# ------------------------------------------------------ shared plan


def _bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, w1, w2) — bigrams via zip_with over the token array;
    no shuffle is spent forming n-grams."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.split(F.lower("text"), r"\s+").alias("w")
    )
    return toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "zip_with(slice(w, 1, size(w) - 1), "
                "slice(w, 2, size(w) - 1), "
                "(a, b) -> named_struct('w1', a, 'w2', b))"
            )
        ).alias("bg"),
    ).select("doc_id", "bg.w1", "bg.w2")


def _lm_tables(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(c12, c1, vocab-scalar) trained on the reference split —
    vocabulary-sized aggregations, broadcast to the scoring map."""
    big = _bigrams(spark, sf_dir)
    train = big.filter(F.col("doc_id") % _TRAIN_MOD == 0)
    c12 = train.groupBy("w1", "w2").agg(
        F.count("*").cast("long").alias("c12")
    )
    # r16: c1 is the w2-marginal of c12 (count of train bigrams per w1
    # ≡ Σ_w2 c12 — exact integers), so derive it from the vocab²-sized
    # c12 aggregate instead of re-running the train-split explode a
    # second time (guide §2.4: one fewer full pass over document text;
    # the re-aggregation input is vocabulary-sized, not corpus-sized)
    c1 = c12.groupBy("w1").agg(F.sum("c12").cast("long").alias("c1"))
    d = load_table(spark, sf_dir, "documents")
    nv = (
        d.filter(F.col("doc_id") % _TRAIN_MOD == 0)
        .select(
            F.explode(F.split(F.lower("text"), r"\s+")).alias("t")
        )
        .agg(F.countDistinct("t").cast("long").alias("nv"))
    )
    return c12, c1, nv


def _doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_bigrams, n_oov, ppl_milli) for every document."""
    big = _bigrams(spark, sf_dir)
    c12, c1, nv = _lm_tables(spark, sf_dir)
    scored = (
        big.join(F.broadcast(c12), ["w1", "w2"], "left")
        .join(F.broadcast(c1), ["w1"], "left")
        .crossJoin(F.broadcast(nv))
        .select(
            "doc_id",
            F.coalesce(F.col("c12"), F.lit(0)).cast("long").alias("b12"),
            F.coalesce(F.col("c1"), F.lit(0)).cast("long").alias("b1"),
            "nv",
        )
        .select(
            "doc_id",
            (F.col("b12") == 0).cast("long").alias("oov"),
            _nll_spark("b12", "b1", "nv").alias("nll"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.sum("oov").cast("long").alias("n_oov"),
        F.expr("sum(nll) DIV count(*)").cast("long").alias("ppl_milli"),
    )
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return d.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
        F.coalesce("n_oov", F.lit(0)).cast("long").alias("n_oov"),
        F.coalesce("ppl_milli", F.lit(_MAX_NLL))
        .cast("long")
        .alias("ppl_milli"),
    )


# ------------------------------------------------------ oracles

_SQL_BIGRAMS = """
    toks AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w
      FROM documents
    ),
    big AS (
      SELECT t.doc_id, t.w[i] AS w1, t.w[i + 1] AS w2
      FROM toks t, LATERAL (
        SELECT unnest(range(1, len(t.w))) AS i
      )
    )"""


def _lm_sql() -> str:
    return f"""
    c12 AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
      FROM big WHERE doc_id % {_TRAIN_MOD} = 0 GROUP BY w1, w2
    ),
    c1 AS (
      SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1
      FROM big WHERE doc_id % {_TRAIN_MOD} = 0 GROUP BY w1
    ),
    v AS (
      SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS nv
      FROM (SELECT unnest(w) AS t FROM toks
            WHERE doc_id % {_TRAIN_MOD} = 0)
    )"""


def _scores_sql() -> str:
    div = "//"
    nll_core = []
    nll_core.append(
        f"greatest(1, ((b12 + 1) * {_Q_ONE}) {div} (b1 + nv)) AS q"
    )
    bl = _bl_ladder("q")
    m = "".join(
        f" WHEN bl = {b} THEN (q * 64) {div} {1 << b}"
        for b in range(_Q_BITS + 1)
    )
    tab = ", ".join(str(v) for v in _LOG2_MILLI)
    return f"""
    joined AS (
      SELECT b.doc_id,
             COALESCE(c12.c12, 0) AS b12,
             COALESCE(c1.c1, 0) AS b1,
             (SELECT nv FROM v) AS nv
      FROM big b
      LEFT JOIN c12 ON b.w1 = c12.w1 AND b.w2 = c12.w2
      LEFT JOIN c1 ON b.w1 = c1.w1
    ),
    qd AS (
      SELECT doc_id, b12, {nll_core[0]} FROM joined
    ),
    bld AS (
      SELECT doc_id, b12, q, {bl} AS bl FROM qd
    ),
    nlls AS (
      SELECT doc_id, b12,
             {_MAX_NLL} - (1000 * bl + ([{tab}])[(CASE{m} END) - 63])
               AS nll
      FROM bld
    ),
    per_doc AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(SUM(CASE WHEN b12 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov,
             CAST(SUM(nll) {div} COUNT(*) AS BIGINT) AS ppl_milli
      FROM nlls GROUP BY doc_id
    ),
    scores AS (
      SELECT d.doc_id,
             COALESCE(p.n_bigrams, 0) AS n_bigrams,
             COALESCE(p.n_oov, 0) AS n_oov,
             COALESCE(p.ppl_milli, {_MAX_NLL}) AS ppl_milli
      FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
    )"""


def _train_oracle() -> str:
    return f"""
    WITH {_SQL_BIGRAMS},
    {_lm_sql()}
    SELECT c12.w1, c12.w2, c12.c12, c1.c1,
           (SELECT nv FROM v) AS vocab_size
    FROM c12 JOIN c1 ON c12.w1 = c1.w1
    ORDER BY c12.c12 DESC, c12.w1, c12.w2
    LIMIT {_TOPK_LM}
    """


def _filter_oracle() -> str:
    return f"""
    WITH {_SQL_BIGRAMS},
    {_lm_sql()},
    {_scores_sql()},
    thr AS (
      SELECT CAST(FLOOR(CAST(SUM(ppl_milli) AS DOUBLE) / COUNT(*))
             AS BIGINT) AS t
      FROM scores
    )
    SELECT s.doc_id, s.n_bigrams, s.n_oov, s.ppl_milli,
           CASE WHEN s.ppl_milli <= (SELECT t FROM thr)
                THEN 1 ELSE 0 END AS keep
    FROM scores s
    ORDER BY s.doc_id
    """


# ------------------------------------------------------ queries


@register(
    "corpus_bigram_lm_train",
    oracle=_train_oracle(),
    doc="Train the reference-split bigram LM; surface the top counts.",
)
def corpus_bigram_lm_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LM-training half of the CCNet stage: bigram + left-context
    counts and the vocabulary size over the doc_id%5=0 reference
    split, top-K by count (deterministic tiebreak) — the broadcastable
    model artifact the filter consumes. Two vocabulary-sized
    aggregations; n-grams formed by zip_with (no shuffle)."""
    c12, c1, nv = _lm_tables(spark, sf_dir)
    return (
        c12.join(c1, "w1")
        .crossJoin(F.broadcast(nv))
        .select(
            "w1", "w2", "c12", "c1", F.col("nv").alias("vocab_size")
        )
        .orderBy(F.desc("c12"), "w1", "w2")
        .limit(_TOPK_LM)
    )


@register(
    "corpus_perplexity_filter",
    oracle=_filter_oracle(),
    doc="Integer bigram-LM perplexity scores + mean-threshold filter.",
)
def corpus_perplexity_filter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CCNet-style perplexity filtering with a fully integer scoring
    pipeline: additively-smoothed bigram rationals quantized to 2^-20,
    −log2 via a 21-branch bit-length ladder + 64-entry milli-bit
    mantissa table, per-doc mean surprise by truncating division
    (non-negative operands ⇒ Spark DIV ≡ DuckDB //), and a corpus-mean
    keep threshold so both filter sides are non-vacuous. The DuckDB
    oracle replays counts, quantization, the log ladder and the
    threshold exactly.

    Scale notes (100 TB): LM tables are reference-split-sized and
    broadcast (the CCNet regime — pruned LMs exist to fit exactly
    this); scoring is a pure map over zip_with bigrams; the only
    full-corpus shuffle is the per-doc surprise fold."""
    # the score table feeds both the threshold aggregate and the
    # output join — pin it once (quality_model's feature-pass policy)
    # instead of re-planning the LM pipeline per consumer. LAZY pin
    # (r16 A/B, isolated min-of-3 at sf0.1): lazy 1.60 s / no pin
    # 1.60 s / eager 1.68 s — lazy keeps the scores computed once per
    # run (both consumers read the pinned blocks) without the eager
    # variant's per-build materialization job.
    scores = _doc_scores(spark, sf_dir).localCheckpoint(eager=False)
    thr = scores.agg(
        F.floor(F.sum("ppl_milli").cast("double") / F.count("*"))
        .cast("long")
        .alias("t")
    )
    return (
        scores.crossJoin(F.broadcast(thr))
        .select(
            "doc_id", "n_bigrams", "n_oov", "ppl_milli",
            (F.col("ppl_milli") <= F.col("t")).cast("int").alias("keep"),
        )
    )
