"""Unigram-LM (SentencePiece-style) subword tokenizer — training AND
serving, both under full value oracles.

The BPE pair (tokenizer.py) covers the merge-list family; this module
covers the other half of the tokenizer-training story a data pipeline
needs: Kudo 2018's unigram language model ("Subword Regularization",
ACL; the SentencePiece default), where a piece vocabulary is seeded
from substring counts, refined by EM over all segmentations, pruned
under a score order, and served by Viterbi segmentation.

Why this is bit-exact cross-engine (the integer-micros recipe from
PageRank/k-means, pushed through EM): all probabilities live in
integer MILLI-units (floor-quantized once per M-step), the E-step's
forward-backward runs entirely in BIGINT with floor division at
documented points, and the Viterbi apply compares EXACT padded
products — path score = prod(p_i) * 1000^(12 - n) <= 1000^12, which
fits both Python ints and DuckDB's HUGEINT, and extending a path is
``P_j // 1000 * p`` (exact: P_j is divisible by 1000^(12 - n_j)).
Floor-EM converges to the same fixed-point family as float EM at
0.1 % quantization; what the driver hash then pins is every moving
part: substring seeding, the top-K total-order selection, two complete
EM rounds, the prune ranking, and per-document Viterbi token counts.

Scale notes (100 TB): the corpus is read ONCE into (word, freq) types
(the Sennrich word-table reduction BPE already uses). Each EM round is
a broadcast join of the (small) vocabulary onto word-type substring
occurrences, one Arrow-batched integer forward-backward per word TYPE
(never per token instance), and a vocabulary-sized count shuffle.
Unlike SentencePiece's single-node trainer, nothing materializes to
the driver — the model stays a DataFrame end to end. Serving is
per-word-type Viterbi plus a broadcast join back to instances.

Reference: no counterpart (SURVEY.md §2l text/training extension).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import register
from ..tables import load_table

_PLEN = 4      # max piece length (chars)
_SEED = 40     # seed vocabulary: top substrings by count
_KEEP = 24     # prune: keep top pieces by final score (+ all 1-char)
_EM = 2        # fixed EM rounds (the chained-CTE replay unrolls them)
_SCALE = 1000  # milli-units: 1000^12 exact-product Viterbi fits HUGEINT
_MAXW = 12     # max word length (chars), same bound as the BPE pair
_PAD = _SCALE ** _MAXW


# ------------------------------------------------ integer DP kernels
# These run inside Arrow-batched mapInPandas on word TYPES; the DuckDB
# oracle replays the identical arithmetic as generated SQL below.


def _fb_posts(w: str, f: int, pm: dict) -> dict[str, int]:
    """One word's E-step: integer forward-backward over segmentations.
    ``pm`` maps (j * 8 + l) -> milli-prob for every in-vocab substring
    occurrence. Returns {piece: freq * posterior_milli} contributions.
    Floor points (fixed, replayed by the oracle): each alpha/beta
    extension divides by 1000 immediately; the posterior is
    ``((alpha_j * p // 1000) * beta_i // 1000) * 1000 // alpha_n``."""
    n = len(w)
    alpha = [0] * (n + 1)
    alpha[0] = _SCALE
    for i in range(1, n + 1):
        s = 0
        for l in range(1, min(_PLEN, i) + 1):
            p = pm.get((i - l) * 8 + l)
            if p:
                s += alpha[i - l] * p // _SCALE
        alpha[i] = s
    if alpha[n] == 0:
        return {}
    beta = [0] * (n + 1)
    beta[n] = _SCALE
    for j in range(n - 1, -1, -1):
        s = 0
        for l in range(1, min(_PLEN, n - j) + 1):
            p = pm.get(j * 8 + l)
            if p:
                s += p * beta[j + l] // _SCALE
        beta[j] = s
    out: dict[str, int] = {}
    an = alpha[n]
    for j in range(n):
        for l in range(1, min(_PLEN, n - j) + 1):
            p = pm.get(j * 8 + l)
            if p:
                inner = ((alpha[j] * p) // _SCALE) * beta[j + l] // _SCALE
                piece = w[j : j + l]
                out[piece] = out.get(piece, 0) + f * (inner * _SCALE // an)
    return out


def _viterbi_ntokens(w: str, pm: dict) -> int:
    """Exact-integer Viterbi: maximize the padded product
    ``prod(p_i) * 1000^(12 - n)`` (a fair cross-length comparison of
    ``prod(p_i) / 1000^n``), tie-breaking on fewer pieces then smaller
    split point — a total order both engines replay."""
    n = len(w)
    s: list[int | None] = [None] * (n + 1)
    t = [0] * (n + 1)
    s[0] = _PAD
    for i in range(1, n + 1):
        cands = []
        for l in range(1, min(_PLEN, i) + 1):
            j = i - l
            p = pm.get(j * 8 + l)
            if p and s[j] is not None:
                cands.append((-(s[j] // _SCALE * p), t[j] + 1, j))
        if cands:
            best = min(cands)
            s[i], t[i] = -best[0], best[1]
    return t[n]


def _items_to_pm(items) -> dict:
    return {it["j"] * 8 + it["l"]: int(it["p"]) for it in items}


def _estep_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in it:
        if pdf.empty:
            continue
        agg: dict[str, int] = {}
        for w, f, items in zip(pdf["w"], pdf["freq"], pdf["items"]):
            for piece, e in _fb_posts(str(w), int(f), _items_to_pm(items)).items():
                agg[piece] = agg.get(piece, 0) + e
        yield pd.DataFrame(
            {"piece": list(agg.keys()), "e": list(agg.values())}
        ).astype({"piece": "string", "e": "int64"})


def _viterbi_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in it:
        if pdf.empty:
            continue
        rows = [
            (str(w), _viterbi_ntokens(str(w), _items_to_pm(items)))
            for w, items in zip(pdf["w"], pdf["items"])
        ]
        yield pd.DataFrame(rows, columns=["w", "n_tokens"]).astype(
            {"w": "string", "n_tokens": "int64"}
        )


# ------------------------------------------------ Spark pipeline


def _word_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("w"))
        .filter(f"length(w) BETWEEN 2 AND {_MAXW}")
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
        .localCheckpoint()  # tiny word-type table feeds every stage
    )


def _occurrences(words: DataFrame) -> DataFrame:
    """Every substring occurrence (w, freq, j, l, piece), l <= _PLEN."""
    return words.select(
        "w",
        "freq",
        F.explode(
            F.expr(
                f"flatten(transform(sequence(0, length(w) - 1), j ->"
                f" transform(sequence(1, least({_PLEN}, length(w) - j)), l ->"
                f" struct(j AS j, l AS l, substring(w, j + 1, l) AS piece))))"
            )
        ).alias("o"),
    ).select("w", "freq", "o.j", "o.l", "o.piece")


def _with_total(df: DataFrame, col: str, out: str) -> DataFrame:
    """Attach SUM(col) over the whole (vocabulary-sized) frame as a
    column — a cross join against a 1-row aggregate, broadcast."""
    total = df.agg(F.greatest(F.lit(1), F.sum(col)).alias(out))
    return df.crossJoin(F.broadcast(total))


# the trained model is a stored artifact served to every consumer
# (train_scores AND apply_tokens); without the memo the apply query
# re-ran the full EM chain — the same substrate-rebuild the ann_*
# family fixed in r15 with app_scoped (VERDICT r14 task 4 pattern)
_UNIGRAM_MODEL_CACHE: dict[tuple, DataFrame] = {}


def _train_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .app_cache import app_scoped

    return app_scoped(
        _UNIGRAM_MODEL_CACHE,
        spark,
        (sf_dir, "unigram-model"),
        lambda: _train_model_impl(spark, sf_dir),
    )


def _train_model_impl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed + _EM integer-EM rounds; returns the FULL final vocabulary
    (piece, p) with milli-scores, localCheckpointed (each round's
    lineage would otherwise nest mapInPandas stages _EM deep)."""
    words = _word_table(spark, sf_dir)
    occs = _occurrences(words)
    counts = occs.groupBy("piece").agg(F.sum("freq").alias("cnt"))
    ranked = counts.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.desc("cnt"), "piece"))
    )
    sel = ranked.filter((F.col("rk") <= _SEED) | (F.length("piece") == 1))
    vocab = (
        _with_total(sel, "cnt", "total")
        .select(
            "piece",
            F.greatest(
                F.lit(1), F.expr("cnt * 1000 div total")
            ).alias("p"),
        )
        .localCheckpoint()
    )
    for _ in range(_EM):
        per_word = (
            occs.join(F.broadcast(vocab), "piece")
            .groupBy("w", "freq")
            .agg(F.collect_list(F.struct("j", "l", "p")).alias("items"))
        )
        e_df = (
            per_word.mapInPandas(_estep_batches, schema="piece string, e long")
            .groupBy("piece")
            .agg(F.sum("e").alias("e"))
        )
        vocab = (
            _with_total(
                vocab.join(e_df, "piece", "left").withColumn(
                    "e", F.coalesce("e", F.lit(0))
                ),
                "e",
                "total",
            )
            .select(
                "piece",
                F.greatest(F.lit(1), F.expr("e * 1000 div total")).alias("p"),
            )
            .localCheckpoint()
        )
    return vocab.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.desc("p"), "piece"))
    )


# ------------------------------------------------ oracle SQL generators


def _sql_m(j: int, l: int) -> str:
    return f"COALESCE(map_extract(pm, {j * 8 + l})[1], 0)"


def _sql_ab_nested(k: int) -> str:
    """Alpha/beta forward-backward as 26 NESTED subquery layers (one
    position each) — the same blowup avoidance as the Viterbi chain:
    lateral column aliases inline by substitution, and ``a_i``'s
    4-branch recursion over depth 12 expands tetranacci-style (~10^4
    terms per column) before binding; a subquery layer materializes
    each position's column once (measured: 8.5 s → 0.09 s at sf0.01)."""
    inner = f"SELECT w, freq, pm FROM wmap_{k}"
    inner = f"SELECT *, 1000 AS a0 FROM ({inner})"
    for i in range(1, _MAXW + 1):
        terms = [
            f"(a{i - l} * {_sql_m(i - l, l)}) // 1000"
            for l in range(1, min(_PLEN, i) + 1)
        ]
        expr = (
            f"CASE WHEN {i} > length(w) THEN 0 ELSE "
            + " + ".join(terms)
            + " END"
        )
        inner = f"SELECT *, {expr} AS a{i} FROM ({inner})"
    inner = (
        f"SELECT *, CASE WHEN length(w) = {_MAXW} THEN 1000 ELSE 0 END"
        f" AS b{_MAXW} FROM ({inner})"
    )
    for j in range(_MAXW - 1, -1, -1):
        terms = [
            f"({_sql_m(j, l)} * b{j + l}) // 1000"
            for l in range(1, min(_PLEN, _MAXW - j) + 1)
        ]
        expr = (
            f"CASE WHEN {j} > length(w) THEN 0 "
            f"WHEN {j} = length(w) THEN 1000 ELSE "
            + " + ".join(terms)
            + " END"
        )
        inner = f"SELECT *, {expr} AS b{j} FROM ({inner})"
    return inner


def _sql_em_round(k: int) -> str:
    prev = f"vocab{k - 1}"
    alist = "[" + ", ".join(f"a{i}" for i in range(_MAXW + 1)) + "]"
    blist = "[" + ", ".join(f"b{i}" for i in range(_MAXW + 1)) + "]"
    return f""",
    wmap_{k} AS MATERIALIZED (
      SELECT o.w, ANY_VALUE(o.freq) AS freq,
             map_from_entries(list({{'k': o.j * 8 + o.l, 'v': v.p}})) AS pm
      FROM occs o JOIN {prev} v ON v.piece = o.piece
      GROUP BY o.w
    ),
    ab_{k} AS MATERIALIZED (
      SELECT w, freq, {alist} AS al, {blist} AS bl
      FROM ({_sql_ab_nested(k)})
    ),
    posts_{k} AS MATERIALIZED (
      SELECT o.piece,
             CAST(SUM(o.freq * ((((ab.al[o.j + 1] * v.p) // 1000)
                  * ab.bl[o.j + o.l + 1] // 1000) * 1000
                  // ab.al[length(o.w) + 1])) AS BIGINT) AS e
      FROM occs o
      JOIN {prev} v ON v.piece = o.piece
      JOIN ab_{k} ab ON ab.w = o.w
      WHERE ab.al[length(o.w) + 1] > 0
      GROUP BY o.piece
    ),
    vocab{k} AS MATERIALIZED (
      SELECT v.piece,
             GREATEST(1, COALESCE(p.e, 0) * 1000
               // GREATEST(1, (SELECT SUM(e) FROM posts_{k}))) AS p
      FROM {prev} v LEFT JOIN posts_{k} p USING (piece)
    )"""


def _sql_train_chain() -> str:
    """Shared CTE chain: word table → substring occurrences → seed
    vocabulary (top-{seed} + single chars under a total order) → _EM
    unrolled integer-EM rounds → final ranked vocabulary."""
    sql = f"""
    WITH words AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM (
        SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
        FROM documents)
      WHERE length(w) BETWEEN 2 AND {_MAXW}
      GROUP BY w
    ),
    occs AS MATERIALIZED (
      SELECT w.w, w.freq, g.j, g.l, substr(w.w, g.j + 1, g.l) AS piece
      FROM words w,
           (SELECT unnest(range(0, {_MAXW})) AS j) jj,
           (SELECT unnest(range(1, {_PLEN + 1})) AS l) ll,
           LATERAL (SELECT jj.j, ll.l) g
      WHERE g.j + g.l <= length(w.w)
    ),
    counts AS (
      SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt FROM occs GROUP BY piece
    ),
    ranked AS (
      SELECT piece, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, piece) AS rk
      FROM counts
    ),
    sel AS (SELECT piece, cnt FROM ranked
            WHERE rk <= {_SEED} OR length(piece) = 1),
    vocab0 AS MATERIALIZED (
      SELECT piece,
             GREATEST(1, cnt * 1000 // (SELECT SUM(cnt) FROM sel)) AS p
      FROM sel
    )"""
    for k in range(1, _EM + 1):
        sql += _sql_em_round(k)
    sql += f""",
    final AS (
      SELECT piece, p, ROW_NUMBER() OVER (ORDER BY p DESC, piece) AS rk
      FROM vocab{_EM}
    )"""
    return sql


def _train_oracle() -> str:
    return (
        _sql_train_chain()
        + f"""
    SELECT CAST(rk AS INT) AS piece_rank, piece,
           CAST(p AS BIGINT) AS score_milli
    FROM final WHERE rk <= {_KEEP} OR length(piece) = 1
    ORDER BY piece_rank
    """
    )


def _sql_vit_nested() -> str:
    """Viterbi DP as {maxw} NESTED subqueries, one position per layer.
    NOT lateral column aliases: DuckDB inlines those by expression
    substitution and the s/t recursion branches x{plen} per level —
    a flat alias chain explodes ~{plen}^{maxw} before binding."""
    inner = (
        f"SELECT w, pm, CAST('{_PAD}' AS HUGEINT) AS s0, 0 AS t0 FROM vmap"
    )
    for i in range(1, _MAXW + 1):
        cands = []
        for l in range(1, min(_PLEN, i) + 1):
            j = i - l
            cands.append(
                f"CASE WHEN len(map_extract(pm, {j * 8 + l})) > 0"
                f" AND s{j} IS NOT NULL THEN"
                f" {{'ps': -(s{j} // 1000 * {_sql_m(j, l)}),"
                f" 'n': t{j} + 1, 'j': {j}}} END"
            )
        ch = (
            "list_sort(list_filter(["
            + ", ".join(cands)
            + "], x -> x IS NOT NULL))[1]"
        )
        inner = (
            f"SELECT *, -struct_extract(ch{i}, 'ps') AS s{i},"
            f" struct_extract(ch{i}, 'n') AS t{i} FROM ("
            f"SELECT *, {ch} AS ch{i} FROM ({inner}))"
        )
    return inner


_sql_vit_nested.__doc__ = _sql_vit_nested.__doc__.format(
    maxw=_MAXW, plen=_PLEN
)


def _apply_oracle() -> str:
    tlist = "[" + ", ".join(f"t{i}" for i in range(_MAXW + 1)) + "]"
    return (
        _sql_train_chain()
        + f""",
    model AS MATERIALIZED (
      SELECT piece, p FROM final WHERE rk <= {_KEEP} OR length(piece) = 1
    ),
    vmap AS MATERIALIZED (
      SELECT o.w,
             map_from_entries(list({{'k': o.j * 8 + o.l, 'v': mo.p}})) AS pm
      FROM (SELECT DISTINCT w, j, l, piece FROM occs) o
      JOIN model mo ON mo.piece = o.piece
      GROUP BY o.w
    ),
    vit AS MATERIALIZED (
      SELECT w, {tlist}[length(w) + 1] AS n_tokens
      FROM ({_sql_vit_nested()})
    ),
    doc_words AS (
      SELECT doc_id, w FROM (
        SELECT doc_id,
               unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
        FROM documents)
      WHERE length(w) BETWEEN 2 AND {_MAXW}
    )
    SELECT d.doc_id,
           CAST(COALESCE(SUM(v.n_tokens), 0) AS BIGINT) AS n_tokens,
           CAST(COUNT(dw.w) AS BIGINT) AS n_words
    FROM documents d
    LEFT JOIN doc_words dw ON d.doc_id = dw.doc_id
    LEFT JOIN vit v ON v.w = dw.w
    GROUP BY d.doc_id
    ORDER BY d.doc_id
    """
    )


# ------------------------------------------------ registered queries


@register("tokenizer_unigram_train_scores", oracle=_train_oracle())
def tokenizer_unigram_train_scores(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Unigram-LM tokenizer TRAINING, driver-oracled end to end:
    substring-count seeding, the top-{seed} + single-char selection
    under a total order, {em} complete integer-EM rounds
    (forward-backward expected counts in milli-units — see the module
    docstring for why floor-EM is bit-exact cross-engine), and the
    final prune ranking. Output is the pruned vocabulary:
    (piece_rank, piece, score_milli), ranks beyond {keep} surviving
    only as single-char coverage pieces. The DuckDB oracle replays the
    whole trainer as an unrolled chained-CTE program (the BPE/PageRank
    recipe), including both EM rounds' alpha/beta tables."""
    model = _train_model(spark, sf_dir)
    return (
        model.filter((F.col("rk") <= _KEEP) | (F.length("piece") == 1))
        .select(
            F.col("rk").cast("int").alias("piece_rank"),
            "piece",
            F.col("p").cast("long").alias("score_milli"),
        )
    )


@register("tokenizer_unigram_apply_tokens", oracle=_apply_oracle())
def tokenizer_unigram_apply_tokens(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Unigram-LM tokenizer SERVING, driver-oracled: train the same
    model, keep the pruned vocabulary, then Viterbi-segment every
    document's qualifying words and emit per-doc token/word counts.
    Viterbi runs per word TYPE (the serving-side Sennrich reduction)
    with EXACT padded-product scores — prod(p_i) * 1000^(12-n) compared
    as integers (HUGEINT in the oracle, Python ints in the executor) —
    and a (score, fewer-pieces, split-point) total order, so train →
    prune → segment consistency is what the driver hash pins.

    Scale notes (100 TB): the model joins onto word types broadcast;
    per-type Viterbi is Arrow-batched; instances join back by word
    (broadcast, word-type-sized); output is (doc_id, counts)."""
    model = _train_model(spark, sf_dir).filter(
        (F.col("rk") <= _KEEP) | (F.length("piece") == 1)
    ).select("piece", "p")
    words = _word_table(spark, sf_dir)
    per_word = (
        _occurrences(words)
        .join(F.broadcast(model), "piece")
        .groupBy("w")
        .agg(F.collect_list(F.struct("j", "l", "p")).alias("items"))
    )
    vit = per_word.mapInPandas(
        _viterbi_batches, schema="w string, n_tokens long"
    )
    docs = load_table(spark, sf_dir, "documents")
    doc_words = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("w")
    ).filter(f"length(w) BETWEEN 2 AND {_MAXW}")
    per_doc = (
        doc_words.join(F.broadcast(vit), "w")
        .groupBy("doc_id")
        .agg(
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.count("*").cast("long").alias("n_words"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("n_words", F.lit(0)).cast("long").alias("n_words"),
        )
    )


tokenizer_unigram_train_scores.__doc__ = (
    tokenizer_unigram_train_scores.__doc__.format(
        seed=_SEED, em=_EM, keep=_KEEP
    )
)
