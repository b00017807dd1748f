"""Distributed WordPiece tokenizer training + serving — the third
tokenizer family next to BPE (tokenizer.py) and unigram-LM
(unigram.py), completing the set modern LLM stacks actually choose
between. WordPiece (Schuster & Nakajima 2012; the BERT tokenizer)
differs from BPE in BOTH halves:

- TRAINING picks the merge maximizing the LIKELIHOOD score
  count(ab) / (count(a) · count(b)) rather than the raw pair count —
  a pair of rare symbols that almost always co-occur beats a pair of
  frequent symbols that co-occur incidentally. The score is computed
  in EXACT integers: score_q30 = (c_ab · 2^30) DIV (c_a · c_b) —
  truncating division over non-negative operands, identical in Spark
  DIV and DuckDB // (the perplexity.py policy), with the total order
  (score_q30 DESC, c_ab DESC, a, b) making the argmax deterministic;
- continuation symbols carry the ``##`` prefix instead of an
  end-of-word marker, and a merge (a, b) produces a + b[2:];
- SERVING is greedy LONGEST-MATCH-FIRST against the final vocabulary
  (NOT merge replay): per word, repeatedly take the longest vocab
  token matching at the cursor (word-initial tokens bare, interior
  tokens ``##``-prefixed); any failure — or a word longer than
  ``_WP_MAX_CHARS`` (BERT's max_input_chars_per_word rule) — makes
  the WHOLE word ``[UNK]``.

Training uses the same Sennrich reduction as BPE: the corpus is read
once into (word, freq); every round is two vocabulary-sized
aggregations (pair counts + symbol counts — the extra aggregation is
what the likelihood denominator costs); one row per round reaches
the driver and IS the artifact. The corpus is restricted to
cube-free words so the DuckDB replay's simultaneous rewrite is exact
(tokenizer.py's argument: overlapping merge sites need three
identical adjacent symbols = a cube; the ``##`` prefixes cannot
manufacture one because word-initial symbols never equal
continuation symbols).

The serving oracle replays greedy longest-match in SQL with NO
recursion: words longer than ``_WP_MAX_CHARS`` are [UNK] by rule, so
a word has at most ``_WP_MAX_CHARS`` tokens and the cursor loop
unrolls into that many chained CTEs, each picking the max matching
length via a correlated aggregate over the vocab CTE (the
quality_model/unigram unrolled-program recipe).

Scale notes (100 TB): training cost is O(rounds) small shuffles over
word TYPES; serving is a broadcast-vocab map (the trie fits in
kilobytes), per-word memoized, with only (doc_id, counts) leaving
the executor.

Reference: Schuster & Nakajima 2012 / the public BERT WordPiece
algorithm; no repo counterpart (SURVEY.md §2l extension).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..tables import load_table
from .tokenizer import _BPE_MAX_LEN, _BPE_MIN_LEN, _cube_free_sql

_WP_MERGES = 8
_WP_MAX_CHARS = 6     # BERT's max_input_chars_per_word, fixture-sized
_WP_SCALE = 1 << 30   # likelihood score quantum


def _wp_char_split(col: Column) -> Column:
    """word → [first char, '##'+c2, '##'+c3, ...]."""
    return F.expr(
        "transform(sequence(1, length(w)), i -> "
        "CASE WHEN i = 1 THEN substr(w, 1, 1) "
        "ELSE '##' || substr(w, i, 1) END)"
    )


def _apply_merge_wp(col: Column, a: str, b: str, merged: str) -> Column:
    """Replace adjacent (a, b) with ``merged`` (= a + b[2:]),
    left-to-right greedy — tokenizer._apply_merge with the WordPiece
    join rule."""
    m = F.array(F.lit(merged))
    return F.aggregate(
        col,
        F.expr("CAST(array() AS array<string>)"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(F.slice(acc, F.lit(1), F.size(acc) - 1), m),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def train_wordpiece(
    spark: SparkSession,
    words: DataFrame,
    num_merges: int = _WP_MERGES,
    min_pair_freq: int = 2,
) -> tuple[list[tuple[str, str, str, int, int]], list[str]]:
    """Learn merges from a ``(w, freq)``-derivable word DataFrame
    (column ``text``). Returns (merge rows, initial alphabet):
    merge rows are (a, b, merged, pair_count, score_q30)."""
    freqs = (
        words.groupBy(F.col("text").alias("w"))
        .agg(F.count("*").cast("long").alias("freq"))
    )
    syms = freqs.select(
        "w", "freq", _wp_char_split(F.col("w")).alias("syms")
    ).localCheckpoint()
    # ONE alphabet-sized row reaches the driver (collect_set → first —
    # the BPE artifact pattern): the alphabet IS part of the trained
    # vocabulary being built, bounded by distinct symbols, never rows
    alphabet = sorted(
        syms.select(F.explode("syms").alias("s"))
        .agg(F.collect_set("s").alias("a"))
        .first()
        .a
    )
    merges: list[tuple[str, str, str, int, int]] = []
    for it in range(num_merges):
        pairs = (
            syms.select(
                "freq",
                F.explode(
                    F.expr(
                        "CASE WHEN size(syms) < 2 "
                        "THEN CAST(array() AS "
                        "array<struct<a:string,b:string>>) "
                        "ELSE transform(sequence(1, size(syms) - 1), "
                        "i -> struct(syms[i-1] AS a, syms[i] AS b)) END"
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("freq").cast("long").alias("c_ab"))
        )
        uni = (
            syms.select("freq", F.explode("syms").alias("s"))
            .groupBy("s")
            .agg(F.sum("freq").cast("long").alias("c_s"))
        )
        scored = (
            pairs.join(
                F.broadcast(uni.withColumnRenamed("s", "a")
                            .withColumnRenamed("c_s", "c_a")), "a")
            .join(
                F.broadcast(uni.withColumnRenamed("s", "b")
                            .withColumnRenamed("c_s", "c_b")), "b")
            .select(
                "a", "b", "c_ab",
                F.expr(
                    f"(c_ab * CAST({_WP_SCALE} AS BIGINT)) "
                    f"DIV (c_a * c_b)"
                ).alias("score_q30"),
            )
        )
        best = (
            scored.filter(F.col("c_ab") >= min_pair_freq)
            .orderBy(F.desc("score_q30"), F.desc("c_ab"), "a", "b")
            .first()
        )
        if best is None:
            break
        merged = best.a + best.b[2:]
        merges.append(
            (best.a, best.b, merged, int(best.c_ab), int(best.score_q30))
        )
        syms = syms.withColumn(
            "syms", _apply_merge_wp(F.col("syms"), best.a, best.b, merged)
        )
        if (it + 1) % 4 == 0:
            syms = syms.localCheckpoint()
    return merges, alphabet


def wordpiece_tokenize(word: str, vocab: set[str],
                       max_chars: int = _WP_MAX_CHARS) -> list[str]:
    """The published greedy longest-match-first algorithm; whole-word
    [UNK] on any failure or over-length input."""
    if len(word) > max_chars:
        return ["[UNK]"]
    toks: list[str] = []
    pos = 0
    while pos < len(word):
        end = len(word)
        cur = None
        while end > pos:
            piece = word[pos:end]
            if pos > 0:
                piece = "##" + piece
            if piece in vocab:
                cur = piece
                break
            end -= 1
        if cur is None:
            return ["[UNK]"]
        toks.append(cur)
        pos = end
    return toks


# ----------------------------------------------------- shared memo

_TRAINED: dict[str, tuple[list, list]] = {}


def _train_on_corpus(spark: SparkSession, sf_dir: str):
    if sf_dir not in _TRAINED:
        docs = load_table(spark, sf_dir, "documents")
        words = docs.select(
            F.explode(
                F.split(F.lower(F.col("text")), "[^a-z]+")
            ).alias("text")
        ).filter(
            f"length(text) BETWEEN {_BPE_MIN_LEN} AND {_BPE_MAX_LEN} "
            f"AND {_cube_free_sql('text')}"
        )
        _TRAINED[sf_dir] = train_wordpiece(spark, words)
    return _TRAINED[sf_dir]


# ------------------------------------------------------- oracles


def _wp_train_chain() -> str:
    """Chained-CTE replay of the training loop (the BPE oracle's
    shape plus the likelihood denominator: a per-round unigram CTE
    and the exact integer score)."""
    parts = [
        f"""
    WITH words AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM (
        SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
        FROM documents
      )
      WHERE length(w) BETWEEN {_BPE_MIN_LEN} AND {_BPE_MAX_LEN}
        AND {_cube_free_sql("w")}
      GROUP BY w
    ),
    state_0 AS MATERIALIZED (
      SELECT w, freq,
             list_transform(range(1, length(w) + 1), i ->
               CASE WHEN i = 1 THEN substr(w, 1, 1)
                    ELSE '##' || substr(w, i, 1) END) AS syms
      FROM words
    )"""
    ]
    for k in range(1, _WP_MERGES + 1):
        parts.append(
            f""",
    pairs_{k} AS MATERIALIZED (
      SELECT pr.l AS l, pr.r AS r, CAST(SUM(pr.f) AS BIGINT) AS c_ab
      FROM (
        SELECT unnest(list_transform(range(1, len(syms)),
          p -> {{'l': syms[p], 'r': syms[p + 1], 'f': freq}})) AS pr
        FROM state_{k - 1}
      )
      GROUP BY 1, 2
    ),
    uni_{k} AS MATERIALIZED (
      SELECT s, CAST(SUM(freq) AS BIGINT) AS c_s FROM (
        SELECT unnest(syms) AS s, freq FROM state_{k - 1}
      ) GROUP BY s
    ),
    best_{k} AS MATERIALIZED (
      SELECT {k} AS merge_rank, p.l, p.r,
             p.l || substr(p.r, 3) AS merged,
             p.c_ab AS pair_count,
             (p.c_ab * CAST({_WP_SCALE} AS BIGINT))
               // (ul.c_s * ur.c_s) AS score_q30
      FROM pairs_{k} p
      JOIN uni_{k} ul ON p.l = ul.s
      JOIN uni_{k} ur ON p.r = ur.s
      WHERE p.c_ab >= 2
      ORDER BY score_q30 DESC, p.c_ab DESC, p.l, p.r LIMIT 1
    ),
    state_{k} AS MATERIALIZED (
      SELECT s.w, s.freq,
        CASE WHEN b.l IS NULL THEN s.syms ELSE
          list_filter(
            list_transform(range(1, len(s.syms) + 1), p ->
              CASE WHEN p < len(s.syms) AND s.syms[p] = b.l
                        AND s.syms[p + 1] = b.r THEN b.merged
                   WHEN p > 1 AND s.syms[p - 1] = b.l
                        AND s.syms[p] = b.r THEN NULL
                   ELSE s.syms[p] END),
            x -> x IS NOT NULL)
        END AS syms
      FROM state_{k - 1} s LEFT JOIN best_{k} b ON TRUE
    )"""
        )
    return "".join(parts)


def _wp_train_oracle() -> str:
    union = "\n      UNION ALL\n      ".join(
        f"SELECT * FROM best_{k}" for k in range(1, _WP_MERGES + 1)
    )
    return (
        _wp_train_chain()
        + f"""
    SELECT merge_rank, l AS left_sym, r AS right_sym, merged,
           pair_count, score_q30
    FROM ({union})
    ORDER BY merge_rank
    """
    )


def _wp_apply_oracle() -> str:
    """Train replay → vocab CTE → unrolled greedy longest-match (at
    most _WP_MAX_CHARS cursor steps per word TYPE), then the per-doc
    fold over word instances."""
    k = _WP_MERGES
    parts = [_wp_train_chain()]
    parts.append(
        f""",
    vocab AS MATERIALIZED (
      SELECT DISTINCT s AS tok FROM (
        SELECT unnest(syms) AS s FROM state_0
        UNION ALL
        {" UNION ALL ".join(
            f"SELECT merged AS s FROM best_{i}"
            for i in range(1, k + 1))}
      )
    ),
    wtypes AS MATERIALIZED (
      SELECT DISTINCT w FROM (
        SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
        FROM documents
      ) WHERE w != ''
    ),
    m_0 AS (
      SELECT w, 1 AS pos, 0 AS ntok, 0 AS failed FROM wtypes
      WHERE length(w) <= {_WP_MAX_CHARS}
    )"""
    )
    for i in range(1, _WP_MAX_CHARS + 1):
        parts.append(
            f""",
    m_{i} AS MATERIALIZED (
      SELECT w,
             CASE WHEN done OR failed = 1 THEN pos
                  WHEN mlen IS NULL THEN pos
                  ELSE pos + mlen END AS pos,
             CASE WHEN done OR failed = 1 OR mlen IS NULL THEN ntok
                  ELSE ntok + 1 END AS ntok,
             CASE WHEN failed = 1 THEN 1
                  WHEN NOT done AND mlen IS NULL THEN 1
                  ELSE 0 END AS failed
      FROM (
        SELECT s.w, s.pos, s.ntok, s.failed,
               s.pos > length(s.w) AS done,
               (SELECT MAX(CASE WHEN s.pos = 1 THEN length(v.tok)
                                ELSE length(v.tok) - 2 END)
                FROM vocab v
                WHERE CASE WHEN s.pos = 1
                  THEN v.tok NOT LIKE '##%'
                       AND substr(s.w, 1, length(v.tok)) = v.tok
                  ELSE v.tok LIKE '##%'
                       AND length(v.tok) > 2
                       AND substr(s.w, s.pos, length(v.tok) - 2)
                           = substr(v.tok, 3) END
               ) AS mlen
        FROM m_{i - 1} s
      )
    )"""
        )
    parts.append(
        f""",
    wtok AS MATERIALIZED (
      SELECT t.w,
             CASE WHEN length(t.w) > {_WP_MAX_CHARS} THEN 1
                  WHEN m.failed = 1 THEN 1
                  ELSE m.ntok END AS ntok,
             CASE WHEN length(t.w) > {_WP_MAX_CHARS} OR m.failed = 1
                  THEN 1 ELSE 0 END AS unk
      FROM wtypes t LEFT JOIN m_{_WP_MAX_CHARS} m ON t.w = m.w
    ),
    doc_words AS (
      SELECT doc_id, w FROM (
        SELECT doc_id,
               unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
        FROM documents
      ) WHERE w != ''
    )
    SELECT d.doc_id,
           CAST(COUNT(dw.w) AS BIGINT) AS n_words,
           CAST(COALESCE(SUM(wt.ntok), 0) AS BIGINT) AS n_tokens,
           CAST(COALESCE(SUM(wt.unk), 0) AS BIGINT) AS n_unk_words
    FROM documents d
    LEFT JOIN doc_words dw ON d.doc_id = dw.doc_id
    LEFT JOIN wtok wt ON dw.w = wt.w
    GROUP BY d.doc_id
    ORDER BY d.doc_id
    """
    )
    return "".join(parts)


# ------------------------------------------------------- queries


@register("tokenizer_wordpiece_train_scores", oracle=_wp_train_oracle())
def tokenizer_wordpiece_train_scores(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WordPiece training, driver-oracled end to end: 8 merges chosen
    by the exact-integer likelihood score (c_ab·2^30 DIV c_a·c_b)
    under the total order (score, pair count, pair), on the cube-free
    word table; the oracle replays pair counts, the per-round unigram
    denominators, the score arithmetic, the argmax and the rewrite.

    Scale notes (100 TB): the Sennrich reduction + ONE extra
    vocabulary-sized aggregation per round (the denominator); one
    driver row per round — the artifact itself."""
    merges, _alpha = _train_on_corpus(spark, sf_dir)
    rows = [
        (i + 1, a, b, m, n, s)
        for i, (a, b, m, n, s) in enumerate(merges)
    ]
    return spark.createDataFrame(
        rows,
        "merge_rank int, left_sym string, right_sym string, "
        "merged string, pair_count long, score_q30 long",
    )


@register("tokenizer_wordpiece_apply_tokens", oracle=_wp_apply_oracle())
def tokenizer_wordpiece_apply_tokens(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WordPiece SERVING, driver-oracled: greedy longest-match-first
    against the trained vocabulary (alphabet + merge outputs) with
    the published whole-word [UNK] rules — any unmatched position, or
    a word over max_input_chars_per_word (6), voids the word. The
    oracle replays the match loop as 6 unrolled cursor steps per word
    TYPE (no recursion) on top of the training replay, so train/serve
    CONSISTENCY is driver-checked end to end; the corpus' length-8
    words make the [UNK] class non-vacuous by the length rule alone.

    Scale notes (100 TB): vocab broadcast in the closure (kilobytes),
    per-word memoization, only (doc_id, counts) leaves the
    executor."""
    merges, alphabet = _train_on_corpus(spark, sf_dir)
    vocab = set(alphabet) | {m for _a, _b, m, _n, _s in merges}

    def run(batches):
        import pandas as pd

        cache: dict[str, list[str]] = {}
        for pdf in batches:
            n_words = []
            n_tokens = []
            n_unk = []
            for text in pdf["text"]:
                import re

                ws = [w for w in re.split(r"[^a-z]+", (text or "").lower())
                      if w]
                nt = nu = 0
                for w in ws:
                    toks = cache.get(w)
                    if toks is None:
                        toks = wordpiece_tokenize(w, vocab)
                        cache[w] = toks
                    nt += len(toks)
                    nu += toks == ["[UNK]"]
                n_words.append(len(ws))
                n_tokens.append(nt)
                n_unk.append(nu)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_words": n_words,
                    "n_tokens": n_tokens,
                    "n_unk_words": n_unk,
                }
            )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInPandas(
        run,
        schema="doc_id long, n_words long, n_tokens long, n_unk_words long",
    )
