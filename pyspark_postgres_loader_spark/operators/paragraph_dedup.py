"""Corpus-level paragraph deduplication — the CCNet preprocessing
stage that runs BEFORE LM perplexity scoring: hash every paragraph,
count occurrences across the whole corpus, and drop the paragraphs
(and the documents they dominate) that repeat — boilerplate, headers,
navigation chrome and licence blocks are exactly the text that
repeats verbatim across a crawl.

The fixture corpus carries no newline structure, so 'paragraph' is
the documented proxy: non-overlapping 8-word windows of the
lowercased token array (the same proxy granularity as
text_chunk_windows). Semantics:

- paragraphs form via ``transform(sequence(...), slice(...))`` inside
  the row — NO shuffle is spent building them;
- each paragraph is reduced to its ``mhash64`` fingerprint (the
  repo's md5-derived cross-engine hash) so the corpus-wide count
  table and the join back move 8-byte keys, not strings — the CCNet
  regime at 100 TB is exactly a hash-keyed paragraph shuffle;
- a paragraph is DUPLICATED when its fingerprint occurs ≥ 2 times
  corpus-wide; a document is dropped when duplicated paragraphs are
  the majority (2·dup > total);
- outputs per document: paragraph count, duplicated count, the
  milli duplication ratio by truncating division (non-negative
  operands ⇒ Spark DIV ≡ DuckDB //), and the keep flag — all
  replayed exactly by the oracle.

Scale design (100 TB): one corpus shuffle keyed by the 60-bit
fingerprint builds the count table (map-side partial counts first —
repeated paragraphs collapse early); the join back is the same key;
everything else is per-row array work. No broadcast assumption: the
paragraph table is corpus-sized by nature, which is WHY the keys are
slim hashes. No Python UDFs.

Reference: Wenzek et al. 2020 (CCNet) paragraph dedup; no repo
counterpart (SURVEY.md §2l extension).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.deterministic import mhash64, sql_mhash64
from ..registry import register
from ..tables import load_table

_PARA_WORDS = 8


def _paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, pidx, h) — fingerprinted 8-word paragraph proxies,
    formed inside the row."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.split(F.lower("text"), r"\s+").alias("w")
    )
    paras = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, CAST(ceil(size(w) / "
                f"{_PARA_WORDS}.0) AS INT) - 1, 1), "
                f"k -> concat_ws(' ', slice(w, k * {_PARA_WORDS} + 1, "
                f"{_PARA_WORDS})))"
            )
        ).alias("pidx", "para"),
    )
    return paras.select("doc_id", "pidx", mhash64("para").alias("h"))


_SQL_PARAS = f"""
    toks AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w
      FROM documents
    ),
    paras AS (
      SELECT t.doc_id, k AS pidx,
             {sql_mhash64(
                 "array_to_string(w[(k * " + str(_PARA_WORDS) + " + 1):"
                 "(k * " + str(_PARA_WORDS) + " + "
                 + str(_PARA_WORDS) + ")], ' ')"
             )} AS h
      FROM toks t, LATERAL (
        SELECT unnest(range(0, CAST(ceil(len(t.w) / {_PARA_WORDS}.0)
                                    AS INT))) AS k
      )
    )"""


def _pd_oracle() -> str:
    return f"""
    WITH {_SQL_PARAS},
    counts AS (
      SELECT h, COUNT(*) AS c FROM paras GROUP BY h
    ),
    per_doc AS (
      SELECT p.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_paras,
             CAST(SUM(CASE WHEN c.c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_paras
      FROM paras p JOIN counts c ON p.h = c.h
      GROUP BY p.doc_id
    )
    SELECT d.doc_id,
           COALESCE(p.n_paras, 0) AS n_paras,
           COALESCE(p.n_dup_paras, 0) AS n_dup_paras,
           CASE WHEN COALESCE(p.n_paras, 0) = 0 THEN 0
                ELSE (1000 * p.n_dup_paras) // p.n_paras END
             AS dup_ratio_milli,
           CASE WHEN 2 * COALESCE(p.n_dup_paras, 0)
                     <= COALESCE(p.n_paras, 0)
                THEN 1 ELSE 0 END AS keep
    FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
    ORDER BY d.doc_id
    """


@register(
    "dedup_corpus_paragraphs",
    oracle=_pd_oracle(),
    doc="CCNet paragraph dedup: corpus-wide repeated-window counts.",
)
def dedup_corpus_paragraphs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CCNet-stage paragraph dedup over 8-word window proxies: one
    corpus shuffle keyed by the 60-bit mhash64 fingerprint builds the
    occurrence table (map-side partial counts collapse repeats early),
    the same slim key joins counts back, and each document reports its
    paragraph count, duplicated count, milli duplication ratio
    (truncating division, non-negative operands) and the
    majority-duplicated keep flag. The oracle replays fingerprints,
    counts and ratios exactly.

    Scale notes (100 TB): the paragraph table is corpus-sized by
    design — no broadcast; both the count and the join-back shuffle
    move 8-byte keys. Paragraph formation is in-row array work."""
    paras = _paragraphs(spark, sf_dir)
    counts = paras.groupBy("h").agg(F.count("*").alias("c"))
    per_doc = (
        paras.join(counts, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_paras"),
            F.sum((F.col("c") >= 2).cast("long"))
            .cast("long")
            .alias("n_dup_paras"),
        )
    )
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return (
        d.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_paras", F.lit(0)).cast("long").alias("n_paras"),
            F.coalesce("n_dup_paras", F.lit(0))
            .cast("long")
            .alias("n_dup_paras"),
            F.when(F.coalesce("n_paras", F.lit(0)) == 0, F.lit(0))
            .otherwise(
                F.expr("(1000 * n_dup_paras) DIV n_paras")
            )
            .cast("long")
            .alias("dup_ratio_milli"),
            (
                2 * F.coalesce("n_dup_paras", F.lit(0))
                <= F.coalesce("n_paras", F.lit(0))
            )
            .cast("int")
            .alias("keep"),
        )
    )
