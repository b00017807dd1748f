"""Text analysis operators over ``documents``: token counting, quality
scoring, language-ID heuristic, content fingerprinting.

All hot-path computation is JVM-side codegen (split/regexp/higher-order
array functions) — no Python UDFs — so these scale linearly with data
and shuffle only where an aggregation needs it (most are pure
projections: ZERO shuffles).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.deterministic import mhash64, sql_mhash64
from ..registry import register
from ..tables import load_table

_STOPWORDS = ("the", "a", "of", "and", "in", "to")
_SW_SQL = ", ".join(f"'{w}'" for w in _STOPWORDS)

# BPE-ish pre-tokenizer: letter runs | digit runs | single non-space symbol
_BPE_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"


@register(
    "text_token_stats",
    oracle=f"""
    SELECT doc_id,
           len(regexp_split_to_array(text, '\\s+')) AS ws_tokens,
           len(regexp_extract_all(text, '{_BPE_RE}')) AS bpe_tokens,
           length(text) AS n_chars,
           CAST(length(text) AS DOUBLE)
             / len(regexp_split_to_array(text, '\\s+')) AS chars_per_token
    FROM documents
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish regex tokens per doc."""
    d = load_table(spark, sf_dir, "documents")
    ws = F.size(F.split(F.col("text"), r"\s+"))
    bpe = F.size(F.regexp_extract_all(F.col("text"), F.lit(_BPE_RE), 0))
    return d.select(
        "doc_id",
        ws.cast("long").alias("ws_tokens"),
        bpe.cast("long").alias("bpe_tokens"),
        F.length("text").cast("long").alias("n_chars"),
        (F.length("text").cast("double") / ws).alias("chars_per_token"),
    )


@register(
    "text_quality_score",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text,
             regexp_split_to_array(lower(text), '\\s+') AS w,
             length(text) AS nc,
             len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS punct
      FROM documents
    )
    SELECT doc_id,
           CAST(len(list_filter(w, x -> x IN ({_SW_SQL}))) AS DOUBLE) / len(w)
             AS stopword_ratio,
           CAST(punct AS DOUBLE) / nc AS punct_ratio,
           CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS distinct_ratio,
           CAST(CASE WHEN len(w) BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS length_ok,
           0.4 * (CAST(len(list_filter(w, x -> x IN ({_SW_SQL}))) AS DOUBLE) / len(w))
             + 0.3 * (CAST(len(list_distinct(w)) AS DOUBLE) / len(w))
             + 0.3 * CAST(CASE WHEN len(w) BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.0 END AS DOUBLE)
             - 0.2 * (CAST(punct AS DOUBLE) / nc) AS quality
    FROM t
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score: stopword ratio + lexical diversity +
    length gate − punctuation density (the C4/Gopher-rule shape)."""
    d = load_table(spark, sf_dir, "documents")
    w = F.split(F.lower(F.col("text")), r"\s+")
    nw = F.size(w)
    sw_ratio = (
        F.size(
            F.expr(
                f"filter(split(lower(text), '\\\\s+'), x -> x IN ({_SW_SQL}))"
            )
        ).cast("double")
        / nw
    )
    punct_ratio = (
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[^a-zA-Z0-9\\s]"), 0)).cast("double")
        / F.length("text")
    )
    distinct_ratio = F.size(F.array_distinct(w)).cast("double") / nw
    length_ok = F.when((nw >= 20) & (nw <= 1000), 1.0).otherwise(0.0)
    quality = (
        0.4 * sw_ratio + 0.3 * distinct_ratio + 0.3 * length_ok - 0.2 * punct_ratio
    )
    return d.select(
        "doc_id",
        sw_ratio.alias("stopword_ratio"),
        punct_ratio.alias("punct_ratio"),
        distinct_ratio.alias("distinct_ratio"),
        length_ok.alias("length_ok"),
        quality.alias("quality"),
    )


# language-ID: stopword-profile scoring with deterministic argmax.
# Profiles are tiny fixed word lists; real pipelines swap in fastText —
# the Spark plumbing (scored projection, no shuffle) is identical.
_LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ist"),
    "en": ("the", "and", "of", "is", "a"),
    "es": ("el", "la", "de", "y", "es"),
    "fr": ("le", "la", "et", "est", "les"),
    "zh": ("的", "是", "了", "在", "和"),
}


def _lang_score_sql(words: tuple[str, ...]) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter(w, x -> x IN ({lst})))"


@register(
    "text_lang_id",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang AS lang_label,
             {", ".join(f"{_lang_score_sql(ws)} AS sc_{lg}" for lg, ws in sorted(_LANG_PROFILES.items()))}
      FROM (SELECT doc_id, lang, regexp_split_to_array(lower(text), '\\s+') AS w
            FROM documents)
    )
    SELECT doc_id, lang_label,
           CASE GREATEST({", ".join(f"sc_{lg}" for lg in sorted(_LANG_PROFILES))})
             {"".join(f"WHEN sc_{lg} THEN '{lg}' " for lg in sorted(_LANG_PROFILES))}
           END AS lang_pred
    FROM scored
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID with deterministic alphabetical
    tie-break (CASE picks the first language reaching the max score —
    identical semantics in Spark and the DuckDB oracle)."""
    d = load_table(spark, sf_dir, "documents")

    def _score(ws: tuple[str, ...]):
        lst = ", ".join(f"'{x}'" for x in ws)
        return F.size(
            F.expr(f"filter(split(lower(text), '\\\\s+'), x -> x IN ({lst}))")
        )

    scored = d.select(
        "doc_id",
        F.col("lang").alias("lang_label"),
        *[
            _score(ws).alias(f"sc_{lg}")
            for lg, ws in sorted(_LANG_PROFILES.items())
        ],
    )
    langs = sorted(_LANG_PROFILES)
    best = F.greatest(*[F.col(f"sc_{lg}") for lg in langs])
    expr = None
    for lg in langs:
        cond = F.col(f"sc_{lg}") == best
        expr = F.when(cond, lg) if expr is None else expr.when(cond, lg)
    return scored.select("doc_id", "lang_label", expr.alias("lang_pred"))


@register(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS content_md5
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint: md5 over whitespace-normalized lowered text
    (md5 is bit-identical across engines → oracle-checkable)."""
    d = load_table(spark, sf_dir, "documents")
    norm = F.lower(F.regexp_replace(F.col("text"), r"\s+", " "))
    return d.select("doc_id", F.md5(norm).alias("content_md5"))


@register(
    "text_rolling_hash",
    oracle=f"""
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(7 AS BIGINT),
               list_transform(regexp_split_to_array(lower(text), '\\s+'),
                              t -> ({sql_mhash64('t')}) % 1000003)),
             (acc, x) -> (acc * 131 + x) % 1000000007) AS rolling_hash
    FROM documents
    """,
)
def text_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling hash over token hashes (Rabin-Karp-style
    document fingerprint). Deterministic cross-engine: md5-derived
    token hash (``mhash64``) + fixed modulus, folded left-to-right in
    both engines (Spark ``aggregate`` / DuckDB ``list_reduce``)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), r"\s+")
    rolling = F.aggregate(
        F.transform(toks, lambda t: F.pmod(mhash64(t), F.lit(1000003))),
        F.lit(7).cast("long"),
        lambda acc, x: F.pmod(acc * 131 + x, F.lit(1000000007)),
    )
    return d.select("doc_id", rolling.alias("rolling_hash"))


# ---------------------------------------------------------------------------
# Capstone: the composed training-data cleaning pipeline as one query
# ---------------------------------------------------------------------------

_QUALITY_MIN = 0.45


def _pipeline_oracle() -> str:
    from ..registry import QUERIES

    quality_sql = QUERIES["text_quality_score"].oracle
    return f"""
    WITH scored AS ({quality_sql}),
    kept AS (
      SELECT d.doc_id, d.lang, d.text, s.quality
      FROM documents d JOIN scored s ON s.doc_id = d.doc_id
      WHERE s.quality >= {_QUALITY_MIN}
    ),
    deduped AS (
      SELECT lang, quality, doc_id, text
      FROM (
        SELECT lang, quality, doc_id, text,
               ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM kept
      ) WHERE rn = 1
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len(regexp_split_to_array(text, '\\s+'))) AS BIGINT) AS total_tokens,
           MIN(quality) AS min_quality,
           MAX(quality) AS max_quality
    FROM deduped
    GROUP BY lang
    """


@register("pipeline_clean_corpus", oracle=_pipeline_oracle())
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed corpus-cleaning pipeline as ONE lazy plan:
    quality-score → threshold filter → exact dedup (keep lowest doc_id
    per md5) → per-language corpus stats. Each stage is a DataFrame
    transformation, so Catalyst optimizes ACROSS stage boundaries
    (the quality projection and the dedup window share one scan) —
    the argument for building pipelines as composable lazy plans
    rather than materialized steps. At 100 TB: 2 shuffles total
    (dedup window by fingerprint, final agg by lang).
    """
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    scored = text_quality_score(spark, sf_dir).select("doc_id", "quality")
    kept = (
        d.join(scored, "doc_id")
        .filter(F.col("quality") >= _QUALITY_MIN)
        .select("doc_id", "lang", "text", "quality")
    )
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    deduped = (
        kept.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return (
        deduped.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size(F.split(F.col("text"), r"\s+")).cast("long")).alias(
                "total_tokens"
            ),
            F.min("quality").alias("min_quality"),
            F.max("quality").alias("max_quality"),
        )
    )


@register(
    "text_word_count_topk",
    oracle="""
    SELECT token, n, rn AS rank
    FROM (
      SELECT token, COUNT(*) AS n,
             ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token) AS rn
      FROM (
        SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS token
        FROM documents
      )
      WHERE token <> ''
      GROUP BY token
    ) WHERE rn <= 20
    """,
)
def text_word_count_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical corpus job: global top-20 tokens by frequency.
    explode → two-level hash agg (map-side partial combine absorbs the
    token skew — 'the' is pre-summed per partition before the shuffle)
    → rank ties broken lexicographically for determinism. At 100 TB the
    only full-cardinality shuffle is the (token, partial_count) pairs.
    """
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )
    w = Window.orderBy(F.desc("n"), F.asc("token"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 20)
        .select("token", "n", "rank")
    )


@register(
    "text_heavy_hitters_approx",
    oracle="""
    WITH toks AS (
      SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS token
      FROM documents
    ), nonempty AS (
      SELECT token FROM toks WHERE token <> ''
    ), total AS (
      SELECT COUNT(*) AS n_total FROM nonempty
    )
    SELECT token, COUNT(*) AS n
    FROM nonempty, total
    GROUP BY token, n_total
    HAVING COUNT(*) > 0.01 * n_total
    """,
)
def text_heavy_hitters_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass heavy hitters: pass 1 is ``freqItems`` (count-min-style
    single scan, bounded memory — the 100 TB substitute for shuffling
    the full token cardinality); pass 2 exact-counts ONLY the sketch's
    candidates and keeps those truly above support. freqItems
    guarantees no false negatives above support, so the verified output
    equals the exact heavy-hitter set — which is what the oracle
    states, making the sketch's recall contract the thing being
    differentially tested. Support threshold 1%."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("token")
    ).filter(F.col("token") != "")
    hh = toks.stat.freqItems(["token"], support=0.01)
    cands = hh.select(F.explode("token_freqItems").alias("token"))
    total = toks.agg(F.count("*").alias("n_total"))  # lazy scalar
    return (
        toks.join(F.broadcast(cands), "token")
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("n") > 0.01 * F.col("n_total"))
        .select("token", "n")
    )


def _training_mix_oracle() -> str:
    from ..operators.sampling import _sql_strat_keep
    from ..registry import QUERIES

    quality_sql = QUERIES["text_quality_score"].oracle
    return f"""
    WITH scored AS ({quality_sql}),
    kept AS (
      SELECT d.doc_id, d.lang, d.text, s.quality
      FROM documents d JOIN scored s ON s.doc_id = d.doc_id
      WHERE s.quality >= {_QUALITY_MIN}
    ),
    deduped AS (
      SELECT doc_id, lang, text, quality
      FROM (
        SELECT doc_id, lang, text, quality,
               ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM kept
      ) WHERE rn = 1
    ),
    sampled AS (
      SELECT * FROM deduped WHERE {_sql_strat_keep()}
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len(regexp_split_to_array(text, '\\s+'))) AS BIGINT) AS total_tokens,
           MIN(quality) AS min_quality,
           MAX(quality) AS max_quality
    FROM sampled
    GROUP BY lang
    """


@register("pipeline_training_mix", oracle=_training_mix_oracle())
def pipeline_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-mix assembly as ONE lazy plan: quality filter →
    exact dedup → per-language stratified consistent hash-sample
    (rebalancing the mix) → per-language doc/token budget stats. The
    capstone composition: four pipeline stages, still only two shuffles
    (dedup window by fingerprint, final agg by lang) because the sample
    is a pure map-side hash predicate and Catalyst fuses the quality
    projection into the shared scan.
    """
    from pyspark.sql.window import Window

    from ..operators.sampling import _strat_keep

    d = load_table(spark, sf_dir, "documents")
    scored = text_quality_score(spark, sf_dir).select("doc_id", "quality")
    kept = (
        d.join(scored, "doc_id")
        .filter(F.col("quality") >= _QUALITY_MIN)
        .select("doc_id", "lang", "text", "quality")
    )
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    deduped = kept.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    sampled = deduped.filter(_strat_keep())
    return (
        sampled.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size(F.split(F.col("text"), r"\s+")).cast("long")).alias(
                "total_tokens"
            ),
            F.min("quality").alias("min_quality"),
            F.max("quality").alias("max_quality"),
        )
    )


@register(
    "text_length_histogram",
    oracle="""
    SELECT CAST(n_chars // 50 AS BIGINT) AS bucket,
           CAST(n_chars // 50 AS BIGINT) * 50 AS bucket_lo,
           COUNT(*) AS n_docs,
           MIN(n_chars) AS min_chars,
           MAX(n_chars) AS max_chars
    FROM documents
    GROUP BY 1, 2
    ORDER BY bucket
    """,
)
def text_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length histogram (50-char buckets) — the first plot
    anyone makes of a training corpus, and the shape filter for
    truncation/padding budgets. Pure integer bucketing (no width_bucket
    float edges) so the histogram is engine-exact; one hash aggregation
    over a 1-column scan, fully partial-aggregated map-side.
    """
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.floor(F.col("n_chars") / 50).cast("bigint").alias("bucket"), "n_chars")
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .select(
            "bucket",
            (F.col("bucket") * 50).alias("bucket_lo"),
            "n_docs",
            "min_chars",
            "max_chars",
        )
    )


# --------------------------------------------------------------------------
# Arrow-vectorized scalar pandas_udf: Unicode NFC normalization
# --------------------------------------------------------------------------

# Decomposed "e" + COMBINING ACUTE (U+0065 U+0301) — NFC folds it to the
# single codepoint U+00E9. Injected as a Python literal on the Spark
# side and chr(769) in DuckDB (Spark's char() wraps at 256, so it
# cannot build the combining char in SQL text).
_NFC_DECOMPOSED = "é"


@register(
    "pandas_udf_nfc_norm",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             text || repeat(' caf' || 'e' || chr(769),
                            CAST(doc_id % 3 AS INT)) AS enriched
      FROM documents WHERE doc_id < 400
    )
    SELECT doc_id,
           CAST(length(enriched) AS BIGINT) AS len_before,
           CAST(length(nfc_normalize(enriched)) AS BIGINT) AS len_after,
           {sql_mhash64('nfc_normalize(enriched)')} AS norm_hash
    FROM t
    """,
)
def pandas_udf_nfc_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization through an Arrow-vectorized scalar
    ``pandas_udf`` — the ONE text operation in this repo that genuinely
    needs Python: Spark has no NFC built-in (DuckDB does, which is what
    makes the differential possible). Docs are enriched with decomposed
    e+COMBINING-ACUTE sequences so normalization changes real bytes;
    ``len_before > len_after`` for every doc_id % 3 != 0 row and the
    md5-derived hash pins the exact normalized text.

    Scale shape: pure projection; the UDF is Arrow-batched (zero
    per-row Python call overhead, one buffer per batch) and only
    (doc_id, enriched) crosses the boundary. This is the sanctioned
    slow-path pattern — filter and prune BEFORE the Python stage."""
    from pyspark.sql.functions import pandas_udf

    # no type hints: this module uses `from __future__ import
    # annotations`, which stringifies them and breaks pandas_udf's
    # signature inference — the returnType argument carries the contract
    @pandas_udf("string")
    def nfc(s):
        return s.str.normalize("NFC")

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    enriched = F.concat(
        F.col("text"),
        F.expr(
            f"repeat(' caf{_NFC_DECOMPOSED}', CAST(doc_id % 3 AS INT))"
        ),
    )
    t = d.select("doc_id", enriched.alias("enriched"))
    return t.select(
        "doc_id",
        F.length("enriched").cast("long").alias("len_before"),
        F.length(nfc("enriched")).cast("long").alias("len_after"),
        mhash64(nfc("enriched")).alias("norm_hash"),
    )


# --------------------------------------------------------------------------
# Winsorized corpus statistics (outlier-robust quality aggregates)
# --------------------------------------------------------------------------


@register(
    "quality_winsorize_doclen",
    oracle="""
    WITH d AS (
      SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS len FROM documents
    ),
    r AS (
      SELECT lang, len,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY len) AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM d
    ),
    q AS (
      SELECT lang,
             MAX(CASE WHEN rn = greatest(1, CAST(ceil(0.05 * n) AS BIGINT))
                      THEN len END) AS p05,
             MAX(CASE WHEN rn = CAST(ceil(0.95 * n) AS BIGINT)
                      THEN len END) AS p95
      FROM r GROUP BY lang
    )
    SELECT d.lang, q.p05, q.p95,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(LEAST(GREATEST(d.len, q.p05), q.p95)) AS BIGINT)
             AS winsorized_total_len
    FROM d JOIN q ON d.lang = q.lang
    GROUP BY d.lang, q.p05, q.p95
    """,
)
def quality_winsorize_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier-robust corpus statistics: per-language document length
    winsorized at the discrete p05/p95 ranks. Rank-based discrete
    percentiles (the value at row ceil(q*n) of the sorted column) are
    used instead of interpolated ``percentile``/``quantile_cont``
    because element SELECTION is bit-exact across engines while
    interpolation arithmetic need not be; ties on len make the rank
    row ambiguous but its VALUE deterministic. Integer-exact sums —
    no double accumulation anywhere. Plan: one shuffle by lang for the
    ranking window, a tiny per-lang quantile table broadcast back onto
    the fact side, then a map-side clamp + integer aggregation. The
    quantile table is |langs| rows no matter the corpus size."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.length("text").cast("long").alias("len")
    )
    w_rank = Window.partitionBy("lang").orderBy("len")
    w_all = Window.partitionBy("lang")
    r = d.select(
        "lang",
        "len",
        F.row_number().over(w_rank).alias("rn"),
        F.count("*").over(w_all).alias("n"),
    )
    q = r.groupBy("lang").agg(
        F.max(
            F.when(
                F.col("rn")
                == F.greatest(F.lit(1), F.ceil(0.05 * F.col("n")).cast("long")),
                F.col("len"),
            )
        ).alias("p05"),
        F.max(
            F.when(
                F.col("rn") == F.ceil(0.95 * F.col("n")).cast("long"), F.col("len")
            )
        ).alias("p95"),
    )
    return (
        d.join(F.broadcast(q), "lang")
        .groupBy("lang", "p05", "p95")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.least(F.greatest(F.col("len"), F.col("p05")), F.col("p95")))
            .alias("winsorized_total_len"),
        )
        .select("lang", "p05", "p95", "n_docs", "winsorized_total_len")
    )


# boilerplate bigram doc-frequency threshold, in whole percent of the
# corpus (integer-exact: df * 100 >= _BOILER_PCT * n_docs on both
# engines, no float comparison)
_BOILER_PCT = 8


@register(
    "text_boilerplate_share",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w
      FROM documents
    ),
    nd AS (SELECT COUNT(*) AS n_docs FROM documents),
    g AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(w)),
               i -> w[i] || ' ' || w[i+1])) AS gs
      FROM w WHERE len(w) >= 2
    ),
    e AS (SELECT doc_id, unnest(gs) AS g FROM g),
    dfreq AS (SELECT g, COUNT(*) AS df FROM e GROUP BY g),
    boiler AS (
      SELECT g FROM dfreq, nd WHERE df * 100 >= {_BOILER_PCT} * n_docs
    )
    SELECT e.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_boiler,
           CAST(SUM(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS boiler_share
    FROM e LEFT JOIN boiler b ON e.g = b.g
    GROUP BY e.doc_id
    ORDER BY e.doc_id
    """,
)
def text_boilerplate_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate detection (the C4/RefinedWeb cleaning
    step): bigrams whose document frequency exceeds ``_BOILER_PCT`` %
    of the corpus are "boilerplate" (headers, nav text, license
    blurbs); each doc reports its distinct-bigram count and the share
    of them that are boilerplate — the downstream filter predicate.

    Scale notes (100 TB): per-doc bigram generation is a pure
    projection (higher-order ``transform`` over the split array, JVM
    codegen, no Python). The doc-frequency aggregate shuffles DISTINCT
    (doc, bigram) pairs once; the boilerplate set it yields is tiny by
    construction (df >= 8 % of docs caps it at 12.5 ngrams per doc on
    average — a few thousand strings corpus-wide), so marking docs is
    a BROADCAST left join — no second big shuffle. The corpus size
    feeds the threshold as a broadcast 1-row aggregate, not a driver
    round-trip. Threshold compare is integer-exact cross-engine
    (``df * 100 >= pct * n_docs``).
    """
    d = load_table(spark, sf_dir, "documents")
    w = F.split(F.lower(F.col("text")), r"\s+")
    grams = F.expr(
        "array_distinct(transform(sequence(1, size(w)-1),"
        " i -> concat_ws(' ', element_at(w, i), element_at(w, i+1))))"
    )
    e = (
        d.select("doc_id", w.alias("w"))
        .filter(F.size("w") >= 2)
        .select("doc_id", F.explode(grams).alias("g"))
    )
    n_docs = d.agg(F.count("*").alias("n_docs"))
    boiler = (
        e.groupBy("g")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("df") * 100 >= _BOILER_PCT * F.col("n_docs"))
        .select("g", F.lit(1).alias("is_boiler"))
    )
    return (
        e.join(F.broadcast(boiler), "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.sum(F.coalesce(F.col("is_boiler"), F.lit(0)))
            .cast("long")
            .alias("n_boiler"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "n_boiler",
            (F.col("n_boiler").cast("double") / F.col("n_bigrams")).alias(
                "boiler_share"
            ),
        )
    )


# ---------------------------------------------------------------------------
# TF-IDF keyword extraction (per-document top terms)
# ---------------------------------------------------------------------------

_TFIDF_TOPN = 3


@register(
    "text_tfidf_top_terms",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(text), '\\s+')) AS token
      FROM documents
    ), tf AS (
      SELECT doc_id, token, COUNT(*) AS tf
      FROM toks WHERE token <> '' GROUP BY doc_id, token
    ), df AS (
      SELECT token, COUNT(*) AS df FROM tf GROUP BY token
    ), n AS (
      SELECT COUNT(*) AS n_docs FROM documents
    )
    SELECT doc_id, token, score, CAST(rn AS INTEGER) AS rank FROM (
      SELECT tf.doc_id, tf.token,
             CAST(tf.tf * (n.n_docs + 1) AS DOUBLE) / (df.df + 1) AS score,
             ROW_NUMBER() OVER (
               PARTITION BY tf.doc_id
               ORDER BY CAST(tf.tf * (n.n_docs + 1) AS DOUBLE) / (df.df + 1)
                        DESC, tf.token
             ) AS rn
      FROM tf JOIN df USING (token) CROSS JOIN n
    ) WHERE rn <= {_TFIDF_TOPN}
    ORDER BY doc_id, rank
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-{n} terms by tf-idf with the
    RATIONAL idf ``(N+1)/(df+1)`` — same policy as BM25 here: ``log()``
    is libm-dependent across engines while ``*,/`` are IEEE-correctly
    rounded, and idf is monotone in either form so per-document ranking
    is preserved. The score is ONE double division of exact integers
    (``tf*(N+1)`` stays BIGINT), hence bit-identical everywhere.

    Scale: tf is a (doc, token) hash agg with map-side combine; the
    df side joins back keyed by token — a shuffle hash join whose hot
    keys (stopwords) are exactly the AQE skew-join case; N is the usual
    broadcast 1-row aggregate. Per-doc top-{n} is a window rank, never
    a global sort.
    """
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select(
            "doc_id",
            F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("token"),
        )
        .filter(F.col("token") != "")
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("token").agg(F.count("*").alias("df"))
    n = d.agg(F.count("*").alias("n_docs"))
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("token"))
    return (
        tf.join(df_, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            (
                (F.col("tf") * (F.col("n_docs") + 1)).cast("double")
                / (F.col("df") + 1)
            ).alias("score"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TFIDF_TOPN)
        .select("doc_id", "token", "score", "rank")
    )


text_tfidf_top_terms.__doc__ = text_tfidf_top_terms.__doc__.format(n=_TFIDF_TOPN)


# ---------------------------------------------------------------------------
# Character-diversity quality score (Simpson index, log-free)
# ---------------------------------------------------------------------------

_DIVERSITY_ALPHABET = "abcdefghijklmnopqrstuvwxyz"


def _simpson_sql_exprs():
    """SQL text for the Simpson diversity index ``1 - sum(p_i^2)`` over
    the fixed buckets a..z + other. The Spark build
    (:func:`_simpson_spark_exprs`) runs the SAME loop in the same term
    order so every IEEE operation matches term-for-term; this SQL-only
    half exists separately because oracle strings are built at import
    time, before any SparkContext exists."""
    sql_counts = [
        f"(length(lc) - length(replace(lc, '{ch}', ''))) AS c_{ch}"
        for ch in _DIVERSITY_ALPHABET
    ]
    letter_sum_sql = None
    for ch in _DIVERSITY_ALPHABET:
        s = f"c_{ch}"
        letter_sum_sql = s if letter_sum_sql is None else f"({letter_sum_sql} + {s})"
    acc_sql = None
    for ch in list(_DIVERSITY_ALPHABET) + ["other"]:
        cnt_sql = f"(len - {letter_sum_sql})" if ch == "other" else f"c_{ch}"
        p_sql = f"(CAST({cnt_sql} AS DOUBLE) / len)"
        t_sql = f"({p_sql} * {p_sql})"
        acc_sql = t_sql if acc_sql is None else f"({acc_sql} + {t_sql})"
    simpson_sql = f"CASE WHEN len > 0 THEN 1.0 - {acc_sql} ELSE 0.0 END"
    return sql_counts, simpson_sql


def _simpson_spark_exprs():
    """Spark-Column twin of :func:`_simpson_sql_exprs` — same loop,
    same term order. Built lazily (Column construction needs an active
    SparkContext in this environment)."""
    lc = F.col("lc")
    counts = [
        (F.length(lc) - F.length(F.translate(lc, ch, ""))).alias(f"c_{ch}")
        for ch in _DIVERSITY_ALPHABET
    ]
    letter_sum_col = None
    for ch in _DIVERSITY_ALPHABET:
        c = F.col(f"c_{ch}")
        letter_sum_col = c if letter_sum_col is None else letter_sum_col + c
    acc_col = None
    for ch in list(_DIVERSITY_ALPHABET) + ["other"]:
        cnt_col = (F.col("len") - letter_sum_col) if ch == "other" else F.col(f"c_{ch}")
        p_col = cnt_col.cast("double") / F.col("len")
        t_col = p_col * p_col
        acc_col = t_col if acc_col is None else acc_col + t_col
    simpson_col = F.when(F.col("len") > 0, F.lit(1.0) - acc_col).otherwise(F.lit(0.0))
    return counts, simpson_col


def _char_diversity_oracle() -> str:
    sql_counts, simpson_sql = _simpson_sql_exprs()
    return f"""
    WITH base AS (
      SELECT doc_id, lower(text) AS lc, length(lower(text)) AS len
      FROM documents
    ), counted AS (
      SELECT doc_id, len, {', '.join(sql_counts)} FROM base
    )
    SELECT doc_id, len AS n_chars_used, {simpson_sql} AS simpson_diversity
    FROM counted ORDER BY doc_id
    """


@register("quality_char_diversity", oracle=_char_diversity_oracle())
def quality_char_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-diversity quality signal: the Simpson index
    ``1 - sum(p_i^2)`` over fixed buckets (a..z + everything-else) —
    near 0 flags degenerate single-character spam, high values flag
    diverse text. Deliberately LOG-FREE (no Shannon entropy): ``+,-,*,/``
    are IEEE-correctly-rounded so the fixed-order term sum is
    bit-identical across engines, where ``ln`` differs in the last ulp.

    Per-bucket counts use the ``len - len(translate(c,''))`` trick —
    27 codegen string ops per row, NO explode of the corpus into
    per-character rows (at 100 TB that explode is ~500x row inflation;
    this stays a pure map-side projection).
    """
    counts, simpson_col = _simpson_spark_exprs()
    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        F.lower(F.col("text")).alias("lc"),
        F.length(F.lower(F.col("text"))).alias("len"),
    )
    counted = base.select("doc_id", "len", *counts)
    return counted.select(
        "doc_id",
        F.col("len").alias("n_chars_used"),
        simpson_col.alias("simpson_diversity"),
    )
