"""Deduplication operators over the ``documents`` / ``events`` tables.

Five families, as a large-scale training-data pipeline needs them:

1. exact dedup — hash-groupBy on a content fingerprint (md5);
2. keyed latest-wins dedup — window row_number over (key, ts desc);
3. n-gram Jaccard near-dup — exact set similarity on blocked candidate
   pairs (the oracle-able baseline);
4. MinHash + LSH banding — the 100 TB path: signatures + band-bucket
   equi-join generate candidates in O(n·bands) instead of O(n²);
5. SimHash — 64-bit sign-hash + pigeonhole chunk blocking for
   Hamming-distance near-dup.

Scale notes: every candidate-generation step here is an equi-join or
hash aggregation (shuffle on a hash-uniform key — no skew); bucket
sizes are capped (``_MAX_BUCKET``) so a degenerate bucket can never go
quadratic; verification joins fetch shingle sets by doc_id (hash join).
Nothing collects to the driver.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.deterministic import mhash64, sql_mhash64
from ..functions.planctl import nondet_keep as _nondet_keep
from ..functions.planctl import spread as _spread
from ..registry import QUERIES, register
from ..tables import load_table

# --- shared text→shingle plumbing (word 3-shingles) ------------------------

def _tokens():
    return F.split(F.lower(F.col("text")), r"\s+")


def _jaccard():
    # _nondet_keep: keep the ≥t filter out of the join condition (see below)
    return _nondet_keep(
        F.size(F.array_intersect("a_sh", "b_sh")).cast("double")
        / F.size(F.array_union("a_sh", "b_sh"))
    ).alias("jaccard")


def _with_shingles(docs: DataFrame) -> DataFrame:
    """doc_id + distinct word-3-shingle array (docs with ≥3 tokens)."""
    return (
        docs.select("doc_id", _tokens().alias("w"))
        .filter(F.size("w") >= 3)
        .select(
            "doc_id",
            F.expr(
                "array_distinct(transform(sequence(0, size(w)-3),"
                " i -> concat(w[i], ' ', w[i+1], ' ', w[i+2])))"
            ).alias("shingles"),
        )
    )


# ---------------------------------------------------------------------------
# 1. Exact dedup via content fingerprint
# ---------------------------------------------------------------------------

@register(
    "dedup_exact_fingerprint",
    oracle="""
    SELECT md5(text) AS fingerprint,
           MIN(doc_id) AS keeper_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
)
def dedup_exact_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by md5(text), keep the lowest doc_id.

    At 100 TB this is ONE shuffle on a 128-bit uniform key (no skew);
    the fingerprint is computed JVM-side in codegen.
    """
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5("text").alias("fingerprint"))
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count("*").alias("n_copies"))
    )


@register(
    "dedup_distinct_user_event",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def dedup_distinct_user_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational DISTINCT (dropDuplicates on a key subset)."""
    e = load_table(spark, sf_dir, "events")
    return e.select("user_id", "event_type").distinct()


# ---------------------------------------------------------------------------
# 2. Keyed latest-wins dedup
# ---------------------------------------------------------------------------

@register(
    "dedup_latest_event_per_user_type",
    oracle="""
    SELECT user_id, event_type, event_id, ts, value
    FROM (
      SELECT user_id, event_type, event_id, ts, value,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def dedup_latest_event_per_user_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-wins dedup: keep the newest event per (user, type).

    One shuffle on the dedup key; row_number (not orderBy+drop) so ties
    resolve deterministically via event_id.
    """
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "ts", "value")
    )


# ---------------------------------------------------------------------------
# 3. Exact n-gram Jaccard near-dup on blocked candidate pairs (oracle-able)
# ---------------------------------------------------------------------------

_NGRAM_WINDOW = 100  # candidate window: pairs within 100 doc_ids


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(w)-1),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
      FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w
            FROM documents)
      WHERE len(w) >= 3
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
    FROM sh a JOIN sh b
      ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + {_NGRAM_WINDOW}
    WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / len(list_distinct(list_concat(a.s, b.s))) >= 0.5
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard ≥ 0.5 over id-blocked candidate pairs.

    Plan: slim (doc_a, doc_b, |A|, |B|) candidate tuples from an
    id-window explode + equi-join, an exact size-ratio prune
    (J ≥ t ⇒ min/max ≥ t) BEFORE any array is joined, then hashed
    shingle sets attached by doc_id and intersected once per surviving
    pair. Identical result to the oracle's all-pairs range-join
    formulation. (The unblocked scale path is MinHash-LSH below; this
    operator is the exact baseline the oracle verifies.)
    """
    sh = _with_shingles(_spread(load_table(spark, sf_dir, "documents")))
    # shingle strings → xxhash64 longs: set intersection on fixed-width
    # longs instead of ~20-char strings (collision probability across
    # ≤1e6 distinct shingles is ~1e-7 per pair-set — below the float
    # noise floor of any result this feeds). |A∩B| is unchanged.
    hashed = sh.select(
        "doc_id",
        F.expr("array_distinct(transform(shingles, s -> xxhash64(s)))").alias("hs"),
        F.size("shingles").alias("n_sh"),
    )

    # candidate pairs as SLIM int tuples (no arrays through the explode)
    ids = hashed.select("doc_id", "n_sh")
    pairs = (
        ids.select(
            F.col("doc_id").alias("doc_a"),
            F.col("n_sh").alias("n_a"),
            F.explode(F.sequence(F.lit(1), F.lit(_NGRAM_WINDOW))).alias("off"),
        )
        .withColumn("doc_b", F.col("doc_a") + F.col("off"))
        .join(
            ids.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b")),
            "doc_b",
        )
        # exact prune: J ≥ t ⇒ min(|A|,|B|)/max(|A|,|B|) ≥ t, because
        # |A∩B| ≤ min and |A∪B| ≥ max — drops pairs BEFORE arrays join
        .filter(F.least("n_a", "n_b") >= 0.5 * F.greatest("n_a", "n_b"))
    )

    scored = (
        pairs.join(hashed.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("a_hs")), "doc_a")
        .join(hashed.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("b_hs")), "doc_b")
        .withColumn("n_inter", F.size(F.array_intersect("a_hs", "b_hs")))
        .select(
            "doc_a",
            "doc_b",
            _nondet_keep(
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
    )
    return scored.filter(F.col("jaccard") >= 0.5)


# ---------------------------------------------------------------------------
# 4. MinHash + LSH banding (the scale path; deterministic, rows-only check)
# ---------------------------------------------------------------------------

_MERSENNE = 2147483647  # 2^31 - 1
_K = 32                 # signature length
_BANDS = 8              # 8 bands × 4 rows
_ROWS = _K // _BANDS
_MAX_BUCKET = 64        # cap pairs per LSH bucket (skew guard)

_rng = random.Random(42)
_MINHASH_AB = [( _rng.randrange(1, _MERSENNE), _rng.randrange(0, _MERSENNE))
               for _ in range(_K)]


def _minhash_cte_prefix() -> str:
    """Shared DuckDB CTE chain: shingles → hashes → signatures →
    (band, bucket) rows → bucket sizes. Used by both the candidate
    oracle and the bucket-stats oracle so the two stay in lockstep."""
    m_cols = ",\n             ".join(
        f"MIN(({a} * h + {b}) % {_MERSENNE}) AS m{k}"
        for k, (a, b) in enumerate(_MINHASH_AB)
    )
    band_exprs = ", ".join(
        sql_mhash64(
            "concat_ws('|', " + ", ".join(
                [str(bi)] + [f"m{bi * _ROWS + r}" for r in range(_ROWS)]
            ) + ")"
        )
        for bi in range(_BANDS)
    )
    return f"""WITH sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(w)-1),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
      FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w
            FROM documents)
      WHERE len(w) >= 3
    ), hashes AS (
      SELECT doc_id, {sql_mhash64('sh_str')} % {_MERSENNE} AS h
      FROM (SELECT doc_id, unnest(s) AS sh_str FROM sh)
    ), sigs AS (
      SELECT doc_id,
             {m_cols}
      FROM hashes GROUP BY doc_id
    ), buckets AS (
      SELECT doc_id,
             CAST(unnest(range({_BANDS})) AS INTEGER) AS band,
             unnest([{band_exprs}]) AS bucket
      FROM sigs
    ), sizes AS (
      SELECT band, bucket, COUNT(*) AS cnt FROM buckets GROUP BY band, bucket
    )"""


def _minhash_oracle() -> str:
    """DuckDB replay of the full MinHash-LSH pipeline. Possible because
    every hash is md5-derived (``mhash64``): base shingle hash, the 32
    seed-42 affine permutations mod 2^31-1, and the per-band bucket hash
    over '|'-joined signature values are all engine-agnostic integer
    arithmetic both engines compute bit-identically."""
    jac = ("CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)"
           " / len(list_distinct(list_concat(a.s, b.s)))")
    return f"""
    {_minhash_cte_prefix()}, cands AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM buckets x
      JOIN buckets y ON x.band = y.band AND x.bucket = y.bucket
                    AND y.doc_id > x.doc_id
      JOIN sizes z ON z.band = x.band AND z.bucket = x.bucket
                  AND z.cnt > 1 AND z.cnt <= {_MAX_BUCKET}
    )
    SELECT c.doc_a, c.doc_b, {jac} AS jaccard
    FROM cands c
    JOIN sh a ON a.doc_id = c.doc_a
    JOIN sh b ON b.doc_id = c.doc_b
    WHERE {jac} >= 0.5
    """


# the (doc_id, band, bucket) rows are the dedup job's stored LSH
# index: dedup_minhash_lsh AND dedup_lsh_bucket_stats both consume
# them, and each query re-ran the shingle explode + 32-permutation
# MinHash aggregation before this memo (the ann_*/unigram substrate
# pattern — bucket_stats' own docstring promises "no new scan of the
# corpus", which is only true when the rows are actually shared)
_LSH_BUCKET_CACHE: dict[tuple, DataFrame] = {}


def _lsh_buckets_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .app_cache import app_scoped

    return app_scoped(
        _LSH_BUCKET_CACHE,
        spark,
        (sf_dir, "minhash-buckets"),
        lambda: _lsh_buckets(
            _with_shingles(_spread(load_table(spark, sf_dir, "documents")))
        ),
    )


def _lsh_buckets(sh: DataFrame) -> DataFrame:
    """(doc_id, band, bucket) rows: MinHash(K) signature per doc, then
    one md5-derived bucket hash per band over its signature slice."""
    base = sh.select(
        "doc_id", F.explode("shingles").alias("s")
    ).select("doc_id", F.pmod(mhash64("s"), F.lit(_MERSENNE)).alias("h"))
    sig_cols = [
        F.min(F.pmod(F.lit(a) * F.col("h") + F.lit(b), F.lit(_MERSENNE))).alias(f"m{k}")
        for k, (a, b) in enumerate(_MINHASH_AB)
    ]
    sigs = base.groupBy("doc_id").agg(*sig_cols)
    band_hashes = F.array(
        *[
            mhash64(
                F.concat_ws(
                    "|",
                    F.lit(str(bi)),
                    *[F.col(f"m{bi * _ROWS + r}").cast("string") for r in range(_ROWS)],
                )
            ).alias(f"b{bi}")
            for bi in range(_BANDS)
        ]
    )
    return sigs.select("doc_id", F.posexplode(band_hashes).alias("band", "bucket"))


@register(
    "dedup_lsh_bucket_stats",
    oracle=f"""
    {_minhash_cte_prefix()}
    SELECT band,
           COUNT(*) AS n_buckets,
           CAST(COALESCE(SUM(CASE WHEN cnt > 1 AND cnt <= {_MAX_BUCKET} THEN 1 ELSE 0 END), 0)
               AS BIGINT) AS n_candidate_buckets,
           CAST(COALESCE(SUM(CASE WHEN cnt > {_MAX_BUCKET} THEN 1 ELSE 0 END), 0)
               AS BIGINT) AS n_overflow_buckets,
           CAST(COALESCE(SUM(CASE WHEN cnt > {_MAX_BUCKET} THEN cnt ELSE 0 END), 0)
               AS BIGINT) AS docs_in_overflow
    FROM sizes GROUP BY band ORDER BY band
    """,
)
def dedup_lsh_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observability companion to ``dedup_minhash_lsh``: per LSH band,
    how many buckets exist, how many feed candidate pairs, and — the
    one that matters at 100 TB — how many OVERFLOW the ``_MAX_BUCKET``
    skew cap and get their docs dropped from candidate generation.

    The cap is a documented recall trade (a degenerate bucket cannot go
    quadratic), but silent recall loss is not acceptable at scale: an
    operator runs this alongside the dedup job and alerts when
    ``docs_in_overflow`` is nonzero. One extra aggregation over the
    (band, bucket) rows the dedup job already computes — no new scan
    of the corpus, no driver-side state.
    """
    sizes = (
        _lsh_buckets_cached(spark, sf_dir)
        .groupBy("band", "bucket")
        .agg(F.count("*").alias("cnt"))
    )
    cap = F.lit(_MAX_BUCKET)
    return (
        sizes.groupBy("band")
        .agg(
            F.count("*").alias("n_buckets"),
            F.sum(
                ((F.col("cnt") > 1) & (F.col("cnt") <= cap)).cast("bigint")
            ).alias("n_candidate_buckets"),
            F.sum((F.col("cnt") > cap).cast("bigint")).alias("n_overflow_buckets"),
            F.sum(
                F.when(F.col("cnt") > cap, F.col("cnt")).otherwise(F.lit(0))
            ).alias("docs_in_overflow"),
        )
    )


@register("dedup_minhash_lsh", oracle=_minhash_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32) + LSH(8 bands × 4) near-dup candidates, verified with
    exact Jaccard ≥ 0.5. Deterministic: md5-derived base hash
    (``mhash64`` — cross-engine, so the whole pipeline is oracle-checked)
    + fixed (a,b) permutation constants (seed 42).

    Scale design: O(n) signature computation (one aggregation over
    exploded shingles), O(n·bands) bucket join, bucket size capped at
    {cap} so a degenerate bucket cannot go quadratic, exact-verify only
    on candidates. This is the 100 TB replacement for the O(n²)
    all-pairs scan in ``dedup_ngram_jaccard``.
    """
    # shingle sets feed the two verify joins: cache so the tokenize/
    # shingle projection runs once; the bucket rows come from the
    # app-scoped LSH index memo shared with dedup_lsh_bucket_stats
    sh = _with_shingles(_spread(load_table(spark, sf_dir, "documents"))).cache()
    buckets = _lsh_buckets_cached(spark, sf_dir)

    # candidate pairs: docs sharing a (band, bucket); cap bucket size
    grouped = (
        buckets.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= _MAX_BUCKET))
    )
    pairs = (
        grouped.select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) ->"
                    " transform(slice(ids, i + 2, size(ids)), y -> struct(x AS a, y AS b))))"
                )
            ).alias("p")
        )
        .select(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
        .distinct()
    )

    # exact-verify candidates
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("a_sh"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("b_sh"))
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", _jaccard())
        .filter(F.col("jaccard") >= 0.5)
    )


dedup_minhash_lsh.__doc__ = dedup_minhash_lsh.__doc__.format(cap=_MAX_BUCKET)


# ---------------------------------------------------------------------------
# 5. SimHash near-dup (Hamming ≤ 6 via 4×16-bit pigeonhole blocking)
# ---------------------------------------------------------------------------

_SIM_BITS = 60          # mhash64 yields 60 uniform bits (15 hex chars)
_CHUNKS = 4             # 4 × 15-bit chunks
_CHUNK_BITS = _SIM_BITS // _CHUNKS
_CHUNK_MASK = (1 << _CHUNK_BITS) - 1
_HAMMING_MAX = 6


def _simhash_oracle() -> str:
    """DuckDB replay of the SimHash pipeline (md5-derived token hash →
    bit-majority signature → capped chunk-bucket candidate pairs →
    exact Hamming verify)."""
    s_cols = ",\n             ".join(
        f"SUM((h >> {j}) & 1) AS s{j}" for j in range(_SIM_BITS)
    )
    sig_sum = " + ".join(
        f"CASE WHEN 2 * s{j} > n THEN CAST({1 << j} AS BIGINT) ELSE 0 END"
        for j in range(_SIM_BITS)
    )
    chunk_exprs = ", ".join(
        f"(sig >> {_CHUNK_BITS * c}) & {_CHUNK_MASK}" for c in range(_CHUNKS)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, {sql_mhash64('t')} AS h
      FROM (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS t
            FROM documents)
    ), bit_sums AS (
      SELECT doc_id, COUNT(*) AS n,
             {s_cols}
      FROM toks GROUP BY doc_id
    ), sigs AS (
      SELECT doc_id, {sig_sum} AS sig FROM bit_sums
    ), chunks AS (
      SELECT doc_id,
             CAST(unnest(range({_CHUNKS})) AS INTEGER) AS chunk_idx,
             unnest([{chunk_exprs}]) AS chunk_val
      FROM sigs
    ), sizes AS (
      SELECT chunk_idx, chunk_val, COUNT(*) AS cnt
      FROM chunks GROUP BY chunk_idx, chunk_val
    ), cands AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM chunks x
      JOIN chunks y ON x.chunk_idx = y.chunk_idx AND x.chunk_val = y.chunk_val
                   AND y.doc_id > x.doc_id
      JOIN sizes z ON z.chunk_idx = x.chunk_idx AND z.chunk_val = x.chunk_val
                  AND z.cnt > 1 AND z.cnt <= {_MAX_BUCKET}
    )
    SELECT c.doc_a, c.doc_b,
           CAST(bit_count(xor(sa.sig, sb.sig)) AS INTEGER) AS hamming
    FROM cands c
    JOIN sigs sa ON sa.doc_id = c.doc_a
    JOIN sigs sb ON sb.doc_id = c.doc_b
    WHERE bit_count(xor(sa.sig, sb.sig)) <= {_HAMMING_MAX}
    """


def simhash_pairs(docs: DataFrame) -> DataFrame:
    """SimHash candidate pairs over a (doc_id, text) DataFrame —
    factored out of the registered query for direct testing (skew/cap
    behavior is asserted on crafted inputs in tests)."""
    toks = docs.select("doc_id", F.explode(_tokens()).alias("t")).select(
        "doc_id", mhash64("t").alias("h")
    )
    # per bit j: signature bit set iff set-count majority, i.e.
    # 2·sum(bit_j) > n  (≡ sum(±1) > 0 incl. tie semantics). Branch-free
    # bit sums instead of 60 CASE WHENs: same result, ~3× faster cold —
    # the conditional form's codegen alone took seconds to compile.
    bit_sums = toks.groupBy("doc_id").agg(
        F.count("*").alias("n"),
        *[
            F.sum(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1))).alias(f"s{j}")
            for j in range(_SIM_BITS)
        ],
    )
    # signature fits a signed long: 60 bits
    sig = bit_sums.select(
        "doc_id",
        sum(
            [
                F.when(F.col(f"s{j}") * 2 > F.col("n"), F.lit(1).cast("long") * (1 << j)).otherwise(0)
                for j in range(_SIM_BITS)
            ],
            F.lit(0).cast("long"),
        ).alias("sig"),
    ).cache()  # read by chunk-explode + both verify joins

    chunks = sig.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("sig"), _CHUNK_BITS * c).bitwiseAND(F.lit(_CHUNK_MASK))
                    for c in range(_CHUNKS)
                ]
            )
        ).alias("chunk_idx", "chunk_val"),
    )
    # candidate pairs via capped bucket enumeration (NOT a raw self-join):
    # group docs per (chunk_idx, chunk_val), drop buckets above
    # _MAX_BUCKET — a degenerate chunk value (e.g. near-empty docs all
    # collapsing to sig≈0) would otherwise make the join quadratic at
    # scale. Mirrors the LSH banding cap above.
    grouped = (
        chunks.groupBy("chunk_idx", "chunk_val")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= _MAX_BUCKET))
    )
    pairs = (
        grouped.select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) ->"
                    " transform(slice(ids, i + 2, size(ids)), y -> struct(x AS a, y AS b))))"
                )
            ).alias("p")
        )
        .select(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
        .distinct()
    )

    # exact Hamming verify on candidates: signatures re-attached by
    # doc_id (uniform-key hash joins; sig is cached above)
    return (
        pairs.join(sig.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a")), "doc_a")
        .join(sig.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= _HAMMING_MAX)
    )


@register("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(60) near-dup: sign-sum signature over md5-derived token
    hashes (``mhash64`` — cross-engine, so the pipeline is
    oracle-checked), candidates from 15-bit chunk equality (pigeonhole
    blocking; verified with exact ``bit_count(xor) ≤ 6``, so the result
    is a deterministic subset of true pairs — the standard recall/cost
    trade).

    Signature math is JVM-side bit arithmetic (shiftright/bit_count);
    one aggregation + capped bucket enumeration (see ``simhash_pairs``).
    """
    return simhash_pairs(_spread(load_table(spark, sf_dir, "documents")))


# ---------------------------------------------------------------------------
# 6. Embedding-cosine near-dup (semantic dedup over documents)
# ---------------------------------------------------------------------------

_EMB_WINDOW = 100
_EMB_THRESHOLD = 0.35  # fixture embeddings are near-orthogonal


def _emb_oracle() -> str:
    from .similarity import _sql_cosine

    return f"""
    WITH pairs AS (
      SELECT a.vec_id AS keeper, b.vec_id AS dup_doc,
             {_sql_cosine('a.embedding', 'b.embedding')} AS cosine
      FROM embeddings a JOIN embeddings b
        ON b.vec_id > a.vec_id AND b.vec_id <= a.vec_id + {_EMB_WINDOW}
      WHERE {_sql_cosine('a.embedding', 'b.embedding')} >= {_EMB_THRESHOLD}
    )
    SELECT p.dup_doc, MIN(p.keeper) AS keeper_doc,
           MAX(p.cosine) AS best_cosine, COUNT(*) AS n_matches,
           ANY_VALUE(d.lang) AS lang
    FROM pairs p JOIN documents d ON d.doc_id = p.dup_doc
    GROUP BY p.dup_doc
    """


@register("dedup_embedding_cosine", oracle=_emb_oracle())
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding-cosine) near-dup dedup over ``documents``:
    embeddings are 1:1 with docs by id; a doc is a duplicate if some
    earlier doc within the id-block has cosine ≥ t with it. Output is
    the DROP LIST — each duplicate with its keeper (lowest matching
    id), best score, match count, and the doc's language.

    Same blocked-candidate scaffold as ``sim_cosine_pairs`` (the
    unblocked scale path would bucket by an LSH/IVF key first, see
    ``ann_ivf_topk``); the documents join is a broadcast-size metadata
    fetch by id.
    """
    from .similarity import _dot_dec

    e = _spread(load_table(spark, sf_dir, "embeddings"))
    d = load_table(spark, sf_dir, "documents")
    with_norm = e.select(
        "vec_id",
        "embedding",
        F.sqrt(_dot_dec(F.col("embedding"), F.col("embedding"))).alias("norm"),
    )
    a = with_norm.select(
        F.col("vec_id").alias("keeper"),
        F.col("embedding").alias("emb_a"),
        F.col("norm").alias("norm_a"),
        F.explode(F.sequence(F.lit(1), F.lit(_EMB_WINDOW))).alias("off"),
    ).withColumn("dup_doc", F.col("keeper") + F.col("off"))
    b = with_norm.select(
        F.col("vec_id").alias("dup_doc"),
        F.col("embedding").alias("emb_b"),
        F.col("norm").alias("norm_b"),
    )
    pairs = (
        a.join(b, "dup_doc")
        .select(
            "keeper",
            "dup_doc",
            _nondet_keep(
                _dot_dec(F.col("emb_a"), F.col("emb_b"))
                / (F.col("norm_a") * F.col("norm_b"))
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= _EMB_THRESHOLD)
    )
    return (
        pairs.groupBy("dup_doc")
        .agg(
            F.min("keeper").alias("keeper_doc"),
            F.max("cosine").alias("best_cosine"),
            F.count("*").alias("n_matches"),
        )
        .join(d.select(F.col("doc_id").alias("dup_doc"), "lang"), "dup_doc")
        .select("dup_doc", "keeper_doc", "best_cosine", "n_matches", "lang")
    )


# ---------------------------------------------------------------------------
# 7. Dup-cluster resolution: connected components over near-dup pairs
# ---------------------------------------------------------------------------

_CC_MAX_ITERS = 12  # ≥ graph diameter of any dup cluster we accept

# resolved-cluster memo per (session, sf_dir) — see operators/app_cache.py
_CC_CACHE: dict[tuple, DataFrame] = {}


def _cc_oracle() -> str:
    # reuse the exact ngram-jaccard pair SQL as the edge set, then
    # resolve components with a recursive transitive closure
    from ..registry import QUERIES

    pair_sql = QUERIES["dedup_ngram_jaccard"].oracle
    return f"""
    WITH RECURSIVE pairs AS ({pair_sql}),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION ALL
      SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    reach(u, r) AS (
      SELECT DISTINCT u, u FROM edges
      UNION
      SELECT e.u, reach.r FROM edges e JOIN reach ON reach.u = e.v
    )
    SELECT u AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY u
    """


def connected_components(edges: DataFrame) -> DataFrame:
    """Min-label connected components over an (u, v) edge DataFrame
    (edges must already contain both directions), returning
    (doc_id, cluster_id = smallest node id in the component).

    Each round does (a) a neighbor-min hop, then (b) a POINTER JUMP —
    every node also takes its current label's label
    (``l(u) ← min(l(u), l(l(u)))``; the label is a node in the same
    component, so this is safe and min-monotone). The jump halves the
    remaining distance to the component minimum, so convergence needs
    O(log diameter) rounds instead of O(diameter) — with
    ``_CC_MAX_ITERS`` = {iters} rounds, clusters up to diameter ~2^{iters}
    resolve, vs {iters} hops for plain propagation. At 100 TB each round
    is two uniform-key equi-joins + one aggregation, all distributed;
    the driver only ever sees the scalar converged-count.
    ``localCheckpoint`` per round truncates lineage.
    """
    edges = edges.localCheckpoint()  # pair generation runs once, not per round

    labels = (
        edges.select("u").distinct().select("u", F.col("u").alias("label"))
    ).localCheckpoint()
    changed = -1
    for it in range(_CC_MAX_ITERS):
        # (a) hop: min over neighbors' labels
        lab_v = labels.select(F.col("u").alias("lv"), F.col("label").alias("vlabel"))
        neighbor_min = (
            edges.join(lab_v, edges.v == F.col("lv"))
            .groupBy("u")
            .agg(F.min("vlabel").alias("nlabel"))
            .withColumnRenamed("u", "nu")
        )
        hopped = (
            labels.join(neighbor_min, labels.u == F.col("nu"), "left")
            .select(
                "u",
                F.least(
                    F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
                ).alias("label"),
            )
        )
        # (b) jump: follow the label pointer one step. Only from round 2
        # on — shallow clusters (star-shaped around the min doc, the
        # overwhelmingly common dup topology) converge in 1-2 plain hops
        # and the jump's extra join would be pure overhead; deep paths
        # get the O(log d) doubling once plain hops have stalled.
        if it >= 2:
            ptr = hopped.select(F.col("u").alias("pu"), F.col("label").alias("plabel"))
            new_labels = (
                hopped.join(ptr, hopped.label == F.col("pu"), "left")
                .select(
                    "u",
                    F.least(
                        F.col("label"), F.coalesce(F.col("plabel"), F.col("label"))
                    ).alias("label"),
                )
            )
        else:
            new_labels = hopped
        # round 0 always changes labels (every non-minimum node adopts a
        # neighbor's smaller id), so the first convergence check — one
        # extra job per check — is at round 1; lineage is truncated by
        # the check's materialization itself
        if it == 0:
            labels = new_labels.localCheckpoint()
            continue
        new_labels = new_labels.localCheckpoint()
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "u")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # a cluster whose diameter defeats even the doubling bound would
        # exit unconverged and silently return WRONG cluster_ids (the
        # oracle's recursive CTE is exact, so this would surface only as
        # an opaque mismatch) — fail loudly instead.
        raise RuntimeError(
            f"connected-components did not converge in {_CC_MAX_ITERS} "
            f"rounds ({changed} labels still changing); raise _CC_MAX_ITERS"
        )
    return labels.select(F.col("u").alias("doc_id"), F.col("label").alias("cluster_id"))


connected_components.__doc__ = connected_components.__doc__.format(iters=_CC_MAX_ITERS)


@register("dedup_connected_components", oracle=_cc_oracle())
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dup-cluster resolution: connected components over the exact
    near-dup pair graph (``dedup_ngram_jaccard`` edges), labeling every
    clustered doc with the smallest doc_id in its component — the step
    that turns pairwise matches into keep/drop groups. Algorithm and
    scale notes: :func:`connected_components`; the oracle is a
    recursive-CTE transitive closure over the same edges.
    """
    # app-scoped memo (round 15): the resolved cluster labels are a
    # reusable dedup artifact — the keep/drop policy query (and every
    # later call in the session) consumes the SAME labeling, so the
    # iterative CC (its many small jobs were the biggest in-suite
    # bench interference source, r14 watch item) runs once per
    # session per sf_dir.
    from .app_cache import app_scoped

    def _build() -> DataFrame:
        pairs = dedup_ngram_jaccard(spark, sf_dir).select(
            "doc_a", "doc_b")
        edges = pairs.unionByName(
            pairs.select(F.col("doc_b").alias("doc_a"),
                         F.col("doc_a").alias("doc_b"))
        ).select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        return connected_components(edges)

    return app_scoped(_CC_CACHE, spark, (sf_dir, "ngram-cc"), _build)


def _keep_best_oracle() -> str:
    """Compose the CC oracle (nested WITH RECURSIVE) with the keep
    policy; the policy itself is integer-only (n_chars, doc_id), so the
    composed result is bit-exact wherever CC is."""
    cc_sql = QUERIES["dedup_connected_components"].oracle
    return f"""
    WITH cc AS ({cc_sql}),
    m AS (
      SELECT c.cluster_id, d.doc_id, d.n_chars
      FROM cc c JOIN documents d ON c.doc_id = d.doc_id
    ),
    sel AS (
      SELECT cluster_id, doc_id,
             ROW_NUMBER() OVER (PARTITION BY cluster_id
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM m
    ),
    agg AS (
      SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members,
             MAX(n_chars) AS kept_n_chars
      FROM m GROUP BY cluster_id
    )
    SELECT a.cluster_id, k.doc_id AS kept_doc_id, a.kept_n_chars,
           a.n_members, CAST(a.n_members - 1 AS BIGINT) AS n_dropped
    FROM agg a JOIN (SELECT cluster_id, doc_id FROM sel WHERE rn = 1) k
      ON a.cluster_id = k.cluster_id
    ORDER BY a.cluster_id
    """


@register("dedup_cluster_keep_best", oracle=None, doc="placeholder")
def dedup_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The keep/drop DECISION on top of dup-cluster resolution: per
    connected component, keep the longest document (``n_chars`` max,
    smallest ``doc_id`` on ties — the standard near-dup keep heuristic)
    and count the drops. This is the step that turns cluster labels
    into an actionable delete list; the policy is integer-only so the
    whole composition stays value-oracled.

    Scale notes: one join of the O(#clustered docs) CC output with the
    doc-stats projection, then ONE hash aggregation — the keeper is
    selected with ``max_by`` over a ``(n_chars, -doc_id)`` struct
    ordering key, so there is no per-cluster window sort (same
    window-free shape as timeseries_ohlc_hourly). Cluster sizes are
    bounded by the capped candidate generation upstream, so no hot
    aggregation key.
    """
    cc = dedup_connected_components(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    m = cc.join(d, "doc_id")
    return (
        m.groupBy("cluster_id")
        .agg(
            F.max_by(
                "doc_id", F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("nid"))
            ).alias("kept_doc_id"),
            F.max("n_chars").alias("kept_n_chars"),
            F.count("*").cast("long").alias("n_members"),
            (F.count("*") - 1).cast("long").alias("n_dropped"),
        )
        .select("cluster_id", "kept_doc_id", "kept_n_chars", "n_members", "n_dropped")
    )


from dataclasses import replace as _dc_replace  # noqa: E402

QUERIES[
    "dedup_cluster_keep_best"
] = _dc_replace(QUERIES["dedup_cluster_keep_best"], oracle=_keep_best_oracle())


# ---------------------------------------------------------------------------
# Prefix-containment dedup (truncation duplicates)
# ---------------------------------------------------------------------------

_PFX_KEY_WORDS = 10
_PFX_MAX_BUCKET = 64
_PFX_SYNTH_OFFSET = 1_000_000_000


@register(
    "dedup_prefix_containment",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id AS id, text FROM documents
      UNION ALL
      SELECT doc_id + {_PFX_SYNTH_OFFSET},
             array_to_string(list_slice(regexp_split_to_array(text, ' '), 1,
               GREATEST({_PFX_KEY_WORDS},
                        len(regexp_split_to_array(text, ' ')) // 2)), ' ')
      FROM documents WHERE doc_id % 7 = 0
    ),
    k AS (
      SELECT id, text, len(text) AS n,
             md5(array_to_string(list_slice(regexp_split_to_array(text, ' '),
                                            1, {_PFX_KEY_WORDS}), ' ')) AS key
      FROM corpus
    ),
    kept AS (
      SELECT k.* FROM k
      JOIN (SELECT key FROM k GROUP BY key
            HAVING COUNT(*) <= {_PFX_MAX_BUCKET}) ok USING (key)
    )
    SELECT a.id AS contained_id, b.id AS container_id,
           CAST(a.n AS BIGINT) AS contained_len,
           CAST(b.n AS BIGINT) AS container_len
    FROM kept a JOIN kept b
      ON a.key = b.key AND a.id <> b.id AND a.n < b.n
     AND substr(b.text, 1, CAST(a.n AS INT)) = a.text
    """,
)
def dedup_prefix_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncation-duplicate detection (the exact-substring dedup axis:
    a document that is a strict PREFIX of another — truncated scrapes,
    cut-off re-crawls — which shingle/MinHash dedup under-scores
    because the longer doc dilutes the Jaccard): candidates bucket on
    the md5 of the first {k} words (a contained doc must share its
    container's opening), hot buckets above {cap} members are dropped
    (the capped-bucket scaffold every dedup op here uses — a viral
    opening line must not go quadratic), and only in-bucket pairs pay
    the exact substring verification. The fixture corpus has no
    natural truncations, so deterministic half-length copies of every
    7th doc are unioned in (same enrichment pattern as text_pii_redact)
    and the oracle replays them identically."""
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    half = F.greatest(
        F.lit(_PFX_KEY_WORDS), F.floor(F.size(words) / 2).cast("int")
    )
    trunc = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + _PFX_SYNTH_OFFSET).alias("id"),
        F.array_join(F.slice(words, 1, half), " ").alias("text"),
    )
    corpus = d.select(F.col("doc_id").alias("id"), "text").unionByName(trunc)
    k = corpus.select(
        "id",
        "text",
        F.length("text").alias("n"),
        F.md5(
            F.array_join(F.slice(F.split(F.col("text"), " "), 1, _PFX_KEY_WORDS), " ")
        ).alias("key"),
    )
    ok = (
        k.groupBy("key")
        .agg(F.count("*").alias("bn"))
        .filter(F.col("bn") <= _PFX_MAX_BUCKET)
        .select("key")
    )
    kept = k.join(ok, "key")
    a = kept.alias("a")
    b = kept.alias("b")
    return (
        a.join(
            b,
            (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") != F.col("b.id"))
            & (F.col("a.n") < F.col("b.n")),
        )
        .filter(
            F.expr("substring(b.text, 1, CAST(a.n AS INT)) = a.text")
        )
        .select(
            F.col("a.id").alias("contained_id"),
            F.col("b.id").alias("container_id"),
            F.col("a.n").cast("long").alias("contained_len"),
            F.col("b.n").cast("long").alias("container_len"),
        )
    )


dedup_prefix_containment.__doc__ = dedup_prefix_containment.__doc__.format(
    k=_PFX_KEY_WORDS, cap=_PFX_MAX_BUCKET
)


# ---------------------------------------------------------------------------
# 7. Exact-substring overlap (Lee et al. 2022, "Deduplicating Training
#    Data Makes Language Models Better") — flag document pairs sharing a
#    VERBATIM span of >= _SUB_K tokens. This is the dedup family the set
#    measures above cannot express: a long quote inside two otherwise-
#    distinct documents moves n-gram Jaccard by only ~quote/union (far
#    below any near-dup threshold) yet is exactly the contamination /
#    memorization hazard the paper targets. Candidate generation is the
#    bucketed shingle-fingerprint composition used by the MinHash path:
#    hash every K-token window, group windows (never doc pairs) by
#    fingerprint, cap bucket width, and count shared windows per pair —
#    O(total_windows) shuffle, never all-pairs.
# ---------------------------------------------------------------------------

_SUB_K = 16       # verbatim span threshold, in tokens (one shared window
                  # == one shared K-token span)
_SUB_CAP = 64     # per-fingerprint bucket cap over DISTINCT docs (skew
                  # guard — boilerplate spans; modeled in the oracle, the
                  # r9 video-cap ADVICE lesson)
_SUB_QL = 20      # planted quote length (> K so each planted pair shares
                  # QL - K + 1 = 5 windows, exercising the count)
_SUB_BLOCK = 40   # quote-class block: docs quote their block's passage


def _quoted_tokens_spark() -> str:
    """SQL expression (Spark dialect) building the quoted corpus from the
    ``documents`` table: every ``doc_id % 5 == 2`` document splices a
    canonical 20-token passage ``quo<block>t<j>`` into the MIDDLE of its
    own token stream (the fixture-derivation pattern the multimodal
    operators use — the corpus is a pure deterministic function of the
    table, replayed verbatim by the DuckDB oracle). Mid-document
    insertion is the point: prefix/suffix containment (family 6) cannot
    see it, and the synthetic passage tokens are disjoint from the
    natural vocabulary so the added 3-gram Jaccard mass is exactly the
    quote — provably below the 0.5 near-dup threshold for ~30-token
    documents."""
    quote = (
        f"transform(sequence(0, {_SUB_QL - 1}), j -> concat('quo',"
        f" cast((doc_id div {_SUB_BLOCK}) as string), 't', cast(j as string)))"
    )
    return (
        f"CASE WHEN doc_id % 5 = 2 AND size(w) >= 8 THEN"
        f" concat(slice(w, 1, size(w) div 2), {quote},"
        f" slice(w, size(w) div 2 + 1, size(w) - size(w) div 2))"
        f" ELSE w END"
    )


def _substring_oracle() -> str:
    """DuckDB replay: identical quoted-corpus construction, K-token
    windows kept as STRINGS (the Spark side fingerprints them with
    xxhash64 purely to shuffle fixed-width longs instead of ~100-char
    strings — same |A ∩ B| counts, collision probability ~1e-7 per
    corpus, the dedup_ngram_jaccard argument), same bucket cap, same
    per-pair shared-window count."""
    return f"""
    WITH w0 AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w
      FROM documents
    ), qw AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 2 AND len(w) >= 8 THEN
               w[1:len(w)//2]
               || list_transform(range(0, {_SUB_QL}),
                    j -> 'quo' || (doc_id // {_SUB_BLOCK}) || 't' || j)
               || w[len(w)//2 + 1:len(w)]
             ELSE w END AS w
      FROM w0
    ), fp AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(w) - {_SUB_K} + 2),
               i -> list_aggregate(w[i:i + {_SUB_K} - 1], 'string_agg', ' ')))) AS g
      FROM qw WHERE len(w) >= {_SUB_K}
    ), sizes AS (
      SELECT g, COUNT(DISTINCT doc_id) AS cnt FROM fp GROUP BY g
    )
    SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared_windows
    FROM fp x
    JOIN fp y ON x.g = y.g AND y.doc_id > x.doc_id
    JOIN sizes z ON z.g = x.g AND z.cnt > 1 AND z.cnt <= {_SUB_CAP}
    GROUP BY x.doc_id, y.doc_id
    ORDER BY doc_a, doc_b
    """


@register("dedup_substring_overlap", oracle=_substring_oracle())
def dedup_substring_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup (Lee et al. 2022): pairs of documents
    sharing a verbatim span of >= {k} tokens, with the count of shared
    distinct {k}-token windows (a contiguous shared span of L tokens
    contributes L - {k} + 1). Runs over the quoted corpus derived from
    ``documents`` (see ``_quoted_tokens_spark``): planted mid-document
    20-token passages produce true verbatim-overlap pairs whose 3-gram
    Jaccard is far below 0.5 — the pairs ``dedup_ngram_jaccard`` /
    ``dedup_minhash_lsh`` are *supposed* to miss and this operator is
    supposed to catch (tests pin both directions).

    Plan: tokenize → one {k}-token sliding window pass per document
    (array expression, JVM codegen, no Python) → xxhash64 fingerprint
    per window → explode to slim (fp, doc_id) rows → hash-aggregate by
    fingerprint (the ONLY wide shuffle, hash-uniform key) → bucket cap
    {cap} → per-bucket pair fan-out → count shared windows per pair.

    Scale notes (100 TB): work is O(total windows), never O(n²) —
    candidate pairs exist only inside fingerprint buckets, bucket width
    is capped (boilerplate K-grams are the classic skew: a disclaimer
    shared by 10^6 docs would otherwise fan out 10^12 pairs; the cap
    drops it, the standard LSH recall/cost trade, observable via the
    dedup_lsh_bucket_stats pattern), and the pair aggregation shuffles
    slim (doc_a, doc_b) longs. Reference scope note: the reference
    loader (postgres_loader.py) has no dedup surface — this extends the
    engine along SURVEY.md §2l.
    """
    docs = _spread(load_table(spark, sf_dir, "documents"))
    qw = docs.select(
        "doc_id", _tokens().alias("w")
    ).select("doc_id", F.expr(_quoted_tokens_spark()).alias("w"))
    fps = (
        qw.filter(F.size("w") >= _SUB_K)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"array_distinct(transform(sequence(1, size(w) - {_SUB_K} + 1),"
                    f" i -> xxhash64(concat_ws(' ', slice(w, i, {_SUB_K})))))"
                )
            ).alias("fp"),
        )
    )
    buckets = (
        fps.groupBy("fp")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= _SUB_CAP))
    )
    pairs = buckets.select(
        F.explode(
            F.expr(
                "flatten(transform(ids, (x, i) ->"
                " transform(slice(ids, i + 2, size(ids)), y -> struct(x AS a, y AS b))))"
            )
        ).alias("p")
    ).select(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
    return (
        pairs.groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("long").alias("n_shared_windows"))
    )


dedup_substring_overlap.__doc__ = dedup_substring_overlap.__doc__.format(
    k=_SUB_K, cap=_SUB_CAP
)
