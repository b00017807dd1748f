"""Similarity search over the ``embeddings`` table (``array<float>``,
64-dim).

Operators:
- ``sim_cosine_pairs``      — blocked exact near-dup pairs (oracle-able);
- ``ann_bruteforce_topk``   — exact top-k for a fixed query set (the
  correctness baseline every ANN variant is measured against);
- ``ann_ivf_topk``          — IVF-style coarse quantizer + probed cells
  (the 100 TB path: touches ~nprobe/ncells of the data per query).

Determinism contract: all dot products are computed element-wise in
double (IEEE-identical everywhere) and reduced by a SEQUENTIAL
left-to-right double fold whose order is matched across engines —
Spark's ``aggregate`` and DuckDB's ``list_reduce`` both fold in array
order, so the same IEEE additions happen in the same sequence and the
results are bit-identical (see ``_dot_dec``/``_sql_dot``). The fold is
order-DEPENDENT; determinism comes from matching the order, not from
exact arithmetic. See functions/deterministic.py for the exact-decimal
trick used by scalar aggregates.

Scale notes: queries are broadcast (they are tiny); the fact side never
shuffles for brute force (map-side score + TakeOrderedAndProject-style
per-query top-k via window over a repartition on query_id). IVF adds
one shuffle to bucket vectors by cell, after which each query touches
only probed cells.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.planctl import nondet_keep as _nondet_keep
from ..functions.planctl import spread as _spread
from ..registry import QUERIES, register
from ..tables import load_table

_QUERY_IDS = tuple(range(8))  # fixed query set for top-k operators

# stored-index memo: IVF assignment per (session, sf_dir) — see
# operators/app_cache.py
_SIM_CACHE: dict[tuple, "DataFrame"] = {}
_TOPK = 10
_PAIR_WINDOW = 100            # id-block for exact pair scan
_PAIR_THRESHOLD = 0.35        # fixture embeddings are near-orthogonal


def _dot_dec(a: Column, b: Column) -> Column:
    """Dot product of two float arrays via a SEQUENTIAL left-to-right
    double fold — Spark's ``aggregate`` and DuckDB's ``list_reduce``
    both fold in array order, so the IEEE additions happen in the same
    sequence and the results are bit-identical across engines."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def _sql_dot(a: str, b: str) -> str:
    """DuckDB rendering of :func:`_dot_dec` (1-based list indexing;
    prepend the 0.0 init so the fold order matches Spark's aggregate)."""
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, len({a}) + 1), i -> "
        f"CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), "
        f"(acc, x) -> acc + x)"
    )


def _cosine(a: Column, b: Column) -> Column:
    return _dot_dec(a, b) / (F.sqrt(_dot_dec(a, a)) * F.sqrt(_dot_dec(b, b)))


def _sql_cosine(a: str, b: str) -> str:
    return (
        f"{_sql_dot(a, b)} / (sqrt({_sql_dot(a, a)}) * sqrt({_sql_dot(b, b)}))"
    )


# ---------------------------------------------------------------------------
# Exact cosine near-dup pairs on id-blocked candidates (oracle-able)
# ---------------------------------------------------------------------------

@register(
    "sim_cosine_pairs",
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           {_sql_cosine('a.embedding', 'b.embedding')} AS cosine
    FROM embeddings a JOIN embeddings b
      ON b.vec_id > a.vec_id AND b.vec_id <= a.vec_id + {_PAIR_WINDOW}
         AND a.label = b.label
    WHERE {_sql_cosine('a.embedding', 'b.embedding')} >= {_PAIR_THRESHOLD}
    """,
)
def sim_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: cosine ≥ {thr} within (label, id-window)
    blocks. The range predicate is rewritten as an offset-enumeration
    EQUI-join (hash join, scales); label blocking mirrors how a real
    pipeline would block on a cluster/shard key.
    """
    e = _spread(load_table(spark, sf_dir, "embeddings"))
    # per-vector norm computed ONCE (not 2 extra dot products per pair)
    with_norm = e.select(
        "vec_id",
        "label",
        "embedding",
        F.sqrt(_dot_dec(F.col("embedding"), F.col("embedding"))).alias("norm"),
    )
    a = with_norm.select(
        F.col("vec_id").alias("vec_a"),
        F.col("label").alias("label_a"),
        F.col("embedding").alias("emb_a"),
        F.col("norm").alias("norm_a"),
        F.explode(F.sequence(F.lit(1), F.lit(_PAIR_WINDOW))).alias("off"),
    ).withColumn("vec_b", F.col("vec_a") + F.col("off"))
    b = with_norm.select(
        F.col("vec_id").alias("vec_b"),
        F.col("label").alias("label_b"),
        F.col("embedding").alias("emb_b"),
        F.col("norm").alias("norm_b"),
    )
    return (
        a.join(b, "vec_b")
        .filter(F.col("label_a") == F.col("label_b"))
        .select(
            "vec_a",
            "vec_b",
            # nondet_keep: keep the ≥t filter above this projection, not
            # re-evaluated inside the join condition (see planctl)
            _nondet_keep(
                _dot_dec(F.col("emb_a"), F.col("emb_b"))
                / (F.col("norm_a") * F.col("norm_b"))
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= _PAIR_THRESHOLD)
    )


sim_cosine_pairs.__doc__ = sim_cosine_pairs.__doc__.format(thr=_PAIR_THRESHOLD)


# ---------------------------------------------------------------------------
# Brute-force exact top-k (the baseline)
# ---------------------------------------------------------------------------

_QID_SQL = ", ".join(str(q) for q in _QUERY_IDS)


@register(
    "ann_bruteforce_topk",
    oracle=f"""
    SELECT query_id, vec_id, cosine, rn AS rank
    FROM (
      SELECT q.vec_id AS query_id, v.vec_id AS vec_id,
             {_sql_cosine('q.embedding', 'v.embedding')} AS cosine,
             ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY {_sql_cosine('q.embedding', 'v.embedding')} DESC, v.vec_id
             ) AS rn
      FROM embeddings q JOIN embeddings v ON v.vec_id <> q.vec_id
      WHERE q.vec_id IN ({_QID_SQL})
    ) WHERE rn <= {_TOPK}
    """,
)
def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-{k} for {nq} fixed query vectors via broadcast
    cross-score + per-query window rank. The query side is broadcast;
    the corpus is scanned once map-side — no shuffle of the corpus, one
    shuffle of the scored (query_id, vec_id, cosine) triples which is
    |queries|×N rows, NOT N².
    """
    e = _spread(load_table(spark, sf_dir, "embeddings"))
    # norms once per corpus vector / per query — not per scored pair
    corpus = e.select(
        "vec_id",
        "embedding",
        F.sqrt(_dot_dec(F.col("embedding"), F.col("embedding"))).alias("v_norm"),
    )
    q = corpus.filter(F.col("vec_id").isin(*_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("v_norm").alias("q_norm"),
    )
    scored = (
        corpus.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            (
                _dot_dec(F.col("q_emb"), F.col("embedding"))
                / (F.col("q_norm") * F.col("v_norm"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOPK)
        .select("query_id", "vec_id", "cosine", "rank")
    )


ann_bruteforce_topk.__doc__ = ann_bruteforce_topk.__doc__.format(
    k=_TOPK, nq=len(_QUERY_IDS)
)


# ---------------------------------------------------------------------------
# IVF-style ANN: coarse quantizer + probed cells (the scale path)
# ---------------------------------------------------------------------------

_IVF_CELLS = 16   # centroids = embeddings of vec_id 0.._IVF_CELLS-1 (fixed seed set)
_IVF_NPROBE = 4


def ivf_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF index build alone: every vector assigned to its nearest
    centroid → (vec_id, embedding, v_norm, cell). At 100 TB this output
    is written ``partitionBy("cell")`` (sinks/layout.py) so probes prune
    non-probed cells at the directory level — asserted in
    tests/test_ivf_layout.py."""
    e = _spread(load_table(spark, sf_dir, "embeddings"))
    corpus = e.select(
        "vec_id",
        "label",
        "embedding",
        F.sqrt(_dot_dec(F.col("embedding"), F.col("embedding"))).alias("v_norm"),
    )
    cents = corpus.filter(F.col("vec_id") < _IVF_CELLS).select(
        F.col("vec_id").alias("cell"),
        F.col("embedding").alias("c_emb"),
        F.col("v_norm").alias("c_norm"),
    )
    score = _dot_dec(F.col("embedding"), F.col("c_emb")) / (
        F.col("v_norm") * F.col("c_norm")
    )
    w_assign = Window.partitionBy("vec_id").orderBy(F.desc("cell_score"), F.asc("cell"))
    return (
        corpus.crossJoin(F.broadcast(cents))
        .select("vec_id", "embedding", "v_norm", "cell", score.alias("cell_score"))
        .withColumn("arn", F.row_number().over(w_assign))
        .filter(F.col("arn") == 1)
        .select("vec_id", "embedding", "v_norm", "cell")
    )


def _ivf_oracle() -> str:
    """DuckDB replay of the IVF pipeline. The index structure is fully
    deterministic (centroids are the first {cells} vectors, assignment
    and probe argmins tie-break on cell id, cosines are bit-identical
    matched-fold doubles), so the exact-rank-within-probed-cells result
    is SQL-expressible."""
    qids = _QID_SQL
    return f"""
    WITH corpus AS (
      SELECT vec_id, embedding,
             sqrt({_sql_dot('embedding', 'embedding')}) AS v_norm
      FROM embeddings
    ), cents AS (
      SELECT vec_id AS cell, embedding AS c_emb, v_norm AS c_norm
      FROM corpus WHERE vec_id < {_IVF_CELLS}
    ), assigned AS (
      SELECT vec_id, embedding, v_norm, cell FROM (
        SELECT c.vec_id, c.embedding, c.v_norm, ct.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY c.vec_id
                 ORDER BY {_sql_dot('c.embedding', 'ct.c_emb')}
                          / (c.v_norm * ct.c_norm) DESC, ct.cell
               ) AS arn
        FROM corpus c CROSS JOIN cents ct
      ) WHERE arn = 1
    ), q AS (
      SELECT vec_id AS query_id, embedding AS q_emb, v_norm AS q_norm
      FROM corpus WHERE vec_id IN ({qids})
    ), probes AS (
      SELECT query_id, q_emb, q_norm, cell FROM (
        SELECT q.query_id, q.q_emb, q.q_norm, ct.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY q.query_id
                 ORDER BY {_sql_dot('q.q_emb', 'ct.c_emb')}
                          / (q.q_norm * ct.c_norm) DESC, ct.cell
               ) AS prn
        FROM q CROSS JOIN cents ct
      ) WHERE prn <= {_IVF_NPROBE}
    ), scored AS (
      SELECT p.query_id, a.vec_id,
             {_sql_dot('p.q_emb', 'a.embedding')} / (p.q_norm * a.v_norm) AS cosine
      FROM assigned a JOIN probes p
        ON a.cell = p.cell AND a.vec_id <> p.query_id
    )
    SELECT query_id, vec_id, cosine, CAST(rn AS INTEGER) AS rank FROM (
      SELECT query_id, vec_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, vec_id) AS rn
      FROM scored
    ) WHERE rn <= {_TOPK}
    """


@register("ann_ivf_topk", oracle=_ivf_oracle())
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: assign every vector to its nearest of {cells} fixed
    centroids (one broadcast score + window argmin = the index build),
    then answer each query by probing its {nprobe} nearest cells and
    ranking exact cosine only within probed cells.

    Per-query work drops from O(N) to ~O(N·nprobe/cells). At 100 TB the
    assignment output would be written out partitioned/bucketed by
    ``cell`` so queries prune cells at the file-skipping level; recall
    vs the brute-force baseline is asserted in tests.
    """
    e = _spread(load_table(spark, sf_dir, "embeddings"))
    corpus = e.select(
        "vec_id",
        "label",
        "embedding",
        F.sqrt(_dot_dec(F.col("embedding"), F.col("embedding"))).alias("v_norm"),
    )
    cents = corpus.filter(F.col("vec_id") < _IVF_CELLS).select(
        F.col("vec_id").alias("cell"),
        F.col("embedding").alias("c_emb"),
        F.col("v_norm").alias("c_norm"),
    )

    def _cos(a, an, b, bn):
        return _dot_dec(a, b) / (an * bn)

    # index build: nearest centroid per vector (shared with the
    # partitioned-layout path, see ivf_assignments); app-scoped memo
    # (round 15) — the assignment is the stored index, built once per
    # session and served to every later call (incl. the recall report)
    from .app_cache import app_scoped

    assigned = app_scoped(
        _SIM_CACHE, spark, (sf_dir, "ivf-assign"),
        lambda: ivf_assignments(spark, sf_dir))

    # query → nprobe nearest cells
    q = corpus.filter(F.col("vec_id").isin(*_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("v_norm").alias("q_norm"),
    )
    w_probe = Window.partitionBy("query_id").orderBy(F.desc("cell_score"), F.asc("cell"))
    probes = (
        q.crossJoin(F.broadcast(cents))
        .select(
            "query_id",
            "q_emb",
            "q_norm",
            "cell",
            _cos(F.col("q_emb"), F.col("q_norm"), F.col("c_emb"), F.col("c_norm")).alias("cell_score"),
        )
        .withColumn("prn", F.row_number().over(w_probe))
        .filter(F.col("prn") <= _IVF_NPROBE)
        .select("query_id", "q_emb", "q_norm", "cell")
    )

    # exact rank within probed cells only
    cand = assigned.join(F.broadcast(probes), "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    w_rank = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        cand.select(
            "query_id",
            "vec_id",
            _cos(F.col("q_emb"), F.col("q_norm"), F.col("embedding"), F.col("v_norm")).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= _TOPK)
        .select("query_id", "vec_id", "cosine", "rank")
    )


ann_ivf_topk.__doc__ = ann_ivf_topk.__doc__.format(cells=_IVF_CELLS, nprobe=_IVF_NPROBE)


# ---------------------------------------------------------------------------
# Grouped batch transform: per-label embedding envelope via applyInPandas
# ---------------------------------------------------------------------------

@register(
    "sim_label_envelope",
    oracle="""
    SELECT label, dim, MIN(v) AS min_val, MAX(v) AS max_val
    FROM (
      SELECT label,
             CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    )
    GROUP BY label, dim
    """,
)
def sim_label_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label elementwise min/max envelope of the embedding vectors
    (the bounding box a normalization or outlier step needs), computed
    with grouped ``applyInPandas``: each label's vectors arrive as one
    Arrow batch, numpy reduces them columnwise, one long-form row per
    dimension comes back. min/max are order-independent, so the result
    is exact and oracle-checkable — unlike a naive float mean.

    Scale note: groups stream through executors one label at a time
    (shuffle on label); a label too big for one worker's memory would
    switch to the posexplode+groupBy formulation, which is what the
    oracle expresses — same result, pure JVM.
    """
    import numpy as np
    import pandas as pd

    e = _spread(load_table(spark, sf_dir, "embeddings"))

    def envelope(pdf: pd.DataFrame) -> pd.DataFrame:
        mat = np.stack(pdf["embedding"].to_numpy()).astype("float64")
        dims = np.arange(mat.shape[1], dtype="int32")
        return pd.DataFrame(
            {
                "label": pdf["label"].iloc[0],
                "dim": dims,
                "min_val": mat.min(axis=0),
                "max_val": mat.max(axis=0),
            }
        )

    return e.select("label", "embedding").groupBy("label").applyInPandas(
        envelope, schema="label int, dim int, min_val double, max_val double"
    )


@register(
    "embedding_norm_stats",
    oracle=f"""
    SELECT d.lang,
           COUNT(*) AS n,
           MIN(sqrt({_sql_dot('e.embedding', 'e.embedding')})) AS min_norm,
           MAX(sqrt({_sql_dot('e.embedding', 'e.embedding')})) AS max_norm,
           CAST(SUM(CASE WHEN sqrt({_sql_dot('e.embedding', 'e.embedding')}) < 0.5
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_degenerate
    FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
    GROUP BY d.lang
    ORDER BY d.lang
    """,
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding health check per language: L2-norm envelope and a
    degenerate-vector count (norm < 0.5 — collapsed or zero vectors
    that poison cosine search). The norm uses the deterministic
    sequential-fold dot product (``_dot_dec``) so the doubles are
    bit-identical across engines, and the per-group stats are min/max/
    count only — full-precision doubles are never summed (the decimal
    trick does not apply to computed norms; see
    functions/deterministic.py). One broadcast join (documents'
    (doc_id, lang) projection), one aggregation.
    """
    e = load_table(spark, sf_dir, "embeddings")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    norm = F.sqrt(_dot_dec(F.col("embedding"), F.col("embedding")))
    return (
        e.select("vec_id", norm.alias("norm"))
        .join(F.broadcast(d), F.col("vec_id") == F.col("doc_id"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n"),
            F.min("norm").alias("min_norm"),
            F.max("norm").alias("max_norm"),
            F.sum((F.col("norm") < 0.5).cast("bigint")).alias("n_degenerate"),
        )
    )


# ---------------------------------------------------------------------------
# Random-hyperplane LSH near-dup (the bucketed scale path for
# embedding-cosine dedup — complements the id-blocked exact scan in
# dedup.dedup_embedding_cosine and the IVF layout in ann_ivf_topk)
# ---------------------------------------------------------------------------

_HP_DIM = 64          # fixture embedding dimensionality
_HP_PLANES = 16       # signature bits
_HP_BAND_BITS = 8     # 2 bands x 8 bits
_HP_MAX_BUCKET = 64   # same skew cap as the MinHash/SimHash buckets


def _hp_component(p: int, i: int) -> float:
    """Deterministic pseudo-random plane component in [-0.5, 0.5):
    md5-derived, so BOTH engines see the exact same literal doubles
    (the planes are materialized into the plan / oracle text — no RNG
    state, no seed coupling to either engine)."""
    import hashlib

    h = int(hashlib.md5(f"hp{p}x{i}".encode()).hexdigest()[:15], 16)
    return h / 2**60 - 0.5


_HP = [[_hp_component(p, i) for i in range(_HP_DIM)] for p in range(_HP_PLANES)]


def _hp_oracle() -> str:
    planes_values = ", ".join(
        f"({p}, [{', '.join(repr(c) for c in _HP[p])}])" for p in range(_HP_PLANES)
    )
    cos = _sql_cosine("a.embedding", "b.embedding")
    return f"""
    WITH planes(p, plane) AS (VALUES {planes_values}),
    dots AS (
      SELECT e.vec_id, pl.p, {_sql_dot('e.embedding', 'pl.plane')} AS d
      FROM embeddings e CROSS JOIN planes pl
    ),
    sigs AS (
      SELECT vec_id,
             CAST(SUM(CASE WHEN p < {_HP_BAND_BITS} AND d >= 0
                           THEN CAST(1 AS BIGINT) << p ELSE 0 END) AS BIGINT) AS b0,
             CAST(SUM(CASE WHEN p >= {_HP_BAND_BITS} AND d >= 0
                           THEN CAST(1 AS BIGINT) << (p - {_HP_BAND_BITS})
                           ELSE 0 END) AS BIGINT) AS b1
      FROM dots GROUP BY vec_id
    ),
    buckets AS (
      SELECT vec_id, CAST(unnest([0, 1]) AS INTEGER) AS band,
             unnest([b0, b1]) AS bval
      FROM sigs
    ),
    sizes AS (SELECT band, bval, COUNT(*) AS cnt FROM buckets GROUP BY band, bval),
    cands AS (
      SELECT DISTINCT x.vec_id AS doc_a, y.vec_id AS doc_b
      FROM buckets x
      JOIN buckets y ON x.band = y.band AND x.bval = y.bval
                    AND y.vec_id > x.vec_id
      JOIN sizes z ON z.band = x.band AND z.bval = x.bval
                  AND z.cnt > 1 AND z.cnt <= {_HP_MAX_BUCKET}
    )
    SELECT c.doc_a, c.doc_b, {cos} AS cosine
    FROM cands c
    JOIN embeddings a ON a.vec_id = c.doc_a
    JOIN embeddings b ON b.vec_id = c.doc_b
    WHERE {cos} >= {_PAIR_THRESHOLD}
    """


@register("dedup_hyperplane_lsh", oracle=_hp_oracle())
def dedup_hyperplane_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup via random-hyperplane LSH: a 16-bit sign
    signature (bit p = sign of <v, h_p> for md5-derived hyperplane
    h_p), banded 2×8 so a pair collides when EITHER band agrees
    (P[match] rises steeply with cosine — the SimHash-for-vectors
    construction), then exact-cosine verification of candidates only.

    The scale story mirrors the MinHash pipeline: candidate generation
    is an equi-join on (band, bucket) with the same ``_MAX_BUCKET``
    skew cap (a degenerate bucket cannot go quadratic, and the drop is
    observable via the same stats pattern as dedup_lsh_bucket_stats);
    signatures are one map-side pass of 16 sequential-fold dot
    products — no shuffle until the bucket join, never an all-pairs
    product. Every double is bit-identical across engines (plane
    literals shared verbatim, folds ordered, sign test on identical
    values), so the full pipeline — not just the verify step — is
    DuckDB-oracled.
    """
    e = _spread(load_table(spark, sf_dir, "embeddings"))
    dots = [
        _dot_dec(F.col("embedding"), F.array(*[F.lit(c) for c in _HP[p]]))
        for p in range(_HP_PLANES)
    ]
    bits = [(d >= 0).cast("long") for d in dots]
    b0 = sum(
        (bits[p] * F.lit(1 << p) for p in range(1, _HP_BAND_BITS)),
        start=bits[0],
    )
    b1 = sum(
        (
            bits[_HP_BAND_BITS + p] * F.lit(1 << p)
            for p in range(1, _HP_BAND_BITS)
        ),
        start=bits[_HP_BAND_BITS],
    )
    sigs = e.select("vec_id", "embedding", b0.alias("b0"), b1.alias("b1"))
    # NOTE (r16, VERDICT task 3): r15 pinned the (vec_id, band, bval)
    # rows with an EAGER localCheckpoint so the three consumers (bucket
    # sizes + both sides of the candidate self-join) would not
    # re-evaluate the 16 decimal dot-product folds; the driver's meter
    # read it 11% SLOWER (2.25 → 2.53 s) because the materialization
    # runs as its own serial job per query build while the replays it
    # removed had been running CONCURRENTLY on idle cores. Re-A/B'd
    # cold-JVM isolated min-of-3 at sf0.1: no materialization 2.33 s,
    # lazy localCheckpoint 2.50 s, eager (r15) 3.21 s, staged
    # (band,bval) exchange 3.49 s — the un-materialized r14 shape wins
    # and is restored. At real scale the trade flips (three replays =
    # three full passes over the embedding corpus; a production run
    # would pin the ~24 B/row fingerprint table per guide §8), but
    # that is a throughput argument, not a latency one, and the meter
    # here measures latency on idle cores.
    buckets = sigs.select(
        "vec_id",
        F.posexplode(F.array("b0", "b1")).alias("band", "bval"),
    )
    sizes = (
        buckets.groupBy("band", "bval")
        .agg(F.count("*").alias("cnt"))
        .filter((F.col("cnt") > 1) & (F.col("cnt") <= _HP_MAX_BUCKET))
    )
    ok = buckets.join(sizes.select("band", "bval"), ["band", "bval"])
    cands = (
        ok.alias("x")
        .join(
            ok.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bval") == F.col("y.bval"))
            & (F.col("y.vec_id") > F.col("x.vec_id")),
        )
        .select(
            F.col("x.vec_id").alias("doc_a"), F.col("y.vec_id").alias("doc_b")
        )
        .distinct()
    )
    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id").alias("doc_a"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("doc_b"), F.col("embedding").alias("eb"))
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            _nondet_keep(_cosine(F.col("ea"), F.col("eb"))).alias("cosine"),
        )
        .filter(F.col("cosine") >= _PAIR_THRESHOLD)
    )


# ---------------------------------------------------------------------------
# Int8-quantized candidate scan + exact rerank (PQ-style two-phase ANN)
# ---------------------------------------------------------------------------

_RERANK_C = 32  # int8-scored candidates kept per query before rerank

# Same absmax formula as training.embedding_quantize_int8: floor(x/s+0.5)
# (not round - half-case ties differ per engine), clamp to [-127,127].
_SQL_QUANT = """
    quant AS (
      SELECT vec_id, embedding,
             CASE WHEN list_max(list_transform(embedding,
                    x -> abs(CAST(x AS DOUBLE)))) = 0 THEN 1.0
                  ELSE list_max(list_transform(embedding,
                    x -> abs(CAST(x AS DOUBLE)))) / 127.0 END AS scale
      FROM embeddings
    ),
    qt AS (
      SELECT vec_id, embedding,
             list_transform(embedding,
               x -> CAST(least(greatest(
                 floor(CAST(x AS DOUBLE) / scale + 0.5), -127.0), 127.0)
                 AS INTEGER)) AS qv
      FROM quant
    )
"""


@register(
    "ann_int8_rerank_topk",
    oracle=f"""
    WITH {_SQL_QUANT},
    qs AS (SELECT vec_id AS query_id, qv AS q_qv FROM qt
           WHERE vec_id IN ({_QID_SQL})),
    scored AS (
      SELECT qs.query_id, v.vec_id,
             CAST(list_sum(list_transform(list_zip(qs.q_qv, v.qv),
               p -> p[1] * p[2])) AS BIGINT) AS int_score
      FROM qt v JOIN qs ON v.vec_id <> qs.query_id
    ),
    cand AS (
      SELECT query_id, vec_id, int_score,
             ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY int_score DESC, vec_id) AS rn
      FROM scored
    ),
    top AS (SELECT query_id, vec_id, int_score FROM cand
            WHERE rn <= {_RERANK_C}),
    rr AS (
      SELECT t.query_id, t.vec_id, t.int_score,
             {_sql_cosine('qe.embedding', 'e.embedding')} AS cosine
      FROM top t
      JOIN embeddings e ON e.vec_id = t.vec_id
      JOIN embeddings qe ON qe.vec_id = t.query_id
    )
    SELECT query_id, vec_id, int_score, cosine, rn AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, vec_id) AS rn FROM rr)
    WHERE rn <= {_TOPK}
    """,
)
def ann_int8_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase ANN: int8-quantized integer-dot candidate scan, exact
    full-precision cosine rerank of the survivors.

    Phase 1 scores every (query, vector) pair in EXACT int64 arithmetic
    over absmax-int8 codes (engine-identical by construction - no
    floating point at all) and keeps the top {c} per query; the scored
    shuffle carries only (query_id, vec_id, int_score) - the float
    embeddings never travel. Phase 2 joins the |Q| x {c} candidate ids
    back to the corpus for the exact cosine and final top-{k}.

    Scale story: this is the PQ/int8 memory-bandwidth pattern - the
    wide scan reads 64 bytes/vector instead of 256 (4x the vectors per
    second at the same bandwidth), full precision touches only
    |Q| x {c} rows; candidate recall vs the exact baseline is testable
    against ann_bruteforce_topk."""
    e = load_table(spark, sf_dir, "embeddings")
    am = F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double"))))
    qt = (
        e.withColumn("am", am)
        .withColumn(
            "scale",
            F.when(F.col("am") == 0, F.lit(1.0)).otherwise(F.col("am") / 127.0),
        )
        .withColumn(
            "qv",
            F.transform(
                "embedding",
                lambda x: F.least(
                    F.greatest(
                        F.floor(x.cast("double") / F.col("scale") + 0.5),
                        F.lit(-127.0),
                    ),
                    F.lit(127.0),
                ).cast("int"),
            ),
        )
        .select("vec_id", "embedding", "qv")
    )
    qs = qt.filter(F.col("vec_id").isin(*_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("q_qv")
    )
    int_score = F.aggregate(
        F.zip_with("q_qv", "qv", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x.cast("long"),
    )
    scored = (
        qt.select("vec_id", "qv")
        .join(F.broadcast(qs), F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", int_score.alias("int_score"))
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.desc("int_score"), F.asc("vec_id")
    )
    top = (
        scored.withColumn("rn", F.row_number().over(wc))
        .filter(F.col("rn") <= _RERANK_C)
        .select("query_id", "vec_id", "int_score")
    )
    corpus = e.select("vec_id", "embedding")
    queries = e.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    ).filter(F.col("query_id").isin(*_QUERY_IDS))
    rr = (
        top.join(corpus, "vec_id")
        .join(F.broadcast(queries), "query_id")
        .select(
            "query_id",
            "vec_id",
            "int_score",
            _cosine(F.col("q_emb"), F.col("embedding")).alias("cosine"),
        )
    )
    wr = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        rr.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= _TOPK)
        .select("query_id", "vec_id", "int_score", "cosine", "rank")
    )


ann_int8_rerank_topk.__doc__ = ann_int8_rerank_topk.__doc__.format(
    c=_RERANK_C, k=_TOPK
)


# ---------------------------------------------------------------------------
# Per-label centroid (cross-row vector aggregation, the k-means/IVF primitive)
# ---------------------------------------------------------------------------


@register(
    "embedding_label_centroids",
    oracle="""
    WITH e AS (
      SELECT label,
             unnest(range(1, len(embedding) + 1)) AS dim,
             unnest(embedding) AS v
      FROM embeddings
    ),
    c AS (
      SELECT label, dim,
             CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(38,6))) AS DOUBLE)
               / COUNT(*) AS cv,
             COUNT(*) AS n_vecs
      FROM e GROUP BY label, dim
    ),
    f AS (
      SELECT label, list(cv ORDER BY dim) AS cvec, MAX(n_vecs) AS n_vecs
      FROM c GROUP BY label
    )
    SELECT label, CAST(n_vecs AS BIGINT) AS n_vecs,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(cvec, x -> x * x)), (a, b) -> a + b) AS norm_sq,
           list_max(list_transform(cvec, x -> abs(x))) AS max_abs_component
    FROM f ORDER BY label
    """,
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding column — CROSS-ROW vector
    aggregation (element-wise mean over many vectors), the primitive
    k-means/IVF training is built from; every other vector op in this
    repo is per-row. Dims explode to (label, dim, value) and aggregate
    as exact decimal sums, so the centroid components are
    order-independent; the component list is re-assembled in dim order
    (sort_array over (dim, cv) structs — collect_list alone is
    partition-order nondeterministic) and folded sequentially for the
    norm, mirroring DuckDB's list_reduce fold exactly.

    Scale: the explode is x64 rows but the shuffle key (label, dim) has
    |labels| x 64 cells with map-side partial aggregation collapsing
    each partition's contribution first — the wire carries cells, not
    exploded rows. One more tiny shuffle re-groups 64 cells per label.

    float32 trap: the decimal cast must be CAST(CAST(v AS DOUBLE) AS
    DECIMAL) — engines round a raw FLOAT->DECIMAL cast differently
    (observed 4e-8 divergence in centroid components); float->double
    widening is exact and identical everywhere, and double->decimal of
    sub-1 values is within double's 17 significant digits."""
    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select(
        "label", F.posexplode("embedding").alias("pos", "v")
    ).select("label", (F.col("pos") + 1).alias("dim"), "v")
    c = ex.groupBy("label", "dim").agg(
        (
            F.sum(F.col("v").cast("double").cast("decimal(38,6)")).cast("double")
            / F.count("*")
        ).alias(
            "cv"
        ),
        F.count("*").alias("n_vecs"),
    )
    f = c.groupBy("label").agg(
        F.sort_array(F.collect_list(F.struct("dim", "cv"))).alias("pairs"),
        F.max("n_vecs").cast("long").alias("n_vecs"),
    )
    cvec = F.transform("pairs", lambda p: p["cv"])
    return f.select(
        "label",
        "n_vecs",
        F.aggregate(cvec, F.lit(0.0), lambda a, b: a + b * b).alias("norm_sq"),
        F.array_max(F.transform(cvec, F.abs)).alias("max_abs_component"),
    )


# ---------------------------------------------------------------------------
# ANN quality: recall of the IVF probe path vs brute-force ground truth
# ---------------------------------------------------------------------------


def _recall_oracle() -> str:
    """Compose the two existing oracles (nested WITH in a CTE body is
    ANSI) and count the per-query overlap — the oracle measures the
    SAME approximation the Spark side does, so recall itself is
    value-compared, not just the two top-k lists."""
    bf = QUERIES["ann_bruteforce_topk"].oracle
    ivf = QUERIES["ann_ivf_topk"].oracle
    return f"""
    WITH bf AS ({bf}),
    ivf AS ({ivf}),
    hits AS (
      SELECT bf.query_id, COUNT(*) AS n_hits
      FROM bf JOIN ivf ON bf.query_id = ivf.query_id
                      AND bf.vec_id = ivf.vec_id
      GROUP BY bf.query_id
    ),
    truth AS (SELECT query_id, COUNT(*) AS k FROM bf GROUP BY query_id)
    SELECT t.query_id,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(t.k AS BIGINT) AS k,
           CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / t.k AS recall
    FROM truth t LEFT JOIN hits h ON t.query_id = h.query_id
    ORDER BY t.query_id
    """


@register(
    "ann_recall_report", oracle=None, doc="placeholder", tags=("contract",)
)  # oracle set below; "contract": the brute-force ground truth exists
# only to grade the IVF path — production runs IVF alone
def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF probe path against the brute-force ground
    truth, per query — the measurement that turns "approximate" from a
    hope into a number. A production pipeline runs this on a sampled
    query set after every index build/param change (cells, nprobe) and
    alerts on regression.

    Scale notes: ground truth is only ever computed for the FIXED probe
    query sample (|Q| rows broadcast against the corpus — the one
    deliberate O(|Q|·N) pass, amortized per index build, never per
    query); the IVF side is the production path itself. The overlap
    join is |Q|·k rows — driver-trivial at any corpus size. Recall is
    integer-count / integer-k: bit-exact cross-engine.
    """
    # NOTE (r15): checkpointing this ground-truth set was A/B-measured
    # slower (1.21 s → 2.14 s at sf0.1): the eager materialization job
    # outweighs the duplicate-subtree cost, which AQE exchange reuse
    # already largely absorbs. Left as-is deliberately.
    bf = ann_bruteforce_topk(spark, sf_dir).select("query_id", "vec_id")
    ivf = ann_ivf_topk(spark, sf_dir).select("query_id", "vec_id")
    hits = (
        bf.join(ivf, ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hits"))
    )
    truth = bf.groupBy("query_id").agg(F.count("*").alias("k"))
    return (
        truth.join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            F.col("k").cast("long").alias("k"),
            (
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("double") / F.col("k")
            ).alias("recall"),
        )
    )


# the oracle composes the two earlier registrations, so it can only be
# rendered after they exist; patch the frozen spec in place
from dataclasses import replace as _dc_replace  # noqa: E402

QUERIES["ann_recall_report"] = _dc_replace(
    QUERIES["ann_recall_report"], oracle=_recall_oracle()
)
