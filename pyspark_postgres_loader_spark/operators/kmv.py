"""KMV (k-minimum-values / theta-style) distinct sketches with SET
OPERATIONS — the sketch family HLL cannot provide: HyperLogLog unions
losslessly but cannot INTERSECT; KMV/theta sketches support union,
intersection, and difference estimates, which is why warehouse
engines (Druid, DataSketches, BigQuery) keep both.

Everything here is integer-or-IEEE-exact and therefore FULLY
ORACLE-CHECKED — no error envelope needed for the driver gate (the
accuracy envelope vs true cardinality is still asserted in pytest):

- element: a user-day ``e = user_id * 100000 + epoch_day`` over the
  events table (user-day sets genuinely differ and partially overlap
  across event types, unlike raw user sets);
- hash: the multiplicative mix ``h = (e * 2654435761 + 12345) mod
  2^32`` (Knuth) — closed-form, so DuckDB replays it bit-exactly
  (collisions, if any, affect both engines identically). The mix is
  evaluated overflow-FREE on both engines via a 16-bit limb split of
  ``e mod 2^32`` (every intermediate stays < 2^49), so Spark's silent
  int64 wrap and DuckDB's overflow error can never diverge, at any
  scale factor (ceiling: ``user_id * 100000`` itself must fit int64,
  i.e. user_id < ~9.2e13);
- per-type sketch: the K=64 smallest DISTINCT hashes (one window
  over the hash-distinct frame); estimator: exact count when the
  sketch is not full, else ``floor((K-1)·2^32 / kth_hash)`` — both
  engines perform the SAME double division on exactly-representable
  operands, so the floor is bit-identical;
- union sketch: the K smallest of the two sketches' hash union
  (valid theta-union: any hash below both thetas is in one input
  sketch); the "two" are the lexicographically-first event types,
  selected IN-PLAN by a row-number over the distinct types (no
  driver collect);
- intersection: the standard KMV rule — ``C = |union-sketch hashes
  present in BOTH input sketches|``, estimate
  ``floor(C · est_union / K_union)``.

Output: one row per event type plus 'union:first2' /
'intersect:first2' rows; columns scope, n_sketch, kth_hash,
est_scaled, exact_distinct (distinct-hash count — the same quantity
both engines compute).

Scale notes (100 TB): the sketch is what crosses the wire — K·8
bytes per group instead of the distinct set; KMV sketches are
mergeable by construction (the union row IS the merge), so at
cluster scale the window becomes a per-partition top-K + merge with
identical algebra. Tagged 'contract': the exact-distinct side exists
to judge the estimator and would not run at 100 TB.

Reference: public KMV/theta-sketch literature (Bar-Yossef et al.;
Apache DataSketches documentation); no repo counterpart (SURVEY.md
§2l extension).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import register
from ..tables import load_table

_K = 64
_MOD = 1 << 32
_MULT = 2654435761
_ADD = 12345
_NUM = (_K - 1) * _MOD  # estimator numerator, exact in double


def _mix32(e):
    """``(e * _MULT + _ADD) mod 2^32`` without int64 overflow: split
    ``e mod 2^32`` into 16-bit limbs so every intermediate is < 2^49.
    Identical algebra to the direct form for e < 2^32 (every fixture),
    and well-defined — on BOTH engines — beyond it."""
    em = e % F.lit(_MOD)
    hi = F.shiftright(em, 16)
    lo = em.bitwiseAND(F.lit(65535))
    return ((hi * _MULT) % F.lit(_MOD) * 65536
            + lo * _MULT + _ADD) % F.lit(_MOD)


def _mix32_sql(e_expr: str) -> str:
    """The same limb-split mix as DuckDB SQL over expression
    ``e_expr`` (DuckDB raises on int64 overflow, so the split is what
    makes the hash evaluable there at all beyond e ~ 3.4e9)."""
    return (f"(((((({e_expr}) % {_MOD}) >> 16) * {_MULT}) % {_MOD})"
            f" * 65536"
            f" + ((({e_expr}) % {_MOD}) & 65535) * {_MULT}"
            f" + {_ADD}) % {_MOD}")


def _est(n_sketch, kth):
    """KMV estimator: exact when not full, else the IEEE-identical
    floor((K-1)·2^32 / kth) both engines compute."""
    return F.when(
        n_sketch < _K, n_sketch.cast("long")
    ).otherwise(
        F.floor(F.lit(float(_NUM)) / kth.cast("double")).cast("long")
    )


def _kmv_oracle() -> str:
    return f"""
    WITH hashed AS (
      SELECT DISTINCT event_type AS scope,
             {_mix32_sql("user_id * 100000 + DATE_DIFF('day', "
                         "DATE '1970-01-01', CAST(ts AS DATE))")} AS h
      FROM events
    ),
    sk AS (
      SELECT scope, h
      FROM (SELECT scope, h,
                   ROW_NUMBER() OVER (PARTITION BY scope ORDER BY h)
                     AS rn
            FROM hashed)
      WHERE rn <= {_K}
    ),
    per AS (
      SELECT scope, CAST(COUNT(*) AS INT) AS n_sketch,
             CAST(MAX(h) AS BIGINT) AS kth_hash
      FROM sk GROUP BY scope
    ),
    exact AS (
      SELECT scope, CAST(COUNT(*) AS BIGINT) AS exact_distinct
      FROM hashed GROUP BY scope
    ),
    types2 AS (
      SELECT scope,
             ROW_NUMBER() OVER (ORDER BY scope) AS tr
      FROM (SELECT DISTINCT scope FROM hashed)
      QUALIFY tr <= 2
    ),
    pair_sk AS (
      SELECT t.tr, s.h FROM sk s JOIN types2 t USING (scope)
    ),
    uni AS (
      SELECT h
      FROM (SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn
            FROM (SELECT DISTINCT h FROM pair_sk))
      WHERE rn <= {_K}
    ),
    ustats AS (
      SELECT CAST(COUNT(*) AS INT) AS n_sketch,
             CAST(MAX(h) AS BIGINT) AS kth_hash
      FROM uni
    ),
    uexact AS (
      SELECT CAST(COUNT(DISTINCT h.h) AS BIGINT) AS exact_distinct
      FROM hashed h JOIN types2 t ON h.scope = t.scope
    ),
    inboth AS (
      SELECT h FROM pair_sk GROUP BY h
      HAVING COUNT(DISTINCT tr) = 2
    ),
    ccnt AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS c
      FROM uni JOIN inboth USING (h)
    ),
    iexact AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS exact_distinct
      FROM (SELECT h FROM hashed JOIN types2 USING (scope)
            GROUP BY h HAVING COUNT(DISTINCT tr) = 2)
    ),
    est AS (
      SELECT scope, n_sketch, kth_hash,
             CASE WHEN n_sketch < {_K} THEN CAST(n_sketch AS BIGINT)
                  ELSE CAST(FLOOR(CAST({_NUM} AS DOUBLE)
                                  / CAST(kth_hash AS DOUBLE))
                            AS BIGINT) END AS est_scaled
      FROM per
    ),
    uest AS (
      SELECT n_sketch, kth_hash,
             CASE WHEN n_sketch < {_K} THEN CAST(n_sketch AS BIGINT)
                  ELSE CAST(FLOOR(CAST({_NUM} AS DOUBLE)
                                  / CAST(kth_hash AS DOUBLE))
                            AS BIGINT) END AS est_scaled
      FROM ustats
    )
    SELECT * FROM (
      SELECT e.scope, e.n_sketch, e.kth_hash, e.est_scaled,
             x.exact_distinct
      FROM est e JOIN exact x USING (scope)
      UNION ALL
      SELECT 'union:first2', u.n_sketch, u.kth_hash, u.est_scaled,
             (SELECT exact_distinct FROM uexact)
      FROM uest u
      UNION ALL
      SELECT 'intersect:first2', CAST(c.c AS INT), CAST(0 AS BIGINT),
             CAST(FLOOR(CAST(c.c * u.est_scaled AS DOUBLE)
                        / CAST(u.n_sketch AS DOUBLE)) AS BIGINT),
             (SELECT exact_distinct FROM iexact)
      FROM ccnt c, uest u
    )
    ORDER BY scope
    """


@register("sketch_kmv_distinct_ops", oracle=_kmv_oracle(),
          tags=("contract",))
def sketch_kmv_distinct_ops(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """KMV distinct sketches with union AND intersection estimates —
    fully oracle-checked because hash, sketch, and estimator are all
    integer-or-IEEE-exact on both engines (see module docstring).
    The exact-distinct column is the contract side judging the
    estimator; the pytest envelope additionally bounds relative
    error at sketch size 64."""
    ev = load_table(spark, sf_dir, "events")
    e = (F.col("user_id").cast("long") * 100000
         + F.datediff(F.to_date("ts"), F.lit("1970-01-01")))
    h = _mix32(e)
    # hashed feeds SEVEN consumers (both sketch branches, three
    # exact sides, totals); materialize it once so the plan reads a
    # checkpointed RDD instead of re-scanning events per branch
    # (graph.py/dedup_semantic_cluster pattern; the FileScan budget
    # gate pinned the re-scan)
    hashed = (ev.select(F.col("event_type").alias("scope"),
                        h.alias("h"))
              .distinct().localCheckpoint(eager=True))
    w = Window.partitionBy("scope").orderBy("h")
    sk = (hashed.withColumn("rn", F.row_number().over(w))
          .filter(F.col("rn") <= _K).drop("rn"))

    per_type = sk.groupBy("scope").agg(
        F.count("*").cast("int").alias("n_sketch"),
        F.max("h").cast("long").alias("kth_hash"),
    )
    exact = hashed.groupBy("scope").agg(
        F.count("*").cast("long").alias("exact_distinct")
    )
    singles = (per_type.join(exact, "scope")
               .select("scope", "n_sketch", "kth_hash",
                       _est(F.col("n_sketch"),
                            F.col("kth_hash")).alias("est_scaled"),
                       "exact_distinct"))

    # the two lexicographically-first types, selected IN-PLAN
    types2 = (hashed.select("scope").distinct()
              .withColumn("tr",
                          F.row_number().over(Window.orderBy("scope")))
              .filter(F.col("tr") <= 2))
    pair_sk = sk.join(F.broadcast(types2), "scope").select("tr", "h")
    uni = (pair_sk.select("h").distinct()
           .withColumn("rn", F.row_number().over(Window.orderBy("h")))
           .filter(F.col("rn") <= _K).drop("rn"))
    u_stats = uni.agg(
        F.count("*").cast("int").alias("n_sketch"),
        F.max("h").cast("long").alias("kth_hash"),
    )
    u_exact = (hashed.join(F.broadcast(types2), "scope")
               .select("h").distinct()
               .agg(F.count("*").cast("long").alias("exact_distinct")))
    union_row = (u_stats.crossJoin(F.broadcast(u_exact))
                 .select(F.lit("union:first2").alias("scope"),
                         "n_sketch", "kth_hash",
                         _est(F.col("n_sketch"),
                              F.col("kth_hash")).alias("est_scaled"),
                         "exact_distinct"))

    both = (pair_sk.groupBy("h")
            .agg(F.countDistinct("tr").alias("nt"))
            .filter(F.col("nt") == 2).select("h"))
    c_cnt = (uni.join(F.broadcast(both), "h", "leftsemi")
             .agg(F.count("*").cast("long").alias("c")))
    i_exact = (hashed.join(F.broadcast(types2), "scope")
               .groupBy("h")
               .agg(F.countDistinct("scope").alias("ns"))
               .filter(F.col("ns") == 2)
               .agg(F.count("*").cast("long").alias("exact_distinct")))
    inter_row = (
        c_cnt.crossJoin(F.broadcast(u_stats))
        .crossJoin(F.broadcast(i_exact))
        .select(
            F.lit("intersect:first2").alias("scope"),
            F.col("c").cast("int").alias("n_sketch"),
            F.lit(0).cast("long").alias("kth_hash"),
            F.floor(
                (F.col("c")
                 * _est(F.col("n_sketch"), F.col("kth_hash"))
                 ).cast("double")
                / F.col("n_sketch").cast("double")
            ).cast("long").alias("est_scaled"),
            "exact_distinct",
        )
    )
    return singles.unionByName(union_row).unionByName(inter_row)
