"""Delta DATA SKIPPING by add-action file statistics — the planning
mechanism that keeps a 100 TB Delta scan O(matching files): every
``add`` action may carry a ``stats`` field holding min/max/nullCount
per column, and the reader prunes files whose [min, max] cannot
intersect the predicate, falling back to MUST-SCAN for files whose
writer recorded no stats (the field is optional in the protocol —
older writers omit it, and a skipper that treats missing stats as
skippable silently loses data).

Faithful protocol detail exercised end-to-end: ``stats`` is a JSON
STRING INSIDE the JSON action (double-encoded in the real log). The
synth serializes it with a nested ``to_json`` and the fold parses the
action with one ``from_json`` and the stats string with a second —
both engine JSON directions, twice.

The fold: live files at the latest version (adds anti-joined against
removes by path, the deltalog.py protocol fold), per-file
classification against a closed-form predicate window strictly inside
the live fid range so every class is NON-VACUOUS at every SF:
``skip_low`` (max < lo), ``skip_high`` (min > hi), ``scan``
(intersecting), ``no_stats`` (stats absent → conservative scan).
``stats_ok`` carries the carried-twice audit per class: the stats
string's own numRecords must equal the add action's numRecords field.

The DuckDB oracle replays lattice, ranges, and classification
closed-form and never sees JSON.

Scale notes (100 TB): skipping is log-metadata work — the classifier
runs over thousands of add rows, not data; the classes' row sums are
exactly the scan-cost estimate a planner prints. This is the Delta
twin of icebergprune.py's manifest-summary pruning.

Reference: public Delta Lake protocol (Add File and Per-file
Statistics); lattice shared with operators/deltalog.py; no repo
counterpart (SURVEY.md §2l extension).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..tables import load_table
from .deltalog import (
    _n_versions,
    _ROWS_A,
    _ROWS_B,
    _file_adds,
    file_hint,
    n_lattice_adds,
)

_STATS_SCHEMA = (
    "struct<numRecords: bigint, "
    "minValues: struct<v: bigint>, "
    "maxValues: struct<v: bigint>, "
    "nullCount: struct<v: bigint>>"
)

_ACT_SCHEMA = (
    "struct<"
    "add: struct<path: string, numRecords: bigint, dataChange: boolean, "
    "stats: string>, "
    "remove: struct<path: string, dataChange: boolean>>"
)


def delta_skip_log_lines(spark: SparkSession, nv: int) -> DataFrame:
    """The action lattice's adds WITH per-file stats (fid value range
    [100·fid, 100·fid+99], nullCount fid%7; files with fid%5==2 carry
    NO stats — the old-writer case) plus the usual removes."""
    adds = _file_adds(spark, nv)
    rows = (F.lit(_ROWS_A) + F.lit(_ROWS_B) * F.col("fid")).cast("long")
    stats_json = F.to_json(
        F.struct(
            rows.alias("numRecords"),
            F.struct((100 * F.col("fid")).cast("long").alias("v"))
            .alias("minValues"),
            F.struct((100 * F.col("fid") + 99).cast("long").alias("v"))
            .alias("maxValues"),
            F.struct((F.col("fid") % 7).cast("long").alias("v"))
            .alias("nullCount"),
        )
    )
    add_lines = adds.select(
        "version",
        F.to_json(
            F.struct(
                F.struct(
                    F.format_string("part-%05d.parquet", "fid")
                    .alias("path"),
                    rows.alias("numRecords"),
                    F.lit(True).alias("dataChange"),
                    F.when(F.col("fid") % 5 != 2, stats_json)
                    .alias("stats"),
                ).alias("add")
            )
        ).alias("line"),
    )
    removes = (
        spark.range(nv).select(F.col("id").alias("version"))
        .filter("version >= 2")
        .select(
            "version",
            F.to_json(
                F.struct(
                    F.struct(
                        F.format_string(
                            "part-%05d.parquet",
                            (F.col("version") - 2).cast("long"),
                        ).alias("path"),
                        F.lit(True).alias("dataChange"),
                    ).alias("remove")
                )
            ).alias("line"),
        )
    )
    return add_lines.unionByName(removes)


def delta_stats_skip_fold(spark: SparkSession, nv: int) -> DataFrame:
    lo = 100 * (nv + 10)
    hi = 100 * (nv + 10) + 100 * (nv // 4) - 1
    acts = delta_skip_log_lines(spark, nv).select(
        "version", F.from_json("line", _ACT_SCHEMA).alias("a")
    )
    adds = acts.filter("a.add IS NOT NULL").select(
        F.col("a.add.path").alias("path"),
        F.col("a.add.numRecords").alias("rows"),
        F.from_json("a.add.stats", _STATS_SCHEMA).alias("s"),
    )
    removes = acts.filter("a.remove IS NOT NULL").select(
        F.col("a.remove.path").alias("path"))
    # the remove set is per-FILE (removes ≤ adds): broadcast the
    # anti-join build side only under the file-count gate (r15 ADVICE)
    live = adds.join(file_hint(removes, n_lattice_adds(nv)), "path", "left_anti")
    cls = (
        F.when(F.col("s").isNull(), F.lit("no_stats"))
        .when(F.col("s.maxValues.v") < lo, F.lit("skip_low"))
        .when(F.col("s.minValues.v") > hi, F.lit("skip_high"))
        .otherwise(F.lit("scan"))
    )
    ok = F.when(
        F.col("s").isNull(), F.lit(1)
    ).otherwise((F.col("s.numRecords") == F.col("rows")).cast("int"))
    return (
        live.select(cls.alias("class"), "rows",
                    ok.alias("ok"),
                    F.coalesce(F.col("s.nullCount.v"), F.lit(0))
                    .alias("nulls"))
        .groupBy("class")
        .agg(
            F.count("*").cast("long").alias("n_files"),
            F.sum("rows").cast("long").alias("rows_total"),
            F.min("ok").cast("int").alias("stats_ok"),
            F.sum("nulls").cast("long").alias("null_count"),
        )
    )


def _ds_oracle() -> str:
    a, b = _ROWS_A, _ROWS_B
    return f"""
    WITH n AS (
      SELECT CAST(10 + COUNT(*) // 25 AS BIGINT) AS nv FROM documents
    ),
    live AS (
      -- live(nv-1) = {{nv-2 .. 2*nv}} under the lattice
      SELECT fid, nv FROM n, LATERAL (
        SELECT unnest(range(nv - 2, 2 * nv + 1)) AS fid
      )
    ),
    geom AS (
      SELECT fid,
             {a} + {b} * fid AS rows_,
             fid % 7 AS nulls,
             100 * (nv + 10) AS lo,
             100 * (nv + 10) + 100 * (nv // 4) - 1 AS hi,
             (fid % 5 = 2) AS no_stats
      FROM live
    ),
    cls AS (
      SELECT CASE WHEN no_stats THEN 'no_stats'
                  WHEN 100 * fid + 99 < lo THEN 'skip_low'
                  WHEN 100 * fid > hi THEN 'skip_high'
                  ELSE 'scan' END AS class,
             rows_,
             CASE WHEN no_stats THEN 0 ELSE nulls END AS nulls
      FROM geom
    )
    SELECT class,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(rows_) AS BIGINT) AS rows_total,
           CAST(1 AS INT) AS stats_ok,
           CAST(SUM(nulls) AS BIGINT) AS null_count
    FROM cls
    GROUP BY class
    ORDER BY class
    """


@register("delta_stats_skipping", oracle=_ds_oracle())
def delta_stats_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level Delta data skipping by add-action stats: the
    double-encoded stats JSON parsed with nested from_json, live
    files classified skip_low / skip_high / scan / no_stats
    (missing stats scan conservatively — the protocol's old-writer
    case), per-class file and row totals, the stats-vs-action
    numRecords carried-twice audit, and null counts. Every class is
    non-vacuous at every SF by construction of the predicate window.
    See module docstring for the protocol argument and scale notes."""
    n_docs = load_table(spark, sf_dir, "documents").count()
    return delta_stats_skip_fold(spark, _n_versions(n_docs))
