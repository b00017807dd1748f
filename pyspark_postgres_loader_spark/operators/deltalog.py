"""Delta Lake transaction-log snapshot reconstruction — the TABLE
FORMAT layer: every lakehouse query starts by folding `_delta_log/
NNN.json` action files (add/remove/metaData/protocol/commitInfo,
newline-delimited JSON per the public Delta protocol) into the set
of live data files. This operator does that fold Spark-first:

- the log is SYNTHESIZED distributively from a closed-form action
  lattice (one version per `range()` row — versions/adds/removes all
  derive from the documents fixture's size, so the log grows with
  SF), serialized with ``to_json(named_struct(...))`` into real
  NDJSON action lines;
- the lines are then PARSED BACK with ``from_json`` under the Delta
  action schema — the engine's JSON machinery is exercised in both
  directions and the downstream state fold consumes only parsed
  columns (exactly the checkpointless log-replay path);
- snapshot state per version is a WINDOW fold, not a join: a version
  V's live-file count/rows/bytes are cumulative sums of adds minus
  removes up to V (remove actions resolve their file's stats by a
  path join to the matching add first — the log's remove actions
  carry no stats, as in the real protocol);
- output: one row per version — adds, removes, live files, live
  rows, live bytes after that commit, plus the protocol/metaData
  presence pinned at version 0.

The DuckDB oracle replays the action lattice and the cumulative fold
exactly (no JSON on the oracle side — the lattice is closed-form, so
a JSON bug on the Spark side cannot hide).

Scale notes (100 TB): log replay is metadata work — actions number
in the thousands while the table holds billions of rows; the fold is
one vocabulary-sized window over (version, path) and the remove-
resolution join is log-sized. This is exactly how a 1000-executor
reader plans: fold the log (tiny), THEN touch only live files.

Reference: the public Delta Lake transaction-log protocol
(PROTOCOL.md); no repo counterpart (SURVEY.md §2l extension).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import register
from ..tables import load_table

# action lattice: version 0 carries protocol + metaData + 3 adds
# (file ids 0..2); version v >= 1 adds ids 2v+1, 2v+2; version v >= 2
# removes id v-2 (added at an earlier version by construction).
_ROWS_A = 1000
_ROWS_B = 37
_SIZE_A = 8192
_SIZE_B = 517


def _n_versions(n_docs: int) -> int:
    return 10 + n_docs // 25


# r15 ADVICE: unlike the version-keyed aggregates (dozens of rows by
# design, unconditionally broadcast below), the per-FILE add-action set
# scales with TABLE FILE COUNT — a real Delta log can carry millions of
# add actions, and an unconditional broadcast hint disables Spark's
# size check and can OOM the driver. The lattice's add count is known
# in closed form at build time (3 at v0 + 2 per later version), so the
# hint is gated on it; past the cap the join degrades to a plain
# shuffle join, which is the correct plan at that scale anyway.
_BCAST_MAX_ADD_FILES = 100_000  # ≈ a few MB of (path, size, rows) rows


def n_lattice_adds(n_versions: int) -> int:
    """Closed-form add-action count of the synthesized lattice."""
    return 3 + 2 * max(n_versions - 1, 0)


def file_hint(df: DataFrame, n_files: int) -> DataFrame:
    """Broadcast a per-file action table only under the file-count cap."""
    return F.broadcast(df) if n_files <= _BCAST_MAX_ADD_FILES else df


def _file_adds(spark: SparkSession, n_versions: int) -> DataFrame:
    """(version, fid) add actions of the lattice."""
    v = spark.range(n_versions).select(F.col("id").alias("version"))
    return v.select(
        "version",
        F.explode(
            F.when(
                F.col("version") == 0,
                F.expr("array(0L, 1L, 2L)"),
            ).otherwise(
                F.expr("array(2 * version + 1, 2 * version + 2)")
            )
        ).alias("fid"),
    )


def delta_log_lines(spark: SparkSession, n_versions: int) -> DataFrame:
    """(version, line) — the synthesized NDJSON action log."""
    adds = _file_adds(spark, n_versions).select(
        "version",
        F.to_json(
            F.struct(
                F.struct(
                    F.format_string("part-%05d.parquet", "fid").alias(
                        "path"
                    ),
                    (F.lit(_SIZE_A) + F.lit(_SIZE_B) * F.col("fid"))
                    .cast("long")
                    .alias("size"),
                    (F.lit(_ROWS_A) + F.lit(_ROWS_B) * F.col("fid"))
                    .cast("long")
                    .alias("numRecords"),
                    F.lit(True).alias("dataChange"),
                ).alias("add")
            )
        ).alias("line"),
    )
    removes = (
        spark.range(n_versions)
        .select(F.col("id").alias("version"))
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
    head = spark.createDataFrame(
        [
            (0, '{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}'),
            (0, '{"metaData":{"id":"fixture-table",'
                '"format":{"provider":"parquet"}}}'),
        ],
        "version long, line string",
    )
    commits = spark.range(n_versions).select(
        F.col("id").alias("version"),
        F.to_json(
            F.struct(
                F.struct(
                    F.lit("WRITE").alias("operation")
                ).alias("commitInfo")
            )
        ).alias("line"),
    )
    return head.unionByName(adds).unionByName(removes).unionByName(commits)


_ACTION_SCHEMA = (
    "struct<"
    "add: struct<path: string, size: bigint, numRecords: bigint, "
    "dataChange: boolean>, "
    "remove: struct<path: string, dataChange: boolean>, "
    "protocol: struct<minReaderVersion: int, minWriterVersion: int>, "
    "metaData: struct<id: string, "
    "format: struct<provider: string>>, "
    "commitInfo: struct<operation: string>>"
)


def delta_snapshot_stats(
    spark: SparkSession, n_versions: int
) -> DataFrame:
    """Parse the NDJSON log back and fold it into per-version
    snapshot state."""
    lines = delta_log_lines(spark, n_versions)
    acts = lines.select(
        "version", F.from_json("line", _ACTION_SCHEMA).alias("a")
    )
    adds = acts.filter("a.add IS NOT NULL").select(
        "version",
        F.col("a.add.path").alias("path"),
        F.col("a.add.size").alias("size"),
        F.col("a.add.numRecords").alias("rows"),
    )
    # remove actions carry no stats (per protocol): resolve by path
    removes = (
        acts.filter("a.remove IS NOT NULL")
        .select("version", F.col("a.remove.path").alias("path"))
        .join(
            file_hint(
                adds.select("path", "size", "rows"),
                n_lattice_adds(n_versions),
            ),
            "path",
        )
    )
    per_v_adds = adds.groupBy("version").agg(
        F.count("*").cast("long").alias("n_adds"),
        F.sum("rows").cast("long").alias("add_rows"),
        F.sum("size").cast("long").alias("add_bytes"),
    )
    per_v_rm = removes.groupBy("version").agg(
        F.count("*").cast("long").alias("n_removes"),
        F.sum("rows").cast("long").alias("rm_rows"),
        F.sum("size").cast("long").alias("rm_bytes"),
    )
    meta = acts.filter("a.metaData IS NOT NULL OR a.protocol IS NOT NULL")
    meta_v = meta.groupBy("version").agg(
        F.count("*").cast("long").alias("n_meta")
    )
    base = (
        spark.range(n_versions)
        .select(F.col("id").alias("version"))
        # log-sized right sides; broadcast (no stats on checkpointed
        # lineage -> sort-merge fallback otherwise)
        .join(F.broadcast(per_v_adds), "version", "left")
        .join(F.broadcast(per_v_rm), "version", "left")
        .join(F.broadcast(meta_v), "version", "left")
        .select(
            "version",
            F.coalesce("n_adds", F.lit(0)).cast("long").alias("n_adds"),
            F.coalesce("n_removes", F.lit(0))
            .cast("long")
            .alias("n_removes"),
            F.coalesce("n_meta", F.lit(0)).cast("long").alias("n_meta"),
            F.coalesce("add_rows", F.lit(0)).alias("ar"),
            F.coalesce("rm_rows", F.lit(0)).alias("rr"),
            F.coalesce("add_bytes", F.lit(0)).alias("ab"),
            F.coalesce("rm_bytes", F.lit(0)).alias("rb"),
        )
    )
    w = (
        Window.orderBy("version")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return base.select(
        "version", "n_adds", "n_removes", "n_meta",
        (F.sum("n_adds").over(w) - F.sum("n_removes").over(w))
        .cast("long")
        .alias("live_files"),
        (F.sum("ar").over(w) - F.sum("rr").over(w))
        .cast("long")
        .alias("live_rows"),
        (F.sum("ab").over(w) - F.sum("rb").over(w))
        .cast("long")
        .alias("live_bytes"),
    )


def _dl_oracle() -> str:
    return f"""
    WITH n AS (
      SELECT CAST(10 + COUNT(*) // 25 AS BIGINT) AS nv FROM documents
    ),
    versions AS (
      SELECT unnest(range(0, (SELECT nv FROM n))) AS v
    ),
    adds AS (
      SELECT v, fid,
             {_ROWS_A} + {_ROWS_B} * fid AS rows_,
             {_SIZE_A} + {_SIZE_B} * fid AS size_
      FROM (
        SELECT v, unnest(CASE WHEN v = 0 THEN [0, 1, 2]
                         ELSE [2 * v + 1, 2 * v + 2] END) AS fid
        FROM versions
      )
    ),
    removes AS (
      SELECT v, v - 2 AS fid,
             {_ROWS_A} + {_ROWS_B} * (v - 2) AS rows_,
             {_SIZE_A} + {_SIZE_B} * (v - 2) AS size_
      FROM versions WHERE v >= 2
    ),
    base AS (
      SELECT ver.v AS version,
             COALESCE(a.n_adds, 0) AS n_adds,
             COALESCE(r.n_removes, 0) AS n_removes,
             CASE WHEN ver.v = 0 THEN 2 ELSE 0 END AS n_meta,
             COALESCE(a.ar, 0) AS ar, COALESCE(r.rr, 0) AS rr,
             COALESCE(a.ab, 0) AS ab, COALESCE(r.rb, 0) AS rb
      FROM versions ver
      LEFT JOIN (
        SELECT v, CAST(COUNT(*) AS BIGINT) AS n_adds,
               CAST(SUM(rows_) AS BIGINT) AS ar,
               CAST(SUM(size_) AS BIGINT) AS ab
        FROM adds GROUP BY v
      ) a ON ver.v = a.v
      LEFT JOIN (
        SELECT v, CAST(COUNT(*) AS BIGINT) AS n_removes,
               CAST(SUM(rows_) AS BIGINT) AS rr,
               CAST(SUM(size_) AS BIGINT) AS rb
        FROM removes GROUP BY v
      ) r ON ver.v = r.v
    )
    SELECT CAST(version AS BIGINT) AS version,
           CAST(n_adds AS BIGINT) AS n_adds,
           CAST(n_removes AS BIGINT) AS n_removes,
           CAST(n_meta AS BIGINT) AS n_meta,
           CAST(SUM(n_adds) OVER w - SUM(n_removes) OVER w AS BIGINT)
             AS live_files,
           CAST(SUM(ar) OVER w - SUM(rr) OVER w AS BIGINT) AS live_rows,
           CAST(SUM(ab) OVER w - SUM(rb) OVER w AS BIGINT) AS live_bytes
    FROM base
    WINDOW w AS (ORDER BY version
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY version
    """


@register("delta_log_snapshot_stats", oracle=_dl_oracle())
def delta_log_snapshot_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Delta transaction-log replay: a closed-form action log
    (SF-proportional: 10 + n_docs/25 versions) is synthesized as real
    NDJSON with to_json, parsed back with from_json under the Delta
    action schema, and folded into per-version snapshot state — adds,
    removes, protocol/metaData actions, and cumulative live files /
    rows / bytes (remove actions carry no stats per the protocol and
    resolve them by a path join to their add). The oracle replays the
    lattice and the cumulative fold without JSON, so a Spark-side
    JSON defect cannot hide.

    Scale notes (100 TB): table-format planning is metadata work —
    the fold is a window over a log-sized frame, the remove
    resolution a log-sized join; data files never open. The single
    ORDER BY version window is a one-partition fold of a tiny frame
    (thousands of rows for billions of data rows), matching how real
    log replay centralizes."""
    n_docs = load_table(spark, sf_dir, "documents").count()
    return delta_snapshot_stats(spark, _n_versions(n_docs))
