"""Delta Lake checkpoint-parquet replay — the log-compaction path
deltalog.py explicitly defers: real `_delta_log/` directories compact
every N commits into `NNN.checkpoint.parquet` holding the full live
state, and a reader folds CHECKPOINT + JSON TAIL instead of replaying
every JSON file from version 0.

This operator does that fold with the checkpoint decoded through the
repo's OWN parquet reader (parquetwalk.walk_parquet_table — the
multi-column flat-INT64 extension added for this):

- the checkpoint at version C = n_versions // 2 is WRITTEN with
  pyarrow (dictionary off, PLAIN v1 pages, snappy) from the
  closed-form live set at C — live fids are exactly {C-1 .. 2C+2}
  under deltalog.py's action lattice;
- its bytes are decoded back via walk_parquet_table and lifted into a
  DataFrame (checkpoint-sized: metadata work);
- the JSON TAIL (versions C+1 .. N-1) is synthesized distributively
  with ``to_json`` and parsed back with ``from_json`` under the same
  Delta action schema as the checkpointless fold;
- remove actions carry no stats (per protocol) and resolve them by a
  path join against CHECKPOINT ∪ tail adds — and under this lattice
  every tail remove's file predates the checkpoint, so dropping the
  checkpoint would dangle every one of them: the checkpoint is
  load-bearing, not decorative (pinned by a test);
- output: per-version snapshot state for versions C .. N-1.

THE ORACLED PROPERTY: checkpoint-fold == pure-JSON-fold. The DuckDB
oracle replays the full lattice closed-form (live files at v are
{v-1 .. 2v+2}); the driver's value-hash equality of this query
against it IS the statement that compact-then-fold loses nothing.
tests/test_delta_checkpoint.py additionally pins Spark-vs-Spark
equality against delta_snapshot_stats restricted to v >= C.

Scale notes (100 TB): checkpointing exists BECAUSE log replay is the
planning bottleneck at scale — a reader touching a million-commit
table folds one parquet file plus a handful of JSON tails instead of
10^6 files. The checkpoint is KB-to-MB-sized metadata; the fold is
one window over a log-sized frame. Data files never open.

Reference: the public Delta Lake protocol (PROTOCOL.md §Checkpoints);
no repo counterpart (SURVEY.md §2l extension; VERDICT r12 task 4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import register
from ..tables import load_table
from .deltalog import (
    _ACTION_SCHEMA,
    _n_versions,
    _ROWS_A,
    _ROWS_B,
    _SIZE_A,
    _SIZE_B,
)
from .parquetwalk import walk_parquet_table


def _checkpoint_version(n_versions: int) -> int:
    return n_versions // 2


def checkpoint_parquet_bytes(cp: int) -> bytes:
    """Write version-``cp``'s live state as a real checkpoint parquet
    (pyarrow, PLAIN v1 pages, no dictionary) — the profile our own
    table walk decodes. Live fids at cp are {cp-1 .. 2*cp+2}."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    fids = list(range(cp - 1, 2 * cp + 3))
    t = pa.table({
        "fid": pa.array(fids, type=pa.int64()),
        "size": pa.array([_SIZE_A + _SIZE_B * f for f in fids],
                         type=pa.int64()),
        "rows": pa.array([_ROWS_A + _ROWS_B * f for f in fids],
                         type=pa.int64()),
    })
    buf = pa.BufferOutputStream()
    pq.write_table(
        t, buf,
        use_dictionary=False,
        compression="snappy",
        data_page_version="1.0",
        write_statistics=False,
        write_page_checksum=True,
        row_group_size=64,
    )
    return buf.getvalue().to_pybytes()


def _tail_lines(spark: SparkSession, cp: int, n_versions: int) -> DataFrame:
    """(version, line) NDJSON actions for versions cp+1 .. n-1 —
    the post-checkpoint tail (2 adds, 1 remove, 1 commitInfo per
    version, exactly deltalog.py's lattice)."""
    v = (spark.range(cp + 1, n_versions)
         .select(F.col("id").alias("version")))
    adds = v.select(
        "version",
        F.explode(
            F.expr("array(2 * version + 1, 2 * version + 2)")
        ).alias("fid"),
    ).select(
        "version",
        F.to_json(F.struct(F.struct(
            F.format_string("part-%05d.parquet", "fid").alias("path"),
            (F.lit(_SIZE_A) + F.lit(_SIZE_B) * F.col("fid"))
            .cast("long").alias("size"),
            (F.lit(_ROWS_A) + F.lit(_ROWS_B) * F.col("fid"))
            .cast("long").alias("numRecords"),
            F.lit(True).alias("dataChange"),
        ).alias("add"))).alias("line"),
    )
    removes = v.select(
        "version",
        F.to_json(F.struct(F.struct(
            F.format_string(
                "part-%05d.parquet", (F.col("version") - 2).cast("long")
            ).alias("path"),
            F.lit(True).alias("dataChange"),
        ).alias("remove"))).alias("line"),
    )
    commits = v.select(
        "version",
        F.to_json(F.struct(F.struct(
            F.lit("WRITE").alias("operation")
        ).alias("commitInfo"))).alias("line"),
    )
    return adds.unionByName(removes).unionByName(commits)


def delta_checkpoint_fold(
    spark: SparkSession, n_versions: int
) -> DataFrame:
    cp = _checkpoint_version(n_versions)

    # 1. checkpoint: write with pyarrow, decode with OUR table walk
    decoded = walk_parquet_table(checkpoint_parquet_bytes(cp))
    c = decoded["columns"]
    ckpt = spark.createDataFrame(
        list(zip(c["fid"], c["size"], c["rows"])),
        "fid long, size long, rows long",
    ).select(
        F.format_string("part-%05d.parquet", "fid").alias("path"),
        "size",
        F.col("rows").alias("rows"),
    )

    # 2. JSON tail parsed back under the Delta action schema
    acts = _tail_lines(spark, cp, n_versions).select(
        "version", F.from_json("line", _ACTION_SCHEMA).alias("a")
    )
    adds = acts.filter("a.add IS NOT NULL").select(
        "version",
        F.col("a.add.path").alias("path"),
        F.col("a.add.size").alias("size"),
        F.col("a.add.numRecords").alias("rows"),
    )
    # removes resolve stats against CHECKPOINT ∪ tail adds
    known = ckpt.unionByName(adds.select("path", "size", "rows"))
    removes = (
        acts.filter("a.remove IS NOT NULL")
        .select("version", F.col("a.remove.path").alias("path"))
        .join(known, "path")
    )

    per_v_adds = adds.groupBy("version").agg(
        F.count("*").cast("long").alias("n_adds"),
        F.sum("rows").cast("long").alias("ar"),
        F.sum("size").cast("long").alias("ab"),
    )
    per_v_rm = removes.groupBy("version").agg(
        F.count("*").cast("long").alias("n_removes"),
        F.sum("rows").cast("long").alias("rr"),
        F.sum("size").cast("long").alias("rb"),
    )

    # 3. fold: the checkpoint IS the version-cp base row
    base0 = ckpt.agg(
        F.count("*").cast("long").alias("lf0"),
        F.sum("rows").cast("long").alias("lr0"),
        F.sum("size").cast("long").alias("lb0"),
    )
    tail = (
        spark.range(cp + 1, n_versions)
        .select(F.col("id").alias("version"))
        # log-sized right sides; broadcast (see deltacdf note)
        .join(F.broadcast(per_v_adds), "version", "left")
        .join(F.broadcast(per_v_rm), "version", "left")
        .select(
            "version",
            F.coalesce("n_adds", F.lit(0)).cast("long").alias("n_adds"),
            F.coalesce("n_removes", F.lit(0)).cast("long")
            .alias("n_removes"),
            F.coalesce("ar", F.lit(0)).alias("ar"),
            F.coalesce("rr", F.lit(0)).alias("rr"),
            F.coalesce("ab", F.lit(0)).alias("ab"),
            F.coalesce("rb", F.lit(0)).alias("rb"),
        )
    )
    head = spark.createDataFrame(
        [(cp, 0, 0, 0, 0, 0, 0)],
        "version long, n_adds long, n_removes long, "
        "ar long, rr long, ab long, rb long",
    )
    w = (Window.orderBy("version")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        head.unionByName(tail)
        .crossJoin(F.broadcast(base0))
        .select(
            "version", "n_adds", "n_removes",
            (F.col("lf0") + F.sum(F.col("n_adds") - F.col("n_removes"))
             .over(w)).cast("long").alias("live_files"),
            (F.col("lr0") + F.sum(F.col("ar") - F.col("rr")).over(w))
            .cast("long").alias("live_rows"),
            (F.col("lb0") + F.sum(F.col("ab") - F.col("rb")).over(w))
            .cast("long").alias("live_bytes"),
        )
    )


def _dc_oracle() -> str:
    # live fids at version v are {v-1 .. 2v+2}: count v+4, fid-sum
    # ((2v+2)(2v+3) - (v-2)(v-1)) / 2 — the pure-JSON fold in closed
    # form, restricted to v >= checkpoint
    return f"""
    WITH n AS (
      SELECT CAST(10 + COUNT(*) // 25 AS BIGINT) AS nv,
             CAST((10 + COUNT(*) // 25) // 2 AS BIGINT) AS cp
      FROM documents
    ),
    versions AS (
      SELECT u.v, n.cp
      FROM n, LATERAL (SELECT unnest(range(n.cp, n.nv)) AS v) u
    )
    SELECT CAST(v AS BIGINT) AS version,
           CAST(CASE WHEN v = cp THEN 0 ELSE 2 END AS BIGINT) AS n_adds,
           CAST(CASE WHEN v = cp THEN 0 ELSE 1 END AS BIGINT)
             AS n_removes,
           CAST(v + 4 AS BIGINT) AS live_files,
           CAST({_ROWS_A} * (v + 4)
                + {_ROWS_B} * ((2*v + 2) * (2*v + 3)
                               - (v - 2) * (v - 1)) // 2 AS BIGINT)
             AS live_rows,
           CAST({_SIZE_A} * (v + 4)
                + {_SIZE_B} * ((2*v + 2) * (2*v + 3)
                               - (v - 2) * (v - 1)) // 2 AS BIGINT)
             AS live_bytes
    FROM versions
    ORDER BY version
    """


@register("delta_checkpoint_snapshot", oracle=_dc_oracle())
def delta_checkpoint_snapshot(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Delta checkpoint-parquet replay: the version-C live state is
    written as a real checkpoint parquet (pyarrow), decoded back
    through the repo's own multi-column parquet walk, and folded with
    the post-checkpoint JSON tail (to_json → from_json round-trip)
    into per-version snapshot state for versions C..N-1. Every tail
    remove resolves its stats from the checkpoint — compaction is
    load-bearing. The oracle replays the FULL checkpointless fold
    closed-form, so the green row states checkpoint-fold ==
    pure-JSON-fold.

    Scale notes (100 TB): this is why checkpoints exist — planning
    cost drops from O(commits) JSON files to one parquet + a tail;
    everything here is metadata-sized."""
    n_docs = load_table(spark, sf_dir, "documents").count()
    return delta_checkpoint_fold(spark, _n_versions(n_docs))
