"""The two workloads: ``udf_mix`` and ``upsert_load``.

Each is a closed loop driven by one client: the next op starts when the
previous one returns. ``setup`` prepares everything the timed ops need;
``run_op`` performs one timed op; ``check`` verifies outputs outside the
timed region.
"""

from __future__ import annotations

import os
import shutil
import sys
import traceback

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from .fixtures import PRIORITIES

# A run, set-up included, has to fit in about 65 s on 4 cores, and its
# set-up pays one cold pass over every query. So the mix keeps 8 of the 12
# Python-worker queries; README.md lists the ones left out and why.
UDF_MIX = (
    "ingest_gzip_member_walk",
    "ingest_tar_member_walk",
    "ingest_bzip2_decode",
    "multimodal_jpeg_decode",
    "multimodal_audio_features",
    "text_quality_score",
    "tokenizer_bpe_apply_tokens",
    "pandas_udf_nfc_norm",
    # the one stream query, so that the streaming layer stays measured
    "stream_tumbling_hourly",
)
UDF_TABLES = ("documents", "events")
# Untimed passes after the warm pass: op latencies fall most over the first
# two passes, while the JVM compiles.
EXTRA_WARM_PASSES = 1

# upsert_load shape: each changelog has CHANGELOG_ROWS rows drawn without
# replacement from KEY_SPACE keys; the target starts with half the keys, and
# one row in POISON_EVERY violates the target's CHECK constraint.
KEY_SPACE = 10_000
CHANGELOG_ROWS = 5_000
CHANGELOGS = 4
POISON_EVERY = 5_000
BATCH_SIZE = 1_000
TARGET = "orders_tgt"
TARGET_DDL = f"""
CREATE TABLE {TARGET} (
    o_orderkey BIGINT PRIMARY KEY,
    o_custkey BIGINT,
    o_orderstatus VARCHAR,
    o_totalprice DOUBLE CHECK (o_totalprice >= 0),
    o_orderdate TIMESTAMP,
    o_orderpriority VARCHAR
)
"""


def _log_failure(what: str) -> None:
    print(f"perfbench: {what} failed:\n{traceback.format_exc()}", file=sys.stderr)


class QueryMix:
    """Registered queries run as build (registry call) plus ``noop`` execute."""

    def __init__(self, names, table_names, sf_dir, spark, tracer, trace_jobs):
        from pyspark_postgres_loader_spark import registry

        self.names = tuple(names)
        self.table_names = table_names
        self.sf_dir = sf_dir
        self.spark = spark
        self.tracer = tracer
        self.trace_jobs = trace_jobs
        self.queries = registry.all_queries()
        self.results: dict[str, tuple | None] = {}

    def _group(self, group: str, desc: str) -> None:
        if self.trace_jobs:
            self.spark.sparkContext.setJobGroup(group, desc)

    def setup(self, rng) -> None:
        """First touch of each table, then one untimed pass that collects
        every query once (it warms the session and feeds ``check``), then
        ``EXTRA_WARM_PASSES`` untimed passes of ops as the timed ones run."""
        from pyspark_postgres_loader_spark import tables

        with self.tracer.span("tables"):
            for t in self.table_names:
                tables.load_table(self.spark, self.sf_dir, t)
        self._group("setup", "warm pass")
        for name in rng.sample(self.names, len(self.names)):
            try:
                df = self.queries[name](self.spark, self.sf_dir)
                self.results[name] = (list(df.columns), [tuple(r) for r in df.collect()])
            except Exception:  # noqa: BLE001 - a failing query is counted, not fatal
                _log_failure(f"warm pass of {name}")
                self.results[name] = None
        for _ in range(EXTRA_WARM_PASSES):
            for name in self.pass_order(rng):
                self.run_op(-1, name)

    def pass_order(self, rng) -> list[str]:
        return rng.sample(self.names, len(self.names))

    def run_op(self, op_id: int, name: str) -> bool:
        """One op; a negative ``op_id`` is an untimed warm-up op."""
        prefix = f"op{op_id}:" if op_id >= 0 else "setup:"
        try:
            with self.tracer.span("registry"):
                self._group(prefix + "registry", name)
                df = self.queries[name](self.spark, self.sf_dir)
            with self.tracer.span("operators"):
                self._group(prefix + "operators", name)
                df.write.format("noop").mode("overwrite").save()
        except Exception:  # noqa: BLE001 - a failing op is counted, not fatal
            _log_failure(f"op {op_id} ({name})")
            return False
        return True

    def rows(self, name: str) -> int:
        res = self.results.get(name)
        return len(res[1]) if res else 0

    def after_op(self, name: str, ok: bool) -> bool:
        return ok  # query outputs are checked once per run, in ``check``

    def check(self) -> dict[str, str | None]:
        """Compare each collected query with its DuckDB oracle on column
        names, row count and order-insensitive values. Returns
        ``{name: None if it agrees else the reason}``."""
        from pyspark_postgres_loader_spark.registry import QUERIES
        from tests.oracle_harness import _norm_rows, duckdb_connection

        con = duckdb_connection(self.sf_dir)
        verdicts = {}
        try:
            for name in self.names:
                verdicts[name] = self._check_one(con, QUERIES[name].oracle, name, _norm_rows)
        finally:
            con.close()
        return verdicts

    def _check_one(self, con, oracle, name, norm_rows):
        res = self.results.get(name)
        if res is None:
            return "query raised in the warm pass"
        if oracle is None:
            return "no oracle registered"
        s_cols, s_rows = [c.lower() for c in res[0]], res[1]
        cur = con.execute(oracle)
        d_cols = [d[0].lower() for d in cur.description]
        d_rows = cur.fetchall()
        if sorted(s_cols) != sorted(d_cols):
            return f"columns differ: spark={s_cols} duckdb={d_cols}"
        if len(s_rows) != len(d_rows):
            return f"row count differs: spark={len(s_rows)} duckdb={len(d_rows)}"
        if norm_rows(s_cols, s_rows) != norm_rows(d_cols, d_rows):
            return "values differ"
        return None


class UpsertLoad:
    """``pipeline.load_to_database`` of a seeded changelog into a DuckDB file."""

    def __init__(self, work_dir, spark, tracer, factory_for):
        self.dir = os.path.join(work_dir, "upsert")
        self.spark = spark
        self.tracer = tracer
        self.factory_for = factory_for
        self.target = os.path.join(self.dir, "target.duckdb")
        self.pristine = os.path.join(self.dir, "pristine.duckdb")
        self.changelogs: list[str] = []
        self.n_poison = CHANGELOG_ROWS // POISON_EVERY
        self.stats = []
        self.failures: list[str] = []

    def setup(self, rng) -> None:
        """Write the seeded changelogs and the initial target, then run one
        untimed load so Python workers and JIT are warm."""
        import duckdb

        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        gen = np.random.default_rng(rng.getrandbits(64))
        initial = _orders_rows(gen, gen.choice(KEY_SPACE, KEY_SPACE // 2, replace=False))
        con = duckdb.connect(self.pristine)
        try:
            con.execute(TARGET_DDL)
            con.register("initial", initial)
            con.execute(f"INSERT INTO {TARGET} SELECT * FROM initial")
        finally:
            con.close()
        for i in range(CHANGELOGS):
            keys = gen.choice(KEY_SPACE, CHANGELOG_ROWS, replace=False)
            poison = gen.choice(CHANGELOG_ROWS, self.n_poison, replace=False)
            path = os.path.join(self.dir, f"changelog{i}.parquet")
            pq.write_table(_orders_rows(gen, keys, poison), path)
            self.changelogs.append(path)
        self._restore()
        if not self.run_op(-1, 0):
            raise RuntimeError("warm-up load failed")
        self.after_op(0, True)
        self.stats.clear()  # ``stats`` holds the timed loads only

    def pass_order(self, rng) -> list[int]:
        return rng.sample(range(CHANGELOGS), CHANGELOGS)

    def _restore(self) -> None:
        for suffix in ("", ".wal"):
            if os.path.exists(self.target + suffix):
                os.remove(self.target + suffix)
        shutil.copyfile(self.pristine, self.target)

    def run_op(self, op_id: int, which: int) -> bool:
        from pyspark_postgres_loader_spark import pipeline

        try:
            with self.tracer.span("pipeline"):
                if op_id >= 0 and self.tracer.enabled:
                    self.spark.sparkContext.setJobGroup(f"op{op_id}:pipeline", "load")
                result = pipeline.load_to_database(
                    self.spark,
                    "parquet",
                    {"path": self.changelogs[which]},
                    TARGET,
                    self.factory_for(self.target),
                    dialect="duckdb",
                    batch_size=BATCH_SIZE,
                    strategy="batched",
                )
        except Exception:  # noqa: BLE001 - a failing op is counted, not fatal
            _log_failure(f"load op {op_id}")
            return False
        self.stats.append(result.stats)
        return True

    def rows(self, which: int) -> int:
        return self.stats[-1].rows_seen

    def after_op(self, which: int, ok: bool) -> bool:
        """Untimed: verify the op's result, then restore the target."""
        ok = ok and self.check_op(which)
        self._restore()
        return ok

    def check_op(self, which: int) -> bool:
        """The target must equal an independent replay (initial rows, each
        overwritten by the changelog's valid row for its key) and the sink
        must have rejected exactly the CHECK-violating rows."""
        import duckdb

        stats = self.stats[-1]
        if stats.rows_rejected != self.n_poison or stats.rows_seen != CHANGELOG_ROWS:
            self.failures.append(
                f"changelog{which}: rejected {stats.rows_rejected} of {stats.rows_seen}, "
                f"expected {self.n_poison} of {CHANGELOG_ROWS}")
            return False
        con = duckdb.connect()
        try:
            con.execute(f"ATTACH {_sql_str(self.pristine)} AS p (READ_ONLY)")
            con.execute(f"ATTACH {_sql_str(self.target)} AS t (READ_ONLY)")
            con.execute(
                f"CREATE TEMP VIEW valid AS SELECT * FROM read_parquet({_sql_str(self.changelogs[which])}) "
                "WHERE o_totalprice >= 0")
            con.execute(
                f"CREATE TEMP VIEW expected AS SELECT * FROM p.{TARGET} "
                "WHERE o_orderkey NOT IN (SELECT o_orderkey FROM valid) "
                "UNION ALL SELECT * FROM valid")
            diff = con.execute(
                f"SELECT (SELECT count(*) FROM (SELECT * FROM t.{TARGET} EXCEPT ALL "
                f"SELECT * FROM expected)), (SELECT count(*) FROM (SELECT * FROM expected "
                f"EXCEPT ALL SELECT * FROM t.{TARGET}))").fetchone()
        finally:
            con.close()
        if diff != (0, 0):
            self.failures.append(f"changelog{which}: target differs from replay by {diff}")
            return False
        return True


def _sql_str(text: str) -> str:
    return "'" + text.replace("'", "''") + "'"


def _orders_rows(gen, keys, poison=()) -> pa.Table:
    n = len(keys)
    price = np.round(gen.uniform(1000, 500_000, n), 2)
    price[np.asarray(poison, dtype=np.int64)] *= -1
    day0 = np.datetime64("1995-01-01", "D")
    return pa.table({
        "o_orderkey": pa.array(np.asarray(keys, dtype=np.int64)),
        "o_custkey": pa.array(gen.integers(0, 15_000, n).astype(np.int64)),
        "o_orderstatus": pa.array(np.asarray(["F", "O", "P"])[gen.integers(0, 3, n)]),
        "o_totalprice": pa.array(price),
        "o_orderdate": pa.array((day0 + gen.integers(0, 2400, n)).astype("datetime64[us]")),
        "o_orderpriority": pa.array(np.asarray(PRIORITIES)[gen.integers(0, len(PRIORITIES), n)]),
    })
