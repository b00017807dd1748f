"""Counting DB-API connection factory for the DuckDB target.

``CountingConnect(path, acc)`` is a picklable zero-arg factory, so it can be
handed to ``pipeline.load_to_database`` like any other connection factory and
travel into Spark's Python workers. Every connection it opens tallies
statements, rows sent, time inside ``execute``/``executemany``/``commit``/
``rollback``, rollbacks and connections into a Spark accumulator, which
brings the executors' counts back to the driver when their tasks finish.

Counts are split by where the connection was opened: on the driver (no
``TaskContext``) they belong to the ``introspection`` layer, inside a task to
the ``sinks`` layer.

Batch boundaries are read from the call sequence alone: the sink commits
every successful chunk and then commits once more when the batch is done, so
a ``commit`` with no statement since the previous ``commit``/``rollback``
closes a batch. A batch that saw a failed statement went through bisection.
"""

from __future__ import annotations

import time

from pyspark.accumulators import AccumulatorParam


class CountsParam(AccumulatorParam):
    """Accumulator of ``{name: number}`` dicts, merged by addition."""

    def zero(self, value):
        return {}

    def addInPlace(self, value1, value2):
        for k, v in value2.items():
            value1[k] = value1.get(k, 0) + v
        return value1


def _rows_in(sql: str, params) -> int:
    """Rows a statement carries: one per ``(?, ...)`` VALUES tuple."""
    if not params:
        return 0
    return sql.count("(?")


class _Tally:
    def __init__(self, acc, layer: str):
        self._acc = acc
        self._layer = layer
        self._closed_batch = True  # no statement since the last commit/rollback
        self._batch_failed = False

    def add(self, **counts) -> None:
        self._acc.add({f"{self._layer}.{k}": v for k, v in counts.items()})

    def statement(self, rows: int, seconds: float, failed: bool) -> None:
        self._closed_batch = False
        self._batch_failed |= failed
        self.add(statements=1, rows_sent=rows, db_s=seconds, failed_statements=int(failed))

    def end(self, kind: str, seconds: float) -> None:
        counts = {"db_s": seconds, kind + "s": 1}
        if kind == "commit" and self._closed_batch:
            counts["batches"] = 1
            counts["bisected_batches"] = int(self._batch_failed)
            self._batch_failed = False
        self._closed_batch = True
        self.add(**counts)


class _Cursor:
    def __init__(self, cursor, tally: _Tally):
        self._cursor = cursor
        self._tally = tally

    def _timed(self, fn, sql, params, rows):
        t0 = time.perf_counter()
        try:
            out = fn(sql, params) if params is not None else fn(sql)
        except Exception:
            self._tally.statement(rows, time.perf_counter() - t0, failed=True)
            raise
        self._tally.statement(rows, time.perf_counter() - t0, failed=False)
        return out

    def execute(self, sql, params=None):
        return self._timed(self._cursor.execute, sql, params, _rows_in(sql, params))

    def executemany(self, sql, seq):
        seq = list(seq)
        return self._timed(self._cursor.executemany, sql, seq, len(seq))

    def __getattr__(self, name):
        return getattr(self._cursor, name)


class _Connection:
    def __init__(self, conn, tally: _Tally):
        self._conn = conn
        self._tally = tally

    def cursor(self):
        return _Cursor(self._conn.cursor(), self._tally)

    def _end(self, kind: str):
        t0 = time.perf_counter()
        try:
            return getattr(self._conn, kind)()
        finally:
            self._tally.end(kind, time.perf_counter() - t0)

    def commit(self):
        return self._end("commit")

    def rollback(self):
        return self._end("rollback")

    def __getattr__(self, name):
        return getattr(self._conn, name)


class DuckConnect:
    """Picklable factory: a plain ``duckdb.connect(path)``."""

    def __init__(self, path: str):
        self.path = path

    def __call__(self):
        import duckdb

        return duckdb.connect(self.path)


class CountingConnect:
    """Picklable factory: ``duckdb.connect(path)`` wrapped in a counting proxy."""

    def __init__(self, path: str, acc):
        self.path = path
        self.acc = acc

    def __call__(self):
        import duckdb
        from pyspark import TaskContext

        layer = "introspection" if TaskContext.get() is None else "sinks"
        tally = _Tally(self.acc, layer)
        t0 = time.perf_counter()
        conn = duckdb.connect(self.path)
        tally.add(connections=1, connect_s=time.perf_counter() - t0)
        return _Connection(conn, tally)
