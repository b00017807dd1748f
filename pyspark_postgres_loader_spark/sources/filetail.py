"""File-tail Python DataSource: stream an append-only log file.

Round-5's synthetic stream reader proved the offset contract
(``latestOffset`` must be a restart-invariant pure function — of the
wall clock there); this source applies the same law to REAL external
state: the offset is the file's byte length, newline-aligned. A killed
and restarted query recomputes availability from the file itself, so
committed ranges can never be re-planned under new batch ids (the
round-5 duplicate-commit bug class is structurally impossible here).

Semantics — ``tail -f`` as a Spark stream:

- ``latestOffset`` = byte offset just past the file's LAST newline
  (a partial trailing line is not yet available; it becomes available
  when its newline lands — no torn records, ever);
- each micro-batch covers the byte range [start, end) and splits into
  ``n_partitions`` ranges read independently on executors, using the
  classic text-split rule (a reader at a non-aligned split start seeks
  one byte back and discards the line containing that byte — its owner
  is the previous split; a line that BEGINS inside a split is consumed
  fully even if it crosses the split end). Batch boundaries are always
  newline-aligned, split boundaries never need to be;
- rows are ``(pos bigint, line string)`` — the byte offset is a stable
  per-record identity for downstream dedup/ordering; parsing (JSON,
  CSV, regex) composes on top in DataFrame land where it belongs;
- bytes decode UTF-8 with replacement, so binary junk in the log can
  never kill the stage.

Scale notes: availability probing is one ``stat`` plus a bounded
backward scan for the last newline (one 64 KiB block in the common
case); NO data is read on the driver. Reading is executor-side and
linear in the byte range, like a parquet scan. At 100 TB of logs you
run one query per file/shard and union the streams, or point the
directory-file variant of this pattern at an object-store listing —
the per-file offset law is unchanged.

DIRECTORY MODE (``path`` is a directory): tail every file whose
basename matches the ``glob`` option (default ``*``), non-recursive.
The offset is a map ``{name: [generation, pos]}`` where generation is
the file's inode — still a pure function of directory state:

- a NEW file (unseen name, or a known name whose inode changed —
  rename+recreate rotation) reads from byte 0;
- a GROWN file reads its delta;
- an in-place REWRITE (logrotate's ``copytruncate``) resets that file
  to 0 — detected by size regression OR by a prefix checksum over the
  file's first min(64, size) bytes (appends never change the opening
  bytes; a rewrite that happens to end up LARGER than the old offset
  would slip past a pure size check). At-least-once for the rewritten
  file rather than a wedged stream. Single-file mode can't do this —
  Spark owns the scalar offset — which is why rotation there requires
  rename+recreate and a fresh query;
- a DELETED file drops out of the offset map; a file deleted between
  batch planning and task execution raises (correctness over silent
  loss — rotate with a grace period, the same contract as Filebeat's
  close_timeout).

Reference: extends the source-plugin registry idea
(get_s3_data_as_df.py:1, SURVEY.md §2a S4) to streaming ingestion —
the reference has no streaming surface at all.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

_SCHEMA = "pos bigint, line string"
_DIR_SCHEMA = "file string, pos bigint, line string"
_SCAN_BLOCK = 65536


class _ByteRange(InputPartition):
    def __init__(self, start: int, end: int, hard_start: bool, path: str | None = None):
        self.start = start
        self.end = end
        # True only for the range that begins at the batch's (always
        # newline-aligned) start offset: it reads from its first byte;
        # all others apply the seek-back-one-byte split rule.
        self.hard_start = hard_start
        self.path = path  # directory mode: which file this range reads


def aligned_end(path: str) -> int:
    """Byte offset just past the last newline in ``path`` (0 if the
    file is missing, empty, or has no newline yet). Pure function of
    file content — this IS the stream's availability."""
    try:
        size = os.path.getsize(path)
    except OSError:
        return 0
    with open(path, "rb") as f:
        pos = size
        while pos > 0:
            step = min(_SCAN_BLOCK, pos)
            f.seek(pos - step)
            idx = f.read(step).rfind(b"\n")
            if idx >= 0:
                return pos - step + idx + 1
            pos -= step
    return 0


_MIN_SPLIT_BYTES = 1 << 20  # default: don't split deltas under 1 MiB —
# in a 1000-file directory, per-file splitting would make
# n_partitions×files tasks per batch for kilobyte deltas (task
# overhead, zero parallelism). Tunable via the min_split_bytes option;
# tests set it to 1 to exercise the split rule on small fixtures.


def _split_ranges(
    start: int,
    end: int,
    n: int,
    path: str | None = None,
    min_split: int = _MIN_SPLIT_BYTES,
) -> list[_ByteRange]:
    if end <= start:
        return [_ByteRange(start, start, True, path)]
    if end - start < min_split:
        n = 1
    step = -(-(end - start) // max(1, n))
    return [
        _ByteRange(lo, min(lo + step, end), lo == start, path)
        for lo in range(start, end, step)
    ]


_PREFIX_SIG_BYTES = 64


def _prefix_sig(path: str, length: int) -> int:
    """CRC32 of the file's first ``length`` bytes — the file's
    GENERATION marker: appends never change it, any rewrite of the
    opening bytes does."""
    import zlib

    try:
        with open(path, "rb") as f:
            return zlib.crc32(f.read(length))
    except OSError:
        return -1


def dir_state(dirpath: str, pattern: str) -> dict[str, list[int]]:
    """Directory-mode availability:
    ``{name: [inode, sig_len, sig, aligned_end]}`` for every regular
    file matching ``pattern`` (basename fnmatch, non-recursive). Pure
    function of directory state. The (sig_len, sig) pair is the prefix
    checksum over the first min(64, size) bytes; delta computation
    re-hashes exactly ``sig_len`` bytes so file growth never shifts the
    comparison window."""
    import fnmatch

    out: dict[str, list[int]] = {}
    try:
        names = sorted(os.listdir(dirpath))
    except OSError:
        return out
    for name in names:
        if not fnmatch.fnmatch(name, pattern):
            continue
        full = os.path.join(dirpath, name)
        try:
            st = os.stat(full)
        except OSError:
            continue  # vanished between listdir and stat
        if not os.path.isfile(full):
            continue
        sig_len = min(_PREFIX_SIG_BYTES, st.st_size)
        out[name] = [
            st.st_ino,
            sig_len,
            _prefix_sig(full, sig_len),
            aligned_end(full),
        ]
    return out


def _dir_deltas(
    dirpath: str,
    start: dict[str, list[int]],
    end: dict[str, list[int]],
    n_partitions: int,
    min_split: int = _MIN_SPLIT_BYTES,
) -> list[_ByteRange]:
    """Per-file byte deltas between two directory offsets. A file
    restarts at 0 when its inode changed (rename+recreate rotation),
    its size regressed, or its prefix checksum no longer matches (an
    in-place rewrite that happens to END UP LARGER — pure size checks
    miss this); files absent from ``end`` contribute nothing."""
    parts: list[_ByteRange] = []
    for name, (end_ino, _end_len, _end_sig, end_pos) in end.items():
        entry = start.get(name)
        s_pos = 0
        if entry is not None:
            s_ino, s_len, s_sig, s_pos = entry
            full = os.path.join(dirpath, name)
            if (
                s_ino != end_ino
                or s_pos > end_pos
                or (s_len > 0 and _prefix_sig(full, s_len) != s_sig)
            ):
                s_pos = 0
        if end_pos > s_pos:
            parts.extend(
                _split_ranges(
                    s_pos,
                    end_pos,
                    n_partitions,
                    os.path.join(dirpath, name),
                    min_split=min_split,
                )
            )
    return parts or [_ByteRange(0, 0, True, None)]


def _read_range(path: str, part: _ByteRange) -> Iterator[tuple[int, str]]:
    if part.end <= part.start:
        return
    with open(path, "rb") as f:
        if part.hard_start:
            f.seek(part.start)
        else:
            # split rule: the line containing byte (start-1) belongs to
            # the previous split — consume and discard its remainder.
            # If that byte is '\n', readline() returns just it and we
            # correctly begin at `start`, which is a line boundary.
            f.seek(part.start - 1)
            f.readline()
        pos = f.tell()
        # a line that BEGINS before `end` is consumed fully (it may
        # extend past `end`; its bytes were available — batch ends are
        # newline-aligned — only the SPLIT boundary cut it)
        while pos < part.end:
            raw = f.readline()
            if not raw:
                break
            yield pos, raw.rstrip(b"\r\n").decode("utf-8", errors="replace")
            pos = f.tell()


class FileTailDataSource(DataSource):
    """``spark.read[Stream].format("file_tail")`` — options:

    - ``path`` (required): an append-only file, or a DIRECTORY of them
      (directory mode adds a ``file`` column and tolerates rotation —
      see module docstring)
    - ``glob`` (directory mode, default ``*``): basename filter
    - ``n_partitions`` (default 4): byte-range splits per file per batch
    """

    @classmethod
    def name(cls) -> str:
        return "file_tail"

    def _dir_mode(self) -> bool:
        return os.path.isdir(self.options.get("path", ""))

    def schema(self) -> str:
        return _DIR_SCHEMA if self._dir_mode() else _SCHEMA

    def reader(self, schema) -> DataSourceReader:
        if self._dir_mode():
            return _DirTailBatchReader(self.options)
        return _FileTailBatchReader(self.options)

    def streamReader(self, schema) -> DataSourceStreamReader:
        if self._dir_mode():
            return _DirTailStreamReader(self.options)
        return _FileTailStreamReader(self.options)


class _Opts:
    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("file_tail requires a 'path' option")
        self.glob = options.get("glob", "*")
        self.n_partitions = int(options.get("n_partitions", 4))
        if self.n_partitions < 1:
            raise ValueError("n_partitions must be >= 1")
        self.min_split = int(options.get("min_split_bytes", _MIN_SPLIT_BYTES))


class _FileTailBatchReader(DataSourceReader):
    """One-shot read of everything currently available (the stream's
    [0, aligned_end) range) — same split rule, same row identity."""

    def __init__(self, options):
        self._o = _Opts(options)

    def partitions(self):
        return _split_ranges(
            0,
            aligned_end(self._o.path),
            self._o.n_partitions,
            min_split=self._o.min_split,
        )

    def read(self, partition: _ByteRange) -> Iterator[tuple]:
        yield from _read_range(self._o.path, partition)


class _FileTailStreamReader(DataSourceStreamReader):
    def __init__(self, options):
        self._o = _Opts(options)

    def initialOffset(self) -> dict:
        return {"pos": 0}

    def latestOffset(self) -> dict:
        return {"pos": aligned_end(self._o.path)}

    def partitions(self, start: dict, end: dict):
        return _split_ranges(
            int(start["pos"]),
            int(end["pos"]),
            self._o.n_partitions,
            min_split=self._o.min_split,
        )

    def read(self, partition: _ByteRange) -> Iterator[tuple]:
        yield from _read_range(self._o.path, partition)

    def commit(self, end: dict) -> None:
        pass


class _DirTailBatchReader(DataSourceReader):
    """One-shot read of everything currently available in the
    directory; rows carry the file's basename."""

    def __init__(self, options):
        self._o = _Opts(options)

    def partitions(self):
        state = dir_state(self._o.path, self._o.glob)
        return _dir_deltas(
            self._o.path, {}, state, self._o.n_partitions, self._o.min_split
        )

    def read(self, partition: _ByteRange) -> Iterator[tuple]:
        if partition.path is None:
            return
        base = os.path.basename(partition.path)
        for pos, line in _read_range(partition.path, partition):
            yield base, pos, line


class _DirTailStreamReader(DataSourceStreamReader):
    """Directory tail: offset = ``{"files": {name: [inode, pos]}}`` —
    a pure function of directory state (see module docstring for the
    rotation/truncation/deletion rules)."""

    def __init__(self, options):
        self._o = _Opts(options)

    def initialOffset(self) -> dict:
        return {"files": {}}

    def latestOffset(self) -> dict:
        return {"files": dir_state(self._o.path, self._o.glob)}

    def partitions(self, start: dict, end: dict):
        return _dir_deltas(
            self._o.path,
            start.get("files", {}),
            end.get("files", {}),
            self._o.n_partitions,
            self._o.min_split,
        )

    def read(self, partition: _ByteRange) -> Iterator[tuple]:
        if partition.path is None:
            return
        base = os.path.basename(partition.path)
        for pos, line in _read_range(partition.path, partition):
            yield base, pos, line

    def commit(self, end: dict) -> None:
        pass


# ---------------------------------------------------------------------------
# Driver-oracled query: batch-mode tail over a deterministic log file
# ---------------------------------------------------------------------------
#
# The events fixture is materialized as a real log file (one
# "event_id|event_type" line per event, sorted by the unique event_id),
# read back through the file_tail DataSource in DIRECTORY mode with
# min_split_bytes=1 so the byte-range SPLIT RULE actually runs on the
# driver-checked path, and reduced to per-type aggregates that include
# SUM(pos) — the byte offsets. A duplicated or lost line at any split
# boundary, or a wrong offset, breaks the hash. The oracle regenerates
# line lengths from the fixture and replays the offsets as a window
# prefix-sum (all ASCII, so chars == bytes).

_FILETAIL_ORACLE = """
WITH lines AS (
  SELECT event_id, event_type,
         length(CAST(event_id AS VARCHAR)) + 1 + length(event_type) AS llen
  FROM events
),
pos AS (
  SELECT event_type, event_id,
         CAST(COALESCE(SUM(llen + 1) OVER (
           ORDER BY event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pos
  FROM lines
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(event_id) AS BIGINT) AS sum_event_id,
       CAST(SUM(pos) AS BIGINT) AS sum_pos
FROM pos
GROUP BY event_type
ORDER BY event_type
"""

def _materialize_event_log(spark, sf_dir: str) -> str:
    """Write the events fixture as a deterministic log file (one
    ``event_id|event_type`` line per event, totally ordered by the
    unique event_id) into a scratch dir. Deterministic per (uid, pid,
    sf_dir), overwritten on repeat calls within a process,
    atexit-removed, dead-sibling-swept on first claim (scratch.py).
    Shared by the batch and streaming file_tail queries."""
    import hashlib

    from pyspark.sql import functions as F

    from ..scratch import claim_scratch_dir
    from ..tables import load_table

    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    tag = hashlib.sha1(sf_dir.encode()).hexdigest()[:12]
    scratch = claim_scratch_dir("filetail_q", tag)
    (
        ev.repartition(1)
        .sortWithinPartitions("event_id")
        .select(
            F.concat_ws(
                "|", F.col("event_id").cast("string"), F.col("event_type")
            ).alias("value")
        )
        .write.mode("overwrite")
        .text(scratch)
    )
    return scratch


def _parse_and_aggregate(tailed):
    """(pos, line) rows → per-event_type (n_lines, sum_event_id,
    sum_pos) — identical for the batch and streaming paths, so both
    share one oracle."""
    from pyspark.sql import functions as F

    parts = F.split(F.col("line"), r"\|")
    parsed = tailed.select(
        "pos",
        parts.getItem(0).cast("long").alias("event_id"),
        parts.getItem(1).alias("event_type"),
    )
    return parsed.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum("event_id").cast("long").alias("sum_event_id"),
        F.sum("pos").cast("long").alias("sum_pos"),
    )


def _register_filetail_queries() -> None:
    from ..registry import register

    @register("filetail_batch_offsets", oracle=_FILETAIL_ORACLE)
    def filetail_batch_offsets(spark, sf_dir: str):
        """file_tail batch read, driver-oracled end to end: write the
        events fixture as a log file, tail it back through the
        registered DataSource (directory mode, 4 partitions,
        min_split_bytes=1 → the seek-back split rule runs for real),
        parse, and aggregate counts + id sums + BYTE-OFFSET sums per
        event type.

        Scale notes (100 TB): reading is executor-side byte-range
        splits, linear like a parquet scan; availability probing is one
        stat + a bounded backward newline scan on the driver, no data.
        The 1-byte min_split is the TEST setting — production keeps the
        1 MiB default so kilobyte deltas don't explode task counts."""
        scratch = _materialize_event_log(spark, sf_dir)
        spark.dataSource.register(FileTailDataSource)
        tailed = (
            spark.read.format("file_tail")
            .option("glob", "part-*")
            .option("n_partitions", "4")
            .option("min_split_bytes", "1")
            .load(scratch)
        )
        return _parse_and_aggregate(tailed)

    @register("stream_filetail_log_counts", oracle=_FILETAIL_ORACLE)
    def stream_filetail_log_counts(spark, sf_dir: str):
        """The file_tail STREAMING path, driver-oracled: the same
        deterministic log is consumed via ``readStream`` (directory
        mode — per-file ``{name: [inode, sig_len, prefix_crc, pos]}``
        offsets, the rotation-aware law), driven to completion with
        ``trigger(availableNow=True)`` into a memory sink in complete
        mode, and must produce byte-offset-exact aggregates identical
        to the batch read — which is exactly what the shared oracle
        asserts. This upgrades the streaming reader from pytest-only to
        a CORRECTNESS row: offset math, split rule, and the
        micro-batch planning path all sit on the checked surface.

        Scale notes (100 TB): one stat + ≤64-byte prefix read per file
        per poll on the driver; executor-side byte-range reads; state
        here is one small aggregation (complete mode is fine for a
        bounded key space — event types; production rollups switch to
        watermarked windows, streaming/windows.py)."""
        from ..streaming.windows import _run_to_memory

        scratch = _materialize_event_log(spark, sf_dir)
        spark.dataSource.register(FileTailDataSource)
        stream = (
            spark.readStream.format("file_tail")
            .option("glob", "part-*")
            .option("n_partitions", "4")
            .option("min_split_bytes", "1")
            .load(scratch)
        )
        return _run_to_memory(_parse_and_aggregate(stream), "complete")


_register_filetail_queries()
