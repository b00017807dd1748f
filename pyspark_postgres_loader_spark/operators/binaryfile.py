"""Real-file ingest through Spark's ``binaryFile`` source — closing
the loop the synthesized-payload walks leave open (VERDICT r12 gap 1):
every other ingest query builds its container bytes from ``doc_id``
inside the UDF, a sound differential-testing design, but the 100 TB
shape is MANY REAL FILES on object storage read partition-parallel
through ``spark.read.format("binaryFile")``.

This query writes a real fixture directory (scratch.py lifecycle:
per-process dir, orphan sweep, atexit cleanup) of 40 parquet files —
10 closed-form groups × 4 variants (clean / footer-truncated /
brotli-coded / page-body byte flipped under an intact CRC) from
parquetwalk's fixture builder — then scans it with the binaryFile
source, prunes to (file name, content) BEFORE the JVM→Python
boundary, and decodes each file through the repo's own
walk_parquet. Statuses and value sums land in the same typed-verdict
lattice as ingest_parquet_native_walk, and the DuckDB oracle replays
them per file name without touching the filesystem.

Scale notes (100 TB): the scan is a partition-parallel file listing +
read — exactly how a 1000-executor cluster ingests a crawl dump;
``pathGlobFilter`` prunes at listing time, the select prunes
modificationTime/length columns so only content bytes cross to
Python, and decode facts (~50 B/file) are all that returns. The
binaryFile source caps single-file size via
``spark.sql.sources.binaryFile.maxLength`` — real pipelines shard
container files well below it.

Reference: Spark's binary-file data source (public API); fixture
lattice shared with parquetwalk.py; no repo counterpart (SURVEY.md
§2l extension; VERDICT r12 task 5).
"""

from __future__ import annotations

import os
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..scratch import claim_scratch_dir
from .parquetwalk import (
    _PQ_GROUPS,
    _PQ_ROWGROUP,
    _pq_bytes,
    first_page_body_span,
    walk_parquet,
)

_BF_VARIANTS = ("clean", "trunc", "brotli", "crcflip")


def _bf_blob(g: int, variant: str) -> bytes:
    if variant == "brotli":
        return _pq_bytes(g, codec="brotli")
    blob = bytearray(_pq_bytes(g))
    if variant == "trunc":
        del blob[-6:]          # cut inside footer length + magic
    elif variant == "crcflip":
        # flip mid-body of the FIRST page, located by the same thrift
        # walk the reader performs — guaranteed under an intact stored
        # CRC whatever layout pyarrow emits
        s, e = first_page_body_span(bytes(blob))
        blob[s + (e - s) // 2] ^= 0x01
    return bytes(blob)


def binaryfile_fixture_dir() -> str:
    """Write (idempotently, per process) the 40-file fixture dir and
    return its path. Also drops a non-matching file the glob filter
    must exclude at listing time."""
    d = claim_scratch_dir("spark_graft", "binfiles")
    marker = os.path.join(d, ".complete")
    if not os.path.exists(marker):
        for g in range(_PQ_GROUPS):
            for variant in _BF_VARIANTS:
                p = os.path.join(d, f"g{g}_{variant}.parquet")
                with open(p, "wb") as f:
                    f.write(_bf_blob(g, variant))
        with open(os.path.join(d, "ignored.txt"), "wb") as f:
            f.write(b"not a parquet file; pathGlobFilter excludes it")
        with open(marker, "wb") as f:
            f.write(b"ok")
    return d


_BF_FACT_MEMO: dict[tuple, tuple] = {}


def _bf_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    cache = _BF_FACT_MEMO

    def facts(name: str, content: bytes) -> tuple:
        key = (name, len(content))
        if key not in cache:
            try:
                f = walk_parquet(content)
                vals = f["values"]
                cache[key] = (
                    "decoded", f["n_row_groups"], f["n_pages"],
                    len(vals), sum(vals),
                    sum((i + 1) * v for i, v in enumerate(vals)),
                )
            except NotImplementedError:
                cache[key] = ("unsupported", 0, 0, 0, 0, 0)
            except ValueError as exc:
                status = "crc_error" if "CRC" in str(exc) else "corrupt"
                cache[key] = (status, 0, 0, 0, 0, 0)
            except Exception:  # noqa: BLE001 — malformed bytes quarantine
                cache[key] = ("corrupt", 0, 0, 0, 0, 0)
        return cache[key]

    for pdf in it:
        if pdf.empty:
            continue
        out = [(n,) + facts(n, bytes(c))
               for n, c in zip(pdf["file_name"], pdf["content"])]
        yield pd.DataFrame(
            out,
            columns=["file_name", "status", "n_row_groups", "n_pages",
                     "n_values", "value_sum", "wsum"],
        ).astype(
            {"n_row_groups": "int32", "n_pages": "int32",
             "n_values": "int64", "value_sum": "int64", "wsum": "int64"}
        )


def _bf_oracle() -> str:
    return f"""
    WITH grp AS (
      SELECT unnest(range(0, {_PQ_GROUPS})) AS g
    ),
    variants AS (
      SELECT g, v FROM grp,
        LATERAL (SELECT unnest(['brotli', 'clean', 'crcflip', 'trunc'])
                 AS v)
    ),
    rows_ AS (
      SELECT g, 2500 + 128 * g AS n FROM grp
    ),
    vals AS (
      SELECT r.g, i,
             (i * i * 7 + i * 13 + 997 * r.g) % 100000 AS val
      FROM rows_ r, LATERAL (SELECT unnest(range(0, r.n)) AS i)
    ),
    sums AS (
      SELECT v.g,
             CAST((SELECT CAST(ceil(CAST(n AS DOUBLE) / {_PQ_ROWGROUP})
                   AS INT) FROM rows_ WHERE rows_.g = v.g)
               AS INT) AS nrg,
             CAST(COUNT(*) AS BIGINT) AS n_values,
             CAST(SUM(val) AS BIGINT) AS value_sum,
             CAST(SUM((i + 1) * val) AS BIGINT) AS wsum
      FROM vals v GROUP BY v.g
    )
    SELECT 'g' || va.g || '_' || va.v || '.parquet' AS file_name,
           CASE va.v WHEN 'clean' THEN 'decoded'
                     WHEN 'trunc' THEN 'corrupt'
                     WHEN 'brotli' THEN 'unsupported'
                     ELSE 'crc_error' END AS status,
           CASE WHEN va.v = 'clean' THEN s.nrg ELSE 0 END
             AS n_row_groups,
           CASE WHEN va.v = 'clean' THEN s.nrg ELSE 0 END AS n_pages,
           CASE WHEN va.v = 'clean' THEN s.n_values ELSE 0 END
             AS n_values,
           CASE WHEN va.v = 'clean' THEN s.value_sum ELSE 0 END
             AS value_sum,
           CASE WHEN va.v = 'clean' THEN s.wsum ELSE 0 END AS wsum
    FROM variants va JOIN sums s ON va.g = s.g
    ORDER BY file_name
    """


@register("ingest_binaryfile_scan", oracle=_bf_oracle())
def ingest_binaryfile_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-parallel ingest of REAL files via Spark's binaryFile
    source: a 40-file scratch fixture (10 parquet groups × clean /
    truncated / brotli / crc-flipped variants) is scanned with
    ``pathGlobFilter`` pruning at listing time, pruned to (name,
    content) before the Python boundary, and decoded through the
    repo's own walk_parquet into the typed-verdict lattice. The
    oracle replays every file's facts from the closed-form column —
    no filesystem on the oracle side.

    Scale notes (100 TB): this is the real ingest shape — file
    listing parallelized by the source, per-file decode map-side,
    ~50 B of facts per file returning to the JVM."""
    d = binaryfile_fixture_dir()
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .load(d)
        .select(
            F.element_at(F.split("path", "/"), -1).alias("file_name"),
            "content",
        )
    )
    return files.mapInPandas(
        _bf_batches,
        schema=(
            "file_name string, status string, n_row_groups int, "
            "n_pages int, n_values long, value_sum long, wsum long"
        ),
    )


# -------------------------------------- mixed-format dispatch leg

_DISPATCH_GROUPS = 6


def _bd_fixture_dir() -> str:
    """The data-lake junk drawer: one directory holding parquet,
    Avro, ORC, and unidentifiable files side by side (idempotent per
    process)."""
    from .avrowalk import _av_record, build_avro_container
    from .orcwalk import build_orc

    d = claim_scratch_dir("spark_graft", "binmixed")
    marker = os.path.join(d, ".complete")
    if not os.path.exists(marker):
        for g in range(_DISPATCH_GROUPS):
            with open(os.path.join(d, f"m{g}_pq.bin"), "wb") as f:
                f.write(_pq_bytes(g))
            sync = bytes((g * 3 + i) % 256 for i in range(16))
            recs = [_av_record(g, i) for i in range(400 + 50 * g)]
            with open(os.path.join(d, f"m{g}_av.bin"), "wb") as f:
                f.write(build_avro_container(recs, "deflate", sync))
            with open(os.path.join(d, f"m{g}_orc.bin"), "wb") as f:
                f.write(build_orc(g, ("zlib", "snappy", "zstd")[g % 3]))
            with open(os.path.join(d, f"m{g}_junk.bin"), "wb") as f:
                f.write(bytes((g * 31 + i * 7) % 256
                              for i in range(512)))
        with open(marker, "wb") as f:
            f.write(b"ok")
    return d


def sniff_format(content: bytes) -> str:
    """Magic-byte dispatch: the first bytes identify the container
    (ORC also ends with a postscript, but the leading magic is the
    cheap, spec-guaranteed signal)."""
    if content[:4] == b"PAR1" and content[-4:] == b"PAR1":
        return "parquet"
    if content[:4] == b"Obj\x01":
        return "avro"
    if content[:3] == b"ORC":
        return "orc"
    return "unknown"


_BD_FACT_MEMO: dict[tuple, tuple] = {}


def _bd_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from .avrowalk import walk_avro
    from .orcwalk import walk_orc

    cache = _BD_FACT_MEMO

    def facts(name: str, content: bytes) -> tuple:
        key = (name, len(content))
        if key not in cache:
            fmt = sniff_format(content)
            try:
                if fmt == "parquet":
                    f = walk_parquet(content)
                    cache[key] = (fmt, "decoded", len(f["values"]),
                                  sum(f["values"]))
                elif fmt == "avro":
                    f = walk_avro(content)
                    cache[key] = (fmt, "decoded", len(f["records"]),
                                  sum(r[0] for r in f["records"]))
                elif fmt == "orc":
                    f = walk_orc(content)
                    cache[key] = (fmt, "decoded", f["n_rows"],
                                  sum(f["columns"][0]))
                else:
                    cache[key] = (fmt, "unrecognized", 0, 0)
            except NotImplementedError:
                cache[key] = (fmt, "unsupported", 0, 0)
            except ValueError:
                cache[key] = (fmt, "corrupt", 0, 0)
            except Exception:  # noqa: BLE001 — malformed quarantine
                cache[key] = (fmt, "corrupt", 0, 0)
        return cache[key]

    for pdf in it:
        if pdf.empty:
            continue
        out = [(n,) + facts(n, bytes(c))
               for n, c in zip(pdf["file_name"], pdf["content"])]
        yield pd.DataFrame(
            out,
            columns=["file_name", "format", "status", "n_records",
                     "fact_sum"],
        ).astype({"n_records": "int64", "fact_sum": "int64"})


def _bd_oracle() -> str:
    # parquet: the _pq_values lattice; avro: id = (i*17+29g) % 10000
    # over 400+50g records; orc: column 'a' = 1000g + 3i over
    # 3000+173g rows
    return f"""
    WITH grp AS (
      SELECT unnest(range(0, {_DISPATCH_GROUPS})) AS g
    ),
    pq AS (
      SELECT r.g,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM((i*i*7 + i*13 + 997*r.g) % 100000) AS BIGINT)
               AS s
      FROM (SELECT g, 2500 + 128 * g AS n FROM grp) r,
           LATERAL (SELECT unnest(range(0, r.n)) AS i)
      GROUP BY r.g
    ),
    av AS (
      SELECT r.g,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM((i*17 + 29*r.g) % 10000) AS BIGINT) AS s
      FROM (SELECT g, 400 + 50 * g AS n FROM grp) r,
           LATERAL (SELECT unnest(range(0, r.n)) AS i)
      GROUP BY r.g
    ),
    orc_ AS (
      SELECT r.g,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(1000 * r.g + 3 * i) AS BIGINT) AS s
      FROM (SELECT g, 3000 + 173 * g AS n FROM grp) r,
           LATERAL (SELECT unnest(range(0, r.n)) AS i)
      GROUP BY r.g
    )
    SELECT * FROM (
      SELECT 'm' || g || '_pq.bin' AS file_name, 'parquet' AS format,
             'decoded' AS status, n AS n_records, s AS fact_sum
      FROM pq
      UNION ALL
      SELECT 'm' || g || '_av.bin', 'avro', 'decoded', n, s FROM av
      UNION ALL
      SELECT 'm' || g || '_orc.bin', 'orc', 'decoded', n, s FROM orc_
      UNION ALL
      SELECT 'm' || g || '_junk.bin', 'unknown', 'unrecognized',
             CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM grp
    )
    ORDER BY file_name
    """


@register("ingest_binaryfile_dispatch", oracle=_bd_oracle())
def ingest_binaryfile_dispatch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mixed-format ingest over real files: one binaryFile scan of a
    directory holding parquet, Avro (deflate), ORC (three codecs)
    and unidentifiable files, each routed by MAGIC-BYTE sniffing to
    the matching native walk and folded into one normalized fact
    row — the 'junk drawer' shape every real data lake has. Oracle
    replays all three formats' closed-form lattices per file.

    Scale notes (100 TB): format dispatch is a prefix read; the
    per-format decode cost is the same as the dedicated legs; one
    listing-parallel scan covers a heterogeneous bucket instead of
    one pipeline per format."""
    d = _bd_fixture_dir()
    files = (
        spark.read.format("binaryFile")
        .load(d)
        .filter(~F.col("path").endswith(".complete"))
        .select(
            F.element_at(F.split("path", "/"), -1).alias("file_name"),
            "content",
        )
    )
    return files.mapInPandas(
        _bd_batches,
        schema=(
            "file_name string, format string, status string, "
            "n_records long, fact_sum long"
        ),
    )
