"""RoaringBitmap portable serialization + Delta-style deletion
vectors — the modern merge-on-read row-kill structure: Delta Lake
deletion vectors, Iceberg v3 position deletes, Lucene live-docs and
ClickHouse all serialize kill-sets as Roaring bitmaps, and a reader
that can't decode them can't read the table.

Implemented from the PUBLIC RoaringFormatSpec, both directions, with
the writer choosing the spec's cost-optimal container per 64 Ki
chunk and the reader verifying every redundancy the format carries:

- cookie layer: SERIAL_COOKIE 12347 (run containers present; the
  cookie's high 16 bits carry container_count-1; a run-flag bitset
  follows) AND SERIAL_COOKIE_NO_RUNCONTAINER 12346 (u32 count, and
  an OFFSET HEADER of u32 container start positions the reader
  cross-checks against the actual walk — the 'offsets disagree'
  verdict);
- descriptive header: per-container u16 key + u16 cardinality-1;
- containers: ARRAY (sorted u16 values, card <= 4096), BITMAP
  (fixed 8 KiB of 1024 little-endian u64 words; the reader recounts
  the popcount against the declared cardinality), RUN (u16 n_runs,
  then (start, length-1) pairs; the writer emits runs only when
  2 + 4*n_runs bytes beat both alternatives, per the spec's
  serializedSizeInBytes rule).

The fixture lattice per group: a scattered stride-13 chunk whose
~4200-5100 cardinality forces a BITMAP container, a two-run chunk
at key 1, and a stride-97 ARRAY chunk at key 2 — every container
type non-vacuous, exact positions closed-form so DuckDB replays
cardinality, per-type container counts, min/max and the position
SUM. Even groups serialize with the run cookie, odd groups force
the no-run layout (runs re-expressed as arrays/bitmaps), so BOTH
cookie paths and the offset header are exercised. Typed verdicts:
truncation ('corrupt'), an unknown cookie ('unsupported'), a
popcount disagreeing with the declared cardinality ('mismatch'),
an offset-header entry off by one ('corrupt').

Delta semantics carried by the query: each group's bitmap IS a
deletion vector against a closed-form file of known record_count;
``rows_surviving`` = record_count - cardinality is the MOR quantity
a Delta reader computes per file before scheduling the anti-join.

Scale notes (100 TB): a DV is KBs against a GB data file — the
whole point; decode is per-file map-side work, facts-only return.
Reference: RoaringFormatSpec (github.com/RoaringBitmap), the Delta
protocol's deletion-vector section; no repo counterpart (SURVEY.md
§2l extension).
"""

from __future__ import annotations

import struct
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..registry import register
from ..tables import load_table

_COOKIE_RUN = 12347
_COOKIE_NORUN = 12346
_NO_OFFSET_THRESHOLD = 4  # spec: run-cookie streams with fewer
                          # containers omit the offset header

_RG_GROUPS = 8


# ------------------------------------------------------------ writer

def _split_chunks(positions: list[int]) -> list[tuple[int, list[int]]]:
    """Sorted positions → [(key, sorted low-16 values)]."""
    chunks: dict[int, list[int]] = {}
    last = -1
    for p in positions:
        if p <= last:
            raise ValueError("positions must be strictly increasing")
        if p < 0 or p > 0xFFFFFFFF:
            raise ValueError("position out of u32 range")
        last = p
        chunks.setdefault(p >> 16, []).append(p & 0xFFFF)
    return sorted(chunks.items())


def _runs_of(lows: list[int]) -> list[tuple[int, int]]:
    runs: list[tuple[int, int]] = []
    start = prev = lows[0]
    for v in lows[1:]:
        if v == prev + 1:
            prev = v
            continue
        runs.append((start, prev - start))
        start = prev = v
    runs.append((start, prev - start))
    return runs


def serialize_roaring(positions: list[int], *,
                      allow_runs: bool = True) -> bytes:
    """Portable-format serialization, cost-optimal container per
    chunk (RUN only when its 2 + 4·n_runs bytes beat both the array
    and the 8 KiB bitmap encodings, and ``allow_runs``)."""
    chunks = _split_chunks(positions)
    if not chunks:
        raise ValueError("empty bitmap has no portable form here")
    kinds: list[str] = []
    bodies: list[bytes] = []
    for _key, lows in chunks:
        card = len(lows)
        runs = _runs_of(lows)
        run_sz = 2 + 4 * len(runs)
        arr_sz = 2 * card
        if allow_runs and run_sz < min(arr_sz, 8192):
            kinds.append("run")
            bodies.append(
                struct.pack("<H", len(runs))
                + b"".join(struct.pack("<HH", s, l) for s, l in runs))
        elif card <= 4096:
            kinds.append("array")
            bodies.append(struct.pack(f"<{card}H", *lows))
        else:
            kinds.append("bitmap")
            words = [0] * 1024
            for v in lows:
                words[v >> 6] |= 1 << (v & 63)
            bodies.append(struct.pack("<1024Q", *words))
    n = len(chunks)
    out = bytearray()
    has_runs = "run" in kinds
    if has_runs:
        out += struct.pack("<I", _COOKIE_RUN | ((n - 1) << 16))
        flags = bytearray((n + 7) // 8)
        for i, k in enumerate(kinds):
            if k == "run":
                flags[i // 8] |= 1 << (i % 8)
        out += flags
    else:
        out += struct.pack("<I", _COOKIE_NORUN)
        out += struct.pack("<I", n)
    for (key, lows), _body in zip(chunks, bodies):
        out += struct.pack("<HH", key, len(lows) - 1)
    write_offsets = (not has_runs) or n >= _NO_OFFSET_THRESHOLD
    if write_offsets:
        pos = len(out) + 4 * n
        for body in bodies:
            out += struct.pack("<I", pos)
            pos += len(body)
    for body in bodies:
        out += body
    return bytes(out)


# ------------------------------------------------------------ reader

def walk_roaring(data: bytes) -> dict:
    """Decode a portable Roaring stream → facts + the position set.
    Verifies the offset header (when present) against the walked
    container starts and every bitmap container's popcount against
    its declared cardinality."""
    if len(data) < 8:
        raise ValueError("roaring stream shorter than any header")
    cookie = struct.unpack_from("<I", data, 0)[0]
    if (cookie & 0xFFFF) == _COOKIE_RUN:
        n = (cookie >> 16) + 1
        pos = 4
        nflag = (n + 7) // 8
        flags = data[pos : pos + nflag]
        if len(flags) != nflag:
            raise ValueError("truncated run flag bitset")
        pos += nflag
        run_flags = [bool(flags[i // 8] >> (i % 8) & 1) for i in range(n)]
        has_offsets = n >= _NO_OFFSET_THRESHOLD
    elif cookie == _COOKIE_NORUN:
        if len(data) < 8:
            raise ValueError("truncated container count")
        n = struct.unpack_from("<I", data, 4)[0]
        if n == 0 or n > 0x10000:
            raise ValueError("implausible container count")
        pos = 8
        run_flags = [False] * n
        has_offsets = True
    else:
        raise NotImplementedError(f"unknown roaring cookie {cookie & 0xFFFF}")

    keys: list[int] = []
    cards: list[int] = []
    if pos + 4 * n > len(data):
        raise ValueError("truncated descriptive header")
    for _ in range(n):
        key, cm1 = struct.unpack_from("<HH", data, pos)
        pos += 4
        keys.append(key)
        cards.append(cm1 + 1)
    if keys != sorted(set(keys)):
        raise ValueError("container keys not strictly increasing")

    offsets: list[int] | None = None
    if has_offsets:
        if pos + 4 * n > len(data):
            raise ValueError("truncated offset header")
        offsets = list(struct.unpack_from(f"<{n}I", data, pos))
        pos += 4 * n

    positions: list[int] = []
    n_array = n_bitmap = n_run = 0
    for i in range(n):
        if offsets is not None and offsets[i] != pos:
            raise ValueError("offset header disagrees with walk")
        base = keys[i] << 16
        card = cards[i]
        if run_flags[i]:
            n_run += 1
            if pos + 2 > len(data):
                raise ValueError("truncated run container")
            nr = struct.unpack_from("<H", data, pos)[0]
            pos += 2
            if pos + 4 * nr > len(data):
                raise ValueError("truncated run container")
            total = 0
            prev_end = -1
            for _ in range(nr):
                s, lm1 = struct.unpack_from("<HH", data, pos)
                pos += 4
                if s <= prev_end:
                    raise ValueError("run containers must be sorted")
                prev_end = s + lm1
                if prev_end > 0xFFFF:
                    raise ValueError("run past chunk boundary")
                positions.extend(range(base + s, base + s + lm1 + 1))
                total += lm1 + 1
            if total != card:
                raise ValueError("run cardinality mismatch")
        elif card <= 4096:
            n_array += 1
            if pos + 2 * card > len(data):
                raise ValueError("truncated array container")
            vals = struct.unpack_from(f"<{card}H", data, pos)
            pos += 2 * card
            if list(vals) != sorted(set(vals)):
                raise ValueError("array container not strictly sorted")
            positions.extend(base + v for v in vals)
        else:
            n_bitmap += 1
            if pos + 8192 > len(data):
                raise ValueError("truncated bitmap container")
            words = struct.unpack_from("<1024Q", data, pos)
            pos += 8192
            popcount = sum(w.bit_count() for w in words)
            if popcount != card:
                raise ValueError(
                    "bitmap popcount disagrees with declared cardinality")
            for wi, w in enumerate(words):
                while w:
                    b = w & -w
                    positions.append(base + (wi << 6) + b.bit_length() - 1)
                    w ^= b
    if pos != len(data):
        raise ValueError("trailing bytes after the last container")
    return {
        "n_containers": n,
        "n_array": n_array,
        "n_bitmap": n_bitmap,
        "n_run": n_run,
        "cardinality": len(positions),
        "min_pos": positions[0],
        "max_pos": positions[-1],
        "pos_sum": sum(positions),
        "positions": positions,
    }


# ----------------------------------------------- closed-form fixture

def _rg_positions(g: int) -> list[int]:
    """Strictly increasing positions across three 64 Ki chunks:
    stride-13 scatter (bitmap), two dense runs (run), stride-97
    scatter (array)."""
    out = [13 * j + g for j in range(4200 + 10 * g)]
    out += list(range(65536 + g, 65536 + g + 500))
    out += list(range(70000 + g, 70000 + g + 50))
    out += [131072 + 97 * i + g for i in range(200)]
    return out


def _rg_record_count(g: int) -> int:
    """The deletion vector's target file size (rows): comfortably
    above max_pos so every deleted position is a real row."""
    return 140000 + 1000 * g


def _rg_blob(g: int, variant: str) -> bytes:
    blob = serialize_roaring(_rg_positions(g), allow_runs=g % 2 == 0)
    if variant == "trunc":
        blob = blob[:-11]
    elif variant == "badcookie":
        blob = struct.pack("<I", 9999) + blob[4:]
    elif variant == "popmiss":
        # flip one bit INSIDE the key-0 bitmap container: the declared
        # cardinality no longer matches the reader's popcount recount
        blob = _rg_reblob(g, blob)
    return blob


def _rg_reblob(g: int, blob: bytes) -> bytes:
    """The bitmap container is the FIRST body; flip a byte inside it
    without touching headers: locate it by walking the header sizes
    exactly as the reader does."""
    n = 3
    if g % 2 == 0:
        hdr = 4 + (n + 7) // 8 + 4 * n  # cookie + flags + descriptive
        if n >= _NO_OFFSET_THRESHOLD:
            hdr += 4 * n
    else:
        hdr = 4 + 4 + 4 * n + 4 * n     # cookie + count + desc + offsets
    b = bytearray(blob)
    b[hdr + 100] ^= 0x01                # inside the key-0 bitmap body
    return bytes(b)


_RG_VARIANTS = ("ok", "trunc", "badcookie", "popmiss")

_RG_FACT_MEMO: dict[tuple, tuple] = {}


def _rg_facts(g: int, variant: str) -> tuple:
    key = (g, variant)
    if key not in _RG_FACT_MEMO:
        try:
            f = walk_roaring(_rg_blob(g, variant))
            _RG_FACT_MEMO[key] = (
                "decoded", f["n_containers"], f["n_array"],
                f["n_bitmap"], f["n_run"], f["cardinality"],
                f["min_pos"], f["max_pos"], f["pos_sum"],
                _rg_record_count(g) - f["cardinality"],
            )
        except NotImplementedError:
            _RG_FACT_MEMO[key] = ("unsupported",) + (0,) * 9
        except ValueError as exc:
            status = ("mismatch" if "popcount" in str(exc) else "corrupt")
            _RG_FACT_MEMO[key] = (status,) + (0,) * 9
        except Exception:  # noqa: BLE001 — malformed bytes quarantine
            _RG_FACT_MEMO[key] = ("corrupt",) + (0,) * 9
    return _RG_FACT_MEMO[key]


def _rg_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in it:
        if pdf.empty:
            continue
        out = []
        for d in pdf["doc_id"]:
            doc = int(d)
            g = doc % _RG_GROUPS
            variant = _RG_VARIANTS[
                0 if doc % 11 not in (3, 7, 9)
                else {3: 1, 7: 2, 9: 3}[doc % 11]
            ]
            out.append((doc, variant) + _rg_facts(g, variant))
        yield pd.DataFrame(
            out,
            columns=["doc_id", "variant", "status", "n_containers",
                     "n_array", "n_bitmap", "n_run", "cardinality",
                     "min_pos", "max_pos", "pos_sum",
                     "rows_surviving"],
        ).astype({
            "doc_id": "int64", "n_containers": "int32",
            "n_array": "int32", "n_bitmap": "int32", "n_run": "int32",
            "cardinality": "int64", "min_pos": "int64",
            "max_pos": "int64", "pos_sum": "int64",
            "rows_surviving": "int64",
        })


def _rg_oracle() -> str:
    bad = "d.doc_id % 11 IN (3, 7, 9)"
    return f"""
    WITH grp AS (
      SELECT DISTINCT doc_id % {_RG_GROUPS} AS g FROM documents
    ),
    -- chunk 0: stride-13, n0 = 4200+10g values starting at g
    -- chunk 1: runs [65536+g, +500) and [70000+g, +50)
    -- chunk 2: stride-97, 200 values starting at 131072+g
    sums AS (
      SELECT g,
             4200 + 10 * g AS n0,
             CAST(13 * (((4200 + 10*g) * (4199 + 10*g)) // 2)
                  + g * (4200 + 10*g) AS BIGINT) AS sum0,
             CAST(500 * 65536 + 500 * g + ((499 * 500) // 2)
                  + 50 * 70000 + 50 * g + ((49 * 50) // 2)
               AS BIGINT) AS sum1,
             CAST(200 * 131072 + 97 * ((199 * 200) // 2) + 200 * g
               AS BIGINT) AS sum2
      FROM grp
    )
    SELECT d.doc_id,
           CASE WHEN d.doc_id % 11 = 3 THEN 'trunc'
                WHEN d.doc_id % 11 = 7 THEN 'badcookie'
                WHEN d.doc_id % 11 = 9 THEN 'popmiss'
                ELSE 'ok' END AS variant,
           CASE WHEN d.doc_id % 11 = 3 THEN 'corrupt'
                WHEN d.doc_id % 11 = 7 THEN 'unsupported'
                WHEN d.doc_id % 11 = 9 THEN 'mismatch'
                ELSE 'decoded' END AS status,
           CASE WHEN {bad} THEN 0 ELSE 3 END AS n_containers,
           -- odd groups force the no-run layout: the two-run chunk
           -- re-encodes as a second ARRAY container
           CASE WHEN {bad} THEN 0
                WHEN s.g % 2 = 0 THEN 1 ELSE 2 END AS n_array,
           CASE WHEN {bad} THEN 0 ELSE 1 END AS n_bitmap,
           CASE WHEN {bad} THEN 0
                WHEN s.g % 2 = 0 THEN 1 ELSE 0 END AS n_run,
           CASE WHEN {bad} THEN 0
                ELSE s.n0 + 550 + 200 END AS cardinality,
           CASE WHEN {bad} THEN 0 ELSE s.g END AS min_pos,
           CASE WHEN {bad} THEN 0
                ELSE 131072 + 97 * 199 + s.g END AS max_pos,
           CASE WHEN {bad} THEN 0
                ELSE s.sum0 + s.sum1 + s.sum2 END AS pos_sum,
           CASE WHEN {bad} THEN 0
                ELSE 140000 + 1000 * s.g - (s.n0 + 550 + 200)
                END AS rows_surviving
    FROM documents d
    JOIN sums s ON d.doc_id % {_RG_GROUPS} = s.g
    ORDER BY d.doc_id
    """


@register("delta_deletion_vectors", oracle=_rg_oracle())
def delta_deletion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-style deletion vectors over a full portable-format
    RoaringBitmap codec (ours, both directions): per fixture group a
    three-chunk kill-set (bitmap + run + array containers, run/no-run
    cookie layouts alternating by group) serializes to real Roaring
    bytes and decodes back with every carried redundancy verified —
    offset header vs walk, bitmap popcount vs declared cardinality,
    run/array ordering. ``rows_surviving`` = record_count −
    cardinality is the per-file MOR quantity a Delta reader computes
    before scheduling the anti-join. DuckDB replays containers,
    cardinality, min/max and the position SUM closed-form. Typed
    verdicts: truncation ('corrupt'), unknown cookie ('unsupported'),
    a flipped bitmap bit under an intact declared cardinality
    ('mismatch' — the popcount recount is provably real).

    Scale notes (100 TB): a DV is KBs against a GB data file; decode
    is map-side and memoized per (group, variant); when the kill-set
    reaches execution it becomes (file, pos) anti-join keys exactly
    like the Iceberg MOR fold's position deletes."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return d.mapInPandas(
        _rg_batches,
        schema=(
            "doc_id long, variant string, status string, "
            "n_containers int, n_array int, n_bitmap int, n_run int, "
            "cardinality long, min_pos long, max_pos long, "
            "pos_sum long, rows_surviving long"
        ),
    )
