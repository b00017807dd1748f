"""Batched embedding inference over documents — the mapInPandas model
-serving pattern, with per-row quarantine.

The 100 TB training pipeline's last mile is usually "run a model over
every document" (embedders, quality classifiers, toxicity scorers).
The Spark-correct shape, regardless of model runtime:

- ``mapInPandas`` over Arrow batches: text crosses the JVM→Python
  boundary once per batch (vectorized), never per row;
- the model loads ONCE PER PARTITION (lazy init inside the iterator
  closure) — session/model construction is the dominant fixed cost of
  ONNX/torch runtimes and must amortize over the partition, not the
  batch, and certainly not the row;
- per-row QUARANTINE: null/empty/oversized/undecodable inputs produce
  an ``error`` column and a null embedding — one poison document can
  never kill a 10-hour stage (same contract as multimodal's decode
  quarantine, multimodal.py);
- output stays narrow: (id, embedding, model_version, error) — the
  document body does NOT ride along; re-join it by id when needed so
  the shuffle after inference moves kilobytes per row, not documents.

Runtime resolution (environment constraint — this container has no
onnxruntime/torch): if ``onnxruntime`` imports AND the caller passes
``onnx_model_path``, batches run through a real InferenceSession
(stub-free plumbing, session-per-partition); otherwise the encoder is
a DETERMINISTIC hash-projection embedder — each whitespace token hashes
(md5, the repo-wide ``mhash64`` arithmetic) into one of ``dim`` buckets
with a ±1 sign, counts L2-normalized. That fake is a real (if crude)
bag-of-words embedding: deterministic, order-independent across
partitions, and faithful to the batch/quarantine/schema plumbing the
tests pin, so swapping in a real model changes ONE function.

Reference: no counterpart (the reference is a loader; SURVEY.md §2
LLM-pipeline extension surface). Composes with similarity.py's ANN
queries: the output schema matches the embeddings table's
(id, vec) contract.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..registry import register
from ..tables import load_table

_MODEL_VERSION_FAKE = "hash-projection-v1"
_DEFAULT_DIM = 16
_DEFAULT_MAX_CHARS = 100_000


def _hash_projection(texts: list[str], dim: int, normalize: bool = True):
    """Deterministic bag-of-tokens embedder: md5(token) picks a bucket
    and a sign (bit 59 — the top bit of the 15-hex-char = 60-bit
    prefix, i.e. whether the first hex digit is >= 8); L2-normalized
    unless ``normalize=False`` (raw signed integer counts — exact in
    float32 below 2^24, which is what the differential oracle reads).
    Pure function of the text — executor- and partition-order
    independent."""
    import hashlib

    import numpy as np

    out = np.zeros((len(texts), dim), dtype=np.float32)
    for i, text in enumerate(texts):
        for tok in text.split():
            h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
            out[i, h % dim] += 1.0 if (h >> 59) & 1 == 0 else -1.0
        if normalize:
            n = float(np.linalg.norm(out[i]))
            if n > 0:
                out[i] /= n
    return out


def _load_encoder(onnx_model_path: str | None, dim: int, normalize: bool = True):
    """Resolve the per-partition encoder: (callable, model_version).
    Called lazily inside the mapInPandas iterator — once per partition.
    """
    if onnx_model_path is not None:
        try:
            import numpy as np
            import onnxruntime  # noqa: F401 - absent in this container
        except ImportError as exc:
            raise NotImplementedError(
                "onnx_model_path was given but onnxruntime is not "
                "installed in this environment; install it or omit "
                "onnx_model_path to use the deterministic fallback"
            ) from exc
        sess = onnxruntime.InferenceSession(onnx_model_path)
        name = sess.get_inputs()[0].name

        def encode(texts: list[str]):
            return np.asarray(
                sess.run(None, {name: texts})[0], dtype=np.float32
            )

        return encode, f"onnx:{onnx_model_path.rsplit('/', 1)[-1]}"
    return (
        lambda texts: _hash_projection(texts, dim, normalize)
    ), _MODEL_VERSION_FAKE


def embed_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = _DEFAULT_DIM,
    max_chars: int = _DEFAULT_MAX_CHARS,
    onnx_model_path: str | None = None,
    normalize: bool = True,
) -> DataFrame:
    """Embed ``text_col`` into (id, embedding, model_version, error).

    Exactly one of ``embedding`` / ``error`` is non-null per row:
    null / empty / whitespace-only / longer-than-``max_chars`` inputs
    are quarantined with a typed error string, everything else gets a
    float32 vector of length ``dim``. The input DataFrame's other
    columns are dropped on purpose (join back by id), keeping the
    post-inference shuffle narrow. ``normalize=False`` (hash-projection
    fallback only) returns raw signed bucket counts — exact integers,
    which is what lets the differential oracle replay the embedder.
    """
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("model_version", T.StringType()),
            T.StructField("error", T.StringType()),
        ]
    )
    narrow = df.selectExpr(
        f"CAST({id_col} AS BIGINT) AS doc_id", f"{text_col} AS text"
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        encoder = None  # lazy: load once per PARTITION, not per batch
        version = None
        for pdf in batches:
            if encoder is None:
                encoder, version = _load_encoder(onnx_model_path, dim, normalize)
            n = len(pdf)
            errors: list[str | None] = [None] * n
            ok_idx: list[int] = []
            ok_texts: list[str] = []
            for i, text in enumerate(pdf["text"]):
                if text is None or (isinstance(text, float) and pd.isna(text)):
                    errors[i] = "null_text"
                elif not isinstance(text, str):
                    errors[i] = f"bad_type:{type(text).__name__}"
                elif not text.strip():
                    errors[i] = "empty_text"
                elif len(text) > max_chars:
                    errors[i] = f"too_long:{len(text)}"
                else:
                    ok_idx.append(i)
                    ok_texts.append(text)
            vecs: list[list[float] | None] = [None] * n
            if ok_texts:
                try:
                    mat = encoder(ok_texts)
                    for j, i in enumerate(ok_idx):
                        vecs[i] = [float(x) for x in mat[j]]
                except Exception as exc:  # noqa: BLE001 — model runtimes
                    # batch-level failure: quarantine the batch's rows
                    # individually rather than killing the stage
                    for i in ok_idx:
                        errors[i] = f"encode_failed:{type(exc).__name__}"
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "embedding": vecs,
                    "model_version": [
                        version if e is None else None for e in errors
                    ],
                    "error": errors,
                }
            )

    return narrow.mapInPandas(run, schema=schema)


# ---------------------------------------------------------------------------
# Driver-oracled query: the hash-projection embedder is md5-exact
# ---------------------------------------------------------------------------
#
# bucket = h % 16 and sign = (h >> 59) & 1, where h is the first 15 hex
# chars (60 bits) of md5(token). Both reduce to SINGLE hex digits of
# the md5 string — bucket is the 15th digit, sign is whether the 1st
# digit is >= 8 — so DuckDB replays the embedder with md5() + substr(),
# no bit arithmetic needed. With normalize=False the emitted components
# are exact signed integer token counts per bucket.

_INFER_MAX_CHARS = 500  # low enough that the fixture exercises too_long

# RE2 class equal to PYTHON's whitespace set (str.strip() / str.split()
# strip everything str.isspace() accepts): RE2's \s is ASCII-only
# [\t\n\f\r ], so \x0b, the C1/Unicode spaces (U+0085, U+00A0,
# U+1680, U+2000-U+200A, U+2028, U+2029, U+202F, U+205F, U+3000)
# and the ASCII
# separators \x1c-\x1f must be listed explicitly — the worker
# classifies AND tokenizes with Python string ops, and the oracle must
# agree on every input, not just ASCII fixtures (r8 ADVICE).
_PY_WS = (
    r"[\s\x0b\x{85}\x{a0}\x{1680}\x{2000}-\x{200a}"
    r"\x{2028}\x{2029}\x{202f}\x{205f}\x{3000}\x{1c}-\x{1f}]"
)


def _inference_oracle() -> str:
    return f"""
    WITH base AS (
      SELECT doc_id,
             CASE WHEN doc_id % 17 = 5 THEN NULL
                  -- tab/newline-bearing on purpose: pins the oracle's
                  -- whitespace classification to Python str.strip()
                  WHEN doc_id % 17 = 11 THEN e' \\t\\n '
                  -- UNICODE-whitespace-only (U+00A0, U+2003, \\x0b):
                  -- empty under Python str.strip() but NOT under RE2's
                  -- ASCII \\s — exercises the extended class below
                  WHEN doc_id % 17 = 9
                       THEN chr(160) || chr(8195) || chr(11) || ' '
                  ELSE text END AS text
      FROM documents
    ),
    cls AS (
      SELECT doc_id, text,
             CASE WHEN text IS NULL THEN 'null_text'
                  -- Python-whitespace class, not trim(' ') and not \\s:
                  -- the worker classifies via str.strip(), which strips
                  -- ALL Unicode whitespace
                  WHEN regexp_matches(text, '^{_PY_WS}*$') THEN 'empty_text'
                  WHEN length(text) > {_INFER_MAX_CHARS}
                       THEN 'too_long:' || CAST(length(text) AS VARCHAR)
                  ELSE NULL END AS error
      FROM base
    ),
    toks AS (
      -- same class for tokenization: the worker splits with Python
      -- str.split(), which is Unicode-whitespace-aware too
      SELECT doc_id, unnest(string_split_regex(text, '{_PY_WS}+')) AS tok
      FROM cls WHERE error IS NULL
    ),
    contrib AS (
      SELECT doc_id,
             strpos('0123456789abcdef', substr(md5(tok), 15, 1)) - 1 AS bucket,
             CASE WHEN strpos('89abcdef', substr(md5(tok), 1, 1)) > 0
                  THEN -1 ELSE 1 END AS s
      FROM toks WHERE tok != ''
    ),
    counts AS (
      SELECT doc_id, bucket, CAST(SUM(s) AS BIGINT) AS cnt
      FROM contrib GROUP BY 1, 2
    ),
    ok AS (
      SELECT c.doc_id,
             CAST('{_MODEL_VERSION_FAKE}' AS VARCHAR) AS model_version,
             CAST(NULL AS VARCHAR) AS error,
             CAST(b.range AS INT) AS bucket,
             COALESCE(k.cnt, 0) AS cnt
      FROM cls c CROSS JOIN range(16) b
      LEFT JOIN counts k ON k.doc_id = c.doc_id AND k.bucket = b.range
      WHERE c.error IS NULL
    )
    SELECT doc_id, model_version, error, bucket, cnt FROM ok
    UNION ALL
    SELECT doc_id, CAST(NULL AS VARCHAR), error,
           CAST(NULL AS INT), CAST(NULL AS BIGINT)
    FROM cls WHERE error IS NOT NULL
    ORDER BY doc_id, bucket
    """


@register("inference_embed_bucket_counts", oracle=_inference_oracle())
def inference_embed_bucket_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched embedding inference, driver-oracled end to end:
    documents (with injected null / whitespace-only rows and a low
    ``max_chars`` so every quarantine class fires) run through
    ``embed_documents`` with ``normalize=False``, and the raw signed
    bucket counts — exact integers — are exploded to (doc_id, bucket,
    cnt) rows the DuckDB oracle recomputes from md5 hex digits.

    Scale notes (100 TB): the serving shape under test is the real one
    — Arrow-batched ``mapInPandas``, model loaded once per partition,
    narrow (id, vec, version, error) output so the post-inference
    shuffle drops document bodies; the explode here is presentation for
    the differential harness (16 small rows per doc), not part of the
    serving path."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 17 == 5, F.lit(None).cast("string"))
        .when(F.col("doc_id") % 17 == 11, F.lit(" \t\n "))
        .when(F.col("doc_id") % 17 == 9, F.lit("\u00a0\u2003\x0b "))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    emb = embed_documents(docs, max_chars=_INFER_MAX_CHARS, normalize=False)
    return (
        emb.select(
            "doc_id",
            "model_version",
            "error",
            F.posexplode_outer("embedding").alias("bucket", "count_f"),
        )
        .select(
            "doc_id",
            "model_version",
            "error",
            F.col("bucket").cast("int").alias("bucket"),
            F.col("count_f").cast("long").alias("cnt"),
        )
    )
