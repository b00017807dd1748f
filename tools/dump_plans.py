"""Regenerate PLANS.md: formatted physical plans for a representative
query per operator family, as direct evidence for SCALE.md's claims
(pushdown, broadcast choices, single-shuffle windows, no cartesian
products). Run from the repo root:

    python tools/dump_plans.py

Uses a vanilla session (the driver's view of the engine), sf0.01.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# one representative per family: (query, what SCALE.md claims its plan shows)
SHOWCASE = [
    ("q1_pricing_summary", "pushdown + column pruning + partial agg"),
    ("search_rrf_fusion", "two rank-pruned pools; fusion join is |Q|*L"),
    ("embedding_matryoshka_recall", "one scan explodes the dims axis; "
                                    "prefix norms once per (vector, dim)"),
    ("q5_local_supplier_volume", "broadcast dimension joins, no sort-merge"),
    ("join_asof_latest_order", "as-of join = union + ONE window shuffle"),
    ("topk_orders_by_price", "top-k compiles to TakeOrderedAndProject"),
    ("dedup_minhash_lsh", "banded equi-join candidates, capped buckets"),
    ("ann_ivf_topk", "broadcast centroids; probe join on cell"),
    ("ann_ivfpq_topk", "IVF-PQ: broadcast centroids+codebooks+ADC "
                       "tables; cell-join prune; zero sort-merge joins"),
    ("ann_nsw_beam_topk", "NSW graph search: checkpointed per-hop "
                          "frontier; 0 FileScans in the final plan"),
    ("cluster_kmeans_embeddings", "map-side assignment; k*d-row update shuffle"),
    ("skyline_orders_price_date", "sort-based skyline: windows, no pairwise"),
    ("concurrency_gauge_hourly", "distributed prefix sum, no global window"),
    ("text_tfidf_top_terms", "token-keyed df join + per-doc window rank"),
    ("embedding_gram_matrix", "Arrow-batch partial X'X; only d^2-row shuffle"),
    ("train_global_shuffle", "range-partitioned rank + broadcast offsets"),
    ("scalar_try_ansi_safe", "try_* stay in one codegen projection, no shuffle"),
    ("basket_part_pair_lift", "order-bounded pair join + TakeOrdered top-k"),
    (
        "graph_triangle_count_suppliers",
        "edge set localCheckpointed ONCE (round 6): the visible plan has no "
        "FileScan/SortMergeJoin at all — all five consumers read the 300-row "
        "materialized RDD; the capped pair-support pipeline ran a single time",
    ),
    (
        "multimodal_codec_decode",
        "round-7 decode family: ONE pruned FileScan (doc_id only) into "
        "MapInPandas — decode is executor-side Arrow-batched Python and "
        "only ~40-byte fact rows come back; no shuffle at all",
    ),
    (
        "inference_embed_bucket_counts",
        "inference serving shape: pruned scan -> MapInPandas (model "
        "per-partition) -> narrow explode; nothing document-sized shuffles",
    ),
    (
        "ann_hnsw_layered_topk",
        "round-9 layered HNSW: per-level graphs + frontier all "
        "localCheckpointed — final plan reads materialized RDDs, "
        "0 FileScans, 0 sort-merge joins, frontier always broadcast",
    ),
    (
        "video_frame_banded_neardup",
        "round-9 Hamming-banded near-dup: decode map -> ONE hash "
        "aggregation to DISTINCT classes, banding + self-join over "
        "classes with broadcast stats joins — bucket size bounded by "
        "content diversity, not corpus size",
    ),
    (
        "dedup_semantic_cluster",
        "round-9 SemDeDup: k-means members localCheckpointed ONCE "
        "before the within-cluster pairwise self-join (0 FileScans in "
        "the final plan — without it each join side re-derived the "
        "whole Lloyd DAG)",
    ),
    (
        "dedup_substring_overlap",
        "round-10 exact-substring dedup: one pruned scan -> window "
        "fingerprints (codegen array expr) -> ONE hash aggregation into "
        "capped buckets -> bounded per-bucket pair fan-out + pair-keyed "
        "count — O(total windows), no all-pairs join anywhere",
    ),
    (
        "tokenizer_unigram_apply_tokens",
        "round-10 unigram serving: model joins onto word TYPES "
        "broadcast, Arrow-batched integer Viterbi per type, instances "
        "join back by word (broadcast) — nothing document-sized "
        "shuffles and the train-side EM never touches the driver",
    ),
    (
        "sink_upsert_final_state",
        "round-9 sink roundtrip: the returned frame is the tiny "
        "read-back final state (createDataFrame + literal stats); the "
        "load itself ran through the real mapPartitions sink (one "
        "sorted partition by harness design — production uses "
        "parallelism=N with partition_cols)",
    ),
    (
        "quality_classifier_filter",
        "round-11 model-based filter: feature projection "
        "localCheckpointed once, every GD round is a k-row "
        "partial-aggregated shuffle (network cost independent of "
        "corpus size), scoring is a broadcast-weights map — the "
        "fastText regime",
    ),
    (
        "ann_ivf_incremental_topk",
        "round-11 incremental IVF: frozen centroid table "
        "localCheckpointed (the stored index artifact), delta batch "
        "assigned by broadcast without re-clustering, merged probe "
        "search on exact integer distances — 3 pruned FileScans, "
        "never the Lloyd DAG per consumer",
    ),
    (
        "ingest_xz_lzma2_decode",
        "round-11 codec family exemplar: ONE pruned FileScan (doc_id) "
        "into Arrow-batched MapInPandas — LZMA range decoding is "
        "executor-side CPU, ~60-byte fact rows return and nothing "
        "shuffles; same plan shape for "
        "zip/ogg/zstd/lz4/snappy/inflate/bzip2/parquet walks",
    ),
    (
        "ingest_avro_container_walk",
        "round-12 container exemplar: the identical pruned-scan → "
        "MapInPandas shape carries the Avro walk (six codec routes "
        "through our native decoders), the Arrow IPC file+stream "
        "walks, the ORC walk, the pax tar walk, safetensors, the "
        "zstd-dictionary decode, the parquet v2 delta walk, the "
        "CBOR walk and the page-index audit",
    ),
    (
        "corpus_perplexity_filter",
        "round-12 CCNet stage: zip_with bigrams (no n-gram shuffle), "
        "vocabulary-sized LM count tables broadcast into a pure-map "
        "scoring pass, ONE per-doc fold shuffle; score table "
        "localCheckpointed once for threshold + output (0 FileScans "
        "in the visible plan)",
    ),
    (
        "dedup_corpus_paragraphs",
        "round-12 paragraph dedup: in-row window fingerprints, one "
        "corpus shuffle keyed by 8-byte mhash64 for counts (map-side "
        "partials collapse repeats), same-key join back — "
        "deliberately NO broadcast of the corpus-sized table",
    ),
    (
        "tokenizer_wordpiece_apply_tokens",
        "round-12 WordPiece serving: pruned scan → MapInPandas with "
        "the kilobyte vocab in the closure; only (doc_id, counts) "
        "leaves the executor",
    ),
    (
        "delta_log_snapshot_stats",
        "round-12 table-format layer: log synthesized and JSON-"
        "roundtripped in-plan, snapshot fold is ONE window over a "
        "log-sized frame — metadata work; data files never open",
    ),
    (
        "delta_checkpoint_snapshot",
        "round-13 checkpoint replay: checkpoint decoded via our own "
        "table walk lifts as a tiny local relation, tail actions fold "
        "in ONE window; remove-stat resolution joins checkpoint ∪ "
        "tail adds — all log-sized, zero data-file scans",
    ),
    (
        "ingest_binaryfile_scan",
        "round-13 real-file ingest: partition-parallel binaryFile "
        "scan (listing parallelized by the source, pathGlobFilter "
        "pruning at listing time) -> MapInPandas decode — only "
        "(name, content) crosses to Python, ~50 B of facts return",
    ),
    (
        "delta_change_data_feed",
        "round-14 CDF: the parsed log localCheckpointed ONCE feeds "
        "the add/remove/cdc folds; change-content and file-level "
        "nets come from independent subtrees joined per version — "
        "all log-sized aggregates, zero data-file scans",
    ),
    (
        "ingest_embeddings_real_walk",
        "round-14 real-file closure: binaryFile scan of the actual "
        "driver-written embeddings.parquet -> MapInPandas native "
        "decode (Dremel levels + dictionary pages) — per-vector "
        "facts return, never the 25 MB of floats",
    ),
]

_INTERESTING = re.compile(
    r"(FileScan parquet|PushedFilters|ReadSchema|BroadcastHashJoin|"
    r"BroadcastNestedLoopJoin|SortMergeJoin|ShuffledHashJoin|Exchange |"
    r"HashAggregate|SortAggregate|ObjectHashAggregate|Window |RunningWindow|"
    r"TakeOrderedAndProject|CartesianProduct|"
    r"AdaptiveSparkPlan|ArrowEvalPython|FlatMapGroupsInPandas|MapInPandas)"
)


def _condense(plan: str, max_lines: int = 40) -> str:
    """Keep the structurally interesting lines of a formatted plan."""
    keep: list[str] = []
    for line in plan.splitlines():
        if _INTERESTING.search(line) or "PushedFilters" in line or "ReadSchema" in line:
            keep.append(line.rstrip()[:160])
        if len(keep) >= max_lines:
            keep.append("... (truncated)")
            break
    return "\n".join(keep)


def main() -> None:
    from pyspark.sql import SparkSession

    from pyspark_postgres_loader_spark import registry

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.all_queries()
    sf = "/root/testdata/sf0.01"

    out = [
        "# PLANS — physical-plan evidence for SCALE.md",
        "",
        "Auto-generated by `tools/dump_plans.py` (vanilla session, sf0.01;",
        "structurally interesting lines only). One representative query per",
        "operator family; the full gate is tests/test_no_cartesian_plans.py",
        "+ tests/test_plan_shapes.py over every registered query.",
        "",
    ]
    for name, claim in SHOWCASE:
        if name not in qs:
            continue
        df = qs[name](spark, sf)
        plan = df._jdf.queryExecution().executedPlan().toString()
        out.append(f"## {name}")
        out.append(f"*Claim:* {claim}")
        out.append("```")
        out.append(_condense(plan))
        out.append("```")
        out.append("")
    with open("PLANS.md", "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(SHOWCASE)} plans)")


if __name__ == "__main__":
    main()
