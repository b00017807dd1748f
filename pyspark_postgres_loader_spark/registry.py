"""Central query registry powering the driver contract.

Every implemented operator registers here with a PySpark callable
``(spark, sf_dir) -> DataFrame`` and (when SQL-expressible) a matching
ANSI-SQL oracle string for DuckDB. ``__spark_entry__.queries()`` /
``oracle_sql()`` are thin views over this registry.

Determinism contract (why hashes match): any aggregate over doubles is
computed as ``CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE)`` on both
sides — per-row double arithmetic is IEEE-identical across engines, the
decimal sum is exact and order-independent, and the final double cast is
deterministic. Averages are ``double_sum / count`` (double division of
identical operands). See ``functions/deterministic.py``.

Row-order contract: a registered query's row order is unspecified
unless a LIMIT or top-k sits above its sort. The oracle compare is
order-insensitive, so a query never ends in a sort that only presents
rows in order (each costs a range exchange plus a sampling job); the
TPC-H ``q<N>_`` queries keep the ORDER BY of the spec text.
``tests/test_no_cartesian_plans.py`` pins this on every batch plan.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    doc: str = ""
    # "contract" marks queries that deliberately compute an EXACT
    # reference result alongside an approximate/sketch result purely to
    # assert the sketch's error envelope (the production path at scale
    # is the sketch alone — the exact side exists for the differential
    # harness). bench.py surfaces these in BENCH_DETAIL so their wall
    # time is read as harness cost, not production cost.
    tags: tuple[str, ...] = ()


QUERIES: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None = None,
    doc: str = "",
    tags: tuple[str, ...] = (),
):
    """Decorator: register a query under ``name`` with an optional oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = QuerySpec(
            name=name, fn=fn, oracle=oracle, doc=doc or fn.__doc__ or "", tags=tags
        )
        return fn

    return deco


def all_queries() -> dict[str, QueryFn]:
    _ensure_loaded()
    return {name: spec.fn for name, spec in QUERIES.items()}


def all_oracles() -> dict[str, str]:
    _ensure_loaded()
    return {name: spec.oracle for name, spec in QUERIES.items() if spec.oracle is not None}


_LOADED = False

# Driver-facing ordering: the round driver walks ``queries()`` in dict
# order and records correctness for a bounded prefix (exactly 50
# rows/round — CORRECTNESS_r04/r05 confirmed the window is _PRIORITY[:50]).
#
# Round-16 rotation (VERDICT r15 task 2). Round 15 touched 68 queries
# but its driver window covered only 3 of them
# (ingest_gzip_member_walk, tokenizer_unigram_train_scores/
# _apply_tokens — all green); the other 65 rested on builder-side
# sf0.01 re-verification. This window therefore leads with the
# semantics-touching r15 rewrites VERDICT named — the
# dedup_semantic_cluster nondet_keep cosine, the PageRank
# restructure, all six delta-family broadcast queries, the two LSH
# memo queries and the r15 fan-out pins (dedup_hyperplane_lsh,
# video_frame_banded_neardup, both reshaped again this round) —
# followed by the four round-16 restructures
# (graph_triangle_count_suppliers pair-generation,
# agg_approx_sketches distinct/percentile split,
# profile_orders_columns de-Expand, corpus_dsir_select shared weight
# pass) and a 34-name spread of the r15 staged-presentation-sort
# decode walks covering every touched family (ingest, multimodal,
# audio, iceberg, tokenizer-apply, quality, inference). 12+4+34 = 50.
# The 16 leftover touched walk names sit immediately after the
# boundary for drivers that check more than 50; then the prior
# staleness order (r10..r14 eras) continues unchanged, and the 50
# names round 15's driver just verified — the freshest greens — are
# checked last.
_PRIORITY = [
    # (a) r15 semantics-touched queries, never driver-verified (12)
    "dedup_semantic_cluster",
    "graph_pagerank_custsupp",
    "delta_change_data_feed",
    "delta_log_snapshot_stats",
    "delta_checkpoint_snapshot",
    "delta_time_travel_diff",
    "delta_stats_skipping",
    "delta_deletion_vectors",
    "dedup_hyperplane_lsh",
    "dedup_minhash_lsh",
    "dedup_lsh_bucket_stats",
    "video_frame_banded_neardup",
    # (b) the r16 restructures (4)
    "graph_triangle_count_suppliers",
    "agg_approx_sketches",
    "profile_orders_columns",
    "corpus_dsir_select",
    # (c) staged-sort decode-walk spread, one slice per touched family (34)
    "audio_aac_adts_walk",
    "audio_mp3_frame_walk",
    "audio_ogg_page_walk",
    "audio_adpcm_decode",
    "iceberg_commit_roundtrip",
    "iceberg_manifest_snapshot",
    "iceberg_mor_deletes",
    "iceberg_partition_pruning",
    "quality_char_diversity",
    "inference_embed_bucket_counts",
    "tokenizer_bpe_apply_tokens",
    "tokenizer_wordpiece_apply_tokens",
    "multimodal_video_mjpeg",
    "multimodal_tiff_decode",
    "multimodal_tiff_lzw_tiled_decode",
    "multimodal_jpeg_decode",
    "multimodal_jpeg_progressive_decode",
    "multimodal_jpeg12_decode",
    "multimodal_flac_decode",
    "multimodal_codec_decode",
    "ingest_bzip2_decode",
    "ingest_xz_lzma2_decode",
    "ingest_avro_schema_resolution",
    "ingest_orc_walk",
    "ingest_orc_nullable_walk",
    "ingest_parquet_native_walk",
    "ingest_parquet_v2_delta_walk",
    "ingest_parquet_page_index_walk",
    "ingest_parquet_bloom_probe",
    "ingest_cbor_walk",
    "ingest_warc_record_walk",
    "ingest_tfrecord_walk",
    "ingest_zip_member_walk",
    "ingest_safetensors_walk",
    # --- window boundary (driver checks exactly 50; 12+4+34=50) ---
    # leftover r15-touched walks: next-stalest, for drivers checking >50
    "ingest_arrow_ipc_stream_walk",
    "ingest_arrow_ipc_walk",
    "ingest_avro_single_object",
    "ingest_binaryfile_dispatch",
    "ingest_binaryfile_scan",
    "ingest_gzip_native_inflate",
    "ingest_lz4_frame_decode",
    "ingest_parquet_dictionary_walk",
    "ingest_snappy_framed_decode",
    "ingest_tar_pax_walk",
    "ingest_zstd_compressed_decode",
    "ingest_zstd_dict_decode",
    "audio_spectral_bins",
    "multimodal_jpeg420_decode",
    "multimodal_jpeg_restart_decode",
    "multimodal_jpeg_prog420_decode",
    # previously recorded staleness order (r10..r14 eras)
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "contamination_bloom_prefilter",
    "dedup_connected_components",
    "train_user_event_sequences",
    "quality_winsorize_doclen",
    "basket_part_pair_lift",
    "agg_histogram_equidepth",
    "attribution_linear_touch",
    "arrow_grouped_value_stats",
    "rollup_hll_mergeable",
    "ann_ivf_topk",
    "sim_cosine_pairs",
    "multimodal_payload_stats",
    "dedup_exact_fingerprint",
    "dedup_distinct_user_event",
    "dedup_latest_event_per_user_type",
    "ann_bruteforce_topk",
    "sim_label_envelope",
    "dedup_embedding_cosine",
    "json_props_by_event_type",
    "json_from_json_struct",
    "json_map_explode",
    "multimodal_decode_meta",
    "multimodal_frame_sample",
    "multimodal_resize",
    "multimodal_feature_extract",
    "scalar_higher_order_array",
    "sample_uniform_docs",
    "sample_stratified_by_lang",
    "text_token_stats",
    "text_quality_score",
    "text_lang_id",
    "text_fingerprint",
    "text_rolling_hash",
    "pipeline_clean_corpus",
    "ann_ivf_incremental_topk",
    "quality_classifier_train",
    "quality_classifier_filter",
    "quality_classifier_eval",
    "text_word_count_topk",
    "text_heavy_hitters_approx",
    "embedding_norm_stats",
    "q18_large_volume_customer",
    "q10_returned_item_revenue",
    "q7_volume_shipping",
    "q8_market_share",
    "q15_top_supplier",
    "q20_heavy_widget_suppliers",
    "layout_zorder_stats",
    "multimodal_audio_features",
    "multimodal_decode_quarantine",
    "agg_percentiles_by_status",
    "agg_stats_moments",
    "window_range_frame_spend",
    "join_full_outer_event_coverage",
    "ann_pq_adc_topk",
    "ann_ivfpq_topk",
    "ann_nsw_beam_topk",
    "setop_intersect_except_all",
    "window_distribution_funcs",
    "scalar_null_semantics",
    "agg_string_concat",
    "scalar_regexp_datetime",
    "agg_bitwise_flags",
    "scalar_explode_outer_arrays",
    "ingest_avro_container_walk",
    "corpus_bigram_lm_train",
    "corpus_perplexity_filter",
    "dedup_corpus_paragraphs",
    "tokenizer_wordpiece_train_scores",
    "agg_rollup_grouping_id",
    "q6_revenue_forecast",
    "q13_customer_order_distribution",
    "q14_promo_revenue_share",
    "q19_disjunctive_predicates",
    "q22_idle_rich_customers",
    "scd2_user_state_intervals",
    "sessionize_events_30m",
    "pipeline_training_mix",
    "text_length_histogram",
    "tokenizer_bpe_train_merges",
    "q2_min_cost_supplier",
    "q9_product_profit",
    "q11_important_stock",
    "q12_late_priority_counts",
    "q16_supplier_part_counts",
    "q21_waiting_supplier",
    "text_pii_redact",
    "text_chunk_windows",
    "pack_token_budget_bins",
    "contamination_ngram_overlap",
    "embedding_quantize_int8",
    "mix_domain_weights",
    "pipeline_filter_funnel",
    "dedup_incremental_ingest",
    "udtf_bigram_topk",
    "video_frame_ahash_dedup",
    "filetail_batch_offsets",
    "stream_filetail_log_counts",
    "sketch_kmv_distinct_ops",
    "cogroup_user_activity_profile",
    "pysource_synthetic_events",
    "text_repetition_filter",
    "split_train_val_test",
    "search_bm25_topk",
    "rollup_time_multigrain",
    "funnel_view_click_purchase",
    "cohort_weekly_retention",
    "cdc_apply_changelog",
    "path_top_transitions",
    "ann_int8_rerank_topk",
    "anomaly_zscore_users",
    "json_variant_nested",
    "pandas_udf_nfc_norm",
    "agg_corr_qty_price",
    "ingest_corrupt_json_quarantine",
    "stream_chained_window_rollup",
    "embedding_label_centroids",
    "rollup_incremental_merge",
    "timeseries_forward_fill",
    "fuzzy_name_pairs",
    "sample_quota_per_lang",
    "window_share_of_total",
    "timeseries_time_weighted_avg",
    "xml_roundtrip_extract",
    "stream_tumbling_hourly",
    "stream_sliding_2h_1h",
    "stream_dedup_watermark",
    "stream_stateful_user_stats",
    "stream_static_enrich",
    "stream_stream_interval_join",
    "stream_stream_outer_attrib",
    "stream_stream_full_outer_attrib",
    "join_left_order_counts",
    "join_semi_big_orders",
    "join_anti_idle_customers",
    "agg_global_stats",
    "ingest_parquet_nested_walk",
    "ingest_embeddings_real_walk",
    "ingest_documents_real_walk",
    "ingest_events_real_walk",
    "ingest_orc_string_walk",
    "ingest_orc_temporal_walk",
    "ingest_orc_list_walk",
    "sink_copy_binary_roundtrip",
    "agg_rollup_flag_status",
    "agg_cube_flag_status",
    "agg_grouping_sets",
    "agg_pivot_status",
    "window_top3_orders_per_customer",
    "window_running_customer_spend",
    "window_lag_event_delta",
    "window_rank_supplier_revenue",
    "topk_orders_by_price",
    "setop_active_nations",
    "setop_customer_only_nations",
    "setop_union_all_keys",
    "scalar_string_date_funcs",
    "sink_upsert_final_state",
    "ann_hnsw_layered_topk",
    "sink_staging_merge_final_state",
    "scalar_case_math",
    "agg_unpivot_metrics",
    "stream_session_dynamic_gap",
    "stream_session_windows",
    "multimodal_byte_histogram_arrow",
    "timeseries_ohlc_hourly",
    "text_boilerplate_share",
    "quality_expectations_report",
    "multimodal_ahash_near_dup",
    "ann_recall_report",
    "dedup_cluster_keep_best",
    "stream_ohlc_hourly",
    "cluster_kmeans_embeddings",
    "sample_cluster_diversity",
    "text_tfidf_top_terms",
    # the r15-verified window: freshest greens, checked last
    "ingest_parquet_zstd_pages",
    "ingest_parquet_lz4_pages",
    "ingest_parquet_bss_walk",
    "ingest_parquet_dlba_walk",
    "ingest_orc_map_walk",
    "ingest_orc_struct_walk",
    "ingest_orc_union_walk",
    "multimodal_jpeg_arith_decode",
    "ann_recall_hnsw_report",
    "ingest_parquet_legacy_walk",
    "search_rrf_fusion",
    "embedding_matryoshka_recall",
    "multimodal_webp_lossless_decode",
    "multimodal_webp_anim_walk",
    "audio_g711_walk",
    "multimodal_webp_lossy_decode",
    "multimodal_webp_alpha_decode",
    "ingest_zstd_seekable_walk",
    "skyline_orders_price_date",
    "concurrency_gauge_hourly",
    "anomaly_mad_robust",
    "stream_upsert_incremental",
    "stream_dedup_exactly_once",
    "train_global_shuffle",
    "embedding_gram_matrix",
    "hierarchy_recursive_cte",
    "scalar_try_ansi_safe",
    "stream_late_data_drop",
    "repair_impute_group_median",
    "trend_value_slope_per_user",
    "ingest_schema_evolution_merge",
    "dedup_prefix_containment",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q4_order_priority_exists",
    "q17_small_quantity_revenue",
    "cast_align_orders",
    "join_asof_latest_order",
    "join_range_price_band",
    "join_skew_salted_orders",
    "dedup_substring_overlap",
    "sink_async_upsert_final_state",
    "multimodal_jpeg_lossless_decode",
    "tokenizer_unigram_train_scores",
    "tokenizer_unigram_apply_tokens",
    "ingest_gzip_member_walk",
    "ingest_zstd_frame_walk",
    "ingest_tar_member_walk",
]


def _ensure_loaded() -> None:
    """Import every module that registers queries (idempotent), then
    reorder the registry dict to the explicit driver-facing priority."""
    global _LOADED
    if _LOADED:
        return
    from .operators import (  # noqa: F401
        aac,
        adpcm,
        analytics_extra,
        arrowipc,
        arrowstream,
        avroresolve,
        avrosingle,
        avrowalk,
        binaryfile,
        bloomfilter,
        bzip2,
        cborwalk,
        clustering,
        dedup,
        dsir,
        deltacdf,
        deltacheckpoint,
        deltaskip,
        deltadiff,
        deltalog,
        expectations,
        flac,
        g711,
        graph,
        gzipwalk,
        hybrid_search,
        iceberg,
        icebergcommit,
        icebergmor,
        icebergprune,
        inference,
        inflate,
        ivf_incremental,
        ivfpq,
        joins_advanced,
        jpeg12,
        kmv,
        jpeg_arith,
        jpeg_lossless,
        jpeg_progressive,
        json_ops,
        layout_stats,
        lz4frame,
        matryoshka,
        mp3,
        multimodal,
        nsw,
        oggwalk,
        orcwalk,
        paragraph_dedup,
        parquetbss,
        parquetcodec,
        parquetdict,
        parquetindex,
        parquetlegacy,
        pgcopy,
        parquetnested,
        parquetv2,
        parquetwalk,
        perplexity,
        pq,
        preference,
        quality_model,
        relational,
        roaring,
        safetensors,
        sampling,
        similarity,
        snappy,
        tarwalk,
        temporal,
        text,
        tiff,
        tokenizer,
        tfrecord,
        tpch_extra,
        training,
        unigram,
        udtf_ops,
        video,
        vp8,
        warc,
        webpalpha,
        webp,
        webpanim,
        wordpiece,
        xzwalk,
        zipwalk,
        zstddict,
        zstdseek,
        zstdfse,
        zstdwalk,
    )
    from .sinks import roundtrip  # noqa: F401
    from .sources import filetail, pydatasource  # noqa: F401
    from .streaming import incremental, windows  # noqa: F401

    missing = [n for n in _PRIORITY if n not in QUERIES]
    if missing:
        raise RuntimeError(f"_PRIORITY names not registered: {missing}")
    ordered = {n: QUERIES[n] for n in _PRIORITY}
    ordered.update({n: s for n, s in QUERIES.items() if n not in ordered})
    QUERIES.clear()
    QUERIES.update(ordered)
    _LOADED = True
