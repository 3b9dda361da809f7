"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``sslr_spark/`` (see SURVEY.md §2 for the
operator inventory each query key refers to).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the engine's signature operator — bucketed commutative
    key fingerprints (SURVEY §2 A4/J4, the delete-diff primitive) over
    lineitem at sf0.001, joined against a simulated divergent target to
    surface mismatched buckets plus per-bucket stats."""
    from pyspark.sql import functions as F

    from sslr_spark.operators.deletes import bucket_fingerprints
    from sslr_spark.queries import LINEITEM_PK

    sf_dir = "/root/testdata/sf0.001"
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    target = li.filter(F.col("l_orderkey") % 500 != 7)  # simulated drift
    s = bucket_fingerprints(li, LINEITEM_PK, 32).withColumnsRenamed(
        {"cnt": "src_cnt", "fp": "src_fp"}
    )
    t = bucket_fingerprints(target, LINEITEM_PK, 32).withColumnsRenamed(
        {"cnt": "tgt_cnt", "fp": "tgt_fp"}
    )
    return (
        s.join(t, "bucket", "full_outer")
        .withColumn(
            "mismatch",
            ~(
                F.col("src_cnt").eqNullSafe(F.col("tgt_cnt"))
                & F.col("src_fp").eqNullSafe(F.col("tgt_fp"))
            ),
        )
        .orderBy("bucket")
    )


# The driver's correctness harness checks the FIRST 50 keys of queries()
# in dict insertion order; with 196 registered queries some keys rotate
# out of the window each round.  Ordering policy — never-driver-verified
# keys first, then stalest-first; freshest evidence last — is ENFORCED
# by tools/rotation_check.py (wired into pytest via tests/test_rotation.py);
# see that module for the full rules.
#
# r12 head (VERDICT r11 item 8): the 46 r08-green keys (the stalest
# evidence on the board), then 4 CHANGED keys whose physical plans this
# optimization round touched (fused star-CC rounds, simhash floor
# placement) — they are output-identical by construction and locally
# oracle-verified (196/196 at sf0.01 AND sf0.001), but deserve driver
# re-verification first.  Tail is stalest-first (r09 block, then r10,
# then r11) so the r13 head is its leading prefix.

# Keys whose physical plan shape changed in the CURRENT session (exempt
# from the staleness ordering check in tools/rotation_check.py): star-CC
# (dup_clusters_star) is back to its join-round form, the only form
# now; the gate materialization (persisted scored projection) and the
# simhash plan (no parallelism floor) keep their r12 shape as the one
# remaining path.  Verified locally with the full oracle at sf0.01 and
# sf0.001, plus the star-vs-reference equality test in
# tests/test_dup_clusters.py.
CHANGED_KEYS: list[str] = [
    "x_curation_pipeline",
    "x_curation_pipeline_neardup",
    "dedup_keep_best",
    "text_quality_gate",
    "x_curation_pipeline_dsir",
    "text_ccnet_buckets",
    "x_curation_pipeline_gates",
    "x_lm_quality_gate",
    "x_curation_pipeline_lm",
    "dedup_simhash_calibration",
    "dedup_cluster_sizes",
    "dedup_clusters",
    "dedup_simhash",
    "dedup_image_phash_clusters",
]

_HEAD_KEYS = [
    # 46 r08-green keys (stalest evidence):
    "a1_watermark_probe",
    "sample_weighted",
    "x_sessionize_batch",
    "mm_decode_pixels_jpeg",
    "dedup_incremental_semantic",
    "x_stream_sessionize",
    "mm_decode_mp4",
    "mm_frame_plan",
    "mm_decode_real",
    "sim_topk_pq",
    "sim_topk_ivfpq",
    "sim_topk_ivfpq_residual",
    "x_embedding_pipeline",
    "x_curation_pipeline",
    "x_curation_pipeline_neardup",
    "dedup_semantic",
    "dedup_incremental_minhash",
    "mm_decode_stub",
    "mm_frame_sample",
    "x_cumulative_window",
    "mix_allocation",
    "text_topk_ngrams",
    "text_length_stats",
    "text_chunk",
    "pack_token_budget",
    "filter_funnel",
    "text_pii_scrub",
    "x_window_suite",
    "x_cube",
    "x_distinct_stats",
    "x_heavy_hitters",
    "x_correlated_subquery",
    "x_grouping_sets",
    "x_quantile_stats",
    "x_range_join",
    "x_retention",
    "dedup_keep_best",
    "x_source_overlap",
    "text_langid_eval",
    "sample_leakage_safe",
    "text_quality_score",
    "x_anomaly_zscore",
    "sample_mix_execute",
    "text_quality_gate",
    "x_stream_dedup",
    "sample_shuffle_order",
    # 4 CHANGED keys (star-CC round form / simhash plan — re-verify first):
    "dedup_clusters",
    "dedup_cluster_sizes",
    "dedup_simhash",
    "dedup_image_phash_clusters",
]
_TAIL_KEYS = [
    # r09-green:
    "sim_hybrid_rrf",
    "x_hll_distinct",
    "x_link_graph",
    "x_pagerank",
    "mm_phash",
    "dedup_image_phash",
    "sample_curriculum",
    "mm_audio_vad",
    "x_tpch_q3",
    "x_tpch_q6",
    "sim_topk_matryoshka",
    "x_bucketed_join",
    "x_robots",
    "x_crawl_frontier",
    "x_stream_hll",
    "mm_sniff",
    "sample_length_batches",
    "text_dsir_weights",
    "sample_dsir",
    "text_tfidf_topk",
    "sample_cluster_balance",
    "x_curation_pipeline_dsir",
    "sample_epoch_plan",
    "x_warc_ingest",
    "text_html_extract",
    "x_warc_http",
    "text_ccnet_buckets",
    "sample_dsir_incremental",
    "x_url_dedup",
    "x_mor_tombstone_tie",
    "x_mor_delete_repair",
    "x_mor_wide_pk_read",
    "sim_range_search",
    "dedup_containment",
    "text_blocklist",
    "text_mojibake",
    "quality_psi_drift",
    "sample_range_shards",
    "dedup_corpus_diff",
    "sim_cell_drift",
    "text_blocklist_phrases",
    "dedup_incremental_containment",
    "sample_shard_budget",
    "x_mor_upsert_read",
    "j2_upsert_merge",
    "s2_incremental_scan",
    "sample_shard_diff",
    "text_bpe_pairs",
    "dedup_minhash_calibration",
    "sim_ivf_recall",
    # r10-green:
    "x_table_stats",
    "x_skew_salted_join",
    "x_zorder_key",
    "x_sitemap",
    "x_topk_bounded",
    "text_chat_flatten",
    "text_chat_pairs",
    "text_chat_truncate",
    "x_frontier_delay",
    "x_curation_pipeline_gates",
    "x_dataset_card",
    "x_lm_quality_gate",
    "text_dedup_lines",
    "text_strip_boilerplate",
    "sim_embedding_quality",
    "x_mor_asof_read",
    "x_curation_pipeline_lm",
    "dedup_simhash_calibration",
    "dedup_jaccard_prefix",
    "dedup_ngram_jaccard",
    "sample_shard_manifest",
    "s1_full_filtered_scan",
    "s9_state_upsert",
    "a4_bucket_fingerprint",
    "o3_key_at_offset",
    "sample_stratified",
    "text_bigram_logprob",
    "x_bloom_membership",
    "text_unigram_logprob",
    "dedup_incremental",
    "sim_topk_quantized",
    "sample_hash_split",
    "text_repetition",
    "dedup_contamination",
    "mm_extract_features",
    "a2_table_length",
    "a3_min_key_probe",
    "o1_event_sessionize",
    "o2_pagination_window",
    "p6_key_range_scan",
    "j1_semi_join_keyset",
    "j3_range_repair",
    "j4_hash_diff",
    "d1_delete_by_keyset",
    "x_funnel",
    "x_pivot",
    "x_rollup",
    "x_topk_per_group",
    # r11-green (the just-verified r11 window — freshest evidence,
    # safest outside the r12 window):
    "x_crawl_epoch",
    "text_bpe_train",
    "text_bpe_tokenize",
    "x_cms_counts",
    "x_stream_cms",
    "x_tpch_q1",
    "t6_event_window_agg",
    "d2_range_delete",
    "mm_decode_png_jpeg",
    "mm_resize_multi",
    "mm_resample_audio",
    "mm_tar_shards",
    "s5_catalog_schema",
    "s7_object_exists",
    "mm_resize",
    "x_asof_join",
    "x_json_extract",
    "text_token_count",
    "text_quality",
    "text_lang_id",
    "text_fingerprint",
    "dedup_exact",
    "dedup_apply",
    "dedup_minhash_lsh",
    "dedup_embedding_cosine",
    "sim_topk_bruteforce",
    "sim_topk_lsh",
    "sim_knn_blocked",
    "mm_binary_meta",
    "x_set_ops",
    "x_date_rollup",
    "x_join_star",
    "x_scalar_functions",
    "text_entropy",
    "files_roundtrip",
    "sim_topk_binary",
    "x_stream_ingest",
    "sim_ivf_ann",
    "text_gopher_flags",
    "sim_hard_negatives",
    "dedup_winnow_spans",
    "sample_source_cap",
    "text_bm25_topk",
    "dedup_strip_spans",
    "x_stream_interval_join",
    "dedup_incremental_spans",
    "dedup_ngram_coverage",
    "t3_staleness_check",
]


def _ordered(out: dict) -> dict:
    head = {k: out[k] for k in _HEAD_KEYS if k in out}
    tail = {k: out[k] for k in _TAIL_KEYS if k in out}
    mid = {k: v for k, v in out.items() if k not in head and k not in tail}
    return {**head, **mid, **tail}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Each callable takes (spark, sf_dir) and returns a DataFrame.
    """
    from sslr_spark.queries import CORE_QUERIES

    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    out.update(CORE_QUERIES)
    try:
        from sslr_spark.queries_ext import EXT_QUERIES

        out.update(EXT_QUERIES)
    except ImportError:
        pass
    try:
        from sslr_spark.queries_olap import OLAP_QUERIES

        out.update(OLAP_QUERIES)
    except ImportError:
        pass
    return _ordered(out)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalent for each queries() key.
    Keys absent here get the driver's weaker rows-only check."""
    from sslr_spark.queries import CORE_ORACLES

    out: dict[str, str] = {}
    out.update(CORE_ORACLES)
    try:
        from sslr_spark.queries_ext import EXT_ORACLES

        out.update(EXT_ORACLES)
    except ImportError:
        pass
    try:
        from sslr_spark.queries_olap import OLAP_ORACLES

        out.update(OLAP_ORACLES)
    except ImportError:
        pass
    return out
