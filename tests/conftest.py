from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

#: The smoke tier (`pytest -m smoke`): ONE representative test per operator
#: family plus the hypothesis property battery (test_properties.py,
#: marked wholesale below) — the fast iteration loop.  The FULL suite
#: remains the round-close gate; keep this list to one entry per family so
#: the tier stays under ~3 minutes.
SMOKE_TESTS = {
    "test_funnel_strict_ordering",            # analytics
    "test_asof_join_backward_semantics",      # as-of join
    "test_bloom_no_false_negatives_and_prunes",  # novelty bloom
    "test_contamination_finds_planted_eval_dup",  # curation
    "test_round_trip_exact",                  # day-CSV source/sink
    "test_lsh_finds_near_dups",               # dedup
    "test_merge_equals_full_recompute",       # incremental state
    "test_indicators_match_pandas",           # indicators
    "test_append_ignore_first_writer_wins",   # S5 merge
    "test_payload_schema_and_checksum",       # multimodal
    "test_ohlc_values",                       # A1 OHLC
    "test_salted_aggregate_equals_plain_groupby",  # physical
    "test_prune_report_z_beats_single_dimension_layout",  # z-order
    "test_rerun_day_is_idempotent",           # pipeline orchestration
    "test_q5_broadcasts_every_dimension",     # plan shape
    "test_probe_learns_separable_target",     # trained probe
    "test_artifact_nonempty",                 # data quality
    "test_cosine_topk_matches_numpy",         # similarity
    "test_topk_finds_planted_twin_and_excludes_self",  # binary quant
    "test_cms_overestimates_never_under",     # sketches
    "test_stream_tails_appends_exactly_once",  # snapshot change feed
    "test_append_read_roundtrip_and_versioning",  # snapshot table
    "test_grouping_sets_totals_consistent",   # SQL surface
    "test_streaming_ohlc_matches_batch",      # core streaming
    "test_streaming_ann_matches_batch",       # ANN maintainer
    "test_streaming_card_matches_batch_across_batches",  # card facts
    "test_quota_counts_cas_rejects_mid_fold_racer",  # CAS closure
    "test_streaming_dedup_matches_batch",     # dedup maintainer
    "test_batch_twin_matches_window_operator",  # incremental indicators
    "test_streaming_novelty_matches_batch",   # novelty maintainer
    "test_streaming_quota_matches_batch_operator_in_id_order",  # quota
    "test_streaming_semantic_matches_batch",  # semantic maintainer
    "test_streaming_assignments_match_batch_from_map",  # shard maintainer
    "test_streaming_scores_match_batch_and_gate",  # text maintainer
    "test_rsi_matches_pandas",                # TA indicators
    "test_token_stats",                       # text analysis
    "test_vocab_build_rank_order_and_boundary_ties",  # vocab lifecycle
    "test_greedy_longest_match_first",        # WordPiece MaxMatch
    "test_viterbi_picks_max_likelihood_segmentation",  # unigram LM
    "test_dynamic_overwrite_touches_only_its_partition",  # write paths
    "test_ivfpq_with_big_shortlist_equals_ivf_exact",  # IVF-PQ index
    "test_perplexity_buckets_equal_global_ntile",  # CCNet ppl split
    "test_bpe_train_textbook_merges_and_encode",  # BPE tokenizer
    "test_dup_span_scrub_removes_cross_doc_spans_only",  # ExactSubstr scrub
    "test_streaming_split_merge_emits_moves_and_bounds_writes",  # split maintainer
    "test_bm25_matches_pure_python_reference",  # BM25 retrieval
    "test_fold_sinks_replay_commits_nothing[card_facts]",  # fold skeleton
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        if (
            item.name in SMOKE_TESTS
            or item.fspath.basename == "test_properties.py"
        ):
            item.add_marker(pytest.mark.smoke)


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from airflow_crypto_btc_spark.session import get_spark

    s = get_spark(
        app_name="engine-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            # keep saveAsTable artifacts (bucketing tests) out of the repo
            "spark.sql.warehouse.dir": str(
                tmp_path_factory.mktemp("spark-warehouse")
            ),
        },
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def jobs_in(spark):
    """``jobs_in(label, fn)``: the Spark jobs ``fn`` launches, counted
    through a fresh job group."""
    import uuid

    sc = spark.sparkContext

    def count(label: str, fn) -> int:
        group = f"{label}-{uuid.uuid4().hex}"
        sc.setJobGroup(group, label)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count
