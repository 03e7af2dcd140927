from __future__ import annotations

import os
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from openset_spark import get_spark  # noqa: E402

TEST_SF_DIR = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")

# ---------------------------------------------------------------------------
# Default-suite tiering (r16, VERDICT #1): the full suite is ~40 min —
# past the external driver's pytest window (the r15 driver run
# truncated at ~81% with zero failures). pytest.ini deselects the
# `slow` and `strict_oracle` tiers by default; the assignments below
# were measured from a full --durations run (committed in
# plans/r16/pytest_durations_r16.txt) and keep EVERY operator family
# and EVERY bit-equality fence in the default tier:
#   * bit-equality fences stay default (arrow scorer, minhash
#     signature vs its verbatim slot aggregate, vector unroll, pq
#     numpy-vs-sql, cumsum/pack oracles, histogram oracle);
#   * each `slow` entry is a scale-evidence, fuzz-vs-naive, or
#     end-to-end composite whose operator keeps a cheaper default
#     test or a driver-window oracle replay;
#   * the oracle replay defaults to exactly the 50 keys the driver
#     itself checks; the other keys run with -m strict_oracle.
# ---------------------------------------------------------------------------

SLOW_FILES = {
    # builds the 200k-vector ANN index in setup; the driver's bench
    # runs the same ann_scale section itself
    "test_ann_scale.py",
}

SLOW_TESTS = {
    "test_bench_smoke.py::test_bench_script_emits_contract_json",
    "test_streaming.py::test_stream_sessionize_closes_on_gap",
    "test_stream_parity.py::test_stream_near_dedup_matches_batch",
    "test_plans.py::test_every_query_plan_is_scale_clean",
    "test_cms.py::test_time_rollup_estimate_levels_match_per_level_builds",
    "test_cms.py::test_law_fold_invariance_and_overcount",
    "test_cms.py::test_sliding_estimate_equals_direct_window_builds",
    "test_engine.py::test_engine_overlap_matrix_empty_segment_and_validation",
    "test_engine.py::test_engine_segment_overlap_matrix",
    "test_pipeline.py::test_with_minhash_bands_matches_batch_banding",
    "test_pipeline.py::test_dsir_weights_discriminate_and_select",
    "test_pipeline.py::test_prepare_corpus_recipe",
    "test_pipeline.py::test_prepare_corpus_transitive_cluster_keeper",
    "test_classify.py::test_edit1_pairs_fuzz_vs_naive_levenshtein",
    "test_property_based.py::test_hll_fold_invariant_under_any_split",
    "test_property_based.py::test_funnel_steps_match_greedy_oracle",
    "test_bloom.py::test_law_semijoin_exactness",
    "test_r9_ops.py::test_perplexity_buckets_matches_ntile_distribution",
    "test_pq.py::test_ivfpq_nprobe_monotone_recall",
    "test_pq.py::test_ivfpq_topk_recovers_planted_clusters",
    "test_pq.py::test_pq_topk_recovers_planted_clusters",
    "test_pq.py::test_ivfpq_build_shape_and_determinism",
    "test_pq.py::test_pq_lloyd_reduces_distortion",
    "test_r8_ops.py::test_prepare_corpus_split_fractions",
    "test_r8_ops.py::test_dsir_gumbel_resample_reproducible",
    "test_stream_parity.py::test_stream_ngram_coverage_matches_batch",
    "test_sliding_store.py::test_maintained_hdr_and_cms_stores_sum_fold_exactly",
    "test_sliding_store.py::test_maintained_kmv_store_reranks_exactly",
    "test_hdr.py::test_sliding_quantiles_equal_direct_window_builds",
    "test_urls.py::test_curate_urls_recipe",
    "test_kmv.py::test_law_small_sets_are_exact",
    "test_kmv.py::test_sliding_jaccard_equals_direct_window_builds",
    "test_hll.py::test_law_sliding_fold_equals_direct",
    "test_operators.py::test_interval_join_fuzz_vs_naive_predicate_join",
    "test_operators.py::test_interval_overlap_join_fuzz_vs_naive",
    "test_operators.py::test_asof_join_fuzz_vs_pandas_merge_asof",
    "test_layout.py::test_equidepth_zorder_survives_skew",
    "test_layout.py::test_hilbert_equidepth_survives_skew",
    "test_layout.py::test_hilbert_layout_skips_at_least_as_well_as_zorder",
    "test_sketch_persistence.py::test_all_four_sketches_round_trip_parquet",
}

_ORACLE_RE = re.compile(
    r"test_correctness\.py::test_query_matches_oracle\[(.+)\]$"
)


def pytest_collection_modifyitems(config, items):
    import __spark_entry__ as entry

    window = {q.name for q in entry.REGISTRY[: entry._DRIVER_WINDOW]}
    slow = pytest.mark.slow
    strict = pytest.mark.strict_oracle
    for item in items:
        rel = item.nodeid.split("/")[-1]
        if rel.split("::")[0] in SLOW_FILES or rel.split("[")[0] in SLOW_TESTS:
            item.add_marker(slow)
            continue
        m = _ORACLE_RE.match(rel)
        if m and m.group(1) not in window:
            item.add_marker(strict)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("openset-spark-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return TEST_SF_DIR
