"""Registry ordering invariants.

The correctness driver hash-checks only the FIRST 50 entries of
``queries()`` against ``oracle_sql()``, so dict order is load-bearing:
every window slot must be oracle-backed, and rows-only queries must
never displace a checkable one. Rounds 1–2 lost 29 oracle-backed
queries to this (they sat past position 50); these tests pin the fix.
"""

from __future__ import annotations

from market_data_pipeline_databricks_spark.plans import registry

WINDOW = 50

# The round-15 rotation, as an EXPLICIT literal (not
# list(registry.DRIVER_WINDOW)): the point of this guard is that an
# accidental edit to DRIVER_WINDOW must be mirrored deliberately here —
# aliasing the registry value made the lockstep check trivially true
# (round-6 advice). Round-15 rule (r14 verdict task 2): the 18 queries
# whose operator code changed this round lead the window so the
# driver's oracle re-checks every modified path, then the stalest-green
# cohort (last hash-checked r09) fills the remaining 32 slots — see
# registry.py.
PREVIOUSLY_UNCHECKED = [
    "stream_rank_maintenance",
    "stream_rank_repair",
    "stream_agg_maintenance",
    "stream_gold_incremental",
    "stream_cdc_incremental",
    "stream_image_dedup_incremental",
    "er_resolved_entities",
    "graph_part_pagerank",
    "graph_part_bfs_hops",
    "scale_global_rank_twopass",
    "scale_salted_window_rank",
    "dedup_components",
    "dedup_components_lsh",
    "dedup_component_survivors",
    "dedup_representative_survivors",
    "text_bpe_train_merges",
    "text_bpe_encode_stats",
    "dedup_component_size_histogram",
    "agg_grouping_sets_revenue",
    "analyst_completeness",
    "analyst_liquidity_screen",
    "analyst_point_in_time",
    "analyst_single_key_recent",
    "analyst_threshold_alerts",
    "analyst_volatility_regime",
    "curate_chunk_corpus",
    "curate_multimodal_corpus",
    "dedup_edit_distance_qgram",
    "dedup_exact_survivors",
    "dedup_incremental_batch",
    "events_funnel",
    "events_retention_cohorts",
    "filter_case_classification",
    "filter_scalar_subquery_latest",
    "funcs_ewma_close",
    "funcs_log_return_stats",
    "funcs_market_beta",
    "join_full_outer_reconcile",
    "multimodal_wav_roundtrip",
    "pack_training_sequences",
    "quality_constraint_suite",
    "quality_pii_pseudonymize",
    "quality_zscore_outliers",
    "sample_train_test_split",
    "skew_salted_join_orders",
    "stream_session_window_stats",
    "stream_sliding_window_counts",
    "stream_stream_click_attribution",
    "stream_tumbling_daily_counts",
    "text_bpe_token_count",
]


def test_window_literal_lockstep():
    # Both directions: every pinned name is in the registry window and
    # the window contains nothing unpinned.
    assert list(registry.DRIVER_WINDOW) == PREVIOUSLY_UNCHECKED


def test_driver_window_fully_oracle_backed():
    names = list(registry.all_queries())
    oracle = registry.all_oracle_sql()
    window = names[:WINDOW]
    assert all(n in oracle for n in window), [
        n for n in window if n not in oracle
    ]


def test_previously_unchecked_families_in_window():
    window = list(registry.all_queries())[:WINDOW]
    missing = [n for n in PREVIOUSLY_UNCHECKED if n not in window]
    assert not missing, missing


def test_rows_only_queries_sort_last():
    names = list(registry.all_queries())
    oracle = registry.all_oracle_sql()
    flags = [n in oracle for n in names]
    # Once the first rows-only query appears, no oracle-backed query may
    # follow it.
    if False in flags:
        first_rows_only = flags.index(False)
        assert True not in flags[first_rows_only:], names[first_rows_only:]


def test_window_names_exist_and_exact():
    q = registry.all_queries()
    assert len(registry.DRIVER_WINDOW) == WINDOW
    unknown = [n for n in registry.DRIVER_WINDOW if n not in q]
    assert not unknown, unknown


def test_every_query_runnable_signature():
    # Each registry value is a (spark, sf_dir) callable; catch accidental
    # registration of partials/strings at import time.
    for name, fn in registry.all_queries().items():
        assert callable(fn), name


def test_readme_query_counts_match_registry():
    import re
    from pathlib import Path

    text = " ".join((Path(__file__).parents[1] / "README.md").read_text().split())
    n_queries = len(registry.all_queries())
    n_oracle = len(registry.all_oracle_sql())
    m = re.search(r"(\d+) of (\d+) registered queries value-match", text)
    assert m and (int(m[1]), int(m[2])) == (n_oracle, n_queries), m
    m = re.search(r"`queries\(\)` \((\d+) named builders, (\d+) DuckDB", text)
    assert m and (int(m[1]), int(m[2])) == (n_queries, n_oracle), m
