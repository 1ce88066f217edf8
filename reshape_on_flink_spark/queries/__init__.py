"""Query inventory — the judge-checkable operator coverage.

Each submodule exposes:

- ``QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]]`` — the
  Spark-first implementation of one operator/query from SURVEY.md §2.
- ``ORACLES: dict[str, str]`` — the equivalent ANSI SQL for DuckDB, used by
  the driver's correctness gate (row-count + schema + value-hash at sf0.01).

Cross-engine determinism rules (see queries.numeric):

1. Money-like doubles in the fixtures are 2-decimal-exact; SUM them as
   DECIMAL (exact, order-independent) and cast the result to DOUBLE — both
   engines then produce bit-identical doubles.
2. Never output a raw ``events.ts`` (parquet stores nanoseconds; Spark
   truncates to microseconds, DuckDB keeps ns). Output epoch seconds.
3. Every ORDER BY ... LIMIT carries a unique tie-break key.
4. Alias every computed column identically in both dialects.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

# The driver's correctness gate checks the FIRST 50 registered queries, so
# registration order is evidence-allocation. Rotation policy (round 4+,
# amended round 14): queries REWRITTEN/RESTRUCTURED in the current or the
# previous round whose driver evidence predates the rewrite go FIRST
# (rewritten-outranks-stalest — verdict r13 #3), then queries with NO
# driver row, then the STALEST driver evidence (computed from the
# committed CORRECTNESS_r*.json files). Queries left off this list still
# register (merged() appends them in module order and they keep their
# prior-round rows as evidence). merged() raises on unknown names.
GATE_PRIORITY: tuple[str, ...] = (
    # round-14 rotation. Head block = the round-13 rewrites the r13
    # driver sample did not cover: the five changelog gates (restructured
    # in queries/streaming_batch.py, last driver-checked r11), coreness
    # (step reverted to the plain formulation this round, last checked
    # r7), and the PQ-literal similarity rewrite (last checked r5).
    "q_graph_coreness",
    "q_changelog_window_agg",
    "q_changelog_session_agg",
    "q_changelog_join_transitions",
    "q_retractable_topn",
    "q_updatable_topn",
    "q_similarity_pq_rerank",
    # rewritten-outranks-stalest: timed_out_partial_matches runs on one
    # per-key decision core for bounded and streaming input — every
    # consumer re-verifies even where its earlier evidence is fresh
    "q_cep_timeout",
    "q_cep_timeout_skip",
    "q_cep_timeout_greedy",
    "q_cep_timeout_comb_greedy",
    "q_cep_timeout_group_until",
    "q_cep_timeout_group_opt",
    "q_cep_timeout_group_times",
    "q_cep_timeout_group_greedy",
    "q_cep_timeout_group_not",
    # stalest driver evidence: round 5 (the 22 round-5 names the r13
    # 50-slot cap left behind; pq_rerank moved to the head block)
    "q_ds_variance_flag_chain",
    "q_funnel_conversion",
    "q_hist_quantiles",
    "q_hll_distinct",
    "q_hll_intersect_est",
    "q_hll_rollup",
    "q_join_anti",
    "q_join_cross",
    "q_length_batches",
    "q_passage_dedup",
    "q_profile_table",
    "q_quality_classifier",
    "q_quality_percentile_gate",
    "q_scd2_intervals",
    "q_shard_manifest",
    "q_similarity_ivfpq",
    "q_similarity_pq",
    "q_stratified_sample",
    "q_text_normalize",
    "q_tfidf_top_terms",
    "q_train_val_test_split",
    "q_unigram_perplexity",
    # stalest driver evidence: round 7 (alphabetical fill to the 50-slot
    # cap; coreness moved to the head block; the rest of the round-7
    # block queues past the cap as spares)
    "q6_forecast_revenue",
    "q_agg_distinct",
    "q_agg_minmax_by",
    "q_cep_fluent",
    "q_contrastive_pairs",
    "q_count_evictor",
    "q_count_window",
    "q_cube",
    "q_dedup_keep_first",
    "q_dedup_keep_last",
    "q_except",
    "q_graph_bipartite_projection",
    "q_graph_clustering_coeff",
    "q_graph_community",
    "q_graph_degrees",
    "q_graph_hits",
    "q_graph_jaccard",
    "q_graph_kcore",
    "q_graph_label_propagation",
    "q_graph_metrics",
    "q_graph_pagerank",
    # spares past the 50-slot cap (round-7 block continued)
    "q_graph_pregel",
    "q_graph_sssp",
    "q_graph_summarize",
    "q_graph_triangles",
    "q_hard_negatives",
    "q_having",
    "q_intersect",
    "q_json_construct",
    "q_match_recognize_within",
    "q_order_limit",
    "q_pivot",
    "q_rollup",
    "q_salted_join",
    "q_similar_to",
    "q_similarity_pq_trained",
    "q_stats_moments",
    "q_table_api_pipeline",
    "q_temperature_mix",
    "q_topk_per_group",
)


def merged() -> tuple[dict[str, QueryFn], dict[str, str]]:
    """Merge all query modules into one (queries, oracles) inventory.

    Registration order is GATE_PRIORITY first (the driver's 50-query
    correctness cap samples every operator family), then each module's
    remaining queries in module order.
    """
    from reshape_on_flink_spark.queries import (
        graphs,
        llmops,
        relational,
        relational2,
        streaming_batch,
        tpcds_shapes,
        tpch_rest,
    )

    all_queries: dict[str, QueryFn] = {}
    all_oracles: dict[str, str] = {}
    for mod in (relational, relational2, tpch_rest, tpcds_shapes, streaming_batch, llmops, graphs):
        dupes = all_queries.keys() & mod.QUERIES.keys()
        if dupes:
            raise ValueError(f"duplicate query names across modules: {sorted(dupes)}")
        all_queries.update(mod.QUERIES)
        all_oracles.update(mod.ORACLES)

    missing = [name for name in GATE_PRIORITY if name not in all_queries]
    if missing:
        raise ValueError(f"GATE_PRIORITY names not in inventory: {missing}")

    queries: dict[str, QueryFn] = {}
    oracles: dict[str, str] = {}
    for name in GATE_PRIORITY:
        queries[name] = all_queries[name]
        if name in all_oracles:
            oracles[name] = all_oracles[name]
    for name, fn in all_queries.items():
        if name not in queries:
            queries[name] = fn
            if name in all_oracles:
                oracles[name] = all_oracles[name]
    return queries, oracles
