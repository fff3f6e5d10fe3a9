"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  -> flagship query over /root/testdata/sf0.001.
queries()     -> one entry per implemented operator (SURVEY.md §2 analogs +
                 training-data-pipeline ops), each (spark, sf_dir) -> DataFrame.
oracle_sql()  -> DuckDB twin per query (tables pre-registered as views).

Implementations live in codegraphcontext_spark/queries/driver_queries.py.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from codegraphcontext_spark.queries.driver_queries import (  # noqa: E402
    ORACLE_SQL,
    SPARK_QUERIES,
    flagship,
)
import codegraphcontext_spark.queries.graph_queries  # noqa: E402,F401  (registers kg_graph_*)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: who-references ('spark') over sf0.001 documents."""
    return flagship(spark, "/root/testdata/sf0.001")


# The driver's correctness sweep covers a bounded window of ~50 entries in
# dict order; _SWEEP_FIRST rotates which names fill that window each round
# (BASELINE.md "sweep rotation") so every query converges to at least one
# all-green CORRECTNESS_r*.json row across rounds.
_SWEEP_FIRST = (
    # shared-fragment rotation: the operators whose Spark body now calls
    # the query layer's shared helpers (one definition per repeated
    # mechanism; optimized plans unchanged) go first, so the driver
    # re-checks them this round.
    "dedup_lsh_buckets",
    "embed_norms",
    "embed_topk_cosine",
    "text_langid",
    "dedup_embed_cosine",
    "embed_ann_lsh",
    "embed_ann_ivf",
    "text_quality",
    "dedup_semantic",
    "embed_ivfpq",
    "embed_pq_rerank",
    "embed_ann_lsh_wide",
    "er_blocking_quality",
    "curate_train_labels",
    "events_markov_transitions",
    "search_hybrid_rrf",
    "dedup_containment",
    "embed_mrl_overlap",
    "curate_budget_select",
    "embed_binary_rerank",
    "text_langid_eval",
    "events_markov_stationary",
    "events_entropy_rate",
    "events_markov_acc",
    "text_lang_mixing",
    "curate_dup_quality_xtab",
    "curate_source_profile",
    "embed_intrinsic_dim",
    "embed_hubness",
    "curate_uncertain_batch",
    "kg_graph_triangles",
    "kg_graph_components",
    "kg_graph_triads",
    "kg_graph_weighted_path",
    "kg_graph_truss",
    "kg_triple_pr",
    "kg_verbalize",
    "kg_graph_bridges",
    "kg_graph_clustering",
    "kg_random_walks",
    "kg_graph_assortativity",
    "kg_graph_eigenvector",
    "kg_graph_modularity",
    "kg_pred_functionality",
    "kg_entity_summary",
    "kg_rdf_ntriples",
    "kg_kge_hard_negatives",
    "kg_fact_sources",
    "kg_gnn_neighbor_sample",
    "kg_entity_subgraph",
    "kg_triple_pr_by_pred",
    "kg_graph_brokerage",
    "kg_graph_richclub",
    "kg_path_rules",
    "kg_graph_powerlaw",
    "kg_graph_degree_gini",
    "kg_link_predict_eval",
    "kg_graph_robustness",
    "kg_graph_random_robustness",
    # footer-schema rotation: the operators that read committed workdir
    # stages through pipeline/runner.py's read_stage (beyond ensure_graph's
    # nodes/edges, which every graph query shares) go first, so the driver
    # re-checks them this round.
    "kg_incremental_pred_counts",
    "kg_incremental_delete_counts",
    "kg_linking_tier_accuracy",
    "kg_alias_table",
    "kg_pred_drift",
    "kg_entity_lifespan",
    "kg_entity_churn",
    "kg_template_stats",
    "kg_search_expanded",
    "kg_graph_diff",
    # small-graph rotation: the operators whose driver-side leg runs
    # through queries/kernels.py's small_graph.
    "kg_graph_pagerank",
    "kg_graph_ppr",
    "kg_graph_hits",
    "kg_graph_scc",
    "kg_graph_bowtie",
    # graph-kernel rotation: every operator whose Spark path runs through
    # queries/kernels.py (or whose cached intermediates moved from
    # persist() to checkpoints).
    "kg_graph_closure",
    "kg_graph_call_chain",
    "kg_graph_label_prop",
    "kg_graph_katz",
    "kg_graph_lpa",
    "kg_graph_conductance",
    "kg_graph_closeness",
    "kg_graph_neighborhood",
    "kg_graph_anf_hll",
    "kg_pipeline_lineage",
    "kg_call_chain",
    "kg_closure_from_spark",
    # round-5 rotation (VERDICT r04 item 2): every name below lacks an
    # all-green driver CORRECTNESS row across r01-r04. Order: the new
    # round-5 query first, then the 66-name kg_* family (the oldest
    # uncovered family), then the remaining uncovered names by family.
    # The ~50-query sweep window walks this head; names already green
    # hold rows in CORRECTNESS_r01-r04.
    "kg_search_fuzzy",
    "kg_search_fuzzy_idx",
    "kg_search_stem",
    "kg_doc_entity_salience",
    "kg_graph_top_entities",
    "kg_graph_page_richness",
    "kg_graph_pred_stats",
    "kg_graph_fuzzy_names",
    "kg_graph_schema_summary",
    "kg_kge_train_pairs",
    "kg_conjunctive_star",
    "kg_entity_features",
    "kg_metapath_census",
    "kg_domain_graph",
    "kg_gnn_export",
    "kg_graph_edge_timeline",
    "kg_edge_confidence",
    "kg_fact_conflicts",
    "kg_transitive_reduction",
    "kg_type_check",
    "kg_qa_pairs",
    "kg_asof_facts",
    "kg_qa_2hop",
    "kg_shacl_lite",
    "kg_qa_unanswerable",
    "kg_graph_butterflies",
    "kg_anchor_texts",
    "kg_entity_hash_embed",
    "dedup_substr_spans",
    "dedup_substr_coverage",
    "sample_temperature",
    "part_supplier_counts",
    "returned_item_customers",
    "events_user_type_sets",
    "events_salted_enrich",
    "events_heavy_hitters",
    "events_json_props",
    "events_cms_topk",
    "events_quantile_sample",
    "curate_clf_score",
    "events_bloom_prune",
    "sample_dsir",
    "events_top_paths",
    "events_drift",
    "embed_outliers",
    "curate_rho",
    "text_diversity",
    "curate_canonical",
    "embed_label_separation",
    "curate_chunk",
    "events_hopping_counts",
    "text_complexity",
    "search_hard_negatives",
    "events_cohort_matrix",
    "events_distinct_hll",
    "text_novelty",
    "search_postings",
    "text_bpe_merges",
    "curate_leakage",
    "text_zipf",
    "curate_calibration",
    "embed_quantize",
    "events_scd2",
    "embed_drift",
    "search_fuzzy_eval",
    "events_abtest",
    "events_forecast_eval",
    "dedup_cluster_stats",
    "events_lag_features",
    "embed_binary_hamming",
    "events_bot_flag",
    "embed_ann_eval",
    "mm_caption_pairs",
    "events_rate_ci",
    "events_stickiness",
)


def _ordered(src: dict) -> dict:
    head = {n: src[n] for n in _SWEEP_FIRST if n in src}
    return head | {n: v for n, v in src.items() if n not in head}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _ordered(dict(SPARK_QUERIES))


def oracle_sql() -> dict[str, str]:
    return _ordered(dict(ORACLE_SQL))
