"""Registry of named queries: Spark plan + DuckDB oracle SQL.

Every operator the engine claims (SURVEY.md §2 inventory + the training-data
pipeline extensions) registers here as a ``CatalogQuery``: a callable
``(spark, sf_dir) -> DataFrame`` and, where SQL-expressible, an equivalent
ANSI-SQL string the driver runs on DuckDB over the same parquet tables.

Determinism contract (so value-hashes match across engines):
  * every computed column is aliased identically in both forms;
  * money/qty aggregates go through ``decimal`` so sums are exact and
    order-independent, then cast back to double (identical bits in both
    engines); see :func:`dec`;
  * all orderings are made total with explicit key tie-breakers;
  * no wall-clock, no RNG; any pseudo-randomness derives from md5 of data.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clueso_spark.functions.ordered import _PERSISTED, persist_swap  # noqa: F401


@dataclass
class CatalogQuery:
    name: str
    description: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL, or None -> driver does rows-only check
    tags: tuple[str, ...] = field(default=())
    #: optional domain guard for the oracle: some oracles replicate an
    #: adaptive algorithm at its small-corpus floor (e.g. the fixed
    #: hyperplane count in dedup_embedding_cosine) and are only valid
    #: while the Spark side's adaptive parameter sits on that floor.
    #: The parity harness calls this with sf_dir and falls back to a
    #: rows-only check when it returns False. The driver's gate runs at
    #: sf0.01, inside every registered oracle's domain.
    oracle_valid: Callable[[str], bool] | None = None
    #: optional sf-adaptive oracle builder for the LOCAL parity harness
    #: (round 15): when the registered fixed-floor oracle is out of
    #: domain at a corpus size, this builds the SAME oracle SQL at the
    #: parameter the Spark side derives for that sf_dir (e.g. the
    #: adaptive hyperplane count), so the adaptive branches -- the
    #: 100 TB-critical code paths -- hash-verify cross-engine instead
    #: of degrading to rows-only. Returns None when even the adaptive
    #: replica is out of domain. The driver contract is untouched: the
    #: driver still reads the registered `oracle` string at sf0.01.
    oracle_adaptive: Callable[[str], str | None] | None = None


REGISTRY: dict[str, CatalogQuery] = {}


def register(
    name: str,
    description: str,
    oracle: str | None,
    *tags: str,
    oracle_valid: Callable[[str], bool] | None = None,
    oracle_adaptive: Callable[[str], str | None] | None = None,
):
    """Decorator: register a (spark, sf_dir) -> DataFrame callable."""

    def wrap(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = CatalogQuery(
            name, description, fn, oracle, tuple(tags), oracle_valid,
            oracle_adaptive,
        )
        return fn

    return wrap


#: every module contributing CatalogQuery registrations. all_queries()
#: orders the names outside PRIORITY by their module's position here
#: (then by definition order inside the module), so the catalog order
#: does not depend on which module happened to be imported first. A
#: tier that is not yet driver-verified registers with the tag
#: ``"staged"``: it is importable and testable, but all_queries()
#: leaves it out until the tag is deleted.
QUERY_MODULES = [
    "clueso_spark.plans.dedup_queries",
    "clueso_spark.plans.similarity_queries",
    "clueso_spark.plans.relational",
    "clueso_spark.plans.event_queries",
    "clueso_spark.plans.text_queries",
    "clueso_spark.plans.multimodal_queries",
    "clueso_spark.plans.streaming_queries",
    "clueso_spark.plans.staged_r6",
    "clueso_spark.plans.staged_r8",
    "clueso_spark.plans.staged_r9",
    "clueso_spark.plans.staged_r10",
    "clueso_spark.plans.staged_r11",
    "clueso_spark.plans.staged_r12",
    "clueso_spark.plans.staged_r13",
    "clueso_spark.plans.staged_r14",
    "clueso_spark.plans.staged_r15",
    "clueso_spark.plans.staged_r16",
]

#: Explicit verification priority. The driver's CORRECTNESS gate covers a
#: bounded prefix of the registry (50 queries per round), so ordering is
#: part of the contract. Round-15 rotation, executing the standing policy
#: ("promote (a) never-driver-verified names, (b) anything whose code
#: changed, then (c) the entries whose last driver row is OLDEST,
#: demoting the freshest greens"):
#: (1) the 46 r10-green queries round 14 documented as
#: ROTATION_LEFTOVERS -- they sit exactly AT the round-15 freshness
#: horizon (r10 green, horizon r15-4 = 11 after this round lands) and
#: are the MANDATORY refresh cohort (tools/rotation_plan.py derives
#: the same set mechanically). This head also discharges the round-14
#: CHANGED_AWAITING_REFRESH obligation: the five stateful streaming
#: queries whose code changed in round 14 (input-sized state
#: partitions) all sit in this cohort, so the driver re-verifies the
#: changed code here without a promotion slot spent;
#: (2) the 4 promoted staged_r15 queries -- registered this round, so
#: never driver-verified; pytest-proven against their DuckDB oracles
#: at sf0.001 + sf0.01 (tests/test_staged_r15.py) but the driver row
#: is the claim that counts -- heavier-first by the pre-promotion
#: best-of-2 sf0.1 timing run RECORDED IN ROUND13_NOTES
#: ("Pre-promotion staged-op timing run": randomwalk corpus 7.39 s,
#: BPE merge steps 4.97 s, vocab coverage 0.53 s, lateness audit
#: 0.49 s); later full-bench runs reorder neighbors within noise, the
#: recorded run is the contract.
#: Window math: 46 + 4 = 50 -- zero pure-refresh slots and ZERO new
#: deferrals (DEFERRED_PROMOTIONS stays empty; full-catalog driver
#: coverage, reached in round 13, is preserved).
#: The 49-name r11 cohort legally defers (4 rounds behind at commit
#: time is the horizon; it sits 4 behind AFTER this round lands, i.e.
#: exactly AT the horizon) and is pre-ordered immediately after the
#: boundary as round 16's mandatory head. With 249 registered queries
#: the refresh cycle stays ceil(249/50) = 5 rounds
#: (tests/test_entry.py re-derives the constant from the live
#: registry).
PRIORITY = [
    # (1) the 46 r10 greens AT the freshness horizon -- mandatory
    # (includes the five round-14 changed-code stateful queries)
    "agg_approx_count_distinct",
    "agg_chi2_independence",
    "agg_hll_partial_merge",
    "agg_ks_two_sample",
    "agg_mode_exact",
    "agg_welch_ttest",
    "ev_asof_last_purchase",
    "ev_bounce_rate_sessions",
    "ev_funnel_conversion",
    "ev_funnel_time_percentiles",
    "ev_gap_fill_forward",
    "ev_inter_event_histogram",
    "ev_lorenz_power_users",
    "ev_retention_cohorts",
    "ev_sessionize",
    "ev_skew_salted_agg",
    "graph_node_similarity",
    "join_lateral_top2_per_order",
    "mm_fixed_shape_features",
    "mm_frame_sample",
    "pipeline_ccnet_buckets",
    "pipeline_dedup_keep_best",
    "pipeline_doc_chunking",
    "pipeline_length_filter_curve",
    "pipeline_token_budget_mix",
    "pipeline_train_test_split",
    "profile_lineitem",
    "q15_top_supplier",
    "q22_global_sales_opportunity",
    "setop_except_all_multiset",
    "sim_ann_recall_at_k",
    "sim_ivf_cells",
    "sim_ivf_kmeans_ann",
    "sim_kmeans_lloyd",
    "sim_pq_codes",
    "sim_residual_norms",
    "sort_limit_top_orders",
    "st_dedup_replay",
    "st_session_windows",
    "st_stream_stream_join",
    "st_windowed_counts",
    "st_windowed_topk",
    "subquery_correlated_scalar",
    "txt_gopher_quality_rules",
    "txt_quality_classifier_proxy",
    "window_nth_value_frames",
    # (2) promoted this round -- never driver-verified; heavier-first
    # by measured sf0.1 time (best-of-2, quiet box; ROUND13_NOTES)
    "graph_randomwalk_corpus",
    "txt_bpe_merge_steps",
    "txt_vocab_coverage_oov",
    "ev_lateness_audit",
    # --- window boundary (50) ----------------------------------------
    # round-16 head: the 49 r11 greens (the cohort AT the horizon next
    # round), then the remainder in registration order
    "agg_equidepth_histogram",
    "agg_kmv_distinct",
    "agg_mann_whitney",
    "agg_pivot_shipmode",
    "dedup_connected_components",
    "dedup_containment",
    "dedup_embedding_cosine",
    "dedup_exact_substring",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_ngram_jaccard_pairs",
    "dedup_semantic",
    "dedup_threshold_curve",
    "dedup_winnowing",
    "ev_cumulative_distinct_users",
    "ev_ewma_smoothed",
    "ev_result_projection",
    "ev_rfm_segmentation",
    "ev_sweepline_active_intervals",
    "ev_top_paths",
    "ev_user_value_anomalies",
    "graph_katz_centrality",
    "graph_label_propagation",
    "graph_pagerank_copurchase",
    "graph_shortest_paths",
    "graph_triangle_count",
    "mm_cdc_chunking",
    "mm_cdc_dedup",
    "mm_phash_hamming_dedup",
    "pipeline_contamination_check",
    "pipeline_curated_corpus",
    "pipeline_dedup_cluster_stats",
    "pipeline_pretraining_funnel",
    "sim_sq_int8_ann",
    "st_stateful_latest",
    "txt_bigram_perplexity",
    "txt_char_entropy",
    "txt_cms_heavy_hitters",
    "txt_cooccurrence_pmi",
    "txt_lang_stats",
    "txt_langid_heuristic",
    "txt_lexical_diversity",
    "txt_quality_score",
    "txt_rake_keywords",
    "txt_tf_df_top_terms",
    "txt_token_stats",
    "txt_top_bigrams",
    "txt_zipf_slope",
    "window_rolling_median",
]


def _import_all() -> None:
    import importlib

    # imports are deferred so a SparkSession is never needed at import time
    for mod in QUERY_MODULES:
        importlib.import_module(mod)


def all_queries() -> dict[str, CatalogQuery]:
    """Import all query modules and return the registry in verification
    priority order (see PRIORITY) -- prioritized names first, then the
    remainder by module (QUERY_MODULES order), in definition order
    within a module. ``"staged"``-tagged entries are left out."""
    _import_all()
    live = {n: cq for n, cq in REGISTRY.items() if "staged" not in cq.tags}
    ordered = {n: live[n] for n in PRIORITY if n in live}
    rest = sorted(
        (n for n in live if n not in ordered),
        key=lambda n: QUERY_MODULES.index(live[n].spark.__module__),
    )
    ordered.update({n: live[n] for n in rest})
    return ordered


def staged_queries() -> dict[str, CatalogQuery]:
    """The ``"staged"``-tagged entries all_queries() leaves out."""
    _import_all()
    return {n: cq for n, cq in REGISTRY.items() if "staged" in cq.tags}


def release_persisted(spark: SparkSession) -> None:
    """Unpersist every slot this session pinned. Bench/parity
    hygiene: in a long multi-query session the accumulated slots of
    prior queries compete with the current query's working set for
    unified storage memory, turning cache eviction churn into measured
    query time (the r7 driver-bench funnel blowup's suspected
    mechanism). Queries re-persist what they need on the next call, so
    releasing between queries costs nothing but the recompute each
    query already pays on its own first run."""
    slots = _PERSISTED.get(spark)
    if slots:
        for df in slots.values():
            df.unpersist()
        slots.clear()


def dec(col: str | F.Column, width: int = 12, scale: int = 2) -> F.Column:
    """Exact-arithmetic bridge: cast a 2-decimal double to decimal so sums
    are order-independent and reproducible bit-for-bit across engines."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({width},{scale})")
