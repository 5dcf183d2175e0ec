"""Physical-plan shape checks for the catalog queries at sf0.001.

These pin the *scale* properties the 100 TB design depends on, not just
row values: dimension joins broadcast, candidate generation is keyed (no
CartesianProduct), filters reach the parquet scan.
"""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def registry():
    from clueso_spark.plans.catalog import all_queries

    return all_queries()


def test_q5_broadcasts_dimensions(spark, registry):
    plan = plan_of(registry["q5_local_supplier_volume"].spark(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    # the big fact join must NOT be a nested-loop product
    assert "CartesianProduct" not in plan


def test_minhash_lsh_has_no_cartesian_product(spark, registry):
    plan = plan_of(registry["dedup_minhash_lsh"].spark(spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_ngram_jaccard_join_is_keyed(spark, registry):
    plan = plan_of(registry["dedup_ngram_jaccard"].spark(spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan


def test_bruteforce_topk_broadcasts_probes(spark, registry):
    # probes x corpus is the one sanctioned nested-loop: probes broadcast
    plan = plan_of(registry["sim_bruteforce_topk"].spark(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_q1_pushes_filter_and_prunes_columns(spark, registry):
    plan = plan_of(registry["q1_pricing_summary"].spark(spark, SF_DIR))
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan or "LessThanOrEqual(l_shipdate" in plan, plan
    # only the 7 needed columns are read, not the full 11-column schema
    assert "l_comment" not in plan
    assert "l_orderkey" not in plan.split("ReadSchema")[1].split("\n")[0]


def test_sort_limit_is_top_k(spark, registry):
    plan = plan_of(registry["sort_limit_top_orders"].spark(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan


def test_latest_state_single_shuffle(spark, registry):
    plan = plan_of(registry["ev_latest_state"].spark(spark, SF_DIR))
    # one exchange for the window partitioning, nothing else
    assert plan.count("Exchange") <= 2, plan


def test_no_query_has_unsanctioned_cartesian_product(spark, registry):
    """Catalog-wide safety net: no query may contain a CartesianProduct,
    and nested-loop joins are allowed only where a small probe/dim side is
    broadcast by design (ANN probes, IVF centroid assignment)."""
    # sanctioned: K probes / K centroids broadcast against the corpus in
    # one pass (the NLJ is K x corpus with a tiny broadcast side, not an
    # all-pairs corpus square)
    sanctioned_bnlj = {
        "sim_bruteforce_topk",
        "sim_lsh_ann",
        "sim_ivf_cells",
        "sim_kmeans_lloyd",
        "sim_ann_recall_at_k",  # composes the two sanctioned ANN queries
        "sim_ivf_kmeans_ann",  # Lloyd assign + probe routing broadcast K centroids
        "sim_ivfpq_ann",  # same Lloyd assign; ADC join itself is keyed
        "sim_ivfpq_rerank",  # composes ivfpq_ann + the brute-force baseline
        "pipeline_mixture_reweight",  # 1-row global-min broadcast onto 20 sources
        "dedup_semantic",  # same Lloyd assign: K centroids broadcast
        "pipeline_stratified_sample",  # 1-row min-stratum broadcast onto 5 langs
        "q22_global_sales_opportunity",  # 1-row avg-balance broadcast
        "graph_pagerank_copurchase",  # 1-row node-count broadcast per round
        "sim_sq_int8_ann",  # probes + 1-row min/max range broadcast
        "sim_matryoshka_recall",  # per-dim probe lists broadcast
        "txt_perplexity_proxy",  # 1-row total-token scalar broadcast
        "txt_tfidf_topk_similar",  # 1-row corpus size + probe postings broadcast
        "graph_triangle_count",  # three 1-row stat scalars broadcast at the end
        "mm_payload_dedup",  # four 1-row funnel counters broadcast
        "agg_hll_partial_merge",  # 1-row global exact-count broadcast
        "sim_ivf_nprobe_curve",  # K centroids + probe fanout broadcast
        "sim_mmr_rerank",  # probes broadcast for the shortlist build
        "pipeline_pretraining_funnel",  # 1-row LM-total + min-stratum broadcasts
        # round-6 promoted tier (formerly test_staged_r6._SANCTIONED_BNLJ)
        "pipeline_length_filter_curve",  # 7-row literal ladder broadcast
        "pipeline_token_budget_mix",  # 1-row corpus-totals broadcast
        "pipeline_ccnet_buckets",  # 1-row LM-total scalar broadcast
        "ev_rfm_segmentation",  # 1-row max-date + 1-row user-count broadcasts
        "txt_bigram_perplexity",  # 1-row bigram-total scalar broadcast
        # round-8 promoted tier
        "graph_assoc_rules",  # 1-row basket-count scalar broadcast (lift)
        "txt_cooccurrence_pmi",  # 1-row doc-count scalar broadcast (PMI)
        "ev_decile_lift",  # 1-row user-count broadcast for ranged ntile
        # round-9 promoted tier (formerly test_staged_r9's sanction list)
        "txt_bm25_topk",  # 1-row corpus-totals broadcast x2
        # 20x20 source-pair inequality join (both sides ~|sources| rows;
        # the corpus-sized signature joins are broadcast equi-joins)
        "sim_source_jaccard_bottomk",
        # round-10 promoted tier (formerly test_staged_r10's sanction
        # list): 1-row totals / boundary relations broadcast against
        # histogram-sized frames, never the corpus
        "agg_welch_ttest",  # 1x1 power-sum cross join
        "agg_ks_two_sample",  # 1-row totals + 1-row max broadcast
        "agg_chi2_independence",  # 1-row grand-total broadcast
        "ev_funnel_time_percentiles",  # 1-row total broadcast
        "ev_lorenz_power_users",  # 1-row totals + 10-row decile ladder
        # round-11 promoted tier (formerly test_staged_r11's sanction
        # list)
        "agg_equidepth_histogram",  # 1-row total-count broadcast (ntile ranks)
        "agg_kmv_distinct",  # 1-row exact-count x 1-row sketch summary
        # round-12 promoted tier (formerly test_staged_r12's sanction
        # list): 1-row totals / bucket-count-sized frames broadcast,
        # never the corpus
        "agg_hdr_quantile_merge",  # 3-row quantile spec x sketch frames
        "agg_kl_divergence_drift",  # 1-row cohort-totals broadcast
        "graph_kcore_decomposition",  # per-round 1-row count cross joins
        "txt_textrank_keywords",  # 1-row vertex-count broadcast per round
        "dedup_lsh_relative_recall",  # three 1-row counter frames per family
        "graph_modularity_communities",  # 1-row edge-count broadcast
        "ev_bitmap_retention",  # 1-row corpus-min-day broadcast
        # round-13 promoted tier (formerly test_staged_r13's sanction
        # list): 5 probes x ~10-cell centroid relation (both sides
        # bounded; the corpus is touched by broadcast-HASH joins on
        # cell/tenant)
        "sim_filtered_ann",
        # round-14 promoted tier (formerly test_staged_r14's sanction
        # list): the similarity tier's standard 5-probe broadcast
        # against one corpus scan -- K x corpus with a tiny broadcast
        # side, not an all-pairs square
        "sim_colbert_maxsim",
        "sim_rrf_fusion",  # both arms: 5 probes / probe word lists broadcast
        # round-15 promoted tier (formerly test_staged_r15's sanction
        # list): per merge round the 1-row top-pair frame crossJoins
        # (broadcast) onto the corpus -- the catalog's standard 1-row
        # scalar broadcast shape
        "txt_bpe_merge_steps",
    }
    offenders = {}
    for name, cq in registry.items():
        if name.startswith("st_"):
            continue  # streaming queries execute on build; shape pinned elsewhere
        # fresh shapes: a cached subtree from an earlier query could HIDE
        # a BNLJ inside an InMemoryRelation (or surface a different one)
        spark.catalog.clearCache()
        plan = plan_of(cq.spark(spark, SF_DIR))
        if "CartesianProduct" in plan:
            offenders[name] = "CartesianProduct"
        elif "BroadcastNestedLoopJoin" in plan and name not in sanctioned_bnlj:
            offenders[name] = "BroadcastNestedLoopJoin"
    assert not offenders, offenders


def test_no_hash_fold_reevaluated_in_inferred_filters(spark, registry):
    """Round-12 profiling finding, pinned catalog-wide: exploding an
    expensive computed array (a minhash/md5 fold) makes Generate infer
    `size(col) > 0`, and predicate pushdown rewrites that onto the
    FULL fold expression. When the rewritten filter stays inside the
    projection's whole-stage span, common-subexpression elimination
    dedups it (harmless); when it crosses an exchange or cache
    boundary it becomes a second full evaluation of every signature
    (dedup_minhash_index_delta measured 4.3s -> 1.3s at sf0.1 once a
    cache boundary pinned the fold). This scans every optimized plan
    for an md5-bearing fold inside a Filter node -- the smell in
    either form -- so the next query written with the pattern fails
    here instead of shipping the 2x."""
    offenders = {}
    for name, cq in registry.items():
        if name.startswith("st_"):
            continue
        spark.catalog.clearCache()
        plan = (
            cq.spark(spark, SF_DIR)
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        for line in plan.splitlines():
            ls = line.strip()
            if (
                ls.startswith("Filter ")
                and "md5" in ls
                and "aggregate(" in ls
            ):
                offenders[name] = ls[:160]
                break
    assert not offenders, offenders


def test_q6_pushes_all_filters_to_scan(spark, registry):
    """Q6 is the pushdown flagship: every predicate (timestamp bounds,
    discount range, quantity cut) must reach the parquet scan so 100 TB
    execution is row-group skipping, not post-scan filtering."""
    plan = plan_of(registry["q6_forecast_revenue"].spark(spark, SF_DIR))
    pushed = plan.split("PushedFilters: ")[1].split("]")[0]
    for frag in (
        "GreaterThanOrEqual(l_shipdate",
        "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount,0.05",
        "LessThanOrEqual(l_discount,0.07",
        "LessThan(l_quantity,24",
    ):
        assert frag in pushed, f"{frag} missing from {pushed}"


def test_unpivot_is_single_expand_pass(spark, registry):
    """UNPIVOT must compile to one Expand over one scan -- 4x rows from
    one read, not four scans of lineitem."""
    import re

    plan = plan_of(registry["unpivot_lineitem_measures"].spark(spark, SF_DIR))
    assert plan.count("Expand") >= 1, plan
    # formatted explain prints each node twice (tree + detail); count the
    # numbered detail headers, one per distinct scan
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", plan))
    assert n_scans == 1, plan


def test_search_path_prunes_nested_message_fields(spark, store):
    """The search scan must read only the message subfields the result
    projection + predicate touch (nested schema pruning), and push the
    master-key filter down -- at 100 TB this is the difference between
    reading 8 columns and deserializing every 23-field struct."""
    from clueso_spark.operators.query import MetadataQuery, MetadataQueryExecutor
    from clueso_spark.streaming.ingest import parse_events
    from tests.conftest import op, put_doc, raw_df, wire_event

    lines = [
        wire_event(op(i), "put", "pbkt", f"k{i:03d}", put_doc(f"k{i:03d}", "pbkt"))
        for i in range(1, 6)
    ]
    store.write_landing(parse_events(raw_df(spark, lines)))
    ex = MetadataQueryExecutor(spark, store)
    df = ex.execute(MetadataQuery("pbkt", "userMd.`x-amz-meta-food` = 'pizza'"))
    plan = plan_of(df)
    read_schema = plan.split("ReadSchema: ")[1].split("\n")[0]
    # pruned: fields the query never touches must not be scanned
    for absent in ("acl", "location", "replicationInfo", "isDeleteMarker"):
        assert absent not in read_schema, read_schema
    # present: the predicate + result columns survive pruning
    for present in ("userMd", "content-md5", "owner-id"):
        assert present in read_schema, read_schema
    # master-only listing filter reaches the scan
    assert "StringContains(key," in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_embedding_cosine_banded_join_is_keyed(spark, registry):
    """Banded hyperplane LSH: candidates must come from a keyed
    aggregation on (band, bucket), never a vector-side product."""
    plan = plan_of(registry["dedup_embedding_cosine"].spark(spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_isin_subpartitions_range_bound_pushed(spark, registry):
    """P14 over the flat events table: the coarse range bound equivalent
    to the subpartition isin must reach the parquet scan (the exact isin
    on the derived column is the residual)."""
    plan = plan_of(registry["ev_isin_subpartitions"].spark(spark, SF_DIR))
    pushed = plan.split("PushedFilters: ")[1].split("]")[0]
    assert "LessThan(event_id" in pushed, pushed


def test_store_subpartition_isin_prunes_partitions(spark, store):
    """P14 on the real store layout: maxOpIndex is a partition column, so
    the compactor's isin must appear as a PartitionFilter (directory
    pruning at planning time), not a data filter."""
    from clueso_spark.streaming.ingest import parse_events
    from tests.conftest import op, put_doc, raw_df, wire_event

    lines = [
        wire_event(op(i), "put", "ppb", f"k{i:03d}", put_doc(f"k{i:03d}", "ppb"))
        for i in range(1, 25)
    ]
    store.write_landing(parse_events(raw_df(spark, lines), compaction_record_interval=10))
    df = store.read_landing_sub_partitions("ppb", [10, 20])
    plan = plan_of(df)
    pf = plan.split("PartitionFilters: ")[1].split("\n")[0]
    assert "maxOpIndex" in pf and ("IN" in pf.upper() or "in(" in pf), pf


def test_exchange_budgets_hold(spark, registry):
    """Shuffle-regression pin: no catalog query's plan may grow more
    exchanges or scans than the budget recorded by
    `tools/plan_audit.py --write`. A refactor that silently introduces
    an extra shuffle (the dominant cost at 100 TB) fails here, not in a
    bench number three rounds later."""
    import json
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from tools.plan_audit import BUDGET_PATH, plan_metrics

    with open(BUDGET_PATH) as f:
        budgets = json.load(f)
    # budgets are recorded with AQE off (AdaptiveSparkPlan renames and
    # hides nodes); compare like-for-like, then restore
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        over = {}
        for name, cq in registry.items():
            if name.startswith("st_") or name not in budgets:
                continue
            # budgets record FRESH plan shapes: clear the cache so an
            # earlier test's persisted subtree can't be substituted as an
            # InMemoryRelation (plan metrics would become order-dependent)
            spark.catalog.clearCache()
            plan = plan_of(cq.spark(spark, SF_DIR))
            m = plan_metrics(plan)
            b = budgets[name]
            if m["exchanges"] > b["exchanges"] or m["scans"] > b["scans"]:
                over[name] = {"now": m, "budget": b}
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert not over, over


def test_graph_node_encoding_shared_and_collision_free():
    """Round-11 regression pin: every bipartite co-purchase graph op
    encodes supplier nodes at ONE shared offset, and that offset clears
    any plausible custkey. The original 1e6 offset merged customer and
    supplier nodes from SF ~7 (custkey cardinality = 150k x SF) --
    wrong graphs at target scale, invisible to small-SF parity because
    the oracles share the encoding."""
    from clueso_spark.plans.relational import SUPP_BASE

    assert SUPP_BASE == 10**12
    # headroom: even an SF-1M deployment (150 B customers) cannot reach
    # the supplier id range
    assert 150_000 * 1_000_000 < SUPP_BASE
