"""Invariant (law) tests for the round-11 staged tier (staged_r12.py).

The parity gate (test_staged_r12.py) proves each staged query equals
its DuckDB oracle; these pin the *mathematical laws* the results must
obey regardless of corpus. One collect per op at sf0.001 via the
module fixture."""

from __future__ import annotations

import pytest

from clueso_spark.plans.staged_r12 import (
    _AA_TOP,
    _TR_TOP,
)
from tests.conftest import registered_by

QUERIES = registered_by("clueso_spark.plans.staged_r12")

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def rows(spark):
    """name -> collected rows at sf0.001 (one Spark run per op)."""
    return {name: cq.spark(spark, SF).collect() for name, cq in QUERIES.items()}


def test_hdr_quantiles_are_monotone(rows):
    """Higher percentiles cannot answer lower buckets or lower exact
    values."""
    out = sorted(rows["agg_hdr_quantile_merge"], key=lambda r: r["pct"])
    for a, b in zip(out, out[1:]):
        assert b["bucket"] >= a["bucket"]
        assert b["exact_cents"] >= a["exact_cents"]
    for r in out:
        assert r["est_low"] == 2 ** r["bucket"]
        assert r["est_high"] == 2 ** (r["bucket"] + 1) - 1


def test_cms_overcount_never_negative(rows):
    for r in rows["agg_cms_partial_merge"]:
        assert r["ge_truth"] == 1
        assert r["cms_estimate"] == r["true_cnt"] + r["overcount"]


def test_kl_self_cohorts_nonnegativity_shape(rows):
    """Gibbs' inequality holds for the integer-scaled sum up to
    rounding: the 1e-6-scaled numerator can dip below zero only by the
    accumulated rounding slack (< 1 unit per term)."""
    r = rows["agg_kl_divergence_drift"][0]
    assert r["kl_num_scaled"] >= -r["n_types"] * r["p_mass"]
    assert r["kl_scaled"] == r["kl_num_scaled"] // r["p_mass"]


def test_index_delta_accounting_identity(rows):
    for r in rows["dedup_minhash_index_delta"]:
        assert r["n_after"] == r["n_before"] - r["n_deleted"] + r["n_added"]
        assert r["matches_rebuild"] == 1
        assert r["n_probe_candidates"] >= 0


def test_kcore_fixpoint_detection(rows):
    """If two consecutive rounds agree, the third must too (peeling is
    a monotone operator on the survivor set)."""
    out = sorted(rows["graph_kcore_decomposition"], key=lambda r: r["round"])
    if (out[0]["n_nodes"], out[0]["n_edges"]) == (
        out[1]["n_nodes"],
        out[1]["n_edges"],
    ):
        assert (out[1]["n_nodes"], out[1]["n_edges"]) == (
            out[2]["n_nodes"],
            out[2]["n_edges"],
        )


def test_adamic_adar_ranks_are_dense_and_ordered(rows):
    out = sorted(rows["graph_adamic_adar_linkpred"], key=lambda r: r["rk"])
    assert [r["rk"] for r in out] == list(range(1, len(out) + 1))
    assert len(out) <= _AA_TOP
    keys = [(-r["aa_scaled"], r["pa"], r["pb"]) for r in out]
    assert keys == sorted(keys)
    for r in out:
        assert r["pa"] < r["pb"]
        assert r["aa_scaled"] > 0


def test_textrank_ranks_are_dense_and_ordered(rows):
    out = sorted(rows["txt_textrank_keywords"], key=lambda r: r["rk"])
    assert [r["rk"] for r in out] == list(range(1, len(out) + 1))
    assert len(out) <= _TR_TOP
    keys = [(-r["rank_scaled"], r["word"]) for r in out]
    assert keys == sorted(keys)


def test_chunk_gc_partitions_the_chunk_set(rows):
    r = rows["mm_chunk_gc_accounting"][0]
    assert r["n_live"] + r["n_dead"] == r["n_distinct_chunks"]
    assert 0 <= r["blocks_shared_retained"]
    assert 0 <= r["blocks_reclaimed"]


def test_dataset_card_internal_consistency(rows):
    for r in rows["pipeline_dataset_card"]:
        assert 0 <= r["n_dup_rows"] < r["n_docs"]
        assert r["top_lang_docs"] <= r["n_docs"]
        assert r["n_langs"] >= 1
        # doubled median of lengths is between 2*min and 2*max, and
        # total_chars bounds it from above via the mean relation
        assert r["median2_chars"] >= 2
        assert r["median2_chars"] <= 2 * r["total_chars"]


def test_seasonal_median_is_attainable(rows):
    """med2 is a sum of two attained daily counts: between 2 and
    2*max; deviants never exceed day count."""
    for r in rows["ev_seasonal_dow_deviation"]:
        assert r["median2_daily"] >= 2
        assert 0 <= r["n_deviant"] <= r["n_days"]


def test_asof_and_interval_cover_all_users(rows, spark):
    """Every purchase appears exactly once in the as-of output; every
    user with events appears exactly once in the union output."""
    from clueso_spark.sources.tables import load_table

    ev = load_table(spark, SF, "events")
    n_purch = ev.where("event_type = 'purchase'").count()
    assert len(rows["ev_asof_tolerance_join"]) == n_purch
    n_users = ev.select("user_id").distinct().count()
    out = rows["ev_interval_union_length"]
    assert len(out) == n_users
    assert len({r["user_id"] for r in out}) == n_users


def test_range_bucketed_counts_bounded_by_signups(rows, spark):
    """No error event can see more open windows than there are
    signups; every error event appears exactly once."""
    from clueso_spark.sources.tables import load_table

    ev = load_table(spark, SF, "events")
    n_sign = ev.where("event_type = 'signup'").count()
    n_err = ev.where("event_type = 'error'").count()
    out = rows["join_range_bucketed_global"]
    assert len(out) == n_err
    assert all(0 <= r["n_open_windows"] <= n_sign for r in out)


def test_relative_recall_laws(rows):
    """Pooling laws: verified <= candidates, verified <= pooled union,
    scaled ratios in [0, 1e6], and the two families share one union."""
    out = {r["family"]: r for r in rows["dedup_lsh_relative_recall"]}
    assert set(out) == {"A", "B"}
    union = {out[f]["n_union_verified"] for f in out}
    assert len(union) == 1
    for r in out.values():
        assert 0 <= r["n_verified"] <= r["n_candidates"]
        assert r["n_verified"] <= r["n_union_verified"]
        assert 0 <= r["recall_rel_scaled"] <= 1_000_000
        assert 0 <= r["precision_scaled"] <= 1_000_000
    # the pool is the union of the two families' verified sets: at
    # least one family must reach every pooled pair it contributed
    assert (
        out["A"]["n_verified"] + out["B"]["n_verified"]
        >= out["A"]["n_union_verified"]
    )


def test_modularity_is_bounded(rows):
    """Q in [-1/2, 1) always; the integer numerator respects the same
    bound against 4m^2, and the double is the exact quotient."""
    r = rows["graph_modularity_communities"][0]
    denom = 4 * r["m"] * r["m"]
    assert -denom // 2 <= r["q_num"] < denom
    assert r["q"] == r["q_num"] / denom
    assert r["n_communities"] >= 1
