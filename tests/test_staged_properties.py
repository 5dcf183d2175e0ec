"""Invariant (law) tests for the round-6 staged tier.

The parity gate (test_staged_r6.py) proves each staged query equals its
DuckDB oracle; these tests pin the *mathematical laws* the results must
obey regardless of corpus -- the second line of defense the rest of the
catalog gets from test_properties.py. One collect per op at sf0.001.
"""

from __future__ import annotations

import math

import pytest

from clueso_spark.plans.staged_r6 import (
    _CONT_TAU,
    _INCR_TAU,
    _RANGE_TAU,
    _TOPK_K,
    KNN_K,
)
from tests.conftest import registered_by

QUERIES = registered_by("clueso_spark.plans.staged_r6")

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def rows(spark):
    """name -> collected rows at sf0.001 (one Spark run per op)."""
    return {name: cq.spark(spark, SF).collect() for name, cq in QUERIES.items()}


def test_containment_dominates_jaccard(rows):
    """|A∩B|/min >= |A∩B|/|A∪B| always; both bounded by 1; threshold
    respected."""
    for r in rows["dedup_containment"]:
        assert _CONT_TAU <= r["containment"] <= 1.0 + 1e-9
        assert r["jaccard"] <= r["containment"] + 1e-9
        assert r["doc_a"] < r["doc_b"]


def test_char_entropy_bounds(rows):
    """Shannon entropy over a 28-symbol alphabet lies in [0, log2 28];
    the double column is exactly the scaled bigint / 1e6."""
    hi = math.log2(28) + 1e-6
    for r in rows["txt_char_entropy"]:
        assert -1e-6 <= r["entropy"] <= hi
        assert r["entropy"] == pytest.approx(r["entropy_scaled"] / 1e6)


def test_knn_ranks_are_dense_and_ordered(rows):
    by_vec: dict = {}
    for r in rows["sim_knn_join"]:
        by_vec.setdefault(r["vec_id"], []).append(r)
    for vec_id, rs in by_vec.items():
        rs.sort(key=lambda r: r["rk"])
        assert [r["rk"] for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= KNN_K
        cosines = [r["cosine"] for r in rs]
        assert cosines == sorted(cosines, reverse=True)
        assert all(c <= 1.0 + 1e-6 for c in cosines)
        assert all(r["neighbor_id"] != vec_id for r in rs)


def test_range_search_radius_respected(rows):
    for r in rows["sim_range_search"]:
        assert r["n_neighbors"] >= 1
        assert _RANGE_TAU <= r["max_cosine"] <= 1.0 + 1e-6


def test_keep_best_conservation(spark, rows):
    """Per source kept + dropped = docs; globally, kept rows = distinct
    normalized fingerprints (each cluster keeps exactly one)."""
    from pyspark.sql import functions as F

    from clueso_spark.sources.tables import load_table

    out = rows["pipeline_dedup_keep_best"]
    for r in out:
        assert r["n_kept"] + r["n_dropped"] == r["n_docs"]
    docs = load_table(spark, SF, "documents")
    n_docs = docs.count()
    n_fp = docs.select(
        F.md5(F.lower(F.trim(F.col("text")))).alias("fp")
    ).distinct().count()
    assert sum(r["n_docs"] for r in out) == n_docs
    assert sum(r["n_kept"] for r in out) == n_fp


def test_rfm_cells_partition_users(spark, rows):
    from pyspark.sql import functions as F

    from clueso_spark.sources.tables import load_table

    out = rows["ev_rfm_segmentation"]
    for r in out:
        assert 1 <= r["r_q"] <= 5 and 1 <= r["f_q"] <= 5 and 1 <= r["m_q"] <= 5
        assert r["n_users"] >= 1
    n_users = (
        load_table(spark, SF, "events")
        .where(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
        .count()
    )
    assert sum(r["n_users"] for r in out) == n_users


def test_windowed_topk_laws(rows):
    by_win: dict = {}
    for r in rows["st_windowed_topk"]:
        by_win.setdefault(r["window_start"], []).append(r)
    for rs in by_win.values():
        rs.sort(key=lambda r: r["rk"])
        assert [r["rk"] for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= _TOPK_K
        counts = [r["n_events"] for r in rs]
        assert counts == sorted(counts, reverse=True)


def test_incremental_probe_direction(rows):
    """Every emitted row is a NEW doc (hash pct >= 80) matched to an
    INDEX doc (pct < 80) at or above the verification bar."""
    import hashlib

    def pct(doc_id: int) -> int:
        h = hashlib.md5(str(doc_id).encode()).hexdigest()
        return int(h[:8], 16) % 100

    for r in rows["dedup_incremental_minhash"]:
        assert pct(r["doc_id"]) >= 80, r
        assert pct(r["best_match_id"]) < 80, r
        assert r["best_jaccard"] >= _INCR_TAU - 1e-9
        assert r["n_index_matches"] >= 1


def test_lexical_diversity_bounds(rows):
    for r in rows["txt_lexical_diversity"]:
        assert r["n_types"] <= r["n_tokens"]
        assert 0.0 < r["corpus_ttr"] <= 1.0
        assert 0 < r["mean_doc_ttr_scaled"] <= 1_000_000


def test_token_budget_respects_caps(rows):
    from clueso_spark.plans.staged_r6 import _MIX_MAX_EPOCHS

    out = rows["pipeline_token_budget_mix"]
    for r in out:
        assert r["capped_tokens"] <= r["alloc_tokens"]
        assert r["capped_tokens"] <= _MIX_MAX_EPOCHS * r["tok_s"]
        assert 0.0 <= r["epochs"] <= _MIX_MAX_EPOCHS + 1e-9
    # the allocation never over-spends the budget (sum of uncapped
    # allocations <= budget by integer-division rounding-down)
    total_alloc = sum(r["alloc_tokens"] for r in out)
    budget = sum(r["tok_s"] for r in out) // 2
    assert total_alloc <= budget
