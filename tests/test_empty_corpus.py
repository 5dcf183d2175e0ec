"""Empty-corpus regression guard for the live catalog.

The full sweep is tools/empty_sweep.py (the whole registry, ~7 min); this
test pins the queries the round-9 sweep actually caught plus one
representative per ratio-bearing family, so the DIVIDE_BY_ZERO class
of regression fails fast in the default suite."""

from __future__ import annotations

import pytest


#: the two round-9 crashers + one ratio-bearing representative per tier
GUARDED = [
    "agg_approx_count_distinct",
    "agg_hll_partial_merge",
    "q1_pricing_summary",
    "txt_quality_score",
    "dedup_exact_summary",
    "pipeline_mixture_reweight",
    "ev_latest_no_tombstone",
]


@pytest.fixture(scope="module")
def empty_sf(tmp_path_factory):
    import sys

    from tests.conftest import REPO_ROOT

    sys.path.insert(0, str(REPO_ROOT / "tools"))
    from empty_sweep import write_empty_corpus

    return write_empty_corpus(str(tmp_path_factory.mktemp("empty_sf")))


@pytest.mark.parametrize("name", GUARDED)
def test_empty_corpus_returns_not_raises(spark, empty_sf, name):
    from clueso_spark.plans.catalog import all_queries

    rows = all_queries()[name].spark(spark, empty_sf).collect()
    assert isinstance(rows, list)


@pytest.mark.parametrize(
    "name", ["agg_approx_count_distinct", "agg_hll_partial_merge"]
)
def test_empty_corpus_within_5pct_is_perfect_match(spark, empty_sf, name):
    """ADVICE r9: exact == 0 with a zero estimate is a PERFECT estimate;
    the flag must be 1 (the oracle's literal), not 0. The round-9
    cross-multiplied rewrite silently flipped the degenerate case to 0;
    this pins the explicit exact==0 branch."""
    from clueso_spark.plans.catalog import all_queries

    rows = all_queries()[name].spark(spark, empty_sf).collect()
    for row in rows:
        assert row["within_5pct"] == 1, (name, row)
