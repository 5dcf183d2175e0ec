"""Invariant (law) + third-opinion tests for the round-10 staged tier
(plans/staged_r10.py).

The parity gate (test_staged_r10.py) proves each staged query equals
its DuckDB oracle; these tests pin the mathematical laws the results
must obey regardless of corpus, and -- for the statistics ops -- a
THIRD opinion: a pure-Python/pandas recomputation from the raw table,
independent of both SQL engines. One collect per op at sf0.001.
"""

from __future__ import annotations

import math

import pytest

from clueso_spark.plans.staged_r10 import (
    _CONV_PCTS,
    _KS_A,
    _KS_B,
    _PHASH_MAX_HAMMING,
    _WELCH_A,
    _WELCH_B,
)
from tests.conftest import registered_by

QUERIES = registered_by("clueso_spark.plans.staged_r10")

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def rows(spark):
    return {name: cq.spark(spark, SF).collect() for name, cq in QUERIES.items()}


@pytest.fixture(scope="module")
def docs_pd(spark):
    from clueso_spark.sources.tables import load_table

    return load_table(spark, SF, "documents").toPandas()


@pytest.fixture(scope="module")
def events_pd(spark):
    from clueso_spark.sources.tables import load_table

    return load_table(spark, SF, "events").toPandas()


def test_lateral_top2_matches_pandas(rows, spark):
    """Third opinion: groupby-head(2) over the raw tables."""
    from clueso_spark.sources.tables import load_table

    o = load_table(spark, SF, "orders").toPandas()
    li = load_table(spark, SF, "lineitem").toPandas()
    urgent = set(o.loc[o.o_orderpriority == "1-URGENT", "o_orderkey"])
    got = {(r["o_orderkey"], r["l_linenumber"]) for r in
           rows["join_lateral_top2_per_order"]}
    expect = set()
    sub = li[li.l_orderkey.isin(urgent)].sort_values(
        ["l_orderkey", "l_extendedprice", "l_linenumber"],
        ascending=[True, False, True],
    )
    for k, g in sub.groupby("l_orderkey"):
        for _, r in g.head(2).iterrows():
            expect.add((k, r["l_linenumber"]))
    assert got == expect


def test_mode_defining_property(rows, spark):
    from clueso_spark.sources.tables import load_table

    li = load_table(spark, SF, "lineitem").toPandas()
    for r in rows["agg_mode_exact"]:
        g = li[li.l_returnflag == r["flag"]]
        counts = g.l_quantity.round(2).value_counts()
        assert r["mode_count"] == counts.max()
        best = sorted(q for q, c in counts.items() if c == counts.max())
        assert abs(r["mode_qty"] - best[0]) < 1e-9


def test_welch_third_opinion(rows, docs_pd):
    """Bit-exact recomputation of the shared IEEE chain from pure
    Python integers."""
    a = docs_pd.loc[docs_pd.source == _WELCH_A, "n_chars"]
    b = docs_pd.loc[docs_pd.source == _WELCH_B, "n_chars"]
    n1, s1, q1 = len(a), int(a.sum()), int((a * a).sum())
    n2, s2, q2 = len(b), int(b.sum()), int((b * b).sum())
    v1 = (q1 / n1 - (s1 / n1) * (s1 / n1)) / (n1 - 1)
    v2 = (q2 / n2 - (s2 / n2) * (s2 / n2)) / (n2 - 1)
    t = (s1 / n1 - s2 / n2) / math.sqrt(v1 + v2)
    (r,) = rows["agg_welch_ttest"]
    assert (r["n1"], r["n2"]) == (n1, n2)
    assert r["t_stat"] == t  # same IEEE chain -> bit-identical


def test_ks_third_opinion(rows, docs_pd):
    """Exact integer recomputation of D = max |cumA*nB - cumB*nA|."""
    a = sorted(docs_pd.loc[docs_pd.source == _KS_A, "n_chars"])
    b = sorted(docs_pd.loc[docs_pd.source == _KS_B, "n_chars"])
    na, nb = len(a), len(b)
    support = sorted(set(a) | set(b))
    best, at = -1, None
    ca = cb = 0
    ia = ib = 0
    for v in support:
        while ia < na and a[ia] <= v:
            ia += 1
        while ib < nb and b[ib] <= v:
            ib += 1
        d = abs(ia * nb - ib * na)
        if d > best:
            best, at = d, v
    (r,) = rows["agg_ks_two_sample"]
    assert (r["n_a"], r["n_b"]) == (na, nb)
    assert r["d_num"] == best
    assert r["d_stat"] == best / (na * nb)
    assert r["at_value"] <= at  # reported value is the SMALLEST attaining


def test_chi2_third_opinion(rows, events_pd):
    micros = events_pd["ts"].astype("datetime64[us]").astype("int64")
    events_pd = events_pd.assign(dow=(micros // 86_400_000_000) % 7)
    ct = events_pd.groupby(["event_type", "dow"]).size()
    rt = events_pd.groupby("event_type").size()
    colt = events_pd.groupby("dow").size()
    n = len(events_pd)
    for r in rows["agg_chi2_independence"]:
        o = int(ct[(r["event_type"], r["dow"])])
        assert r["obs"] == o
        assert r["row_total"] == int(rt[r["event_type"]])
        assert r["col_total"] == int(colt[r["dow"]])
        num = n * o - int(rt[r["event_type"]]) * int(colt[r["dow"]])
        den = int(rt[r["event_type"]]) * int(colt[r["dow"]]) * n
        assert r["chi2_cell"] == float(num * num) / float(den)
    # cells partition the corpus
    assert sum(r["obs"] for r in rows["agg_chi2_independence"]) == n


def test_lorenz_laws(rows, events_pd):
    """Shares are monotone in decile, end at 1.0 exactly, and the top
    decile's share is >= its user share (sorted-desc concentration)."""
    out = sorted(rows["ev_lorenz_power_users"], key=lambda r: r["decile"])
    assert [r["decile"] for r in out] == list(range(1, 11))
    shares = [r["event_share"] for r in out]
    assert all(b >= a - 1e-12 for a, b in zip(shares, shares[1:]))
    assert abs(shares[-1] - 1.0) < 1e-12
    assert out[-1]["n_events"] == len(events_pd)
    n_users = events_pd["user_id"].nunique()
    assert out[-1]["n_users"] == n_users
    # concentration: top 10% of users hold >= 10% of events
    assert shares[0] >= out[0]["n_users"] / n_users - 1e-12


def test_bounce_sessions_conserve(rows, events_pd):
    out = rows["ev_bounce_rate_sessions"]
    for r in out:
        assert 0 <= r["n_bounced"] <= r["n_sessions"]
        assert 0.0 <= r["bounce_rate"] <= 1.0
    # entry types are a subset of live event types
    assert {r["entry_type"] for r in out} <= set(events_pd.event_type)


def test_funnel_percentiles_ordered(rows):
    out = {r["pct"]: r["delay_s"] for r in rows["ev_funnel_time_percentiles"]}
    assert set(out) == set(_CONV_PCTS)
    vals = [out[p] for p in sorted(out)]
    assert vals == sorted(vals)
    assert all(v >= 0 for v in vals)


def test_inter_event_histogram_conserves_gaps(rows, events_pd):
    n_gaps = sum(r["n_gaps"] for r in rows["ev_inter_event_histogram"])
    # every event except each user's first contributes one gap
    expect = len(events_pd) - events_pd["user_id"].nunique()
    assert n_gaps == expect


def test_label_propagation_converges_downward(rows):
    """Min-label propagation: community labels are node ids, sizes >= 2,
    members never exceed the vertex count."""
    out = rows["graph_label_propagation"]
    assert out
    for r in out:
        assert r["n_nodes"] >= 2


def test_katz_dominated_by_degree_term(rows, spark):
    """katz_scaled = 64*w1 + 8*w2 + w3 with all walk counts positive:
    every score >= 64 (minimum degree 1) and ranks strictly ordered."""
    out = sorted(rows["graph_katz_centrality"], key=lambda r: r["rk"])
    assert all(r["katz_scaled"] >= 64 for r in out)
    keys = [(-r["katz_scaled"], r["node"]) for r in out]
    assert keys == sorted(keys)


def test_phash_pairs_are_near(rows, docs_pd):
    out = rows["mm_phash_hamming_dedup"]
    for r in out:
        assert r["doc_a"] < r["doc_b"]
        assert 0 <= r["hamming"] <= _PHASH_MAX_HAMMING
    # identical texts must collide with hamming 0
    dup_texts = docs_pd[docs_pd.duplicated("text", keep=False)]
    if len(dup_texts):
        ids = sorted(dup_texts.groupby("text").doc_id.apply(list).iloc[0])
        if len(ids) >= 2:
            found = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in out}
            assert found.get((ids[0], ids[1])) == 0


def test_except_all_multiset_counts(rows, spark):
    from clueso_spark.sources.tables import load_table

    o = load_table(spark, SF, "orders").toPandas()
    urgent = o.loc[o.o_orderpriority == "1-URGENT", "o_custkey"].value_counts()
    high = o.loc[o.o_orderpriority == "2-HIGH", "o_custkey"].value_counts()
    import collections

    got = collections.Counter(
        r["o_custkey"] for r in rows["setop_except_all_multiset"]
    )
    for k, n_u in urgent.items():
        expect = max(int(n_u) - int(high.get(k, 0)), 0)
        assert got.get(k, 0) == expect, k
