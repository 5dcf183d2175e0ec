"""Edge-corpus tests for the round-10 staged tier: empty tables,
single-member sources, degenerate graphs -- the corpus shapes the
driver's generated data never exercises but a real deployment will.
Queries must return (possibly empty) results, never raise, and the
statistics must degrade the same way in both engines.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from clueso_spark.plans.staged_r10 import _WELCH_A, _WELCH_B
from tests.conftest import registered_by

QUERIES = registered_by("clueso_spark.plans.staged_r10")

#: ops whose inputs the edge corpora below cover (the whole tier)
_ALL = sorted(QUERIES)


def _write_sf(tmp_path, docs=(), events=(), orders=(), customers=(),
              nations=(), lineitems=()):
    """Minimal sf dir with exactly the tables/columns the r10 tier
    touches; empty tuples write empty tables with real schemas."""
    sf = str(tmp_path / "sf_edge")
    os.makedirs(sf, exist_ok=True)

    def tbl(rows, schema):
        cols = {
            name: pa.array([r[i] for r in rows], typ)
            for i, (name, typ) in enumerate(schema)
        }
        return pa.table(cols)

    pq.write_table(
        tbl(docs, [("doc_id", pa.int64()), ("text", pa.string()),
                   ("lang", pa.string()), ("source", pa.string()),
                   ("n_chars", pa.int64())]),
        f"{sf}/documents.parquet",
    )
    pq.write_table(
        tbl(events, [("event_id", pa.int64()),
                     ("ts", pa.timestamp("us")),
                     ("user_id", pa.int64()),
                     ("event_type", pa.string()),
                     ("value", pa.float64()),
                     ("props", pa.string())]),
        f"{sf}/events.parquet",
    )
    pq.write_table(
        tbl(orders, [("o_orderkey", pa.int64()),
                     ("o_custkey", pa.int64()),
                     ("o_totalprice", pa.float64()),
                     ("o_orderdate", pa.timestamp("us")),
                     ("o_orderpriority", pa.string())]),
        f"{sf}/orders.parquet",
    )
    pq.write_table(
        tbl(customers, [("c_custkey", pa.int64()),
                        ("c_nationkey", pa.int32()),
                        ("c_acctbal", pa.float64()),
                        ("c_mktsegment", pa.string())]),
        f"{sf}/customer.parquet",
    )
    pq.write_table(
        tbl(nations, [("n_nationkey", pa.int32()),
                      ("n_name", pa.string())]),
        f"{sf}/nation.parquet",
    )
    pq.write_table(
        tbl(lineitems, [("l_returnflag", pa.string()),
                        ("l_extendedprice", pa.float64()),
                        ("l_quantity", pa.float64()),
                        ("l_discount", pa.float64()),
                        ("l_tax", pa.float64()),
                        ("l_orderkey", pa.int64()),
                        ("l_partkey", pa.int64()),
                        ("l_suppkey", pa.int64()),
                        ("l_linenumber", pa.int32())]),
        f"{sf}/lineitem.parquet",
    )
    return sf


def test_empty_inputs_do_not_crash(spark, tmp_path):
    """Empty tables: every staged query returns a list (possibly
    empty), never raises."""
    sf = _write_sf(tmp_path)
    for name in _ALL:
        rows = QUERIES[name].spark(spark, sf).collect()
        assert isinstance(rows, list), name


def test_welch_single_member_source_yields_null_not_crash(spark, tmp_path):
    """n=1 on one side makes the variance term divide by zero --
    Spark's non-ANSI double path yields null/NaN rather than raising;
    either way the op must not crash and the counts must be right."""
    sf = _write_sf(
        tmp_path,
        docs=[
            (1, "a", "en", _WELCH_A, 10),
            (2, "bb", "en", _WELCH_B, 20),
            (3, "ccc", "en", _WELCH_B, 30),
        ],
    )
    rows = QUERIES["agg_welch_ttest"].spark(spark, sf).collect()
    assert len(rows) == 1
    assert rows[0]["n1"] == 1 and rows[0]["n2"] == 2


def test_ks_identical_distributions_give_zero(spark, tmp_path):
    sf = _write_sf(
        tmp_path,
        docs=[
            (i, "x", "en", src, 100 + (i % 3))
            for i in range(12)
            for src in [(_WELCH_A if i % 2 == 0 else _WELCH_B)]
        ],
    )
    rows = QUERIES["agg_ks_two_sample"].spark(spark, sf).collect()
    # evens i=0,2,..,10 give i%3 = {0,2,1,0,2,1}; odds give {1,0,2,1,0,2}:
    # both sources see the identical multiset {100:2, 101:2, 102:2}, so
    # the KS statistic must be EXACTLY zero
    (r,) = rows
    assert (r["n_a"], r["n_b"]) == (6, 6)
    assert r["d_num"] == 0
    assert r["d_stat"] == 0.0


def test_funnel_percentiles_empty_when_nobody_converts(spark, tmp_path):
    import datetime as dt

    t0 = dt.datetime(2026, 1, 1)
    sf = _write_sf(
        tmp_path,
        events=[
            (1, t0, 1, "signup", 1.0, "{}"),
            (2, t0, 2, "click", 1.0, "{}"),  # no purchase anywhere
        ],
    )
    rows = QUERIES["ev_funnel_time_percentiles"].spark(spark, sf).collect()
    assert rows == []


def test_lorenz_single_user(spark, tmp_path):
    import datetime as dt

    t0 = dt.datetime(2026, 1, 1)
    sf = _write_sf(
        tmp_path,
        events=[(i, t0, 7, "click", 1.0, "{}") for i in range(5)],
    )
    rows = QUERIES["ev_lorenz_power_users"].spark(spark, sf).collect()
    # N=1: boundaries floor(k*1/10) are 0 for k<10; only decile 10 has a
    # boundary (1), so exactly one row with the full share
    assert len(rows) == 1
    assert rows[0]["decile"] == 10
    assert rows[0]["n_users"] == 1
    assert rows[0]["event_share"] == 1.0


def test_phash_no_collisions_on_distinct_long_texts(spark, tmp_path):
    sf = _write_sf(
        tmp_path,
        docs=[
            (i, f"doc {i} " + ("abcdefgh" * 64) + str(i * 7919), "en",
             "s", 500)
            for i in range(6)
        ],
    )
    rows = QUERIES["mm_phash_hamming_dedup"].spark(spark, sf).collect()
    for r in rows:
        assert r["hamming"] <= 6  # any survivor is a genuine near-dup


def test_label_propagation_two_components(spark, tmp_path):
    """Two disjoint order cliques must converge to two communities
    labeled by their minimum node ids."""
    lis = [
        # order 1: cust 1 with suppliers 11, 12 / order 2: cust 2 with 21
        (None, None, None, None, None, 1, 101, 11, 1),
        (None, None, None, None, None, 1, 102, 12, 2),
        (None, None, None, None, None, 2, 201, 21, 1),
    ]
    lineitems = [
        ("N", 1.0, 1.0, 0.0, 0.0, ok, pk, sk, ln)
        for (_, _, _, _, _, ok, pk, sk, ln) in lis
    ]
    orders = [
        (1, 1, 10.0, None, "1-URGENT"),
        (2, 2, 10.0, None, "1-URGENT"),
    ]
    import datetime as dt

    orders = [
        (k, c, p, dt.datetime(2026, 1, 1), pr) for k, c, p, _, pr in orders
    ]
    sf = _write_sf(tmp_path, orders=orders, lineitems=lineitems)
    rows = QUERIES["graph_label_propagation"].spark(spark, sf).collect()
    got = {r["community"]: r["n_nodes"] for r in rows}
    # component A: {1, 1000011, 1000012} -> label 1; B: {2, 1000021} -> 2
    assert got == {1: 3, 2: 2}


def test_katz_star_center_dominates(spark, tmp_path):
    """A star (one customer ordering from 4 suppliers) must rank the
    center first: its degree and 2-walk counts dominate every leaf."""
    import datetime as dt

    t0 = dt.datetime(2026, 1, 1)
    orders = [(1, 5, 10.0, t0, "1-URGENT")]
    lineitems = [
        ("N", 1.0, 1.0, 0.0, 0.0, 1, 100 + s, s, s) for s in range(1, 5)
    ]
    sf = _write_sf(tmp_path, orders=orders, lineitems=lineitems)
    rows = QUERIES["graph_katz_centrality"].spark(spark, sf).collect()
    top = min(rows, key=lambda r: r["rk"])
    assert top["node"] == 5  # the customer hub
    assert top["rk"] == 1
