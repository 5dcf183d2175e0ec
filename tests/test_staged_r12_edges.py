"""Edge semantics for the round-11 staged tier (plans/staged_r12.py).

Planted-corpus tests pinning the boundary behavior parity cannot see:
tolerance boundaries, peel-to-empty graphs, all-deleted GC, boundary
quantiles -- plus the standing empty-corpus sweep (every staged op
must return, never raise, on a zero-row corpus)."""

from __future__ import annotations

import datetime
import hashlib

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from clueso_spark.plans.staged_r12 import (
    _ASOF_TOL_US,
    _IVL_LEN_US,
)
from tests.conftest import registered_by

QUERIES = registered_by("clueso_spark.plans.staged_r12")


@pytest.fixture(scope="module")
def empty_sf(tmp_path_factory):
    import sys

    from tests.conftest import REPO_ROOT

    sys.path.insert(0, str(REPO_ROOT / "tools"))
    from empty_sweep import write_empty_corpus

    return write_empty_corpus(str(tmp_path_factory.mktemp("empty_r12")))


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_empty_corpus_returns_not_raises(spark, name, empty_sf):
    rows = QUERIES[name].spark(spark, empty_sf).collect()
    assert isinstance(rows, list)


def _events_table(tmp_path, rows):
    from tests.conftest import write_events_parquet

    return write_events_parquet(tmp_path, rows)


def _ev(eid, uid, us, etype, val=1.0):
    return {
        "event_id": eid,
        "ts": datetime.datetime(2024, 1, 1)
        + datetime.timedelta(microseconds=us),
        "user_id": uid,
        "event_type": etype,
        "value": val,
        "props": "{}",
    }


def _docs_table(tmp_path, rows):
    schema = pa.schema(
        [
            ("doc_id", pa.int64()),
            ("text", pa.string()),
            ("lang", pa.string()),
            ("source", pa.string()),
            ("n_chars", pa.int64()),
        ]
    )
    pq.write_table(
        pa.Table.from_pylist(rows, schema=schema),
        str(tmp_path / "documents.parquet"),
    )
    return str(tmp_path)


def _doc(i, text, lang="en", source="s"):
    return {
        "doc_id": i,
        "text": text,
        "lang": lang,
        "source": source,
        "n_chars": len(text),
    }


def test_asof_tolerance_boundary_inclusive(spark, tmp_path):
    """Gap == tolerance matches; gap == tolerance + 1 us does not; a
    purchase before any click is unmatched."""
    sf = _events_table(
        tmp_path,
        [
            _ev(1, 1, 0, "purchase"),  # no click yet -> unmatched
            _ev(2, 1, 1_000, "click"),
            _ev(3, 1, 1_000 + _ASOF_TOL_US, "purchase"),  # exactly at tol
            _ev(4, 2, 0, "click"),
            _ev(5, 2, _ASOF_TOL_US + 1, "purchase"),  # 1 us beyond
        ],
    )
    got = {
        r["purchase_id"]: (r["click_id"], r["gap_us"])
        for r in QUERIES["ev_asof_tolerance_join"].spark(spark, sf).collect()
    }
    assert got == {
        1: (-1, -1),
        3: (2, _ASOF_TOL_US),
        5: (-1, -1),
    }


def test_interval_union_overlap_and_duplicates(spark, tmp_path):
    """Two identical timestamps cover exactly one interval; an overlap
    covers start-gap + one interval; disjoint intervals sum."""
    L = _IVL_LEN_US
    sf = _events_table(
        tmp_path,
        [
            _ev(1, 1, 0, "view"),
            _ev(2, 1, 0, "view"),  # duplicate ts: no extra coverage
            _ev(3, 2, 0, "view"),
            _ev(4, 2, L // 2, "view"),  # half-overlap
            _ev(5, 3, 0, "view"),
            _ev(6, 3, 2 * L, "view"),  # disjoint
        ],
    )
    got = {
        r["user_id"]: r["covered_us"]
        for r in QUERIES["ev_interval_union_length"].spark(spark, sf).collect()
    }
    assert got == {1: L, 2: L + L // 2, 3: 2 * L}


def test_seasonal_constant_days_have_zero_deviants(spark, tmp_path):
    """Identical daily counts -> med2 = 2*c and no day can deviate."""
    rows = []
    eid = 0
    for day in range(14):  # two full weeks, 3 events every day
        for k in range(3):
            eid += 1
            rows.append(
                _ev(eid, 1, day * 86_400_000_000 + k * 1_000_000, "view")
            )
    sf = _events_table(tmp_path, rows)
    out = QUERIES["ev_seasonal_dow_deviation"].spark(spark, sf).collect()
    assert len(out) == 7
    for r in out:
        assert r["median2_daily"] == 6  # doubled median of [3, 3]
        assert r["n_days"] == 2
        assert r["n_deviant"] == 0


def test_chunk_gc_all_docs_deleted(spark, tmp_path):
    """When every doc is in the deleted quintile, everything is dead:
    no live chunks, nothing shared-retained, all blocks reclaimed."""
    ids = [
        i
        for i in range(1, 200)
        if int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 5 == 0
    ][:4]
    sf = _docs_table(
        tmp_path,
        [_doc(i, f"unique text body number {i} " * 8) for i in ids],
    )
    rows = QUERIES["mm_chunk_gc_accounting"].spark(spark, sf).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_live"] == 0
    assert r["n_dead"] == r["n_distinct_chunks"] > 0
    assert r["blocks_shared_retained"] == 0
    assert r["blocks_reclaimed"] > 0


def test_chunk_gc_shared_chunk_retained(spark, tmp_path):
    """A chunk present in BOTH a deleted and a surviving payload must
    be counted shared-retained, not reclaimed."""
    deleted = next(
        i
        for i in range(1, 500)
        if int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 5 == 0
    )
    kept = next(
        i
        for i in range(1, 500)
        if int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 5 != 0
    )
    shared_text = "identical shared payload body " * 10
    sf = _docs_table(
        tmp_path, [_doc(deleted, shared_text), _doc(kept, shared_text)]
    )
    rows = QUERIES["mm_chunk_gc_accounting"].spark(spark, sf).collect()
    r = rows[0]
    assert r["n_dead"] == 0
    assert r["blocks_reclaimed"] == 0
    assert r["blocks_shared_retained"] > 0


def test_dataset_card_median_and_dups(spark, tmp_path):
    """Planted source: odd doc count -> median2 = 2x middle length;
    exact dup rows counted via normalized hash."""
    sf = _docs_table(
        tmp_path,
        [
            _doc(1, "aa"),          # len 2
            _doc(2, "bbbb"),        # len 4
            _doc(3, "cccccc"),      # len 6
            _doc(4, "bbbb"),        # exact dup of doc 2 (len 4)
            _doc(5, "  bbbb  "),    # normalizes to dup too (len 8)
        ],
    )
    rows = QUERIES["pipeline_dataset_card"].spark(spark, sf).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_docs"] == 5
    assert r["median2_chars"] == 8  # lengths [2,4,4,6,8] -> 2 * 4
    assert r["n_dup_rows"] == 2  # 5 docs, 3 distinct normalized texts
    assert r["top_lang"] == "en" and r["top_lang_docs"] == 5


def test_kcore_path_graph_peels_to_empty(spark, tmp_path):
    """A pure path (every customer orders from one distinct supplier)
    is all degree-1 leaves after one hop: k=2 peeling empties it."""
    orders_schema = pa.schema(
        [
            ("o_orderkey", pa.int64()),
            ("o_custkey", pa.int64()),
            ("o_orderstatus", pa.string()),
            ("o_totalprice", pa.float64()),
            ("o_orderdate", pa.timestamp("us")),
            ("o_orderpriority", pa.string()),
        ]
    )
    li_schema = pa.schema(
        [
            ("l_orderkey", pa.int64()),
            ("l_partkey", pa.int64()),
            ("l_suppkey", pa.int64()),
            ("l_linenumber", pa.int64()),
            ("l_quantity", pa.float64()),
            ("l_extendedprice", pa.float64()),
            ("l_discount", pa.float64()),
            ("l_tax", pa.float64()),
            ("l_returnflag", pa.string()),
            ("l_linestatus", pa.string()),
            ("l_shipdate", pa.timestamp("us")),
        ]
    )
    t0 = datetime.datetime(2024, 1, 1)
    orders = [
        {
            "o_orderkey": k,
            "o_custkey": k,
            "o_orderstatus": "O",
            "o_totalprice": 1.0,
            "o_orderdate": t0,
            "o_orderpriority": "1-URGENT",
        }
        for k in (1, 2, 3)
    ]
    # each customer k orders from its own supplier k: 3 disjoint
    # customer-supplier pairs, every node degree 1
    lineitems = [
        {
            "l_orderkey": k,
            "l_partkey": 100 + k,
            "l_suppkey": k,
            "l_linenumber": 1,
            "l_quantity": 1.0,
            "l_extendedprice": 1.0,
            "l_discount": 0.0,
            "l_tax": 0.0,
            "l_returnflag": "N",
            "l_linestatus": "O",
            "l_shipdate": t0,
        }
        for k in (1, 2, 3)
    ]
    pq.write_table(
        pa.Table.from_pylist(orders, schema=orders_schema),
        str(tmp_path / "orders.parquet"),
    )
    pq.write_table(
        pa.Table.from_pylist(lineitems, schema=li_schema),
        str(tmp_path / "lineitem.parquet"),
    )
    rows = sorted(
        QUERIES["graph_kcore_decomposition"]
        .spark(spark, str(tmp_path))
        .collect(),
        key=lambda r: r["round"],
    )
    assert [(r["n_nodes"], r["n_edges"]) for r in rows] == [
        (0, 0),
        (0, 0),
        (0, 0),
    ]


def test_cms_single_user_estimate_is_exact(spark, tmp_path):
    """One distinct key cannot collide with anything: estimate ==
    truth, overcount == 0."""
    sf = _events_table(
        tmp_path,
        [_ev(i, 7, i * 1_000_000, "view") for i in range(1, 21)],
    )
    rows = QUERIES["agg_cms_partial_merge"].spark(spark, sf).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["user_id"], r["true_cnt"], r["cms_estimate"], r["overcount"]) == (
        7,
        20,
        20,
        0,
    )


def test_hdr_power_of_two_boundary(spark, tmp_path):
    """Values exactly at 2^k land in bucket k and the exact quantile
    sits on the bucket's lower bound."""
    # 10 events of 40.96 -> 4096 cents = 2^12
    sf = _events_table(
        tmp_path,
        [_ev(i, 1, i * 1_000_000, "view", 40.96) for i in range(1, 11)],
    )
    rows = QUERIES["agg_hdr_quantile_merge"].spark(spark, sf).collect()
    for r in rows:
        assert r["bucket"] == 12
        assert r["est_low"] == 4096
        assert r["exact_cents"] == 4096
        assert r["within_bucket"] == 1


def test_range_bucketed_window_boundaries(spark, tmp_path):
    """Half-open [start, start + 2h): a point AT the start matches, a
    point AT the end does not -- including across a bucket boundary."""
    from clueso_spark.plans.staged_r12 import _RB_WIDTH_US

    W = _RB_WIDTH_US
    sf = _events_table(
        tmp_path,
        [
            _ev(1, 1, W // 2, "signup"),      # window [W/2, 3W/2)
            _ev(2, 1, W // 2, "error"),       # at start -> in
            _ev(3, 1, W, "error"),            # mid-window, NEXT bucket -> in
            _ev(4, 1, 3 * W // 2, "error"),   # at end -> out
            _ev(5, 1, 0, "error"),            # before -> out
        ],
    )
    got = {
        r["error_id"]: r["n_open_windows"]
        for r in QUERIES["join_range_bucketed_global"].spark(spark, sf).collect()
    }
    assert got == {2: 1, 3: 1, 4: 0, 5: 0}


def test_relative_recall_planted_identical_docs(spark, tmp_path):
    """Two identical long docs: BOTH families must bucket them
    together, the pooled union verifies the pair, and both report
    recall == precision == 1e6."""
    text = "the quick brown fox jumps over the lazy dog repeatedly " * 6
    sf = _docs_table(tmp_path, [_doc(1, text), _doc(2, text)])
    out = {
        r["family"]: r
        for r in QUERIES["dedup_lsh_relative_recall"].spark(spark, sf).collect()
    }
    for fam in ("A", "B"):
        r = out[fam]
        assert r["n_candidates"] == 1
        assert r["n_verified"] == 1
        assert r["n_union_verified"] == 1
        assert r["recall_rel_scaled"] == 1_000_000
        assert r["precision_scaled"] == 1_000_000
