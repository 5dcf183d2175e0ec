"""Third-opinion checks for the session-3 staged round-12 operators.

Parity proves Spark == DuckDB; these recompute each operator a third
way -- pure Python over pyarrow-read rows, written independently from
first principles -- so a formula mis-derived identically on both
engine sides cannot survive. Every chain is integer-exact, so Python
reproduces the Spark output bit-for-bit.
"""

from __future__ import annotations

import datetime
import hashlib
from collections import defaultdict

import pyarrow.parquet as pq
import pytest

from clueso_spark.plans.catalog import all_queries
from clueso_spark.plans.relational import PART_MIN_SUPPORT as _LCC_MIN_SUPPORT
from clueso_spark.plans.staged_r12 import (
    _BP_K,
    _BP_W,
    _DB_EPS,
    _DB_MINPTS,
    _KMV_K,
    _KMV_M,
    _NOV_N,
)
from tests.conftest import registered_by

QUERIES = registered_by("clueso_spark.plans.staged_r12")

SF = "/root/testdata/sf0.001"
_DAY_US = 86_400_000_000


@pytest.fixture(scope="module")
def events():
    return pq.read_table(f"{SF}/events.parquet").to_pylist()


@pytest.fixture(scope="module")
def documents():
    return pq.read_table(f"{SF}/documents.parquet").to_pylist()


def _us(ts: datetime.datetime) -> int:
    return int(ts.replace(tzinfo=datetime.timezone.utc).timestamp() * 1e6)


def _cents(v: float) -> int:
    return round(v * 100)


def _h32(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def test_ngram_novelty_third_opinion(spark, documents):
    """First-occurrence attribution recomputed literally."""
    shingles = {}  # shingle -> min doc_id
    per_doc = {}  # doc -> list of shingles
    for d in documents:
        w = d["text"].split(" ")
        if len(w) < _NOV_N:
            continue
        ngs = [
            " ".join(w[i : i + _NOV_N]) for i in range(len(w) - _NOV_N + 1)
        ]
        per_doc[d["doc_id"]] = ngs
        for ng in ngs:
            cur = shingles.get(ng)
            if cur is None or d["doc_id"] < cur:
                shingles[ng] = d["doc_id"]
    want = {}
    for doc, ngs in per_doc.items():
        novel = sum(1 for ng in ngs if shingles[ng] == doc)
        want[doc] = (len(ngs), novel, (10000 * novel) // len(ngs))
    got = {
        r["doc_id"]: (r["n_ngrams"], r["n_novel"], r["novelty_x10000"])
        for r in QUERIES["txt_ngram_novelty"].spark(spark, SF).collect()
    }
    assert got == want


def test_boilerplate_chunks_third_opinion(spark, documents):
    """Distinct-doc chunk counting recomputed literally (chunk text
    itself as identity -- the md5 in the query is only a width cap)."""
    chunk_docs = defaultdict(set)
    per_doc = {}
    for d in documents:
        w = d["text"].split(" ")
        if len(w) < _BP_W:
            continue
        chunks = [
            " ".join(w[j * _BP_W : (j + 1) * _BP_W])
            for j in range(len(w) // _BP_W)
        ]
        per_doc[d["doc_id"]] = chunks
        for c in chunks:
            chunk_docs[c].add(d["doc_id"])
    want = {}
    for doc, chunks in per_doc.items():
        boiler = sum(1 for c in chunks if len(chunk_docs[c]) >= _BP_K)
        want[doc] = (
            len(chunks),
            boiler,
            _BP_W * (len(chunks) - boiler),
        )
    got = {
        r["doc_id"]: (r["n_chunks"], r["n_boiler"], r["retained_tokens"])
        for r in QUERIES["txt_boilerplate_chunks"].spark(spark, SF).collect()
    }
    assert got == want


def test_theta_sketch_third_opinion(spark, events):
    """KMV bottom-k estimates recomputed with hashlib md5."""
    cohorts = defaultdict(set)
    for e in events:
        if e["event_type"] not in ("click", "purchase"):
            continue
        c = "a" if e["event_type"] == "click" else "b"
        item = f"{e['user_id']}:{_us(e['ts']) // _DAY_US}"
        cohorts[c].add(item)
    cohorts["u"] = cohorts["a"] | cohorts["b"]

    def est(items: set[str]) -> tuple[int, int]:
        n = len(items)
        if n < _KMV_K:
            return n, n
        ranked = sorted((_h32(i), i) for i in items)
        h_k = ranked[_KMV_K - 1][0]
        return n, ((_KMV_K - 1) * _KMV_M) // h_k

    na, ea = est(cohorts["a"])
    nb, eb = est(cohorts["b"])
    nu, eu = est(cohorts["u"])
    [row] = QUERIES["agg_theta_sketch_setops"].spark(spark, SF).collect()
    assert (
        row["exact_a"],
        row["exact_b"],
        row["exact_union"],
        row["exact_intersect"],
    ) == (na, nb, nu, na + nb - nu)
    assert (
        row["est_a"],
        row["est_b"],
        row["est_union"],
        row["est_intersect"],
    ) == (ea, eb, eu, ea + eb - eu)


def test_max_drawdown_third_opinion(spark, events):
    """Running peak minus running balance, per user, literal scan."""
    per_user = defaultdict(list)
    for e in events:
        flow = _cents(e["value"])
        if e["event_type"] not in ("purchase", "signup"):
            flow = -flow
        per_user[e["user_id"]].append((_us(e["ts"]), e["event_id"], flow))
    want = {}
    for u, evs in per_user.items():
        evs.sort()
        bal = peak = dd = 0
        first = True
        for _, _, flow in evs:
            bal += flow
            peak = bal if first else max(peak, bal)
            first = False
            dd = max(dd, peak - bal)
        want[u] = (len(evs), dd, bal)
    got = {
        r["user_id"]: (
            r["n_events"],
            r["max_drawdown_cents"],
            r["final_bal_cents"],
        )
        for r in QUERIES["window_max_drawdown"].spark(spark, SF).collect()
    }
    assert got == want


def test_salted_join_equals_unsalted(spark, events):
    """The whole point of the op: salting never changes the answer."""
    want = defaultdict(lambda: [0, 0])
    for e in events:
        t = e["event_type"]
        want[t][0] += 1
        want[t][1] += _cents(e["value"]) * len(t)
    got = {
        r["event_type"]: (r["n_events"], r["weighted_cents"])
        for r in QUERIES["join_salted_skew"].spark(spark, SF).collect()
    }
    assert got == {t: tuple(v) for t, v in want.items()}


def test_salted_join_key_carries_salt(spark):
    """The physical join key must include the salt column -- otherwise
    the op silently degrades to the plain join it claims to spread."""
    plan = (
        QUERIES["join_salted_skew"]
        .spark(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "salt" in plan


def test_bitmap_retention_third_opinion(spark, events):
    """Masks and popcounts recomputed literally."""
    days = defaultdict(set)
    all_days = []
    for e in events:
        d = _us(e["ts"]) // _DAY_US
        days[e["user_id"]].add(d)
        all_days.append(d)
    base = min(all_days)
    masks = defaultdict(dict)
    for u, ds in days.items():
        for d in ds:
            rd = d - base
            w = rd // 7
            masks[u][w] = masks[u].get(w, 0) | (1 << (rd % 7))
    want = {}
    for u, wm in masks.items():
        for w, m in wm.items():
            nxt = wm.get(w + 1)
            want[(u, w)] = (
                bin(m).count("1"),
                bin(m & nxt).count("1") if nxt is not None else 0,
                1 if nxt is not None else 0,
            )
    got = {
        (r["user_id"], r["week"]): (
            r["active_days"],
            r["retained_days"],
            r["active_next_week"],
        )
        for r in QUERIES["ev_bitmap_retention"].spark(spark, SF).collect()
    }
    assert got == want


def test_bitmap_retention_laws(spark):
    """retained <= active; no next week => retained 0."""
    rows = QUERIES["ev_bitmap_retention"].spark(spark, SF).collect()
    for r in rows:
        assert 1 <= r["active_days"] <= 7
        assert 0 <= r["retained_days"] <= r["active_days"]
        if not r["active_next_week"]:
            assert r["retained_days"] == 0


def test_dbscan_grid_third_opinion(spark, events):
    """Quadratic neighbor count recomputed literally; grid must match."""
    pts = defaultdict(lambda: [0, 0])
    for e in events:
        if e["event_type"] == "click":
            pts[e["user_id"]][0] += 1
        elif e["event_type"] == "purchase":
            pts[e["user_id"]][1] += 1
    eps2 = _DB_EPS * _DB_EPS
    users = sorted(pts)
    want = {}
    for u in users:
        x, y = pts[u]
        n = sum(
            1
            for v in users
            if v != u
            and (x - pts[v][0]) ** 2 + (y - pts[v][1]) ** 2 <= eps2
        )
        want[u] = (x, y, n, 1 if n >= _DB_MINPTS else 0)
    got = {
        r["user_id"]: (r["x"], r["y"], r["n_neighbors"], r["is_core"])
        for r in QUERIES["sim_dbscan_grid"].spark(spark, SF).collect()
    }
    assert got == want
    # neighbor relation is symmetric -> total count is even
    assert sum(n for _, _, n, _ in got.values()) % 2 == 0


def test_local_clustering_third_opinion(spark):
    """Adjacency-set triangle counting, independent of the orientation
    trick the query uses."""
    li = pq.read_table(
        f"{SF}/lineitem.parquet", columns=["l_orderkey", "l_partkey"]
    ).to_pylist()
    orders = defaultdict(set)
    for r in li:
        orders[r["l_orderkey"]].add(r["l_partkey"])
    support = defaultdict(int)
    for parts in orders.values():
        ps = sorted(parts)
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                support[(ps[i], ps[j])] += 1
    adj = defaultdict(set)
    for (a, b), s in support.items():
        if s >= _LCC_MIN_SUPPORT:
            adj[a].add(b)
            adj[b].add(a)
    want = {}
    for v, nb in adj.items():
        d = len(nb)
        if d < 2:
            continue
        t = sum(len(nb & adj[w]) for w in nb) // 2
        want[v] = (d, t, (20000 * t) // (d * (d - 1)))
    got = {
        r["node"]: (r["degree"], r["n_triangles"], r["lcc_x10000"])
        for r in QUERIES["graph_local_clustering"].spark(spark, SF).collect()
    }
    assert got == want


def test_local_clustering_sums_to_global(spark):
    """Cross-op law: per-node triangle credits sum to exactly 3x the
    registered graph_triangle_count total (same edge definition)."""
    per_node = QUERIES["graph_local_clustering"].spark(spark, SF).collect()
    [glob] = all_queries()["graph_triangle_count"].spark(spark, SF).collect()
    assert (
        sum(r["n_triangles"] for r in per_node) == 3 * glob["n_triangles"]
    )


def test_hits_third_opinion(spark):
    """Literal 2-round HITS over the distinct (cust, part) edge list."""
    from clueso_spark.plans.staged_r12 import _HITS_TOP

    orders = {
        r["o_orderkey"]: r["o_custkey"]
        for r in pq.read_table(
            f"{SF}/orders.parquet", columns=["o_orderkey", "o_custkey"]
        ).to_pylist()
    }
    li = pq.read_table(
        f"{SF}/lineitem.parquet", columns=["l_orderkey", "l_partkey"]
    ).to_pylist()
    edges = {
        (orders[r["l_orderkey"]], r["l_partkey"])
        for r in li
        if r["l_orderkey"] in orders
    }
    auth1 = defaultdict(int)
    for _, p in edges:
        auth1[p] += 1
    hub1 = defaultdict(int)
    for c, p in edges:
        hub1[c] += auth1[p]
    auth2 = defaultdict(int)
    for c, p in edges:
        auth2[p] += hub1[c]
    want = sorted(
        ((p, auth1[p], auth2[p]) for p in auth2),
        key=lambda t: (-t[2], t[0]),
    )[:_HITS_TOP]
    got = [
        (r["part"], r["auth_round1"], r["auth_round2"])
        for r in QUERIES["graph_hits_authority"].spark(spark, SF).collect()
    ]
    assert got == want


def test_rolling_regression_third_opinion(spark, events):
    """Literal per-user rolling OLS over the 8-row frame."""
    from clueso_spark.plans.staged_r12 import _ROLL_W

    per_user = defaultdict(list)
    for e in events:
        per_user[e["user_id"]].append(
            (_us(e["ts"]), e["event_id"], _cents(e["value"]))
        )
    want = {}
    for u, evs in per_user.items():
        evs.sort()
        for i, (_, eid, _) in enumerate(evs):
            lo = max(0, i - (_ROLL_W - 1))
            frame = [
                (j + 1, evs[j][2]) for j in range(lo, i + 1)
            ]  # x = 1-based per-user index
            n = len(frame)
            sx = sum(x for x, _ in frame)
            sy = sum(y for _, y in frame)
            sxy = sum(x * y for x, y in frame)
            sx2 = sum(x * x for x, _ in frame)
            num = n * sxy - sx * sy
            den = n * sx2 - sx * sx
            q = 0 if den == 0 else int((10000 * num) / den)  # trunc to 0
            want[eid] = (u, n, num, den, q)
    got = {
        r["event_id"]: (
            r["user_id"],
            r["n"],
            r["slope_num"],
            r["slope_den"],
            r["slope_x10000"],
        )
        for r in QUERIES["window_rolling_regression"]
        .spark(spark, SF)
        .collect()
    }
    assert got == want
