"""Third-opinion checks for the math-heaviest staged round-12 operators.

Same rationale as tests/test_third_opinion.py: parity proves
Spark == DuckDB, but a mis-derived formula SHARED by query and oracle
would still pass. These recompute the HDR quantile sketch, the CMS
partial/merge, the KL drift, k-core peeling, TextRank, the index
delta, interval union, the as-of tolerance join, and the seasonal
baseline a third way -- pure Python over pyarrow-read rows, written
independently from first principles -- and require the Spark output
to match exactly (every chain is integer-exact, so Python reproduces
it bit-for-bit; the two log2-based ops reuse the repo's established
round(log2 * 1e6) stance).
"""

from __future__ import annotations

import datetime
import hashlib
import math
from collections import Counter, defaultdict

import pyarrow.parquet as pq
import pytest

from clueso_spark.plans.staged_r12 import (
    _ASOF_TOL_US,
    _CMS_D,
    _CMS_SHARDS,
    _CMS_TOP,
    _CMS_W,
    _HDR_QUANTILES,
    _IVL_LEN_US,
    _KCORE_K,
    _KCORE_ROUNDS,
    _TR_MIN_LEN,
    _TR_ROUNDS,
    _TR_TOP,
)
from clueso_spark.plans.relational import PR_SCALE as _TR_SCALE
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


def _cents(v: float) -> int:
    return round(v * 100)


def _us(ts: datetime.datetime) -> int:
    return int(ts.replace(tzinfo=datetime.timezone.utc).timestamp() * 1e6)


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def _md5_mod(s: str, mod: int) -> int:
    return int(_md5(s)[:8], 16) % mod


def test_hdr_quantile_third_opinion(spark, events):
    """Literal sketch: log2 buckets by bit_length, shard partials
    summed, quantile = first bucket whose cumulative count reaches
    ceil(q*n/100); exact quantile from a literal sort."""
    vals = [
        (_cents(e["value"]), e["event_id"])
        for e in events
        if _cents(e["value"]) >= 1
    ]
    partials: dict[tuple[int, int], int] = defaultdict(int)
    for c, eid in vals:
        partials[(_md5_mod(str(eid), 8), c.bit_length() - 1)] += 1
    merged: dict[int, int] = defaultdict(int)
    for (_, b), n in partials.items():
        merged[b] += n
    n = len(vals)
    ordered = sorted(vals)
    want = {}
    for pct in _HDR_QUANTILES:
        target = (pct * n + 99) // 100
        cum = 0
        for b in sorted(merged):
            cum += merged[b]
            if cum >= target:
                bucket = b
                break
        exact = ordered[target - 1][0]
        want[pct] = (
            bucket,
            2**bucket,
            2 ** (bucket + 1) - 1,
            exact,
            1 if 2**bucket <= exact <= 2 ** (bucket + 1) - 1 else 0,
        )
    got = {
        r["pct"]: (
            r["bucket"],
            r["est_low"],
            r["est_high"],
            r["exact_cents"],
            r["within_bucket"],
        )
        for r in QUERIES["agg_hdr_quantile_merge"].spark(spark, SF).collect()
    }
    assert got == want


def test_cms_third_opinion(spark, events):
    """Literal CMS: d x w counter table from disjoint md5 slices,
    shard partials summed (addition commutes, so the shards change
    nothing -- which is the point), min-over-rows point estimates for
    the top true counts."""
    users = [str(e["user_id"]) for e in events]
    table: dict[tuple[int, int], int] = defaultdict(int)
    for u in users:
        h = _md5(u)
        for r in range(_CMS_D):
            table[(r, int(h[r * 8 : r * 8 + 8], 16) % _CMS_W)] += 1
    truth = Counter(users)
    top = sorted(truth.items(), key=lambda t: (-t[1], t[0]))[:_CMS_TOP]
    want = {}
    for u, tc in top:
        h = _md5(u)
        est = min(
            table[(r, int(h[r * 8 : r * 8 + 8], 16) % _CMS_W)]
            for r in range(_CMS_D)
        )
        want[int(u)] = (tc, est, est - tc, 1 if est >= tc else 0)
    got = {
        r["user_id"]: (
            r["true_cnt"],
            r["cms_estimate"],
            r["overcount"],
            r["ge_truth"],
        )
        for r in QUERIES["agg_cms_partial_merge"].spark(spark, SF).collect()
    }
    assert got == want


def test_kl_drift_third_opinion(spark, events):
    """Literal cohorts and the cross-multiplied integer KL sum."""
    ci: Counter = Counter()
    di: Counter = Counter()
    for e in events:
        if _md5_mod(str(e["user_id"]), 2) == 0:
            ci[e["event_type"]] += 1
        else:
            di[e["event_type"]] += 1
    shared = [t for t in ci if t in di]
    n = sum(ci[t] for t in shared)
    m = sum(di[t] for t in shared)
    L = lambda x: round(math.log2(x) * 1_000_000)  # noqa: E731
    num = sum(ci[t] * (L(ci[t] * m) - L(di[t] * n)) for t in shared)
    rows = QUERIES["agg_kl_divergence_drift"].spark(spark, SF).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (
        r["p_mass"],
        r["q_mass"],
        r["n_types"],
        r["kl_num_scaled"],
        r["kl_scaled"],
    ) == (n, m, len(shared), num, num // n)


def _copurchase_edges():
    orders = {
        o["o_orderkey"]: o["o_custkey"]
        for o in pq.read_table(f"{SF}/orders.parquet").to_pylist()
    }
    li = pq.read_table(f"{SF}/lineitem.parquet").to_pylist()
    e0 = {
        (orders[l["l_orderkey"]], 10**12 + l["l_suppkey"])
        for l in li
        if l["l_orderkey"] in orders
    }
    edges = defaultdict(set)
    for c, s in e0:
        edges[c].add(s)
        edges[s].add(c)
    # multigraph degree: the Spark/DuckDB edge list is the distinct
    # (c, s) set symmetrized, so neighbor SETs are the right model
    return edges, e0


def test_kcore_third_opinion(spark):
    """Literal peeling over the symmetric co-purchase adjacency."""
    edges, e0 = _copurchase_edges()
    # directed edge multiset == symmetrized distinct pairs
    cur = {(u, v) for u, vs in edges.items() for v in vs}
    want = []
    for rnd in range(1, _KCORE_ROUNDS + 1):
        deg = Counter(u for u, _ in cur)
        surv = {u for u, d in deg.items() if d >= _KCORE_K}
        cur = {(u, v) for u, v in cur if u in surv and v in surv}
        want.append((rnd, len(surv), len(cur) // 2))
    got = [
        (r["round"], r["n_nodes"], r["n_edges"])
        for r in sorted(
            QUERIES["graph_kcore_decomposition"].spark(spark, SF).collect(),
            key=lambda r: r["round"],
        )
    ]
    assert got == want


def test_textrank_third_opinion(spark, documents):
    """Literal integer PageRank over the adjacency-count word graph."""
    w: Counter = Counter()
    for d in documents:
        toks = d["text"].split(" ")
        for a, b in zip(toks, toks[1:]):
            if len(a) >= _TR_MIN_LEN and len(b) >= _TR_MIN_LEN and a != b:
                w[(a, b)] += 1
                w[(b, a)] += 1
    strength: Counter = Counter()
    for (u, _), c in w.items():
        strength[u] += c
    nodes = sorted(strength)
    n = len(nodes)
    r = {u: _TR_SCALE // n for u in nodes}
    for _ in range(_TR_ROUNDS):
        inflow: Counter = Counter()
        for (u, v), c in w.items():
            inflow[v] += (r[u] * c) // strength[u]
        r = {
            v: (15 * (_TR_SCALE // n) + 85 * inflow[v]) // 100
            for v in inflow
        }
    ranked = sorted(r.items(), key=lambda t: (-t[1], t[0]))[:_TR_TOP]
    want = [
        (word, rank, i + 1) for i, (word, rank) in enumerate(ranked)
    ]
    got = [
        (x["word"], x["rank_scaled"], x["rk"])
        for x in sorted(
            QUERIES["txt_textrank_keywords"].spark(spark, SF).collect(),
            key=lambda x: x["rk"],
        )
    ]
    assert got == want


def test_interval_union_third_opinion(spark, events):
    """Literal per-user sweep over sorted intervals."""
    per_user = defaultdict(list)
    for e in events:
        per_user[e["user_id"]].append((_us(e["ts"]), e["event_id"]))
    want = {}
    for u, evs in per_user.items():
        evs.sort()
        covered, max_end = 0, None
        for s, _ in evs:
            e_ = s + _IVL_LEN_US
            lo = s if max_end is None else max(s, max_end)
            covered += max(e_ - lo, 0)
            max_end = e_ if max_end is None else max(max_end, e_)
        want[u] = (len(evs), covered)
    got = {
        r["user_id"]: (r["n_events"], r["covered_us"])
        for r in QUERIES["ev_interval_union_length"].spark(spark, SF).collect()
    }
    assert got == want


def test_asof_tolerance_third_opinion(spark, events):
    """Literal per-user scan: last click at-or-before each purchase,
    kept only within tolerance."""
    per_user = defaultdict(list)
    for e in events:
        if e["event_type"] in ("click", "purchase"):
            per_user[e["user_id"]].append(
                (
                    _us(e["ts"]),
                    0 if e["event_type"] == "click" else 1,
                    e["event_id"],
                )
            )
    want = {}
    for u, evs in per_user.items():
        evs.sort()
        last_click = None
        for ts, tag, eid in evs:
            if tag == 0:
                last_click = (ts, eid)
            else:
                if (
                    last_click is not None
                    and ts - last_click[0] <= _ASOF_TOL_US
                ):
                    want[eid] = (u, last_click[1], ts - last_click[0])
                else:
                    want[eid] = (u, -1, -1)
    got = {
        r["purchase_id"]: (r["user_id"], r["click_id"], r["gap_us"])
        for r in QUERIES["ev_asof_tolerance_join"].spark(spark, SF).collect()
    }
    assert got == want


def test_seasonal_dow_third_opinion(spark, events):
    """Literal daily counts, doubled medians, and the 2|2c-m2|>m2 gate."""
    daily: Counter = Counter()
    for e in events:
        daily[(e["event_type"], _us(e["ts"]) // _DAY_US)] += 1
    groups = defaultdict(list)
    for (et, day), cnt in daily.items():
        groups[(et, day % 7)].append((cnt, day))
    want = {}
    for (et, dow), rows in groups.items():
        rows.sort()
        cnts = [c for c, _ in rows]
        k = len(cnts)
        med2 = cnts[(k + 1) // 2 - 1] + cnts[(k + 2) // 2 - 1]
        deviant = sum(1 for c in cnts if 2 * abs(2 * c - med2) > med2)
        want[(et, dow)] = (med2, k, deviant)
    got = {
        (r["event_type"], r["dow"]): (
            r["median2_daily"],
            r["n_days"],
            r["n_deviant"],
        )
        for r in QUERIES["ev_seasonal_dow_deviation"].spark(spark, SF).collect()
    }
    assert got == want


def test_index_delta_third_opinion(spark, documents):
    """Literal banded minhash over shingles (the 4-md5 slice family),
    snapshot split by md5 decile, per-band delta accounting."""
    bands_by_doc = {}
    for d in documents:
        wlist = d["text"].split(" ")
        if len(wlist) < 3:
            continue
        shingles = {
            " ".join(wlist[i : i + 3]) for i in range(len(wlist) - 2)
        }
        sigs = []
        for band in range(8):
            lo = min(
                (
                    _md5(s)
                    + _md5("~" + s)
                    + _md5("#" + s)
                    + _md5("@" + s)
                )[band * 16 : band * 16 + 8]
                for s in shingles
            )
            hi = min(
                (
                    _md5(s)
                    + _md5("~" + s)
                    + _md5("#" + s)
                    + _md5("@" + s)
                )[band * 16 + 8 : band * 16 + 16]
                for s in shingles
            )
            sigs.append(lo + hi)
        bands_by_doc[d["doc_id"]] = (
            _md5_mod(str(d["doc_id"]), 10),
            sigs,
        )
    want = {}
    for band in range(8):
        before = deleted = added = rebuilt = 0
        index = defaultdict(set)
        probes_new = defaultdict(set)
        for doc, (b, sigs) in bands_by_doc.items():
            if b <= 8:
                before += 1
            if b == 0:
                deleted += 1
            if b == 9:
                added += 1
                probes_new[sigs[band]].add(doc)
            if b >= 1:
                rebuilt += 1
            if 1 <= b <= 8:
                index[sigs[band]].add(doc)
        n_cand = sum(
            len(news) * len(index[sig])
            for sig, news in probes_new.items()
            if sig in index
        )
        after = before - deleted + added
        want[band] = (
            before,
            deleted,
            added,
            after,
            1 if after == rebuilt else 0,
            n_cand,
        )
    got = {
        r["band"]: (
            r["n_before"],
            r["n_deleted"],
            r["n_added"],
            r["n_after"],
            r["matches_rebuild"],
            r["n_probe_candidates"],
        )
        for r in QUERIES["dedup_minhash_index_delta"].spark(spark, SF).collect()
    }
    assert got == want


def test_range_bucketed_third_opinion(spark, events):
    """Literal quadratic scan: for each error event, count signup
    windows covering it -- the semantics the bucketed plan must equal."""
    from clueso_spark.plans.staged_r12 import _RB_WIDTH_US

    signups = [
        _us(e["ts"]) for e in events if e["event_type"] == "signup"
    ]
    want = {}
    for e in events:
        if e["event_type"] != "error":
            continue
        t = _us(e["ts"])
        want[e["event_id"]] = sum(
            1 for s in signups if s <= t < s + _RB_WIDTH_US
        )
    got = {
        r["error_id"]: r["n_open_windows"]
        for r in QUERIES["join_range_bucketed_global"]
        .spark(spark, SF)
        .collect()
    }
    assert got == want


def _band_sigs_a(shingles):
    sigs = []
    for band in range(8):
        digests = [
            _md5(s) + _md5("~" + s) + _md5("#" + s) + _md5("@" + s)
            for s in shingles
        ]
        sigs.append(
            min(d[band * 16 : band * 16 + 8] for d in digests)
            + min(d[band * 16 + 8 : band * 16 + 16] for d in digests)
        )
    return sigs


def test_lsh_relative_recall_third_opinion(spark, documents):
    """Literal pooling protocol: both families' candidates from
    first-principles banding, exact Jaccard on the pooled union,
    per-family integer precision/recall."""
    from clueso_spark.plans.staged_r12 import _RR_B_SALTS, _RR_TAU

    sets = {}
    for d in documents:
        w = d["text"].split(" ")
        if len(w) >= 3:
            sets[d["doc_id"]] = {
                " ".join(w[i : i + 3]) for i in range(len(w) - 2)
            }
    buckets_a = defaultdict(set)
    buckets_b = defaultdict(set)
    for doc, ss in sets.items():
        for band, sig in enumerate(_band_sigs_a(ss)):
            buckets_a[(band, sig)].add(doc)
        for band, salt in enumerate(_RR_B_SALTS):
            sig = min(_md5(salt + s)[:8] for s in ss) + min(
                _md5(salt + s)[8:16] for s in ss
            )
            buckets_b[(band, sig)].add(doc)

    def pairs(buckets):
        out = set()
        for ds in buckets.values():
            ds = sorted(ds)
            out |= {
                (a, b) for i, a in enumerate(ds) for b in ds[i + 1 :]
            }
        return out

    cand_a, cand_b = pairs(buckets_a), pairs(buckets_b)
    pool = cand_a | cand_b
    verified = {
        (a, b)
        for a, b in pool
        if len(sets[a] & sets[b]) / len(sets[a] | sets[b]) >= _RR_TAU
    }
    want = {}
    for fam, cand in (("A", cand_a), ("B", cand_b)):
        nv = len(cand & verified)
        want[fam] = (
            len(cand),
            nv,
            len(verified),
            1_000_000 if not verified else 1_000_000 * nv // len(verified),
            1_000_000 if not cand else 1_000_000 * nv // len(cand),
        )
    got = {
        r["family"]: (
            r["n_candidates"],
            r["n_verified"],
            r["n_union_verified"],
            r["recall_rel_scaled"],
            r["precision_scaled"],
        )
        for r in QUERIES["dedup_lsh_relative_recall"].spark(spark, SF).collect()
    }
    assert got == want


def test_modularity_third_opinion(spark):
    """Literal 3-round min-label propagation + the cross-multiplied
    modularity sum."""
    edges, _ = _copurchase_edges()
    lbl = {u: u for u in edges}
    for _ in range(3):
        lbl = {
            u: min(lbl[u], min((lbl[v] for v in vs), default=lbl[u]))
            for u, vs in edges.items()
        }
    m = sum(len(vs) for vs in edges.values()) // 2
    ec: Counter = Counter()
    dc: Counter = Counter()
    for u, vs in edges.items():
        dc[lbl[u]] += len(vs)
        for v in vs:
            if lbl[u] == lbl[v]:
                ec[lbl[u]] += 1  # counts each intra edge twice
    q_num = sum(4 * m * (ec[c] // 2) - dc[c] * dc[c] for c in dc)
    rows = QUERIES["graph_modularity_communities"].spark(spark, SF).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["m"], r["n_communities"], r["q_num"]) == (m, len(dc), q_num)
    assert r["q"] == q_num / (4 * m * m)
