"""Staged round-15 tier: full driver-grade parity at two SFs, plan
shapes, staging honesty, capacity sizing, and op-specific planted
tests -- the BPE greedy-fold adversaries that distinguish the fold
from naive pair replacement, plus literal Python third opinions
written from each op's DEFINITION (the round-12 CUSUM lesson)."""

from __future__ import annotations

import hashlib

import pytest

from clueso_spark.plans.parity import compare, duckdb_connect
from tests.conftest import registered_by

QUERIES = registered_by("clueso_spark.plans.staged_r15")

SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]


def test_tier_is_sized_to_round15_projection():
    """Round 15's free capacity projects to 50 - 46 (the r10 cohort,
    its mandatory head after rounds 13 and 14 land their pinned
    windows) = 4 slots. The projection cannot be asserted against
    artifacts that do not exist yet; rounds 13/14 pin their windows
    mechanically, so the r10 cohort size is already fixed today --
    derive it from the committed artifacts and assert the tier fits."""
    from tests.test_entry import WINDOW, _latest_green_rounds

    latest, _ = _latest_green_rounds()
    r10 = [n for n, r in latest.items() if r == 10]
    assert len(QUERIES) <= WINDOW - len(r10), (len(QUERIES), len(r10))


@pytest.mark.parametrize("sf_dir", SF_DIRS)
@pytest.mark.parametrize("name", sorted(QUERIES))
def test_staged_parity(spark, name, sf_dir):
    cq = QUERIES[name]
    df = cq.spark(spark, sf_dir)
    if cq.oracle_valid is not None and not cq.oracle_valid(sf_dir):
        assert df.count() >= 0
        return
    con = duckdb_connect(sf_dir)
    res = compare(name, df, cq.oracle, con)
    assert res.ok, (name, res.detail)


def test_staged_rows_nonempty(spark):
    for name, cq in sorted(QUERIES.items()):
        assert cq.spark(spark, SF_DIRS[1]).count() > 0, name


def test_staged_plan_shapes(spark):
    """No staged plan contains a CartesianProduct; the only
    BroadcastNestedLoopJoins are the sanctioned tiny broadcasts."""
    sanctioned_bnlj = {
        # per merge round, the 1-row top-pair frame crossJoins
        # (broadcast) onto the corpus -- the catalog's standard 1-row
        # scalar broadcast shape
        "txt_bpe_merge_steps",
    }
    for name, cq in sorted(QUERIES.items()):
        plan = cq.spark(spark, SF_DIRS[1])._jdf.queryExecution().toString()
        assert "CartesianProduct" not in plan, (name, plan)
        if name not in sanctioned_bnlj:
            assert "BroadcastNestedLoopJoin" not in plan, (name, plan)


def test_promotion_is_live_and_heads_the_window():
    """Round 15 executed the promotion (the inverse of rounds 13/14's
    test_staging_is_not_live honesty guard): every formerly-staged
    name is in the live registry, perf-tracked in bench.py HEADLINE,
    and holds a round-15 driver window slot (never-driver-verified
    names may not sit outside the window -- that would strand them).
    The round-6 lesson: never claim that inclusion before it
    exists."""
    import bench

    from clueso_spark.plans.catalog import all_queries

    live = all_queries()
    missing = sorted(set(QUERIES) - set(live))
    assert missing == [], missing
    unbenched = sorted(set(QUERIES) - set(bench.HEADLINE))
    assert unbenched == [], unbenched
    names = list(live)
    window = set(names[:50])
    outside = sorted(set(QUERIES) - window)
    assert outside == [], outside


# ---------------------------------------------------------------------------
# txt_bpe_merge_steps
# ---------------------------------------------------------------------------


def _greedy_merge(tokens, left, right):
    """Reference greedy left-to-right BPE merge application."""
    out = []
    for t in tokens:
        if out and out[-1] == left and t == right:
            out[-1] = f"{left}_{right}"
        else:
            out.append(t)
    return out


def _bpe_reference(texts, steps):
    """Literal Python BPE trainer from the definition."""
    docs = [[w for w in t.split(" ") if w] for t in texts]
    rows = []
    for step in range(1, steps + 1):
        counts = {}
        for d in docs:
            for a, b in zip(d, d[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + 1
        if not counts:
            # no adjacency anywhere (all docs <= 1 token, or the
            # corpus emptied): the op's 1-row top-pair frame is empty,
            # the crossJoin-applied corpus is empty, and the per-step
            # stats row carries NULLs -- on BOTH engines (pinned by
            # the hypothesis single-token example)
            rows.append((step, None, None, None, None))
            docs = []
            continue
        (left, right), freq = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0])
        )
        docs = [_greedy_merge(d, left, right) for d in docs]
        rows.append((step, left, right, freq, sum(len(d) for d in docs)))
    return rows


def test_bpe_consecutive_pair_adversaries(spark, tmp_path):
    """The planted cases that separate greedy left-to-right merging
    from naive replacement: 'a a a a' merges twice, 'a a a' once, and
    a merged token never chain-merges with a following raw token in
    the same step. Runs the REAL op on a planted corpus and checks
    both the merge row and the resulting token count."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    texts = ["a a a a", "a a a", "b a a c", "b c b c b c"]
    pq.write_table(
        pa.Table.from_pylist(
            [
                {
                    "doc_id": i,
                    "text": t,
                    "lang": "en",
                    "source": "src0",
                    "n_chars": len(t),
                }
                for i, t in enumerate(texts)
            ]
        ),
        f"{tmp_path}/documents.parquet",
    )
    got = [
        (
            r["step"],
            r["pair_left"],
            r["pair_right"],
            r["freq"],
            r["n_tokens_after"],
        )
        for r in QUERIES["txt_bpe_merge_steps"]
        .spark(spark, str(tmp_path))
        .orderBy("step")
        .collect()
    ]
    want = _bpe_reference(texts, 3)
    assert got == want, (got, want)
    # the planted arithmetic, spelled out: step 1 merges (a, a) -- 6
    # adjacencies (3 + 2 + 1) but only FOUR greedy applications
    # (2 + 1 + 1), so the 17 corpus tokens drop to 13
    assert got[0][1:] == ("a", "a", 6, 13)


def test_bpe_matches_python_reference_on_corpus(spark):
    """Third opinion at sf0.001: the full 3-step training run matches
    the literal Python trainer on the real corpus."""
    import pyarrow.parquet as pq

    sf = SF_DIRS[0]
    texts = pq.read_table(f"{sf}/documents.parquet")["text"].to_pylist()
    want = _bpe_reference(texts, 3)
    got = [
        (
            r["step"],
            r["pair_left"],
            r["pair_right"],
            r["freq"],
            r["n_tokens_after"],
        )
        for r in QUERIES["txt_bpe_merge_steps"]
        .spark(spark, sf)
        .orderBy("step")
        .collect()
    ]
    assert got == want, (got, want)


# ---------------------------------------------------------------------------
# txt_vocab_coverage_oov
# ---------------------------------------------------------------------------


def test_vocab_coverage_python_third_opinion(spark):
    """Recompute the audit at sf0.001 from the definition: top-16
    vocab by (count desc, word asc); per source exact token/OOV
    counts and permyriad rate."""
    import pyarrow.parquet as pq

    sf = SF_DIRS[0]
    tbl = pq.read_table(f"{sf}/documents.parquet")
    counts = {}
    per_source = {}
    for src, text in zip(
        tbl["source"].to_pylist(), tbl["text"].to_pylist()
    ):
        for w in text.split(" "):
            if w:
                counts[w] = counts.get(w, 0) + 1
                per_source.setdefault(src, []).append(w)
    vocab = {
        w
        for w, _ in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[
            :16
        ]
    }
    want = {}
    for src, toks in per_source.items():
        oov = [w for w in toks if w not in vocab]
        want[src] = (
            len(toks),
            len(oov),
            len(set(oov)),
            10000 * len(oov) // len(toks),
        )
    got = {
        r["source"]: (
            r["n_tokens"],
            r["n_oov"],
            r["n_oov_types"],
            r["oov_permyriad"],
        )
        for r in QUERIES["txt_vocab_coverage_oov"].spark(spark, sf).collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# ev_lateness_audit
# ---------------------------------------------------------------------------


def test_lateness_audit_python_third_opinion(spark):
    """Recompute at sf0.001 from the definition: shard =
    md5(event_id) mod 8; arrival order = (position within shard,
    shard); lateness = running per-user event-time max over earlier
    arrivals minus own event time when positive."""
    import pyarrow.parquet as pq

    sf = SF_DIRS[0]
    tbl = pq.read_table(f"{sf}/events.parquet")
    unit = str(pq.read_schema(f"{sf}/events.parquet").field("ts").type)
    scale = 1000 if unit == "timestamp[ns]" else 1
    events = [
        (u, e, t.value // scale)
        for u, e, t in zip(
            tbl["user_id"].to_pylist(),
            tbl["event_id"].to_pylist(),
            tbl["ts"],
        )
    ]

    def shard(eid):
        return int(
            hashlib.md5(str(eid).encode()).hexdigest()[:8], 16
        ) % 8

    by_shard = {}
    for u, e, t in sorted(events, key=lambda r: r[1]):
        by_shard.setdefault(shard(e), []).append((u, e, t))
    arrival = []
    for sh, rows in by_shard.items():
        for pos, (u, e, t) in enumerate(rows, start=1):
            arrival.append((pos, sh, u, t))
    arrival.sort()

    want = {}
    state = {}
    for _pos, _sh, u, t in arrival:
        hw = state.get(u)
        late = hw - t if hw is not None and hw > t else 0
        n, nl, tot, mx = want.get(u, (0, 0, 0, 0))
        want[u] = (
            n + 1,
            nl + (1 if late > 0 else 0),
            tot + late,
            max(mx, late),
        )
        state[u] = t if hw is None else max(hw, t)
    want = {
        u: (n, nl, tot, mx, 10000 * nl // n)
        for u, (n, nl, tot, mx) in want.items()
    }
    got = {
        r["user_id"]: (
            r["n_events"],
            r["n_late"],
            r["total_late_us"],
            r["max_late_us"],
            r["late_permyriad"],
        )
        for r in QUERIES["ev_lateness_audit"].spark(spark, sf).collect()
    }
    assert got == want
    assert any(v[1] > 0 for v in got.values())  # lateness actually occurs


# ---------------------------------------------------------------------------
# graph_randomwalk_corpus
# ---------------------------------------------------------------------------


def test_randomwalk_python_third_opinion(spark):
    """Recompute the walks at sf0.001 from the definition: symmetric
    co-purchase edges, sorted neighbors, next = nbrs[md5(walk_id_t)
    mod deg]."""
    import duckdb

    sf = SF_DIRS[0]
    con = duckdb.connect()
    pairs = con.execute(
        f"""
        select distinct o_custkey, l_suppkey
        from read_parquet('{sf}/orders.parquet') o
        join read_parquet('{sf}/lineitem.parquet') l
          on o.o_orderkey = l.l_orderkey
        """
    ).fetchall()
    base = 1_000_000_000_000
    nbrs = {}
    for c, s in pairs:
        nbrs.setdefault(c, set()).add(base + s)
        nbrs.setdefault(base + s, set()).add(c)
    nbrs = {u: sorted(v) for u, v in nbrs.items()}

    def pick(walk_id, step, options):
        h = hashlib.md5(f"{walk_id}_{step}".encode()).hexdigest()[:8]
        return options[int(h, 16) % len(options)]

    want = set()
    for u in nbrs:
        node = u
        want.add((u, 0, u))
        for step in (1, 2, 3):
            node = pick(u, step, nbrs[node])
            want.add((u, step, node))

    got = {
        (r["walk_id"], r["step"], r["node"])
        for r in QUERIES["graph_randomwalk_corpus"].spark(spark, sf).collect()
    }
    assert got == want
    # every walk has exactly 4 rows (steps 0-3): no dead ends by
    # construction of the symmetric graph
    assert len(got) == 4 * len(nbrs)


def test_staged_empty_corpus_returns_not_raises(spark, tmp_path_factory):
    """Empty-corpus guard, same contract as tests/test_empty_corpus.py:
    every staged op must return (possibly zero rows), never raise, on
    a corpus with zero rows in every table."""
    import sys

    from tests.conftest import REPO_ROOT

    sys.path.insert(0, str(REPO_ROOT / "tools"))
    from empty_sweep import write_empty_corpus

    sf = write_empty_corpus(str(tmp_path_factory.mktemp("empty_r15")))
    for name, cq in sorted(QUERIES.items()):
        rows = cq.spark(spark, sf).collect()
        assert isinstance(rows, list), name
