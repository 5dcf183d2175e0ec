"""Parity gate for the round-11 STAGED operators (plans/staged_r12.py).

Runs the exact driver comparison -- row count + schema + order-
insensitive value hash against the DuckDB oracle -- at sf0.001 and
sf0.01, so each staged query is proven green BEFORE round 12 promotes
it into the registry and the driver's verification window (the same
life-cycle staged_r6 .. staged_r11 all ran through).
"""

from __future__ import annotations

import pytest

from clueso_spark.plans.parity import compare, duckdb_connect
from tests.conftest import registered_by

QUERIES = registered_by("clueso_spark.plans.staged_r12")

SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]


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
    """Every staged query returns at least one row at sf0.01 (the
    driver's smoke bar for registered queries)."""
    for name, cq in sorted(QUERIES.items()):
        assert cq.spark(spark, SF_DIRS[1]).count() > 0, name


def test_staged_plan_shapes(spark):
    """No staged plan contains a CartesianProduct; the only
    BroadcastNestedLoopJoins are the sanctioned tiny broadcasts; and
    every Window node is either keyed or bounded-constant (the global
    ones run over sketch-sized or top-k-limited frames only)."""
    sanctioned_bnlj = {
        # 3-row quantile spec x bucket-count-sized sketch / rank frames
        # (both join sides bounded; the corpus is touched keyed-only)
        "agg_hdr_quantile_merge",
        # 1-row cohort-totals broadcast onto the shared-type relation
        "agg_kl_divergence_drift",
        # per-round 1-row node-count x 1-row edge-count cross joins
        "graph_kcore_decomposition",
        # 1-row vertex-count broadcast per PageRank round (the same
        # sanction graph_pagerank_copurchase carries in test_plans)
        "txt_textrank_keywords",
        # three 1-row counter frames (candidates / verified / pooled
        # union) cross-joined per family
        "dedup_lsh_relative_recall",
        # 1-row undirected-edge-count broadcast onto the community terms
        "graph_modularity_communities",
        # 1-row corpus-min-day broadcast rebasing the week buckets
        "ev_bitmap_retention",
    }
    for name, cq in sorted(QUERIES.items()):
        plan = cq.spark(spark, SF_DIRS[1])._jdf.queryExecution().toString()
        assert "CartesianProduct" not in plan, (name, plan)
        if name not in sanctioned_bnlj:
            assert "BroadcastNestedLoopJoin" not in plan, (name, plan)


def test_promotion_is_live_and_heads_the_window():
    """Round 12 executed the promotion (the inverse of round 11's
    test_staging_is_not_live honesty guard): every formerly-staged name
    is in the live registry and perf-tracked in bench.py HEADLINE. As
    of round 13, 21 of the 26 carry r12 driver greens and the five
    round-12 deferrals hold slots 0-4 of the round-13 window -- the
    pinned headship obligation, discharged (see also
    tests/test_entry.py::test_deferred_promotions_head_next_round_window).
    The round-6 lesson: never claim that inclusion before it exists."""
    import bench

    from tests.test_entry import FORMER_DEFERRED, _latest_green_rounds

    from clueso_spark.plans.catalog import all_queries

    live = all_queries()
    missing = sorted(set(QUERIES) - set(live))
    assert missing == [], missing
    unbenched = sorted(set(QUERIES) - set(bench.HEADLINE))
    assert unbenched == [], unbenched
    # round-13 edition: 21 of the 26 carry r12 driver greens; the five
    # round-12 deferrals (FORMER_DEFERRED) hold slots 0-4 of the
    # round-13 window, discharging the pinned obligation -- no staged
    # name is stranded without either a driver row or a window slot
    names = list(live)
    window = set(names[:50])
    latest, _ = _latest_green_rounds()
    stranded = sorted(set(QUERIES) - window - set(latest))
    assert stranded == [], stranded
    assert tuple(names[: len(FORMER_DEFERRED)]) == FORMER_DEFERRED
    assert set(FORMER_DEFERRED) == set(QUERIES) & window


def test_index_delta_maintenance_equals_rebuild(spark):
    """The LSM invariant is hash-verified data, but pin it as a law
    too: every band's maintained count equals the rebuild."""
    rows = QUERIES["dedup_minhash_index_delta"].spark(
        spark, SF_DIRS[1]
    ).collect()
    assert len(rows) == 8
    assert all(r["matches_rebuild"] == 1 for r in rows)


def test_cms_estimates_dominate_truth(spark):
    """The count-min guarantee: estimate >= exact count, for every
    probed heavy hitter, at both SFs."""
    for sf in SF_DIRS:
        rows = QUERIES["agg_cms_partial_merge"].spark(spark, sf).collect()
        assert rows, sf
        assert all(r["ge_truth"] == 1 for r in rows), sf
        assert all(r["overcount"] >= 0 for r in rows), sf


def test_hdr_buckets_contain_exact_quantiles(spark):
    """The sketch's accuracy claim: every quantile's exact value lies
    inside the sketch's answered bucket (relative error <= 2x by
    construction of log2 buckets)."""
    for sf in SF_DIRS:
        rows = QUERIES["agg_hdr_quantile_merge"].spark(spark, sf).collect()
        assert {r["pct"] for r in rows} == {50, 90, 99}, sf
        assert all(r["within_bucket"] == 1 for r in rows), sf


def test_kcore_monotonically_shrinks(spark):
    """Peeling can only remove: node and edge counts are non-increasing
    across rounds."""
    rows = sorted(
        QUERIES["graph_kcore_decomposition"].spark(spark, SF_DIRS[1]).collect(),
        key=lambda r: r["round"],
    )
    assert [r["round"] for r in rows] == [1, 2, 3]
    for a, b in zip(rows, rows[1:]):
        assert b["n_nodes"] <= a["n_nodes"]
        assert b["n_edges"] <= a["n_edges"]


def test_interval_union_bounds(spark):
    """Union coverage is bounded: one interval's length <= covered_us
    <= n_events * interval length."""
    from clueso_spark.plans.staged_r12 import _IVL_LEN_US

    rows = QUERIES["ev_interval_union_length"].spark(
        spark, SF_DIRS[1]
    ).collect()
    assert rows
    for r in rows:
        assert _IVL_LEN_US <= r["covered_us"] <= r["n_events"] * _IVL_LEN_US


def test_asof_tolerance_never_exceeds_bound(spark):
    """Every matched purchase's gap is within tolerance; unmatched rows
    carry the -1 sentinel in both columns."""
    from clueso_spark.plans.staged_r12 import _ASOF_TOL_US

    rows = QUERIES["ev_asof_tolerance_join"].spark(spark, SF_DIRS[1]).collect()
    assert rows
    for r in rows:
        if r["click_id"] == -1:
            assert r["gap_us"] == -1
        else:
            assert 0 <= r["gap_us"] <= _ASOF_TOL_US


def test_no_corpus_sized_global_windows(spark):
    """Round-11 review pin: partition-less windows are allowed ONLY
    over bounded relations -- the merged sketch (<= 64 log2 buckets)
    and the post-TakeOrdered top-k frames (<= 20 rows). Every op's
    expected count of partition-less window specs is pinned, so a
    future edit that ranks a corpus-sized relation through one task
    fails here (this round's own first HDR draft did exactly that;
    the fix routes the exact branch through the value-domain
    histogram + ranged cumsum instead)."""
    import re

    expected = {
        "agg_hdr_quantile_merge": 1,  # bucket-count-sized sketch cumsum
        "txt_textrank_keywords": 1,  # 20-row post-limit rank
        "graph_adamic_adar_linkpred": 1,  # 20-row post-limit rank
    }
    for name, cq in sorted(QUERIES.items()):
        # executedPlan only: queryExecution().toString() prints four
        # plan sections and would quadruple-count each window spec
        plan = (
            cq.spark(spark, SF_DIRS[0])
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        unpartitioned = [
            frag
            for frag in re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
            # a partition column shows up before the sort spec; specs
            # that START with an ordering direction have no partition
            if re.match(r"\s*[a-zA-Z_#0-9]+\s+(ASC|DESC)", frag)
        ]
        assert len(unpartitioned) <= expected.get(name, 0), (
            name,
            unpartitioned,
        )


def test_dbscan_grid_coincident_pile(spark, tmp_path):
    """Scale pin for the distinct-point collapse: 300 users sharing ONE
    feature point must cost one distinct-point row through the cell
    join (not 300^2 pair expansions) and still count 299 neighbors
    each. Far-away singletons stay non-core."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = []
    ts = datetime.datetime(2024, 1, 1)
    eid = 0
    # 300 users, each exactly 1 click + 1 purchase -> all at (1, 1)
    for u in range(300):
        for et in ("click", "purchase"):
            rows.append((eid, ts, u, et, 1.0, "{}"))
            eid += 1
    # 2 far singletons: 40 clicks each -> (40, 0), isolated
    for u in (1000, 2000):
        for _ in range(40 + (u == 2000) * 10):
            rows.append((eid, ts, u, "click", 1.0, "{}"))
            eid += 1
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows]),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows]),
        }
    )
    pq.write_table(table, str(tmp_path / "events.parquet"))
    out = {
        r["user_id"]: (r["n_neighbors"], r["is_core"])
        for r in QUERIES["sim_dbscan_grid"].spark(spark, str(tmp_path)).collect()
    }
    assert len(out) == 302
    for u in range(300):
        assert out[u] == (299, 1), (u, out[u])
    assert out[1000] == (0, 0)
    assert out[2000] == (0, 0)
    # the collapse itself: the cell join consumes the distinct-point
    # relation -- the analyzed plan must aggregate on (x, y) before
    # the join, so the pile contributes ONE row per join side
    plan = (
        QUERIES["sim_dbscan_grid"]
        .spark(spark, str(tmp_path))
        ._jdf.queryExecution()
        .analyzed()
        .toString()
    )
    assert "Aggregate [x" in plan, plan


def test_kmv_stream_multi_batch_fold(spark, tmp_path):
    """The associativity claim, exercised for real: 3 micro-batches
    (maxFilesPerTrigger=1) with overlapping items and enough distinct
    mass (90 > k=64) to force both duplicate-suppression ACROSS batches
    and bottom-k eviction; the drained state must equal the batch KMV
    over the union. The catalog query's sf corpora drain in one batch,
    so this is the test that proves the fold, not the oracle."""
    import hashlib
    import json

    from clueso_spark.plans.staged_r12 import (
        _KMV_K,
        _KMV_M,
        _kmv_state_fn,
    )
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    src = tmp_path / "src"
    src.mkdir()
    batches = [range(0, 40), range(30, 70), range(60, 90)]
    for i, rng in enumerate(batches):
        spark.createDataFrame(
            [("a", f"item{j:03d}") for j in rng], "cohort string, item string"
        ).coalesce(1).write.mode("overwrite").parquet(
            str(src / f"b{i}.parquet")
        )
    stream = (
        spark.readStream.schema("cohort string, item string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*.parquet"))
    )
    out_schema = (
        "cohort string, n_sketch bigint, h_k bigint, "
        "est_distinct bigint, n_seen bigint"
    )
    sketched = stream.groupBy("cohort").applyInPandasWithState(
        _kmv_state_fn,
        outputStructType=out_schema,
        stateStructType="entries string, seen bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = (
        sketched.writeStream.format("memory")
        .queryName("kmv_multibatch_sink")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table("kmv_multibatch_sink").collect()
    # one update row per micro-batch proves this really ran multi-batch
    assert len(rows) == 3, rows
    final = max(rows, key=lambda r: r["n_seen"])
    items = {f"item{j:03d}" for rng in batches for j in rng}
    assert len(items) == 90
    ranked = sorted(
        (int(hashlib.md5(i.encode()).hexdigest()[:8], 16), i) for i in items
    )
    h_k = ranked[_KMV_K - 1][0]
    assert final["n_sketch"] == _KMV_K
    assert final["h_k"] == h_k
    assert final["est_distinct"] == ((_KMV_K - 1) * _KMV_M) // h_k
    assert final["n_seen"] == sum(len(r) for r in batches)


def test_kmv_state_fn_inline_cap_is_exact():
    """ADVICE r11: the in-batch candidate list is truncated to k
    whenever it reaches 4k, so per-key memory is O(k) for arbitrarily
    large micro-batches. Exactness under the cap, driven directly:
    2000 distinct items (>= 7 inline truncations at k=64), with the
    stream-wide bottom-k items fed FIRST (so every one of them must
    survive every truncation) and every truncated item fed a second
    time (recurrence after eviction must not corrupt the sketch or
    duplicate entries)."""
    import hashlib
    import json

    import pandas as pd

    from clueso_spark.plans.staged_r12 import _KMV_K, _KMV_M, _kmv_state_fn

    items = [f"unit{j:05d}" for j in range(2000)]
    ranked = sorted(
        (int(hashlib.md5(i.encode()).hexdigest()[:8], 16), i) for i in items
    )
    bottom = [i for _, i in ranked[:_KMV_K]]
    rest = [i for _, i in ranked[_KMV_K:]]
    feed = bottom + rest + rest  # bottom-k first, evicted items recur

    class FakeState:
        exists = False

        def update(self, value):
            self.value = value

    state = FakeState()
    [out] = list(
        _kmv_state_fn(
            ("a",), [pd.DataFrame({"item": feed})], state
        )
    )
    entries = json.loads(state.value[0])
    assert [it for _, it in entries] == bottom
    assert len(entries) == len({it for _, it in entries}) == _KMV_K
    h_k = entries[-1][0]
    assert h_k == ranked[_KMV_K - 1][0]
    assert out["est_distinct"][0] == ((_KMV_K - 1) * _KMV_M) // h_k
    assert out["n_seen"][0] == len(feed)
