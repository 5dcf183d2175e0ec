"""Staged round-14 tier: full driver-grade parity at two SFs, plan
shapes, staging honesty, capacity sizing, and op-specific planted
tests -- the outer join's empirically-pinned eviction boundary, a
semantics-first numpy third opinion for MaxSim (the round-12 CUSUM
lesson: a third opinion written from the implementation replicates
its misreadings), and the RRF arithmetic law recomputed in plain
Python."""

from __future__ import annotations

import pytest

from clueso_spark.plans.parity import compare, duckdb_connect
from tests.conftest import registered_by

QUERIES = registered_by("clueso_spark.plans.staged_r14")

SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]


def test_tier_was_sized_to_round14_capacity():
    """The round-13 edition of this test pinned the tier to round
    14's free window capacity BEFORE promotion; the round-14 edition
    reconciled the window arithmetic. Round-15 edition (the window
    has rotated past this tier): the sizing claim is DISCHARGED --
    every staged name carries a driver green from round 14 onward,
    which is what correct sizing was for; none was deferred. (>= 14,
    not == 14: a later refresh of these names must not fail a
    terminal claim.)"""
    from tests.test_entry import _latest_green_rounds

    latest, _ = _latest_green_rounds()
    not_green = sorted(n for n in QUERIES if latest.get(n, 0) < 14)
    assert not_green == [], not_green


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
    BroadcastNestedLoopJoins are the sanctioned tiny broadcasts."""
    sanctioned_bnlj = {
        # 5 probe vectors broadcast against the corpus scan with a
        # `vec_id != probe_id` condition -- the similarity tier's
        # standard probes shape (same sanction as sim_bruteforce_topk)
        "sim_colbert_maxsim",
        # the dense arm reuses the identical probes shape; the lexical
        # arm joins on the word key (broadcast HASH join)
        "sim_rrf_fusion",
    }
    for name, cq in sorted(QUERIES.items()):
        if name.startswith("st_"):
            continue  # streaming plans execute on build; laws below
        plan = cq.spark(spark, SF_DIRS[1])._jdf.queryExecution().toString()
        assert "CartesianProduct" not in plan, (name, plan)
        if name not in sanctioned_bnlj:
            assert "BroadcastNestedLoopJoin" not in plan, (name, plan)


def test_promotion_is_live_and_heads_the_window():
    """Round 14 executed the promotion (the inverse of round 13's
    test_staging_is_not_live honesty guard): every formerly-staged
    name is in the live registry and perf-tracked in bench.py
    HEADLINE. Round-15 edition (the window has rotated past this
    tier): no staged name may be STRANDED -- each needs a committed
    driver green (all three got theirs in round 14) or a current
    window slot. The round-6 lesson: never claim that inclusion
    before it exists."""
    import bench

    from tests.test_entry import _latest_green_rounds

    from clueso_spark.plans.catalog import all_queries

    live = all_queries()
    missing = sorted(set(QUERIES) - set(live))
    assert missing == [], missing
    unbenched = sorted(set(QUERIES) - set(bench.HEADLINE))
    assert unbenched == [], unbenched
    names = list(live)
    window = set(names[:50])
    latest, _ = _latest_green_rounds()
    stranded = sorted(set(QUERIES) - window - set(latest))
    assert stranded == [], stranded


# ---------------------------------------------------------------------------
# st_stream_stream_outer_join
# ---------------------------------------------------------------------------


def _run_outer_join_on(spark, schema, path, sink):
    from pyspark.sql import functions as F

    src = spark.readStream.schema(schema).parquet(path)
    clicks = (
        src.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        src.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") < F.col("c_ts") + F.expr("interval 1 hour")),
        "left_outer",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink)


def test_outer_join_eviction_boundary(spark, tmp_path):
    """The oracle's eviction predicate is an EMPIRICAL pin, so plant
    events at the exact edges and assert each class:

      wm = min over streams of floor_ms(max event time) - 1 h;
      a matchless click emits (click, NULL) iff c_ts + 1 h <= wm,
      c_ts at FULL microsecond precision (non-strict boundary).

    Anchors at B+3h (one purchase, one click, different users) put
    both stream watermarks at B+2h; a +700 us anchor offset proves
    the ms-truncation (without truncation the wm would be
    B+2h+700us and clicks 3-4 below would flip)."""
    import datetime

    from pyspark.sql import types as T

    B = datetime.datetime(2024, 1, 1)

    def ts(sec, micro=0):
        return B + datetime.timedelta(seconds=sec, microseconds=micro)

    rows = [
        (100, 1, "purchase", 1.0, ts(3 * 3600, 700)),  # wm_p -> B+2h (ms)
        (200, 99, "click", 1.0, ts(3 * 3600, 700)),  # wm_c -> B+2h (ms)
        (1, 2, "click", 1.0, ts(3600 - 1)),  # c+1h = wm-1s     -> emit
        (2, 3, "click", 1.0, ts(3600)),  # c+1h = wm EXACTLY    -> emit
        (3, 4, "click", 1.0, ts(3600, 600)),  # past ms-trunc wm -> hold
        (4, 5, "click", 1.0, ts(3600, 800)),  # past either wm   -> hold
        (5, 6, "click", 1.0, ts(3599, 999999)),  # c+1h = wm-1us -> emit
    ]
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    path = str(tmp_path / "ev")
    spark.createDataFrame(rows, schema).repartition(1).write.parquet(path)
    out = _run_outer_join_on(spark, schema, path, "r14_boundary_sink")
    emitted = sorted(
        r["click_id"]
        for r in out.where("purchase_id is null").collect()
    )
    assert emitted == [1, 2, 5], emitted


def test_outer_join_decomposes_into_inner_plus_evictable_anti(spark):
    """Law on the real testdata: the streaming result partitions
    exactly into (a) the batch inner range join and (b) the batch
    anti-join rows passing the integer-microsecond eviction
    predicate -- the decomposition the oracle encodes, asserted
    against the BATCH engine rather than the oracle's own SQL."""
    from pyspark.sql import functions as F

    from clueso_spark.sources.tables import load_table

    sf = SF_DIRS[1]
    out = QUERIES["st_stream_stream_outer_join"].spark(spark, sf)
    got_matched = {
        (r["click_id"], r["purchase_id"])
        for r in out.where("purchase_id is not null").collect()
    }
    got_null = sorted(
        r["click_id"] for r in out.where("purchase_id is null").collect()
    )

    ev = load_table(spark, sf, "events")
    c = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("c_ts"),
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    cond = (
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") < F.col("c_ts") + F.expr("interval 1 hour"))
    )
    want_matched = {
        (r["click_id"], r["purchase_id"])
        for r in c.join(p, cond, "inner").collect()
    }
    assert got_matched == want_matched

    hour_us = 3_600_000_000
    max_c = c.agg(
        F.max(F.unix_micros("c_ts")).alias("m")
    ).collect()[0]["m"]
    max_p = p.agg(
        F.max(F.unix_micros("p_ts")).alias("m")
    ).collect()[0]["m"]
    wm = min(max_c // 1000 * 1000, max_p // 1000 * 1000) - hour_us
    want_null = sorted(
        r["click_id"]
        for r in c.join(p, cond, "left_anti")
        .where(F.unix_micros("c_ts") + hour_us <= F.lit(wm))
        .collect()
    )
    assert got_null == want_null
    assert len(got_null) > 0  # the outer semantics actually fired


def test_outer_join_reruns_in_same_session(spark):
    """The driver (and bench best-of-2) invoke each streaming query
    repeatedly in one session; the memory-sink name must be reusable
    after termination."""
    sf = SF_DIRS[0]
    first = QUERIES["st_stream_stream_outer_join"].spark(spark, sf).count()
    second = QUERIES["st_stream_stream_outer_join"].spark(spark, sf).count()
    assert first == second > 0


# ---------------------------------------------------------------------------
# sim_colbert_maxsim
# ---------------------------------------------------------------------------


def test_maxsim_numpy_third_opinion(spark):
    """Semantics-first check, independent of BOTH the Spark plan and
    the DuckDB oracle: recompute MaxSim at sf0.001 with numpy from
    the written definition -- 8 sub-vectors of 8 dims, score =
    sum_i max_j <q_i, d_j>, top-10 by (score desc, vec_id) -- and
    require identical ids, ranks, and round-6 scores."""
    import numpy as np
    import pyarrow.parquet as pq

    sf = SF_DIRS[0]
    tbl = pq.read_table(f"{sf}/embeddings.parquet")
    ids = tbl["vec_id"].to_pylist()
    vecs = {
        i: np.asarray(v, dtype=np.float64)
        for i, v in zip(ids, tbl["embedding"].to_pylist())
    }
    want = []
    for p in range(5):
        q = vecs[p].reshape(8, 8)
        scored = []
        for d, v in vecs.items():
            if d == p:
                continue
            dv = v.reshape(8, 8)
            # max over doc sub-vectors for each query sub-vector
            score = float((q @ dv.T).max(axis=1).sum())
            scored.append((d, score))
        scored.sort(key=lambda t: (-t[1], t[0]))
        for rk, (d, s) in enumerate(scored[:10], start=1):
            want.append((p, d, round(s, 6), rk))

    got = [
        (r["probe_id"], r["vec_id"], round(r["maxsim"], 6), r["rk"])
        for r in QUERIES["sim_colbert_maxsim"]
        .spark(spark, sf)
        .orderBy("probe_id", "rk")
        .collect()
    ]
    assert got == sorted(want, key=lambda t: (t[0], t[3]))


def test_maxsim_dominates_whole_vector_dot(spark):
    """Law from the definition: sum_i max_j <q_i, d_j> >=
    sum_i <q_i, d_i> = <q, d> -- late interaction can only improve on
    the aligned-chunk decomposition of the full dot product (up to
    float tolerance)."""
    import numpy as np
    import pyarrow.parquet as pq

    sf = SF_DIRS[0]
    tbl = pq.read_table(f"{sf}/embeddings.parquet")
    vecs = {
        i: np.asarray(v, dtype=np.float64)
        for i, v in zip(
            tbl["vec_id"].to_pylist(), tbl["embedding"].to_pylist()
        )
    }
    rows = QUERIES["sim_colbert_maxsim"].spark(spark, sf).collect()
    assert rows
    for r in rows:
        full_dot = float(vecs[r["probe_id"]] @ vecs[r["vec_id"]])
        assert r["maxsim"] >= full_dot - 1e-6, (r, full_dot)


# ---------------------------------------------------------------------------
# sim_rrf_fusion
# ---------------------------------------------------------------------------


def test_rrf_arithmetic_law(spark):
    """Every output row's rrf_score must equal the closed form
    recomputed in plain Python from its own component ranks:
    1e9 // (60 + rank) summed over the arms where rank > 0; and at
    least one fused row must draw from BOTH arms at sf0.01 (else the
    op degenerates to a single ranker and fusion is untested)."""
    rows = QUERIES["sim_rrf_fusion"].spark(spark, SF_DIRS[1]).collect()
    assert rows
    both = 0
    for r in rows:
        want = 0
        if r["dense_rk"] > 0:
            want += 1_000_000_000 // (60 + r["dense_rk"])
        if r["lex_rk"] > 0:
            want += 1_000_000_000 // (60 + r["lex_rk"])
        assert r["rrf_score"] == want, r
        assert r["dense_rk"] > 0 or r["lex_rk"] > 0, r
        if r["dense_rk"] > 0 and r["lex_rk"] > 0:
            both += 1
    assert both > 0


def test_rrf_lexical_arm_python_third_opinion(spark):
    """Recompute the lexical arm at sf0.001 from the written
    definition (distinct-word overlap, self excluded, rank by
    (overlap desc, doc_id), top 20) in plain Python and require the
    op's lex_rk values to be consistent with it for every fused row
    that carries one."""
    import pyarrow.parquet as pq

    sf = SF_DIRS[0]
    tbl = pq.read_table(f"{sf}/documents.parquet")
    words = {
        d: {w for w in t.split(" ") if w}
        for d, t in zip(tbl["doc_id"].to_pylist(), tbl["text"].to_pylist())
    }
    lex_rank = {}
    for p in range(5):
        scored = [
            (d, len(words[p] & ws))
            for d, ws in words.items()
            if d != p and len(words[p] & ws) > 0
        ]
        scored.sort(key=lambda t: (-t[1], t[0]))
        for rk, (d, _) in enumerate(scored[:20], start=1):
            lex_rank[(p, d)] = rk

    rows = QUERIES["sim_rrf_fusion"].spark(spark, sf).collect()
    assert rows
    seen_with_lex = 0
    for r in rows:
        want = lex_rank.get((r["probe_id"], r["id"]), 0)
        assert r["lex_rk"] == want, (dict(r.asDict()), want)
        seen_with_lex += int(want > 0)
    assert seen_with_lex > 0


def test_staged_empty_corpus_returns_not_raises(spark, tmp_path_factory):
    """Empty-corpus guard, same contract as tests/test_empty_corpus.py:
    every staged op must return (possibly zero rows), never raise, on
    a corpus with zero rows in every table."""
    import sys

    from tests.conftest import REPO_ROOT

    sys.path.insert(0, str(REPO_ROOT / "tools"))
    from empty_sweep import write_empty_corpus

    sf = write_empty_corpus(str(tmp_path_factory.mktemp("empty_r14")))
    for name, cq in sorted(QUERIES.items()):
        rows = cq.spark(spark, sf).collect()
        assert isinstance(rows, list), name
