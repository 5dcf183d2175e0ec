"""Parity gate for the round-6 STAGED operators (plans/staged_r6.py).

Runs the exact driver comparison -- row count + schema + order-
insensitive value hash against the DuckDB oracle -- at sf0.001 and
sf0.01, so each staged query is proven green BEFORE round 6 promotes it
into the registry and the driver's verification window.
"""

from __future__ import annotations

import pytest

from clueso_spark.plans.parity import compare, duckdb_connect
from tests.conftest import registered_by

QUERIES = registered_by("clueso_spark.plans.staged_r6")

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


#: staged ops whose input is not the documents table (embeddings /
#: events / lineitem) -- excluded from the documents-only corpus tests
_NON_DOC = {
    "sim_knn_join",
    "sim_range_search",
    "st_windowed_topk",
    "ev_rfm_segmentation",
    "graph_node_similarity",
}
_DOC_NAMES = [n for n in QUERIES if n not in _NON_DOC]


def _write_docs(spark, path, rows):
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/documents.parquet")


def test_staged_empty_corpus_does_not_crash(spark, tmp_path):
    """Empty inputs: scalar aggs produce their null/zero row, per-doc
    projections produce zero rows -- never an exception (div-by-zero in
    retention/slope must null out, not raise)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    sf = str(tmp_path / "sf_empty")
    _write_docs(spark, sf, [])
    spark.createDataFrame(
        [], "vec_id bigint, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{sf}/embeddings.parquet")
    # events/lineitem consumers sniff the parquet footer driver-side
    # (events_stream, load_table), so these must be single FILES with
    # real schemas, not Spark output directories
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([], pa.int64()),
                "ts": pa.array([], pa.timestamp("us")),
                "user_id": pa.array([], pa.int64()),
                "event_type": pa.array([], pa.string()),
                "value": pa.array([], pa.float64()),
                "props": pa.array([], pa.string()),
            }
        ),
        f"{sf}/events.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array([], pa.int64()),
                "l_partkey": pa.array([], pa.int64()),
            }
        ),
        f"{sf}/lineitem.parquet",
    )
    for name, cq in sorted(QUERIES.items()):
        rows = cq.spark(spark, sf).collect()
        assert isinstance(rows, list), name


def test_staged_unicode_corpus_parity(spark, tmp_path):
    """Non-ASCII corpora (accents, CJK, emoji) flow through the
    md5/log2/length chains identically on both engines -- Spark and
    DuckDB both count code points and hash UTF-8 bytes."""
    import duckdb

    from clueso_spark.plans.parity import compare

    docs = []
    words = ["héllo", "wörld", "漢字", "👍", "naïve", "crème", "the", "a"]
    for i in range(24):
        w = [words[(i + j) % len(words)] for j in range(5 + i % 7)]
        text = " ".join(w)
        docs.append((i, text, "multi", f"src{i % 3}", len(text)))
    sf = str(tmp_path / "sf_uni")
    _write_docs(spark, sf, docs)
    con = duckdb.connect()
    # Spark writes a parquet DIRECTORY; DuckDB globs the part files
    con.sql(
        "create view documents as "
        f"select * from '{sf}/documents.parquet/*.parquet'"
    )
    for name in _DOC_NAMES:
        cq = QUERIES[name]
        res = compare(name, cq.spark(spark, sf), cq.oracle, con)
        assert res.ok, (name, res.detail)


#: staged queries whose BroadcastNestedLoopJoin is sanctioned by design:
#: a literal threshold ladder / 1-row scalar totals broadcast against
#: the corpus -- never an all-pairs corpus square
_SANCTIONED_BNLJ = {
    "pipeline_length_filter_curve",  # 7-row literal ladder broadcast
    "pipeline_token_budget_mix",  # 1-row corpus-totals broadcast
    "pipeline_ccnet_buckets",  # 1-row LM-total scalar broadcast
    "ev_rfm_segmentation",  # 1-row corpus-max-date scalar broadcast
    "txt_bigram_perplexity",  # 1-row bigram-total scalar broadcast
}


def test_staged_plan_shapes(spark):
    """Scale-shape gate for the staged tier (the registered catalog's
    test_no_query_has_unsanctioned_cartesian_product, applied here):
    no CartesianProduct anywhere; BNLJ only where a bounded literal /
    1-row side is broadcast by design."""
    from tests.test_plans import plan_of

    offenders = {}
    for name, cq in sorted(QUERIES.items()):
        spark.catalog.clearCache()
        plan = plan_of(cq.spark(spark, SF_DIRS[0]))
        if "CartesianProduct" in plan:
            offenders[name] = "CartesianProduct"
        elif (
            "BroadcastNestedLoopJoin" in plan and name not in _SANCTIONED_BNLJ
        ):
            offenders[name] = "BroadcastNestedLoopJoin"
    assert not offenders, offenders


def test_promotion_is_live():
    """Round 6 executed the promotion: every staged query must be IN the
    live registry (same object, oracle intact) -- staged_r6 is in
    QUERY_MODULES and registers at import."""
    from clueso_spark.plans.catalog import all_queries

    live = all_queries()
    for name, cq in QUERIES.items():
        assert live.get(name) is cq, name
        assert cq.oracle is None or "select" in cq.oracle.lower()


def test_round6_window_executed():
    """The round-6 window is HISTORY now: ROUND6_WINDOW must match the
    key set the driver actually verified (CORRECTNESS_r06.json), every
    formerly-staged query must have sat inside it, and the round-6
    aging invariant must close under ROUND6_LEFTOVERS against the
    r1..r5 artifact set it was committed against. (The LIVE window --
    catalog.PRIORITY[:50] -- is round 7's and is asserted in
    tests/test_entry.py.)"""
    import json
    import os

    from clueso_spark.plans.catalog import all_queries
    from clueso_spark.plans.staged_r6 import (
        ROUND6_LEFTOVERS,
        ROUND6_WINDOW,
    )
    from tests.test_entry import _latest_green_rounds

    live = all_queries()
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    executed = json.load(open(os.path.join(repo, "CORRECTNESS_r06.json")))
    assert set(ROUND6_WINDOW) == set(executed)
    assert len(set(ROUND6_WINDOW)) == 50
    assert set(QUERIES) <= set(ROUND6_WINDOW)
    unresolvable = [n for n in ROUND6_WINDOW if n not in live]
    assert not unresolvable, unresolvable
    # round-6 aging invariant, re-checked against the artifact set it
    # was committed against (cap=5): every query registered IN THAT ERA
    # outside that window was green in r4/r5 or a documented leftover.
    # Names registered in later rounds (the staged_r8 tier promoted in
    # round 8) did not exist in the round-6 registry and cannot
    # retroactively violate its invariant -- they have no artifact row
    # at cap=5 and are not in the round-6 window, which identifies them.
    latest, max_round = _latest_green_rounds(cap=5)
    assert max_round == 5
    round6_era = set(latest) | set(ROUND6_WINDOW)
    stale = [
        n
        for n in live
        if n in round6_era
        and n not in set(ROUND6_WINDOW)
        and n not in ROUND6_LEFTOVERS
        and latest.get(n, 0) < max_round - 1
    ]
    assert not stale, stale
