"""Merge-on-read + search scenario tests — the semantic contract
(model: CluesoMergingAndQueryingSpec scenarios, SURVEY.md §5 / FIXTURES.md F3)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clueso_spark.operators.cache import BucketCacheManager
from clueso_spark.operators.compact import Compactor
from clueso_spark.operators.query import MetadataQuery, MetadataQueryExecutor
from clueso_spark.schemas import RESULT_COLS, VERSION_KEY_CHAR
from clueso_spark.streaming.ingest import parse_events
from tests.conftest import op, put_doc, raw_df, wire_event

BUCKET = "testbucket"


def ingest(spark, store, lines, interval=10):
    store.write_landing(
        parse_events(raw_df(spark, lines), compaction_record_interval=interval)
    )


def executor(spark, store):
    return MetadataQueryExecutor(spark, store)


def test_latest_put_wins_and_user_md_predicate(spark, store):
    """Scenario 1: search on userMd finds only matching latest state."""
    lines = [
        wire_event(
            op(1), "put", BUCKET, "bigger",
            put_doc("bigger", BUCKET, user_md={"mymeta1": "thisisfun"}),
        ),
        wire_event(op(2), "put", BUCKET, "other", put_doc("other", BUCKET)),
    ]
    ingest(spark, store, lines)
    q = MetadataQuery(BUCKET, "userMd.`x-amz-meta-mymeta1` = 'thisisfun'")
    rows = executor(spark, store).execute(q).collect()
    assert [r["key"] for r in rows] == ["bigger"]


def test_latest_version_wins(spark, store):
    """Two puts of the same key: highest opIndex wins."""
    lines = [
        wire_event(
            op(1), "put", BUCKET, "k",
            put_doc("k", BUCKET, user_md={"v": "old"}, **{"content-length": 1}),
        ),
        wire_event(
            op(2), "put", BUCKET, "k",
            put_doc("k", BUCKET, user_md={"v": "new"}, **{"content-length": 2}),
        ),
    ]
    ingest(spark, store, lines)
    rows = executor(spark, store).execute(MetadataQuery(BUCKET)).collect()
    assert len(rows) == 1
    assert rows[0]["content-length"] == 2


def test_delete_tombstone_suppresses_key(spark, store):
    """Scenario 2: put a, put b, delete a -> only b visible; invariant
    across compaction."""
    lines = [
        wire_event(op(1), "put", BUCKET, "a", put_doc("a", BUCKET)),
        wire_event(op(2), "put", BUCKET, "b", put_doc("b", BUCKET)),
        wire_event(op(3), "delete", BUCKET, "a", put_doc("a", BUCKET)),
    ]
    ingest(spark, store, lines)
    ex = executor(spark, store)
    assert [r["key"] for r in ex.execute(MetadataQuery(BUCKET)).collect()] == ["b"]

    Compactor(store).compact_bucket(BUCKET, force=True)
    assert [r["key"] for r in ex.execute(MetadataQuery(BUCKET)).collect()] == ["b"]


def test_landing_delete_shadows_staging_put(spark, store):
    """Scenario 3: staging holds an old put; landing holds delete(op2) then
    put(op3) -> newest put wins; with only the delete, key vanishes."""
    ingest(spark, store, [wire_event(op(1), "put", BUCKET, "fun", put_doc("fun", BUCKET))])
    Compactor(store).compact_bucket(BUCKET, force=True)  # move put to staging

    ingest(spark, store, [wire_event(op(2), "delete", BUCKET, "fun", put_doc("fun", BUCKET))])
    ex = executor(spark, store)
    assert ex.execute(MetadataQuery(BUCKET)).count() == 0

    ingest(spark, store, [wire_event(op(3), "put", BUCKET, "fun", put_doc("fun", BUCKET))])
    rows = ex.execute(MetadataQuery(BUCKET)).collect()
    assert [r["key"] for r in rows] == ["fun"]


def test_keyset_pagination(spark, store):
    """Scenario 4: limit=1 pages walk the sorted key space via start_key."""
    lines = [
        wire_event(op(1), "put", BUCKET, "fun",
                   put_doc("fun", BUCKET, tags={"param": "yes"})),
        wire_event(op(2), "put", BUCKET, "fun2",
                   put_doc("fun2", BUCKET, tags={"param": "yes"})),
        wire_event(op(3), "put", BUCKET, "fun3",
                   put_doc("fun3", BUCKET, tags={"param": "yes"})),
    ]
    ingest(spark, store, lines)
    ex = executor(spark, store)

    q1 = MetadataQuery(BUCKET, 'tags.param = "yes"', None, 1)
    page1 = ex.execute(q1).collect()
    assert [r["key"] for r in page1] == ["fun"]

    q2 = MetadataQuery(BUCKET, 'tags.param = "yes"', "fun", 1)
    page2 = ex.execute(q2).collect()
    assert [r["key"] for r in page2] == ["fun2"]

    pages = [[r["key"] for r in p] for p in ex.pages(q1)]
    assert pages == [["fun"], ["fun2"], ["fun3"]]


def test_like_predicate_and_compaction_invariance(spark, store):
    """Scenario 5: LIKE '%retriever' matches 2 of 3; stable across compaction."""
    dogs = {"d1": "pitbull", "d2": "golden-retriever", "d3": "labrador-retriever"}
    lines = [
        wire_event(op(i + 1), "put", BUCKET, k,
                   put_doc(k, BUCKET, user_md={"dog": v}))
        for i, (k, v) in enumerate(sorted(dogs.items()))
    ]
    ingest(spark, store, lines)
    ex = executor(spark, store)
    q = MetadataQuery(BUCKET, "userMd.`x-amz-meta-dog` LIKE '%retriever'")
    assert [r["key"] for r in ex.execute(q).collect()] == ["d2", "d3"]

    Compactor(store).compact_bucket(BUCKET, force=True)
    assert [r["key"] for r in ex.execute(q).collect()] == ["d2", "d3"]

    paged = MetadataQuery(BUCKET, "userMd.`x-amz-meta-dog` LIKE '%retriever'", None, 1)
    pages = [[r["key"] for r in p] for p in ex.pages(paged)]
    assert pages == [["d2"], ["d3"]]


def test_version_keys_filtered_from_master_listing(spark, store):
    """Scenario 6: keys containing NUL (version keys) are hidden."""
    lines = [
        wire_event(op(1), "put", BUCKET, "sample",
                   put_doc("sample", BUCKET, user_md={"mymeta2": "thisisfun2"})),
        wire_event(op(2), "put", BUCKET, "sample\x00RG001",
                   put_doc("sample\x00RG001", BUCKET, user_md={"mymeta2": "thisisfun2"})),
    ]
    ingest(spark, store, lines)
    q = MetadataQuery(BUCKET, "userMd.`x-amz-meta-mymeta2` = 'thisisfun2'")
    rows = executor(spark, store).execute(q).collect()
    assert [r["key"] for r in rows] == ["sample"]


def test_result_projection_is_fixed_8_columns(spark, store):
    ingest(spark, store, [wire_event(op(1), "put", BUCKET, "k", put_doc("k", BUCKET))])
    df = executor(spark, store).execute(MetadataQuery(BUCKET))
    assert df.columns == [
        "key", "last-modified", "content-md5", "owner-id",
        "owner-display-name", "content-length", "x-amz-storage-class", "bucket",
    ]


def test_empty_bucket_returns_empty(spark, store):
    df = executor(spark, store).execute(MetadataQuery("nosuchbucket"))
    assert df.count() == 0


def test_schema_drift_between_tiers_is_null_padded(spark):
    """Landing/staging schema drift tolerated via unionByName
    (ref: SparkUtils.scala:104-109 fillNonExistingColumns; our
    merge.py:77 allowMissingColumns)."""
    from clueso_spark.operators.merge import latest_rows

    landing = spark.createDataFrame(
        [("k1", "000000000002_0", "put", "new-field")],
        "key string, opIndex string, type string, extra string",
    )
    staging = spark.createDataFrame(
        [("k1", "000000000001_0", "put"), ("k2", "000000000001_0", "put")],
        "key string, opIndex string, type string",
    )
    merged = latest_rows(
        landing.unionByName(staging, allowMissingColumns=True)
    )
    rows = {r["key"]: r for r in merged.collect()}
    assert set(rows) == {"k1", "k2"}
    assert rows["k1"]["extra"] == "new-field"  # landing's newer row wins
    assert rows["k2"]["extra"] is None  # staging row null-padded


def test_search_scan_prunes_nested_message_fields(spark, store):
    """At 100 TB the scan must read only the result columns' message
    subfields (nested-schema pruning), not the whole 22-field struct."""
    from tests.conftest import op, put_doc, raw_df, wire_event
    from clueso_spark.operators.query import MetadataQuery, MetadataQueryExecutor
    from clueso_spark.streaming.ingest import parse_events

    store.write_landing(
        parse_events(
            raw_df(spark, [wire_event(op(1), "put", "prune", "k1", put_doc("k1", "prune"))]),
            compaction_record_interval=10,
        )
    )
    ex = MetadataQueryExecutor(spark, store)
    df = ex.execute(MetadataQuery("prune", "", None, 10))
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    read_schemas = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schemas
    for line in read_schemas:
        assert "acl" not in line and "location" not in line and "userMd" not in line, line
        assert "content-md5" in line  # result column subfields survive


def test_executor_max_by_strategy_matches_window(spark, store):
    """A max_by-configured executor returns the same search results as
    the default window executor on the same store."""
    from clueso_spark.operators.query import MetadataQuery, MetadataQueryExecutor
    from clueso_spark.streaming.ingest import parse_events
    from tests.conftest import op, put_doc, raw_df, wire_event

    b = "mbexec"
    lines = [
        wire_event(op(i), "put", b, f"k{i % 7:03d}", put_doc(f"k{i % 7:03d}", b))
        for i in range(1, 22)
    ] + [wire_event(op(30), "delete", b, "k003", put_doc("k003", b))]
    store.write_landing(parse_events(raw_df(spark, lines)))
    q = MetadataQuery(b, "", limit=100)
    win = MetadataQueryExecutor(spark, store).execute(q).collect()
    agg = (
        MetadataQueryExecutor(spark, store, merge_strategy="max_by")
        .execute(q)
        .collect()
    )
    assert [r.asDict() for r in win] == [r.asDict() for r in agg]
    assert "k003" not in [r["key"] for r in win]


def _per_conjunct_page(ex, q):
    """Reference page: one DataFrame call per conjunct (user predicate,
    keyset, version-key filter), then project, order and limit over the
    same merged view."""
    df = ex.bucket_dataframe(q.bucket_name)
    if q.sql_where_expr:
        df = df.where(q.sql_where_expr)
    if q.start_key is not None:
        df = df.where(F.col("key") > F.lit(q.start_key))
    df = df.filter(~F.col("key").contains(VERSION_KEY_CHAR))
    df = df.select([F.col(f"`{c}`") for c in RESULT_COLS])
    return df.orderBy("key").limit(q.limit).collect()


def _filters(plan, stop_at=None) -> int:
    """Filter nodes in a JVM logical plan, not descending below a node
    named ``stop_at``."""
    name = plan.nodeName()
    if name == stop_at:
        return 0
    kids = plan.children()
    return int(name == "Filter") + sum(
        _filters(kids.apply(i), stop_at) for i in range(kids.size())
    )


PAGE_PREDICATES = [
    "",
    "userMd.`x-amz-meta-color` = 'red'",
    # NULL on every row without the color key: neither side may keep it
    "NOT (userMd.`x-amz-meta-color` = 'red')",
    "`content-length` > 150",
]


def test_one_filter_page_matches_per_conjunct_pages(spark, store):
    """The page is built as ONE where (predicate AND keyset AND
    not-version-key). Cached and uncached, every page -- a predicate that
    is NULL on some rows, a keyset start, a version key, the HTTP path's
    limit+1 probe -- equals the page the per-conjunct plan built."""
    lines = []
    for i in range(8):
        key = f"k{i}"
        md = {} if i % 3 == 0 else {"color": "red" if i % 2 else "blue"}
        doc = put_doc(key, BUCKET, user_md=md, **{"content-length": 100 + 20 * i})
        lines.append(wire_event(op(i + 1), "put", BUCKET, key, doc))
        if i in (2, 5):
            vkey = f"{key}\x00RG001"
            lines.append(
                wire_event(op(i + 1, 1), "put", BUCKET, vkey,
                           put_doc(vkey, BUCKET, user_md=md))
            )
    ingest(spark, store, lines)
    cached = MetadataQueryExecutor(spark, store, BucketCacheManager())
    for ex in (executor(spark, store), cached):
        for where in PAGE_PREDICATES:
            for start in (None, "k2"):
                for limit in (2, 3, 100):  # 3 = the limit+1 probe of 2
                    q = MetadataQuery(BUCKET, where, start, limit)
                    got = ex.execute(q).collect()
                    assert got == _per_conjunct_page(ex, q), (where, start, limit)
                    assert not any("\x00" in r["key"] for r in got)
    # the NULL-predicate rows (no color key: k0, k3, k6) match neither
    # the predicate nor its negation
    both = {
        r["key"]
        for where in PAGE_PREDICATES[1:3]
        for r in cached.execute(MetadataQuery(BUCKET, where)).collect()
    }
    assert both == {"k1", "k2", "k4", "k5", "k7"}


def test_page_plan_is_one_filter_over_the_cached_view(spark, store):
    ingest(spark, store, [wire_event(op(1), "put", BUCKET, "k", put_doc("k", BUCKET))])
    ex = MetadataQueryExecutor(spark, store, BucketCacheManager())
    q = MetadataQuery(BUCKET, "`content-length` > 1", "a", 10)
    qe = ex.execute(q)._jdf.queryExecution()
    # the optimized plan reads the cached view through exactly one Filter
    assert _filters(qe.optimizedPlan(), stop_at="InMemoryRelation") == 1
    # and the page adds exactly one Filter to the merged view as built
    view = ex.bucket_dataframe(BUCKET)._jdf.queryExecution().analyzed()
    assert _filters(qe.analyzed()) == _filters(view) + 1
