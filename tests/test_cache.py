"""Bucket cache manager tests (model: CacheSpec)."""

from __future__ import annotations

import time

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from clueso_spark.operators.cache import BucketCacheManager
from clueso_spark.operators.query import MetadataQuery, MetadataQueryExecutor
from clueso_spark.streaming.ingest import parse_events
from tests.conftest import op, put_doc, raw_df, wire_event

BUCKET = "cachebucket"


def ingest(spark, store, lines):
    store.write_landing(parse_events(raw_df(spark, lines), compaction_record_interval=10))


def test_stale_within_ttl_then_refresh(spark, store):
    ingest(spark, store, [wire_event(op(1), "put", BUCKET, "k1", put_doc("k1", BUCKET))])
    cache = BucketCacheManager(expiry_s=300, cleanup_delay_s=0.1)
    ex = MetadataQueryExecutor(spark, store, cache)

    assert ex.execute(MetadataQuery(BUCKET)).count() == 1
    df1 = cache._entries[BUCKET].df

    # within the TTL the same materialized instance is served (no rebuild).
    # NB: *data* staleness is not observable here -- Spark's recacheByPath
    # refreshes caches written by the same session; in the reference
    # deployment ingest and query are separate Spark apps.
    ingest(spark, store, [wire_event(op(2), "put", BUCKET, "k2", put_doc("k2", BUCKET))])
    assert cache._entries[BUCKET].df is df1
    assert ex.bucket_dataframe(BUCKET) is df1

    # age the entry past the TTL; next query rebuilds and sees k2
    cache._entries[BUCKET].created_at -= 301
    assert ex.execute(MetadataQuery(BUCKET)).count() == 2
    assert cache._entries[BUCKET].df is not df1


def test_invalidate_forces_rebuild(spark, store):
    ingest(spark, store, [wire_event(op(1), "put", BUCKET, "k1", put_doc("k1", BUCKET))])
    cache = BucketCacheManager(expiry_s=300)
    ex = MetadataQueryExecutor(spark, store, cache)
    assert ex.execute(MetadataQuery(BUCKET)).count() == 1

    ingest(spark, store, [wire_event(op(2), "put", BUCKET, "k2", put_doc("k2", BUCKET))])
    cache.invalidate(BUCKET)
    assert ex.execute(MetadataQuery(BUCKET)).count() == 2


def test_failed_builder_leaves_no_entry_and_next_get_rebuilds(spark, store):
    """The lock-loser fallback must re-check and rebuild instead of
    raising KeyError when the winning builder failed (VERDICT r1 #3)."""
    ingest(spark, store, [wire_event(op(1), "put", BUCKET, "k1", put_doc("k1", BUCKET))])
    mgr = BucketCacheManager(expiry_s=60)
    ex = MetadataQueryExecutor(spark, store, mgr)

    boom = {"n": 0}

    def failing_builder():
        boom["n"] += 1
        raise RuntimeError("builder exploded")

    try:
        mgr.get(BUCKET, failing_builder)
    except RuntimeError:
        pass
    # no entry was cached; a subsequent get with a good builder succeeds
    df = ex.bucket_dataframe(BUCKET)
    assert df.count() == 1
    assert boom["n"] == 1


def test_failed_materialization_unpersists_the_plan(spark, store):
    """A builder whose plan fails only when materialized (a landing file
    purged after listing fails the eager count(), not the builder) must
    not leave the plan registered in Spark's shared cache manager."""
    mgr = BucketCacheManager(expiry_s=60)
    built = []

    def exploding_builder():
        df = spark.range(3).where(
            F.raise_error(F.lit("landing file vanished")).isNull()
        )
        built.append(df)
        return df

    with pytest.raises(Exception, match="landing file vanished"):
        mgr.get(BUCKET, exploding_builder)
    assert BUCKET not in mgr._entries
    assert built[0].storageLevel == StorageLevel.NONE
