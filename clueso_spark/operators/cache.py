"""Per-bucket TTL cache of merged latest-state DataFrames.

Port of SessionCacheManager (ref: query/cache/SessionCacheManager.scala:21-89):
queries against a bucket reuse a materialized (persisted) merged view for up
to ``expiry_s`` seconds; after expiry the next query triggers an async
rebuild while *stale reads keep being served* (non-blocking refresh); the old
DataFrame is unpersisted only after ``cleanup_delay_s`` so in-flight queries
on it can finish.

This is plain application-level orchestration (threading.Lock + dict), not a
Catalyst concern. At cluster scale the persisted view lives in executor
storage memory; a 100 TB store is cached per *bucket* (the unit a search
touches), not globally.

Cached views are right-sized when the engine runs in the session
``build_engine`` gives it (``session.engine_session``): there AQE may change
a cached plan's output partitioning, so a small bucket's view is one
partition and a search over it one task, rather than one task per
``spark.sql.shuffle.partitions`` (Spark freezes a cached plan's partitioning
by default). That is scoped to the engine's session and not set
session-wide because the catalog persists pre-partitioned intermediates
whose frozen partitioning its joins reuse.
"""

from __future__ import annotations

import threading
import time
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame


@dataclass
class _Entry:
    df: DataFrame
    created_at: float


def _materialize(builder: Callable[[], DataFrame]) -> DataFrame:
    """Persist the built view and materialize it eagerly so queries hit
    memory, mirroring cacheTable (ref: SessionCacheManager.scala:30-31,53).
    If materializing fails (e.g. a landing file purged after listing), the
    plan is unpersisted again: Spark's cache manager is shared and would
    otherwise keep it registered with no entry here to ever release it."""
    df = builder().persist()
    try:
        df.count()
    except BaseException:
        df.unpersist(blocking=False)
        raise
    return df


class BucketCacheManager:
    def __init__(self, expiry_s: float = 60.0, cleanup_delay_s: float = 120.0):
        self.expiry_s = expiry_s
        self.cleanup_delay_s = cleanup_delay_s
        self._entries: dict[str, _Entry] = {}
        self._locks: dict[str, threading.Lock] = {}
        self._global = threading.Lock()

    def _lock_for(self, bucket: str) -> threading.Lock:
        with self._global:
            return self._locks.setdefault(bucket, threading.Lock())

    def get(self, bucket: str, builder: Callable[[], DataFrame]) -> DataFrame:
        """Return the cached merged view for ``bucket``, (re)building it when
        missing or expired. Refresh is non-blocking: if another thread is
        already rebuilding, the stale entry is served
        (ref: SessionCacheManager.scala:42-75)."""
        entry = self._entries.get(bucket)
        now = time.monotonic()
        if entry is not None and now - entry.created_at < self.expiry_s:
            return entry.df

        lock = self._lock_for(bucket)
        if lock.acquire(blocking=False):
            try:
                new_df = _materialize(builder)
                old = self._entries.get(bucket)
                self._entries[bucket] = _Entry(new_df, time.monotonic())
                if old is not None:
                    self._schedule_unpersist(old.df)
                return new_df
            finally:
                lock.release()
        # rebuild in flight elsewhere: serve stale if we have it, else wait
        if entry is not None:
            return entry.df
        with lock:
            # re-check under the lock: the winning builder may have failed
            # (or invalidate() raced us) and left no entry -- rebuild here
            # rather than raising KeyError
            current = self._entries.get(bucket)
            if current is not None:
                return current.df
            new_df = _materialize(builder)
            self._entries[bucket] = _Entry(new_df, time.monotonic())
            return new_df

    def _schedule_unpersist(self, df: DataFrame) -> None:
        """Delayed async unpersist so in-flight queries finish
        (ref: SessionCacheManager.scala:61-69)."""
        timer = threading.Timer(
            self.cleanup_delay_s, lambda: df.unpersist(blocking=False)
        )
        timer.daemon = True
        timer.start()

    def invalidate(self, bucket: str | None = None) -> None:
        with self._global:
            targets = [bucket] if bucket else list(self._entries)
            for b in targets:
                entry = self._entries.pop(b, None)
                if entry is not None:
                    entry.df.unpersist(blocking=False)
