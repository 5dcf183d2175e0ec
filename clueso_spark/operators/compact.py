"""Compactor: merge landing subpartitions into staging (LSM compaction).

Port of TableFilesCompactor (ref: compact/TableFilesCompactor.scala:28-199):
per bucket, pick the ``maxOpIndex`` subpartitions eligible for compaction
(all-but-the-newest unless forced -- the newest is the one the stream is
still appending into, ref: :89-96), dedup them with a ``dense_rank`` window
(preserving tied opIndex rows, ref: :162-167), write the survivors into
staging, then delete the compacted landing directories after a purge delay
(S3 eventual-consistency guard, ref: CluesoConfig.scala:43-45).

Tombstone policy: the reference physically drops delete tombstones at
compaction (ref: :166), relying on interval ordering to keep put+delete pairs
together; a tombstone whose target already sits in staging would wrongly
resurface it. We default to the strictly safer variant flagged in SURVEY.md
§3.3: a tombstone is dropped only if it is *not* the winning row (i.e. it was
shadowed inside the batch) or nothing it could shadow exists outside the
batch; concretely compaction always keeps winning tombstones. Observable
query results are identical in the reference's own scenarios
(query-time merge filters tombstones anyway); storage keeps one extra row per
deleted key until a full compaction.

Scale: output file count is sized by *bytes*, not a fixed number -- we
estimate input size from the filesystem and target ``target_file_bytes`` per
output file, so a 100 TB compaction produces sane file sizes instead of the
reference's fixed ``coalesce(4)`` (never fewer than one output file).
"""

from __future__ import annotations

import threading
from typing import Callable

from clueso_spark.operators.merge import latest_rows
from clueso_spark.sources.store import MetadataStore


class Compactor:
    def __init__(
        self,
        store: MetadataStore,
        *,
        purge_tolerance_s: float = 0.0,
        target_file_bytes: int = 128 * 1024 * 1024,
        stale_lock_s: float = 3600.0,
    ):
        self.store = store
        self.purge_tolerance_s = purge_tolerance_s
        self.target_file_bytes = target_file_bytes
        #: a _merging_<bucket> lock older than this is treated as left
        #: behind by a crashed compactor and broken -- without this a
        #: single crash blocks the bucket's compaction FOREVER (the
        #: reference has the same latent flaw: its lock file is only
        #: removed by the process that created it)
        self.stale_lock_s = stale_lock_s
        self._purge_timers: list[tuple[threading.Timer, Callable[[], None]]] = []

    # -- policy -----------------------------------------------------------

    #: marker dropped into a compacted-but-not-yet-purged landing subdir;
    #: parquet readers ignore underscore-prefixed files
    PENDING_PURGE_MARKER = "_pending_purge"

    def _pending_purge_path(self, bucket: str, sub: int) -> str:
        return (
            f"{self.store.landing}/bucket={bucket}/maxOpIndex={sub}/"
            f"{self.PENDING_PURGE_MARKER}"
        )

    def sub_partitions_to_compact(self, bucket: str, force: bool) -> list[int]:
        """All-but-newest unless forced; require >=2 subpartitions
        (ref: TableFilesCompactor.scala:67-99).

        Subpartitions already compacted but still inside their purge
        tolerance window carry a ``_pending_purge`` marker and are
        excluded: without this, a compaction starting during the window
        re-reads them and appends their winning rows to staging AGAIN --
        queries stay correct through row_number dedup, but staging
        accumulates duplicates monotonically. The marker is written under
        the bucket lock, so any later compaction (same process or not)
        observes it."""
        subs = [
            s
            for s in self.store.sub_partitions("landing", bucket)
            if not self.store.exists(self._pending_purge_path(bucket, s))
        ]
        if force:
            return subs
        if len(subs) < 2:
            return []
        return subs[:-1]

    def _input_bytes(self, bucket: str, subs: list[int]) -> int:
        total = 0
        for sub in subs:
            path = f"{self.store.landing}/bucket={bucket}/maxOpIndex={sub}"
            if self.store.exists(path):
                fs, hpath, _ = self.store._fs(path)
                total += fs.getContentSummary(hpath).getLength()
        return total

    # -- lock (ref: TableFilesCompactor.scala:195-199) ---------------------

    def _lock_path(self, bucket: str) -> str:
        return f"{self.store.staging}/_merging_{bucket}"

    def _acquire_lock(self, bucket: str) -> bool:
        import time

        fs, hpath, _ = self.store._fs(self._lock_path(bucket))
        try:
            if fs.createNewFile(hpath):
                return True
        except Exception:
            return False
        # lock held: break it only if it outlived stale_lock_s (crashed
        # holder). The delete+create pair is not atomic -- two breakers
        # can race -- but exactly one createNewFile wins, so at most one
        # compaction proceeds; the loser retries next cycle.
        try:
            age_s = (
                time.time()
                - fs.getFileStatus(hpath).getModificationTime() / 1000.0
            )
            if age_s > self.stale_lock_s:
                fs.delete(hpath, False)
                return fs.createNewFile(hpath)
        except Exception:
            pass
        return False

    def _release_lock(self, bucket: str) -> None:
        self.store.delete(self._lock_path(bucket))

    # -- compaction ---------------------------------------------------------

    def compact_bucket(self, bucket: str, force: bool = False) -> bool:
        """Compact one bucket's eligible landing subpartitions into staging
        (ref: TableFilesCompactor.scala:139-193). Returns True if work done."""
        subs = self.sub_partitions_to_compact(bucket, force)
        if not subs:
            return False
        if not self._acquire_lock(bucket):
            return False
        try:
            df = self.store.read_landing_sub_partitions(bucket, subs)
            merged = latest_rows(df, dense=True, keep_tombstones=True)
            n_files = max(
                1, self._input_bytes(bucket, subs) // self.target_file_bytes
            )
            self.store.write_staging(
                merged.drop("bucket").coalesce(int(n_files)), bucket
            )
            # mark the compacted subdirs pending-purge BEFORE releasing the
            # lock: a compaction racing into the tolerance window must see
            # the markers and skip these inputs (no duplicate re-append)
            if self.purge_tolerance_s:
                for sub in subs:
                    self.store.touch(self._pending_purge_path(bucket, sub))
            purge_paths = [
                f"{self.store.landing}/bucket={bucket}/maxOpIndex={sub}"
                for sub in subs
            ]
        finally:
            self._release_lock(bucket)
        # purge OUTSIDE the lock: the tolerance wait (1 h in the reference's
        # prod config) must not serialize other buckets' compactions behind
        # this one. The data is already safe in staging; the pending-purge
        # markers keep the window's contents out of any concurrent
        # compaction's input set.
        self._purge(purge_paths)
        return True

    def _purge(self, paths: list[str]) -> None:
        """Delete compacted landing dirs after the eventual-consistency
        tolerance (ref: TableFilesCompactor.scala:175-178). Async when a
        tolerance is set; ``flush_purges()`` drains outstanding work
        (waiting out each timer's remaining tolerance by default, or
        immediately with ``immediate=True``)."""

        def do_delete() -> None:
            for path in paths:
                self.store.delete(path)

        if not self.purge_tolerance_s:
            do_delete()
            return
        timer = threading.Timer(self.purge_tolerance_s, do_delete)
        timer.daemon = True
        timer.start()
        self._purge_timers.append((timer, do_delete))

    def flush_purges(self, immediate: bool = False) -> None:
        """Drain every scheduled purge before returning.

        Default: join WITHOUT cancelling — each timer waits out its
        remaining tolerance, preserving the eventual-consistency window
        the caller configured. The reference sleeps the full
        landingPurgeTolerance before purging (ref:
        TableFilesCompactor.scala:175-176), and the CLI — the one
        production entry point — calls this right after compact(), so a
        cancelling default would silently reduce --purge-tolerance-s to
        zero. ``immediate=True`` is the fast path for tests and
        interactive shutdown: cancel timers still inside their window
        and run their deletes inline (a shutdown must not wait an hour
        for a prod-sized tolerance). Skipping the drain entirely is not
        an option either way: daemon timers die at process exit, and a
        ``_pending_purge``-marked dir that never gets deleted is
        permanently excluded from future compactions.

        Every delete is attempted even if an earlier one raises (the
        inline re-run after a successful timer fire is harmless — the
        FS delete is idempotent); failures are re-queued on the pending
        list and reported as one aggregate error after all deletes were
        tried, so one bad path cannot strand the rest."""
        pending, self._purge_timers = self._purge_timers, []
        failures: list[tuple[threading.Timer, Callable[[], None], Exception]] = []
        for t, do_delete in pending:
            if immediate:
                t.cancel()
            t.join()
            try:
                do_delete()
            except Exception as exc:  # noqa: BLE001 -- aggregate below
                failures.append((t, do_delete, exc))
        if failures:
            self._purge_timers.extend((t, dd) for t, dd, _ in failures)
            raise RuntimeError(
                f"flush_purges: {len(failures)} purge(s) failed and were "
                "re-queued: "
                + "; ".join(repr(exc) for _, _, exc in failures)
            )

    def compact(self, force: bool = False, parallelism: int = 1) -> dict[str, bool]:
        """Compact every bucket found in landing
        (ref: TableFilesCompactor.scala:28-49 runs buckets serially).

        ``parallelism > 1`` submits buckets concurrently: per-bucket Spark
        jobs interleave on the shared scheduler, so small buckets don't
        wait behind big ones. Safe because locking, staging paths, and
        purge work are all per-bucket."""
        buckets = self.store.buckets("landing")
        if parallelism <= 1:
            return {b: self.compact_bucket(b, force) for b in buckets}
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=parallelism) as pool:
            results = pool.map(lambda b: self.compact_bucket(b, force), buckets)
        return dict(zip(buckets, results))
