#!/usr/bin/env python3
"""Merge-on-read at populated scale: populate a multi-bucket landing
store, then run the full engine loop -- search (merge-on-read across
landing), compaction (parallel, per-bucket), cached re-search -- and
report wall-times. The reference's own perf anchor is a 7 M-record
sample (ref: README.md:110-122); default here is 10 M records across
3 buckets.

Usage: python tools/scale_exercise.py [--records 10000000] [--buckets 3]
       [--files 32] [--interval 1000000] [--root DIR]

Prints one wall-time line per stage and a final JSON summary.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--records", type=int, default=10_000_000)
    ap.add_argument("--buckets", type=int, default=3)
    ap.add_argument("--files", type=int, default=32)
    ap.add_argument(
        "--interval",
        type=int,
        default=1_000_000,
        help="compaction record interval (controls maxOpIndex subpartition count)",
    )
    ap.add_argument("--root", default=None)
    args = ap.parse_args()

    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    from clueso_spark.operators.cache import BucketCacheManager
    from clueso_spark.operators.compact import Compactor
    from clueso_spark.operators.query import MetadataQuery, MetadataQueryExecutor
    from clueso_spark.session import get_spark
    from clueso_spark.sources.store import MetadataStore
    from clueso_spark.tools.populate import populate

    spark = get_spark("clueso-scale-exercise")
    spark.sparkContext.setLogLevel("ERROR")
    root = args.root or tempfile.mkdtemp(prefix="clueso_scale_")
    store = MetadataStore(spark, root)
    per_bucket = args.records // args.buckets
    timings: dict[str, float] = {}

    def timed(stage: str, fn):
        t0 = time.perf_counter()
        out = fn()
        timings[stage] = round(time.perf_counter() - t0, 2)
        print(f"{stage:28s} {timings[stage]:8.2f} s", flush=True)
        return out

    timed(
        "populate",
        lambda: [
            populate(
                spark,
                store,
                f"bucket{i}",
                per_bucket,
                args.files,
                compaction_record_interval=args.interval,
            )
            for i in range(args.buckets)
        ],
    )
    subs = {b: store.sub_partitions("landing", b) for b in store.buckets()}
    print(f"landing subpartitions: { {b: len(s) for b, s in subs.items()} }")

    executor = MetadataQueryExecutor(spark, store)
    q = MetadataQuery("bucket0", "userMd.`x-amz-meta-food` = 'pizza'", limit=100)
    page = timed("search_landing", lambda: executor.execute(q).collect())
    assert len(page) == 100, f"expected a full page, got {len(page)}"

    compactor = Compactor(store, target_file_bytes=128 * 1024 * 1024)
    done = timed(
        "compact_all_buckets",
        lambda: compactor.compact(force=True, parallelism=args.buckets),
    )
    assert all(done.values()), f"compaction skipped buckets: {done}"

    page2 = timed("search_post_compaction", lambda: executor.execute(q).collect())
    assert [r["key"] for r in page] == [r["key"] for r in page2], (
        "post-compaction search results differ"
    )

    cached_exec = MetadataQueryExecutor(
        spark, store, cache=BucketCacheManager(expiry_s=600)
    )
    timed("search_cache_build", lambda: cached_exec.execute(q).collect())
    page3 = timed("search_cache_hit", lambda: cached_exec.execute(q).collect())
    assert [r["key"] for r in page] == [r["key"] for r in page3]

    # full-store aggregation over the merged view (no predicate)
    timed(
        "count_latest_bucket0",
        lambda: executor.bucket_dataframe("bucket0").count(),
    )

    print(
        json.dumps(
            {
                "metric": "scale_exercise",
                "records": args.records,
                "buckets": args.buckets,
                "timings_sec": timings,
            }
        )
    )
    if args.root is None:
        shutil.rmtree(root, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
