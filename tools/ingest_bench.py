#!/usr/bin/env python3
"""Streaming-ingestion throughput: generate N wire-envelope JSONL events,
drain them through the real Structured Streaming pipeline
(file source -> parse_events -> partitioned parquet landing sink), and
report records/sec. The local analog of the reference's ingestion perf
story (Kafka -> landing); the file source stands in for the broker, the
transform and sink are the production path.

Usage: python tools/ingest_bench.py [--records 1000000] [--files 32]
       [--buckets 4]
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
    ap.add_argument("--records", type=int, default=1_000_000)
    ap.add_argument("--files", type=int, default=32)
    ap.add_argument("--buckets", type=int, default=4)
    args = ap.parse_args()

    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    from pyspark.sql import functions as F

    from clueso_spark.session import get_spark
    from clueso_spark.sources.store import MetadataStore
    from clueso_spark.streaming.pipeline import run_file_ingestion

    spark = get_spark("clueso-ingest-bench")
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="clueso_ingest_")
    inbox = f"{root}/inbox"

    # build the wire JSONL distributed (no driver loop): each line is the
    # Kafka envelope the ingest transform parses -- opIndex/type/bucket/
    # key plus the double-encoded metadata document
    t0 = time.perf_counter()
    doc = F.to_json(
        F.struct(
            F.concat(F.lit("k"), F.col("id").cast("string")).alias("key"),
            F.concat(F.lit("b"), (F.col("id") % args.buckets).cast("string"))
            .alias("bucket"),
            (F.col("id") % 4096).cast("int").alias("content-length"),
            F.md5(F.col("id").cast("string")).alias("content-md5"),
        )
    )
    wire = spark.range(args.records).select(
        F.to_json(
            F.struct(
                F.lpad(F.col("id").cast("string"), 12, "0").alias("opIndex"),
                F.lit("put").alias("type"),
                F.concat(
                    F.lit("b"), (F.col("id") % args.buckets).cast("string")
                ).alias("bucket"),
                F.concat(F.lit("k"), F.col("id").cast("string")).alias("key"),
                doc.alias("value"),
            )
        ).alias("value")
    )
    wire.repartition(args.files).write.mode("overwrite").text(inbox)
    gen_s = time.perf_counter() - t0

    store = MetadataStore(spark, f"{root}/store")
    t0 = time.perf_counter()
    run_file_ingestion(spark, inbox, store, f"{root}/ckpt")
    ingest_s = time.perf_counter() - t0

    n_landed = sum(
        store.read_landing(b).count() for b in store.buckets("landing")
    )
    assert n_landed == args.records, f"landed {n_landed} != {args.records}"
    print(
        json.dumps(
            {
                "metric": "ingest_throughput",
                "records": args.records,
                "gen_sec": round(gen_s, 2),
                "ingest_sec": round(ingest_s, 2),
                "records_per_sec": round(args.records / ingest_s),
            }
        )
    )
    shutil.rmtree(root, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
