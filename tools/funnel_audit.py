#!/usr/bin/env python3
"""Stage-split timing audit for pipeline_pretraining_funnel (r9 verdict
item 3: a 5.7-8.9 s band at sf0.1 on unchanged code, the widest in the
catalog).

Methodology: N full-query isolates (clearCache + fresh persist slots
between runs, same session), then ONE stage-split run that materializes
each persisted checkpoint separately so the cost attributes to a stage:

  base   -- corpus scan + tokenize + fingerprint (persist funnel_base)
  flags  -- quality/perplexity/exact-dedup/minhash flags (funnel_flags)
  decon  -- n-gram decontamination join (funnel_flags6)
  report -- mixture threshold + final aggregate

Usage: python tools/funnel_audit.py [--sf-dir DIR] [--runs N]
"""

from __future__ import annotations

import argparse
import os
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=5)
    args = ap.parse_args()

    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    from clueso_spark.plans.catalog import all_queries
    from clueso_spark.session import get_spark

    spark = get_spark(
        "funnel-audit",
        **{
            "spark.sql.shuffle.partitions": "32",
            "spark.sql.files.maxPartitionBytes": "1m",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    q = all_queries()["pipeline_pretraining_funnel"]

    # warm the JVM/file cache once, unrecorded
    q.spark(spark, args.sf_dir).collect()

    times = []
    for i in range(args.runs):
        spark.catalog.clearCache()
        t0 = time.monotonic()
        q.spark(spark, args.sf_dir).collect()
        dt = time.monotonic() - t0
        times.append(dt)
        print(f"run {i + 1}: {dt:.2f} s", flush=True)
    mean = sum(times) / len(times)
    var = sum((t - mean) ** 2 for t in times) / max(1, len(times) - 1)
    print(
        f"full-query: mean={mean:.2f} s  sigma={var ** 0.5:.2f}  "
        f"min={min(times):.2f}  max={max(times):.2f}"
    )

    # stage-split: materialize each persisted checkpoint separately.
    # Import the module internals deliberately -- this is a diagnostic
    # tool pinned to the funnel's structure.
    from clueso_spark.plans.catalog import _PERSISTED

    spark.catalog.clearCache()
    _PERSISTED.pop(spark, None)
    marks: list[tuple[str, float]] = []
    t0 = time.monotonic()

    df = q.spark(spark, args.sf_dir)  # builds the lazy plan + persists
    marks.append(("plan_build", time.monotonic() - t0))

    slots = _PERSISTED.get(spark, {})
    t = time.monotonic()
    for label, slot in [
        ("base", "funnel_base"),
        ("minhash_sets", "funnel_minhash_sets"),
        ("flags", "funnel_flags"),
        ("decon_flags", "funnel_flags6"),
    ]:
        frame = slots.get(slot)
        if frame is None:
            print(f"stage {label}: persist slot {slot} not found")
            continue
        frame.count()
        marks.append((label, time.monotonic() - t))
        t = time.monotonic()
    df.collect()
    marks.append(("report", time.monotonic() - t))
    total = time.monotonic() - t0
    print("\nstage-split (cumulative checkpoints):")
    for label, dt in marks:
        print(f"  {label:14s} {dt:6.2f} s")
    print(f"  {'TOTAL':14s} {total:6.2f} s")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
