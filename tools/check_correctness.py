#!/usr/bin/env python3
"""Local correctness gate: run every catalog query against its DuckDB
oracle at sf0.01, the same comparison the round driver performs.

Usage: python tools/check_correctness.py [--sf-dir DIR] [--staged] [name ...]
Exit code 0 iff every checked query matches (rows-only queries must run).
"""

from __future__ import annotations

import argparse
import os
import sys


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--staged",
        action="store_true",
        help='also check the "staged"-tagged queries',
    )
    ap.add_argument("names", nargs="*", help="subset of query names")
    args = ap.parse_args()

    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    from clueso_spark.plans.catalog import all_queries, staged_queries
    from clueso_spark.plans.parity import run_catalog
    from clueso_spark.session import get_spark

    spark = get_spark(
        "check-correctness", **{"spark.sql.shuffle.partitions": "8"}
    )
    names = args.names or None
    if args.staged and not names:
        names = [*all_queries(), *staged_queries()]

    def emit(r):
        status = "OK  " if r.ok else "FAIL"
        # show EVERY weaker-than-hash detail on green rows too:
        # "oracle-out-of-domain" (domain-guarded) previously printed as
        # a plain OK rows=n/n, indistinguishable from a hash match
        extra = f" {r.detail}" if (r.detail and not r.ok) else (
            f" ({r.detail})" if r.detail else ""
        )
        print(
            f"{status} {r.name:35s} rows={r.rows_spark}/{r.rows_oracle}{extra}",
            flush=True,
        )

    results = run_catalog(spark, args.sf_dir, names, on_result=emit)
    n_fail = sum(0 if r.ok else 1 for r in results)
    print(f"\n{len(results) - n_fail}/{len(results)} queries match")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
