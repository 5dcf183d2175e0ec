#!/usr/bin/env python3
"""Dump `.explain("formatted")` for named catalog queries, registered
or "staged", to plans/<dir>/<query>_<tag>.txt (plan evidence files to
diff across changes). Uses tools/plan_audit.py's audit session (AQE
off, 8 shuffle partitions) at sf0.001 so dumps are comparable across
rounds.

Usage: python tools/plan_dump.py --tag=before [--dir=plans/r16]
           [--sf=/root/testdata/sf0.001] q1 q2 ...
"""

from __future__ import annotations

import os
import sys


def main() -> int:
    tag, out_dir, sf_dir = "before", "plans/r16", "/root/testdata/sf0.001"
    names = []
    for a in sys.argv[1:]:
        if a.startswith("--tag="):
            tag = a.split("=", 1)[1]
        elif a.startswith("--dir="):
            out_dir = a.split("=", 1)[1]
        elif a.startswith("--sf="):
            sf_dir = a.split("=", 1)[1]
        else:
            names.append(a)
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, here)
    from clueso_spark.plans.catalog import (
        all_queries,
        release_persisted,
        staged_queries,
    )
    from plan_audit import audit_session, plan_string

    spark = audit_session()
    registry = {**all_queries(), **staged_queries()}
    os.makedirs(os.path.join(here, out_dir), exist_ok=True)
    for name in names:
        if name not in registry:
            print(f"unknown query: {name}", file=sys.stderr)
            continue
        spark.catalog.clearCache()
        df = registry[name].spark(spark, sf_dir)
        plan = plan_string(df)
        path = os.path.join(here, out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        n_exch = plan.count(") Exchange")
        n_scan = plan.count(") Scan parquet")
        print(f"{name}: exchanges={n_exch} scans={n_scan} -> {path}")
        release_persisted(spark)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
