#!/usr/bin/env python3
"""Physical-plan audit across the whole catalog: per query, count the
plan features that matter at 100 TB -- parquet scans, exchanges
(shuffles + broadcasts), join strategies, whole-stage-codegen spans,
pushed filters -- and pin them as budgets.

Usage:
  python tools/plan_audit.py            # print the audit table
  python tools/plan_audit.py --write    # (re)write tests/plan_budgets.json

`tests/test_plans.py::test_exchange_budgets_hold` fails if any query's
plan grows more exchanges or scans than the recorded budget -- the
regression a refactor silently introducing an extra shuffle would cause.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys

BUDGET_PATH = "tests/plan_budgets.json"
SF_DIR = "/root/testdata/sf0.001"


def plan_metrics(plan: str) -> dict[str, int]:
    def n(pattern: str) -> int:
        return len(re.findall(rf"\(\d+\) {pattern}", plan))

    return {
        "scans": n("Scan parquet"),
        "exchanges": n("Exchange"),
        "broadcast_hash_joins": n("BroadcastHashJoin"),
        "sort_merge_joins": n("SortMergeJoin"),
        "bnl_joins": n("BroadcastNestedLoopJoin"),
        "cartesian": n("CartesianProduct"),
        "pushed_filters": plan.count("PushedFilters: ["),
    }


def audit_session():
    """The audit conf, shared with tools/plan_dump.py so dumps and
    budgets compare: 8 shuffle partitions, AQE off (AdaptiveSparkPlan
    hides the `*(n)` codegen markers until runtime finalization;
    exchange/scan counts are identical either way)."""
    from clueso_spark.session import get_spark

    spark = get_spark(
        "plan-audit",
        **{
            "spark.sql.shuffle.partitions": "8",
            "spark.sql.adaptive.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def plan_string(df, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def audit(registry, spark) -> dict[str, dict[str, int]]:
    from pyspark.sql import DataFrame

    tracker = spark.sparkContext.statusTracker()

    def _multi_task_jobs(job_ids) -> int:
        # every spark.read pays a 1-task footer/listing job at build; only
        # multi-task jobs mean the query actually MATERIALIZED data during
        # construction (driver union-find, per-round greedy collects)
        n = 0
        for j in job_ids:
            ji = tracker.getJobInfo(j)
            if ji is None:
                continue
            widths = [
                si.numTasks
                for si in (tracker.getStageInfo(s) for s in ji.stageIds)
                if si is not None
            ]
            if widths and max(widths) > 1:
                n += 1
        return n

    out: dict[str, dict[str, int]] = {}
    for name, cq in registry.items():
        if name.startswith("st_"):
            continue  # streaming queries execute on build; no static plan
        # audit the FRESH plan shape: Spark's CacheManager substitutes
        # InMemoryRelation for any subtree an earlier query persisted
        # (plan-equality match), which would make scan/exchange counts
        # depend on audit order
        spark.catalog.clearCache()
        jobs_before = set(tracker.getJobIdsForGroup(None))
        df: DataFrame = cq.spark(spark, SF_DIR)
        # queries that materialize during CONSTRUCTION leave most of their
        # cost outside the final static plan -- the scan/exchange budget is
        # blind to it, so the audit marks them instead of silently
        # recording 0s
        eager_jobs = _multi_task_jobs(
            set(tracker.getJobIdsForGroup(None)) - jobs_before
        )
        out[name] = plan_metrics(plan_string(df))
        out[name]["eager_jobs"] = eager_jobs
        # codegen spans only annotate the simple-mode plan (`*(n)` prefixes)
        simple = plan_string(df, "simple")
        out[name]["codegen_spans"] = len(set(re.findall(r"\*\((\d+)\)", simple)))
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--write", action="store_true")
    ap.add_argument(
        "--staged",
        action="store_true",
        help='include the "staged"-tagged queries; extra budget keys '
        "are inert until promotion, when the budget gate picks them up "
        "automatically",
    )
    args = ap.parse_args()

    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    from clueso_spark.plans.catalog import all_queries, staged_queries

    spark = audit_session()
    registry = all_queries()
    if args.staged:
        registry.update(staged_queries())
    metrics = audit(registry, spark)

    hdr = ["query", "scans", "exch", "bhj", "smj", "bnlj", "cart", "wscg", "eager"]
    print(" ".join(f"{h:>6s}" if i else f"{h:32s}" for i, h in enumerate(hdr)))
    for name, m in metrics.items():
        print(
            f"{name:32s} {m['scans']:6d} {m['exchanges']:6d} "
            f"{m['broadcast_hash_joins']:6d} {m['sort_merge_joins']:6d} "
            f"{m['bnl_joins']:6d} {m['cartesian']:6d} {m['codegen_spans']:6d} "
            f"{m['eager_jobs']:6d}"
        )
    if args.write:
        budgets = {
            name: {
                "scans": m["scans"],
                "exchanges": m["exchanges"],
                **({"eager_jobs": m["eager_jobs"]} if m["eager_jobs"] else {}),
            }
            for name, m in metrics.items()
        }
        with open(BUDGET_PATH, "w") as f:
            json.dump(budgets, f, indent=1, sort_keys=True)
            f.write("\n")
        print(f"\nwrote {len(budgets)} budgets to {BUDGET_PATH}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
