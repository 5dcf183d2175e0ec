#!/usr/bin/env python3
"""Empty-corpus robustness sweep: run every registered query against a
corpus of EMPTY tables (schemas copied verbatim from real testdata) and
report crashes. The bar: a query may return zero rows, but it must
never raise -- an empty partition, bucket, or source is a legitimate
state of a 100 TB store, and under ANSI mode (the Spark 4 default) any
unguarded ratio whose denominator aggregates to zero becomes a
DIVIDE_BY_ZERO job failure instead of a null.

Round-9 findings (both fixed): agg_approx_count_distinct and
agg_hll_partial_merge divided by an exact distinct count of zero; the
within_5pct flags are now cross-multiplied.

Usage: python tools/empty_sweep.py [--staged] [name[,name...]]
Exit code 0 iff no query crashes.
"""

from __future__ import annotations

import os
import sys
import tempfile

#: the canonical testdata table set; shared with
#: tests/test_empty_corpus.py via write_empty_corpus so the fast guard
#: and this full sweep can never drift onto different corpora
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def write_empty_corpus(dst: str, src: str = "/root/testdata/sf0.001") -> str:
    """Write every testdata table as an EMPTY parquet file with the
    real schema (copied verbatim from ``src``)."""
    import pyarrow.parquet as pq

    for t in TABLES:
        schema = pq.read_schema(f"{src}/{t}.parquet")
        pq.write_table(schema.empty_table(), f"{dst}/{t}.parquet")
    return dst


def main() -> int:
    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    tmp = write_empty_corpus(tempfile.mkdtemp(prefix="empty_sf_"))

    from clueso_spark.plans.catalog import (
        all_queries,
        release_persisted,
        staged_queries,
    )
    from clueso_spark.session import get_spark

    spark = get_spark("empty-sweep", **{"spark.sql.shuffle.partitions": "4"})
    spark.sparkContext.setLogLevel("ERROR")
    reg = dict(all_queries())
    args = [a for a in sys.argv[1:] if a != "--staged"]
    if "--staged" in sys.argv[1:]:
        # same flag contract as check_correctness.py / plan_audit.py
        reg.update(staged_queries())
    names = args[0].split(",") if args else list(reg)
    fails: list[tuple[str, str]] = []
    for name in names:
        try:
            rows = reg[name].spark(spark, tmp).collect()
            assert isinstance(rows, list)
        except Exception as e:  # noqa: BLE001 -- the sweep's whole job
            fails.append((name, str(e).split("\n")[0][:160]))
            print(f"CRASH {name}: {fails[-1][1]}", flush=True)
        finally:
            try:
                release_persisted(spark)
            except Exception:  # noqa: BLE001
                pass
    print(f"\n{len(names) - len(fails)}/{len(names)} ok, {len(fails)} crashes")
    for n, m in fails:
        print(" ", n, "--", m)
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
