"""Local stand-in for the driver's DuckDB correctness oracle.

The driver runs each ``queries()[name]`` on Spark and the matching
``oracle_sql()[name]`` on DuckDB over the same parquet tables, then compares
row-count + schema + an order-insensitive value hash. This module reproduces
that comparison locally so every catalog query can be proven green *before*
the driver runs it.

Normalization contract (mirrors an order-insensitive value hash):
  * columns sorted by name (both sides must use identical aliases);
  * rows sorted by their full stringified tuple;
  * every cell canonicalized to a string (floats via repr of float64,
    timestamps via ISO format, arrays/maps via JSON-ish repr).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from clueso_spark.sources.tables import TABLE_NAMES


def duckdb_connect(sf_dir: str):
    """DuckDB connection with every testdata table registered as a view,
    the way the driver pre-registers them."""
    import duckdb

    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.sql(
            f"create or replace view {name} as "
            f"select * from '{sf_dir.rstrip('/')}/{name}.parquet'"
        )
    return con


def _canon_cell(v) -> str:
    import numpy as np

    if v is None:
        return "<NULL>"
    if isinstance(v, float) or isinstance(v, np.floating):
        f = float(v)
        if math.isnan(f):
            return "<NULL>"
        if f == 0.0:
            f = 0.0  # normalize -0.0
        return repr(f)
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon_cell(x) for x in v) + "]"
    if hasattr(v, "isoformat"):  # datetime/date/pd.Timestamp
        return v.isoformat()
    return str(v)


def canonical_rows(df_pandas) -> list[tuple[str, ...]]:
    cols = sorted(df_pandas.columns)
    out = [
        tuple(_canon_cell(v) for v in row)
        for row in df_pandas[cols].itertuples(index=False, name=None)
    ]
    out.sort()
    return out


@dataclass
class ParityResult:
    name: str
    rows_spark: int
    rows_oracle: int
    schema_match: bool
    values_match: bool
    detail: str = ""

    @property
    def ok(self) -> bool:
        return (
            self.rows_spark == self.rows_oracle
            and self.schema_match
            and self.values_match
        )


def compare(
    name: str,
    spark_df: DataFrame,
    oracle_sql: str,
    con,
    max_diff: int = 5,
) -> ParityResult:
    sp = spark_df.toPandas()
    du = con.sql(oracle_sql).df()
    schema_match = sorted(sp.columns) == sorted(du.columns)
    if not schema_match:
        return ParityResult(
            name, len(sp), len(du), False, False,
            f"columns spark={sorted(sp.columns)} oracle={sorted(du.columns)}",
        )
    a, b = canonical_rows(sp), canonical_rows(du)
    if a == b:
        return ParityResult(name, len(sp), len(du), True, True)
    only_a = [r for r in a if r not in set(b)][:max_diff]
    only_b = [r for r in b if r not in set(a)][:max_diff]
    return ParityResult(
        name, len(sp), len(du), True, False,
        f"spark-only={only_a} oracle-only={only_b}",
    )


def run_catalog(
    spark: SparkSession,
    sf_dir: str,
    names: list[str] | None = None,
    on_result=None,
) -> list[ParityResult]:
    """Run every catalog query with an oracle and compare; rows-only
    queries are executed for count>=0 but reported without value check.

    ``on_result`` (optional callback, called with each ParityResult as
    it lands) lets long sweeps stream progress -- a killed 60-minute
    sf0.1 sweep that buffered every result until the end taught the
    lesson (ROUND13_NOTES). ``names`` may also pick ``"staged"``
    entries."""
    from clueso_spark.plans.catalog import all_queries, staged_queries

    con = duckdb_connect(sf_dir)
    results = []
    queries = all_queries()
    if names:
        queries.update(staged_queries())
    for name, cq in queries.items():
        if names and name not in names:
            continue
        df = cq.spark(spark, sf_dir)
        if cq.oracle is None or (
            cq.oracle_valid is not None and not cq.oracle_valid(sf_dir)
        ):
            # no oracle, or the registered oracle's fixed-parameter
            # replica is out of its validity domain at this corpus size
            # (adaptive Spark-side parameter left its floor). Before
            # degrading to rows-only, try the sf-adaptive builder
            # (round 15): it reproduces the oracle SQL at the parameter
            # the Spark side derives for THIS corpus, so the adaptive
            # branches hash-verify instead of being merely row-counted.
            adaptive_sql = (
                cq.oracle_adaptive(sf_dir)
                if cq.oracle is not None and cq.oracle_adaptive is not None
                else None
            )
            if adaptive_sql is not None:
                res = compare(name, df, adaptive_sql, con)
                res.detail = (
                    "adaptive-oracle"
                    if res.ok
                    else f"adaptive-oracle {res.detail}"
                )
                results.append(res)
            else:
                n = df.count()
                detail = (
                    "rows-only" if cq.oracle is None
                    else "oracle-out-of-domain"
                )
                results.append(ParityResult(name, n, n, True, True, detail))
        else:
            results.append(compare(name, df, cq.oracle, con))
        if on_result is not None:
            on_result(results[-1])
    return results
