"""Pins for functions/vectors.py, the similarity tier's only vector
arithmetic.

* ``plane_weight`` (the Python-computed literal lsh_bucket embeds) equals
  the md5-nibble SQL expression the DuckDB oracles evaluate, for every
  plane a catalog query can ask lsh_bucket for.
* ``dot`` / ``cosine_similarity`` / ``squared_l2`` are the sequential
  left-to-right fold, bit for bit -- the order DuckDB's
  ``list_dot_product`` uses, which is what lets every vector oracle
  compare hashes instead of tolerances.
"""

from __future__ import annotations

import math
import os
from pathlib import Path

import duckdb
import pytest

from clueso_spark.functions.vectors import (
    cosine_similarity,
    dot,
    plane_weight,
    squared_l2,
    squared_norm,
)
from clueso_spark.plans.dedup_queries import EMB_BANDS, _emb_planes
from clueso_spark.plans.similarity_queries import DIM, N_PLANES
from clueso_spark.sources.tables import table_row_count
from tests.test_plans import SF_DIR

#: the largest fixture the oracle gates run: its corpus size sets the
#: adaptive plane count, i.e. how many planes the banded index asks for
SF01_DIR = str(Path(SF_DIR).parent / "sf0.1")


def _planes_in_use() -> int:
    if not os.path.isdir(SF01_DIR):
        pytest.skip("sf0.1 fixture not present")
    banded = EMB_BANDS * _emb_planes(table_row_count(SF01_DIR, "embeddings"))
    return max(banded, N_PLANES)


def test_plane_weight_matches_oracle_md5_expression():
    n_planes = _planes_in_use()
    rows = duckdb.sql(
        f"""
        select p, d,
               strpos('0123456789abcdef',
                      substr(md5(cast(p as varchar) || '_' || cast(d as varchar)),
                             1, 1)) - 8.5 as w
        from range({n_planes}) t(p) cross join range({DIM}) s(d)
        """
    ).fetchall()
    assert len(rows) == n_planes * DIM
    bad = [(p, d, w) for p, d, w in rows if plane_weight(p, d) != w]
    assert bad == []


def _fold(xs) -> float:
    acc = 0.0
    for x in xs:
        acc = acc + x
    return acc


# row 0 is order-sensitive: a left fold of its products gives 1.0,
# an exact sum gives 2.0 -- so "bit for bit" below really pins the order
_VECS = [
    ([1e16, 1.0, -1e16, 1.0], [1.0, 1.0, 1.0, 1.0]),
    ([0.1, 0.2, 0.3, 0.4], [0.7, -0.3, 1e-3, 5.5]),
    ([-2.5, 3.25, 1e-8, 7.0], [1.5, 1e8, -0.125, 3.0]),
]


def test_vector_arithmetic_is_the_left_fold(spark):
    products = [x * y for x, y in zip(*_VECS[0])]
    assert _fold(products) != math.fsum(products)
    df = (
        spark.createDataFrame(_VECS, "a array<double>, b array<double>")
        .withColumn("sqa", squared_norm("a"))
        .withColumn("sqb", squared_norm("b"))
    )
    got = df.select(
        dot("a", "b").alias("dot"),
        cosine_similarity("a", "b", "sqa", "sqb").alias("cos"),
        squared_l2("a", "b", "sqa", "sqb").alias("l2"),
    ).collect()
    for (a, b), row in zip(_VECS, got):
        d = _fold([x * y for x, y in zip(a, b)])
        sqa = _fold([x * x for x in a])
        sqb = _fold([y * y for y in b])
        assert row["dot"] == d
        assert row["cos"] == d / (math.sqrt(sqa) * math.sqrt(sqb))
        assert row["l2"] == sqa - 2 * d + sqb
