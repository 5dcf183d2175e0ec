"""Pins for functions/text.py's ``jaccard``, the dedup tier's only
set-similarity score: bit for bit the Python ``len(a & b) / len(a | b)``
and the DuckDB expression every dedup oracle writes, so the oracles can
compare hashes instead of tolerances.
"""

from __future__ import annotations

import duckdb

from clueso_spark.functions.text import jaccard

# distinct-element sets: identical, disjoint, subset, and overlaps whose
# ratio is not a short binary fraction (1/3, 2/7, 3/11)
_SETS = [
    (["a", "b", "c"], ["a", "b", "c"]),
    (["a", "b"], ["c", "d"]),
    (["a", "b"], ["a", "b", "c", "d", "e"]),
    (["x", "y"], ["y", "z"]),
    (["a", "b", "c", "d"], ["c", "d", "e", "f", "g"]),
    (["p", "q", "r", "s", "t", "u", "v"], ["s", "t", "u", "w", "x", "y", "z"]),
]


def test_jaccard_matches_python_and_duckdb(spark):
    got = (
        spark.createDataFrame(_SETS, "a array<string>, b array<string>")
        .select(jaccard("a", "b").alias("j"))
        .collect()
    )
    con = duckdb.connect()
    for (a, b), row in zip(_SETS, got):
        want = len(set(a) & set(b)) / len(set(a) | set(b))
        duck = con.execute(
            "select len(list_intersect(?, ?))::double"
            " / len(list_distinct(? || ?))",
            [a, b, a, b],
        ).fetchone()[0]
        assert row["j"] == want
        assert duck == want
