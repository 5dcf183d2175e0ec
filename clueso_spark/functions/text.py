"""Text-analysis column functions: tokenization, shingling, fingerprints.

Everything is a Column expression (split / transform / sequence /
element_at / md5) so whole-stage codegen applies; the same algebra is
re-expressible in ANSI SQL, which is what keeps these operators
oracle-verifiable cross-engine.

Determinism: hashes are md5 hex strings (identical in every engine);
"min over hashes" compares lexicographically on ASCII hex, which is
engine-independent. No engine-specific hash() anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def tokens(text_col: str = "text") -> Column:
    """Whitespace tokens. Corpus text is single-space separated; split on
    the literal space keeps Spark/DuckDB/ANSI behavior identical."""
    return F.split(F.col(text_col), " ")


def _zip_shingles(words_col: str, k: int) -> str:
    """k-shingle construction as a chain of k-1 ``zip_with`` calls over
    ``slice`` views.

    NOT ``transform(sequence(...), i -> element_at(w, i + j))``: higher-
    order functions evaluate interpreted (outside codegen), and the
    optimizer inlines the column's defining expression (``split(text)``)
    into the lambda body, where it re-evaluates PER ELEMENT -- O(len^2)
    re-tokenization per document, measured 10x slower at sf0.1. ``slice``
    / ``zip_with`` *arguments* are evaluated once per row; these lambdas
    touch only their element variables.
    """
    n = f"size({words_col}) - {k - 1}"
    expr = f"slice({words_col}, 1, {n})"
    for j in range(2, k + 1):
        expr = (
            f"zip_with({expr}, slice({words_col}, {j}, {n}),"
            f" (a, b) -> concat(a, ' ', b))"
        )
    return expr


def bigrams(words_col: str = "words") -> Column:
    """Adjacent word pairs joined by a space; empty for 1-word docs."""
    return F.expr(
        f"""case when size({words_col}) < 2 then array()
        else {_zip_shingles(words_col, 2)} end"""
    )


def word_shingles(words_col: str = "words", k: int = 3) -> Column:
    """Word k-shingles (k consecutive words joined by spaces), the MinHash
    input unit. Empty array for docs shorter than k words."""
    return F.expr(
        f"""case when size({words_col}) < {k} then array()
        else {_zip_shingles(words_col, k)} end"""
    )


def jaccard(a: str, b: str) -> Column:
    """Exact Jaccard |A∩B| / |A∪B| of two distinct-element array
    columns, as a double -- the dedup tier's one set-similarity score.
    The DuckDB oracles spell it ``len(list_intersect(x, y))::double /
    len(list_distinct(x || y))``; both divide the same two integers."""
    return F.size(F.array_intersect(a, b)).cast("double") / F.size(
        F.array_union(a, b)
    )


def doc_fingerprint(text_col: str = "text") -> Column:
    """Exact-dedup fingerprint: md5 of the lowercased text."""
    return F.md5(F.lower(F.col(text_col)))


def winnow_fingerprint(words_col: str = "words", window: int = 5) -> Column:
    """Rolling-hash document fingerprint (winnowing-lite): the minimum
    md5 over all ``window``-gram windows of the doc."""
    return F.expr(
        f"""case when size({words_col}) < {window} then md5(concat_ws(' ', {words_col}))
        else array_min(transform({_zip_shingles(words_col, window)},
             s -> md5(s))) end"""
    )


def max_multiplicity(arr_col: str) -> Column:
    """Highest element frequency in an array column (0 for empty arrays),
    computed as the longest run in the sorted array with one O(n log n)
    sort + one O(n) fold. NOT ``transform(array_distinct(a), t ->
    size(filter(a, x -> x = t)))``: besides being O(n * distinct), the
    inner filter's reference to the column re-inlines its defining
    expression into the interpreted lambda (see :func:`_zip_shingles`)."""
    step = (
        "named_struct('p', x, "
        "'r', case when acc.p is null or x != acc.p then 1 else acc.r + 1 end, "
        "'b', greatest(acc.b, "
        "case when acc.p is null or x != acc.p then 1 else acc.r + 1 end))"
    )
    return F.expr(
        f"aggregate(array_sort({arr_col}), "
        "named_struct('p', cast(null as string), 'r', 0, 'b', 0), "
        f"(acc, x) -> {step}, acc -> acc.b)"
    )


#: tiny deterministic stopword list shared with oracles
STOPWORDS = ("the", "a", "of", "and", "to")


def stopword_count(words_col: str = "words") -> Column:
    inlist = ", ".join(f"'{w}'" for w in STOPWORDS)
    return F.expr(
        f"size(filter({words_col}, w -> w in ({inlist})))"
    ).cast("bigint")
