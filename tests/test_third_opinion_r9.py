"""Third-opinion checks for the math-heaviest staged round-9 operators.

Same rationale as tests/test_third_opinion.py: parity proves
Spark == DuckDB, but a mis-derived formula SHARED by query and oracle
would still pass. These recompute BM25, the exact moments, and the
Gini concentration a third way -- pure Python over pyarrow-read rows,
written independently from first principles -- and require the Spark
output to match exactly (the engine chains are integer-exact or single
IEEE double chains, so Python reproduces them bit-for-bit when the
operation order matches).
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import pyarrow.parquet as pq
import pytest

from clueso_spark.plans.staged_r9 import _BM25_K, _BM25_TERMS
from tests.conftest import registered_by

QUERIES = registered_by("clueso_spark.plans.staged_r9")

SF = "/root/testdata/sf0.001"


def _l(x: int) -> int:
    """The engines' scaled log2: round(log2(x) * 1e6) as int."""
    return round(math.log2(x) * 1_000_000)


@pytest.fixture(scope="module")
def docs():
    t = pq.read_table(f"{SF}/documents.parquet")
    return t.to_pylist()


def test_bm25_third_opinion(spark, docs):
    """Recompute the whole scaled-bigint BM25 pipeline with Counter
    arithmetic: postings, idf_s = L(2N+2) - L(2df+1), the
    multiplied-through rational contribution, the top-k order."""
    n_docs = len(docs)
    dl = {d["doc_id"]: len(d["text"].split(" ")) for d in docs}
    t_tok = sum(dl.values())
    tf: dict[tuple[int, str], int] = Counter()
    for d in docs:
        for w in d["text"].split(" "):
            if w in _BM25_TERMS:
                tf[(d["doc_id"], w)] += 1
    df_ = Counter(term for (_, term) in tf)
    idf = {t: _l(2 * n_docs + 2) - _l(2 * df_[t] + 1) for t in df_}
    score: dict[int, int] = defaultdict(int)
    for (doc, term), f in tf.items():
        num = float(idf[term]) * float(22 * f * t_tok)
        den = float(10 * f * t_tok + 3 * t_tok + 9 * dl[doc] * n_docs)
        score[doc] += round(num / den)
    want = sorted(score.items(), key=lambda kv: (-kv[1], kv[0]))[:_BM25_K]
    got = [
        (r["doc_id"], r["score_s"])
        for r in QUERIES["txt_bm25_topk"].spark(spark, SF).collect()
    ]
    assert got == want


def test_moments_third_opinion(spark, docs):
    """Recompute mean/var/skew/kurt from integer power sums with the
    documented IEEE chain (same operation order as the shared
    expression text) -- must match bit-for-bit."""
    sums: dict[str, list[int]] = defaultdict(lambda: [0, 0, 0, 0, 0])
    for d in docs:
        c, s = d["n_chars"], sums[d["source"]]
        s[0] += 1
        s[1] += c
        s[2] += c * c
        s[3] += c * c * c
        s[4] += c * c * c * c
    got = {
        r["source"]: r
        for r in QUERIES["agg_exact_moments"].spark(spark, SF).collect()
    }
    assert set(got) == set(sums)
    for src, (n, s1, s2, s3, s4) in sums.items():
        m = float(s1) / float(n)
        r2 = float(s2) / float(n)
        r3 = float(s3) / float(n)
        r4 = float(s4) / float(n)
        var = r2 - m * m
        skew = (r3 - 3.0 * m * r2 + 2.0 * m * m * m) / (
            math.sqrt(var) * var
        )
        kurt = (
            r4 - 4.0 * m * r3 + 6.0 * m * m * r2 - 3.0 * m * m * m * m
        ) / (var * var)
        r = got[src]
        assert r["n_docs"] == n
        assert r["mean_chars"] == m
        assert r["var_chars"] == var
        assert r["skew_chars"] == skew, src
        assert r["kurt_chars"] == kurt, src


def test_gini_third_opinion(spark):
    """Recompute per-nation Gini from exact cents (shortest-repr
    decimal of the 2dp doubles), the ascending rank-index closed form,
    one double division -- exact match required."""
    from decimal import Decimal

    cust = pq.read_table(f"{SF}/customer.parquet").to_pylist()
    nat = {
        r["n_nationkey"]: r["n_name"]
        for r in pq.read_table(f"{SF}/nation.parquet").to_pylist()
    }
    orders = pq.read_table(
        f"{SF}/orders.parquet", columns=["o_custkey", "o_totalprice"]
    ).to_pylist()
    spend: dict[int, int] = defaultdict(int)
    for o in orders:
        spend[o["o_custkey"]] += int(Decimal(repr(o["o_totalprice"])) * 100)
    by_nation: dict[str, list[tuple[int, int]]] = defaultdict(list)
    for c in cust:
        by_nation[nat[c["c_nationkey"]]].append(
            (spend.get(c["c_custkey"], 0), c["c_custkey"])
        )
    got = {
        r["n_name"]: r
        for r in QUERIES["agg_gini_concentration"].spark(spark, SF).collect()
    }
    assert set(got) == set(by_nation)
    for nation, rows in by_nation.items():
        rows.sort()  # (cents, custkey) ascending = the engines' rank order
        n = len(rows)
        sx = sum(c for c, _ in rows)
        six = sum(i * c for i, (c, _) in enumerate(rows, start=1))
        want = float(2 * six - (n + 1) * sx) / float(n * sx)
        r = got[nation]
        assert r["n_customers"] == n
        assert r["gini"] == want, nation
