"""Third-opinion checks for the math-heaviest staged operators.

The parity gate proves Spark == DuckDB; if BOTH engines encoded the same
conceptual mistake (a mis-derived formula shared by the query and its
oracle), parity would still pass. These tests recompute the results a
THIRD way -- pure Python over pyarrow-read rows, written independently
from first principles (Counter-based counts, math.log2) -- and require
the Spark output to match exactly.
"""

from __future__ import annotations

import math
from collections import Counter

import pyarrow.parquet as pq
import pytest

from tests.conftest import registered_by

QUERIES = registered_by("clueso_spark.plans.staged_r6")

SF = "/root/testdata/sf0.001"


def _l(x: int) -> int:
    """The engines' scaled log2: round(log2(x) * 1e6) as int."""
    return round(math.log2(x) * 1_000_000)


@pytest.fixture(scope="module")
def docs():
    t = pq.read_table(f"{SF}/documents.parquet")
    return list(
        zip(t["doc_id"].to_pylist(), t["text"].to_pylist())
    )


def _int_div(a: int, b: int) -> int:
    """Spark `div` / DuckDB `//`: floor division for positive operands
    (all uses here are non-negative)."""
    return a // b


def test_char_entropy_third_opinion(spark, docs):
    got = {
        r["doc_id"]: (r["n_chars_total"], r["entropy_scaled"])
        for r in QUERIES["txt_char_entropy"].spark(spark, SF).collect()
    }
    for doc_id, text in docs:
        n = len(text)
        if n == 0:
            assert doc_id not in got
            continue
        counts = Counter()
        for ch in text:
            if "a" <= ch <= "z":
                counts[ch] += 1
            elif ch == " ":
                counts[" "] += 1
            else:
                counts["<other>"] += 1
        s = sum(c * _l(c) for c in counts.values() if c > 0)
        expect = _int_div(n * _l(n) - s, n)
        assert got[doc_id] == (n, expect), doc_id


def test_zipf_slope_third_opinion(spark, docs):
    tf = Counter()
    for _, text in docs:
        tf.update(text.split(" "))
    top = sorted(tf.items(), key=lambda kv: (-kv[1], kv[0]))[:256]
    xs, ys = [], []
    for rank, (_, c) in enumerate(top, start=1):
        xs.append(_l(rank))
        ys.append(_l(c))
    n = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / (n * 1_000_000.0)
    row = QUERIES["txt_zipf_slope"].spark(spark, SF).collect()[0]
    assert row["n_terms"] == n
    assert row["slope"] == round(slope, 6)
    assert row["intercept_log2"] == round(intercept, 6)


def test_bigram_perplexity_third_opinion(spark, docs):
    per_doc_bigrams: dict[int, list[tuple[str, str]]] = {}
    all_bigrams: list[tuple[str, str]] = []
    for doc_id, text in docs:
        w = text.split(" ")
        bgs = list(zip(w, w[1:]))
        if bgs:
            per_doc_bigrams[doc_id] = bgs
            all_bigrams.extend(bgs)
    c12 = Counter(all_bigrams)
    c1 = Counter(b[0] for b in all_bigrams)
    c2 = Counter(b[1] for b in all_bigrams)
    n_tot = len(all_bigrams)
    got = {
        r["doc_id"]: (r["n_bigrams"], r["xent_scaled"])
        for r in QUERIES["txt_bigram_perplexity"].spark(spark, SF).collect()
    }
    assert set(got) == set(per_doc_bigrams)
    for doc_id, bgs in per_doc_bigrams.items():
        s = 0
        for b in bgs:
            num = 3 * c12[b] * n_tot + c2[b[1]] * c1[b[0]]
            den = 4 * c1[b[0]] * n_tot
            s += _l(den) - _l(num)
        assert got[doc_id] == (len(bgs), _int_div(s, len(bgs))), doc_id


def test_ccnet_buckets_third_opinion(spark, docs):
    tf = Counter()
    doc_tokens = {}
    for doc_id, text in docs:
        w = text.split(" ")
        doc_tokens[doc_id] = w
        tf.update(w)
    n_total = sum(tf.values())
    l_total = _l(n_total)
    n_chars = {
        t[0]: t[1]
        for t in zip(
            pq.read_table(f"{SF}/documents.parquet")["doc_id"].to_pylist(),
            pq.read_table(f"{SF}/documents.parquet")["n_chars"].to_pylist(),
        )
    }
    bands = Counter()
    chars = Counter()
    checksum = Counter()
    for doc_id, w in doc_tokens.items():
        n = len(w)
        s = sum(_l(tf[t]) for t in w)
        xent = (n * l_total - s) / (n * 1_000_000.0)
        xent_scaled = _int_div(n * l_total - s, n)
        band = "head" if xent < 4.905 else ("middle" if xent < 4.910 else "tail")
        bands[band] += 1
        chars[band] += n_chars[doc_id]
        checksum[band] += xent_scaled
    rows = {
        r["band"]: (r["n_docs"], r["n_chars"], r["xent_checksum"])
        for r in QUERIES["pipeline_ccnet_buckets"].spark(spark, SF).collect()
    }
    assert rows == {
        b: (bands[b], chars[b], checksum[b]) for b in bands
    }


def test_simhash_sketch_third_opinion(spark, docs):
    """The 16-bit word-set simhash (the blocking key under dedup_simhash,
    dedup_ngram_jaccard, dedup_containment), re-derived with hashlib:
    bit j weights +1/-1 by whether nibble j of each distinct word's md5
    is >= 8."""
    import hashlib

    from pyspark.sql import functions as F

    from clueso_spark.plans.dedup_queries import _simhash_sketches
    from clueso_spark.sources.tables import load_table

    rel = load_table(spark, SF, "documents").withColumn(
        "w", F.split(F.col("text"), " ")
    )
    got = {
        r["doc_id"]: r["simhash"]
        for r in _simhash_sketches(rel).collect()
    }
    for doc_id, text in docs:
        words = set(text.split(" "))
        sums = [0] * 16
        for wd in words:
            hx = hashlib.md5(wd.encode()).hexdigest()
            for j in range(16):
                sums[j] += 1 if int(hx[j], 16) >= 8 else -1
        expect = "".join("1" if s >= 0 else "0" for s in sums)
        assert got[doc_id] == expect, doc_id


def test_minhash_band_sigs_third_opinion(spark, docs):
    """The 8 r=2 banded minhash signatures (dedup_minhash_lsh, the
    funnel's embedded stage, dedup_incremental_minhash), re-derived with
    hashlib: 4 salted md5s per 3-shingle -> 16 8-hex slice minima
    ('g' = +inf) -> adjacent minima concatenated per band."""
    import hashlib

    from pyspark.sql import functions as F

    from clueso_spark.plans.dedup_queries import minhash_band_sigs
    from clueso_spark.sources.tables import load_table
    from clueso_spark.functions.text import word_shingles

    rel = (
        load_table(spark, SF, "documents")
        .withColumn("w", F.split(F.col("text"), " "))
        .where(F.size("w") >= 3)
        .select(
            "doc_id",
            F.array_distinct(word_shingles("w", 3)).alias("ss"),
        )
        .select("doc_id", minhash_band_sigs().alias("sigs"))
    )
    got = {r["doc_id"]: r["sigs"] for r in rel.collect()}
    for doc_id, text in docs:
        w = text.split(" ")
        if len(w) < 3:
            assert doc_id not in got
            continue
        shingles = list(dict.fromkeys(
            " ".join(w[i : i + 3]) for i in range(len(w) - 2)
        ))
        minima = ["g"] * 16
        for s in shingles:
            hx = "".join(
                hashlib.md5((salt + s).encode()).hexdigest()
                for salt in ("", "~", "#", "@")
            )
            for k in range(16):
                sl = hx[k * 8 : k * 8 + 8]
                if sl < minima[k]:
                    minima[k] = sl
        expect = [minima[2 * b] + minima[2 * b + 1] for b in range(8)]
        assert got[doc_id] == expect, doc_id


def test_lsh_bucket_third_opinion(spark):
    """The random-hyperplane bucket (every sim_*/dedup_embedding path),
    re-derived in Python: weight[p][d] = nibble(md5(f"{p}_{d}")[0]) - 7.5,
    signed projection in the same left-to-right IEEE order."""
    import hashlib

    from clueso_spark.functions.vectors import lsh_bucket
    from clueso_spark.sources.tables import load_table

    emb = load_table(spark, SF, "embeddings").select(
        "vec_id", lsh_bucket("embedding", 4, 64).alias("bucket")
    )
    got = {r["vec_id"]: r["bucket"] for r in emb.collect()}
    t = pq.read_table(f"{SF}/embeddings.parquet")
    vecs = dict(
        zip(t["vec_id"].to_pylist(), t["embedding"].to_pylist())
    )
    weights = [
        [
            int(hashlib.md5(f"{p}_{d}".encode()).hexdigest()[0], 16) - 7.5
            for d in range(64)
        ]
        for p in range(4)
    ]
    for vec_id, v in vecs.items():
        bits = ""
        for p in range(4):
            acc = 0.0
            for d in range(64):
                acc = acc + weights[p][d] * v[d]
            bits += "1" if acc >= 0 else "0"
        assert got[vec_id] == bits, vec_id


def test_bruteforce_cosine_third_opinion(spark):
    """sim_bruteforce_topk's exact cosines, re-derived in Python with the
    identical sequential-fold IEEE order (float elements promote to
    double exactly)."""
    import math as m

    from clueso_spark.plans.similarity_queries import sim_bruteforce_topk

    rows = sim_bruteforce_topk(spark, SF).collect()
    t = pq.read_table(f"{SF}/embeddings.parquet")
    vecs = dict(zip(t["vec_id"].to_pylist(), t["embedding"].to_pylist()))

    def cos(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        na = 0.0
        for x in a:
            na = na + x * x
        nb = 0.0
        for y in b:
            nb = nb + y * y
        return acc / (m.sqrt(na) * m.sqrt(nb))

    assert rows, "bruteforce top-k returned nothing"
    for r in rows:
        expect = round(cos(vecs[r["probe_id"]], vecs[r["vec_id"]]), 6)
        assert r["cosine"] == expect, (r["probe_id"], r["vec_id"])


def test_lsh_literal_weights_equal_sql_md5_form(spark):
    """lsh_bucket embeds driver-computed literal weights (round 7 --
    plan-size optimization); this pins them bit-identical to the
    original in-SQL ``instr('0123456789abcdef', substring(md5(..)))``
    derivation, over EVERY plane family the banded indexes use (4
    bands x 6 planes), preserving the third-opinion independence the
    hashlib re-derivation above lost when the implementation itself
    moved to hashlib."""
    from pyspark.sql import functions as F

    from clueso_spark.functions.vectors import lsh_bucket
    from clueso_spark.sources.tables import load_table

    def sql_md5_bucket(vec_col, n_planes, dim, first_plane):
        bits = []
        for p in range(first_plane, first_plane + n_planes):
            terms = " + ".join(
                "(instr('0123456789abcdef',"
                f" substring(md5('{p}_{d}'), 1, 1)) - 8.5)"
                f" * element_at({vec_col}, {d + 1})"
                for d in range(dim)
            )
            bits.append(f"case when ({terms}) >= 0 then '1' else '0' end")
        return F.expr("concat(" + ", ".join(bits) + ")")

    from clueso_spark.functions.vectors import to_double_array

    emb = load_table(spark, SF, "embeddings").select(
        "vec_id", to_double_array("embedding").alias("v")
    )
    cols = []
    for band in range(4):
        cols.append(
            (lsh_bucket("v", 6, 64, first_plane=band * 6)
             == sql_md5_bucket("v", 6, 64, band * 6)).alias(f"eq{band}")
        )
    bad = (
        emb.select(*cols)
        .where(" or ".join(f"not eq{b}" for b in range(4)))
        .count()
    )
    assert bad == 0
