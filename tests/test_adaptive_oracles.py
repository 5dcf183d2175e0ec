"""Round-15 sf-adaptive oracles: the adaptive-parameter branches of
the banded-LSH family (dedup_embedding_cosine, sim_knn_join,
sim_range_search) hash-verify cross-engine ABOVE the plane floor,
where the registered fixed-floor oracle is out of domain and the
parity harness previously degraded to rows-only. These branches are
the 100 TB-critical code paths -- before round 15 they were never
value-verified anywhere (the driver gate at sf0.01 sits on the
floor).

Also pins the latent domain hole the work surfaced: the old
registered oracle's plain self-join diverged from the Spark side's
bucket-cap star expansion the moment a bucket crossed LSH_BUCKET_CAP;
both the registered and adaptive oracles now replicate the cap.
"""

from __future__ import annotations

import duckdb
import pytest

from clueso_spark.plans.catalog import CatalogQuery, all_queries
from clueso_spark.plans.parity import ParityResult, compare
from tests.test_round4_ops import DIM, _write_embeddings

ADAPTIVE_NAMES = [
    "dedup_embedding_cosine",
    "sim_knn_join",
    "sim_range_search",
]


def _emb_con(sf_dir: str):
    con = duckdb.connect()
    con.sql(
        f"create view embeddings as "
        f"select * from '{sf_dir.rstrip('/')}/embeddings.parquet'"
    )
    return con


def _above_floor_corpus(tmp_path, n=600):
    """n=600 vectors -> _emb_planes = ceil(log2(600/32)) = 5 > the
    4-plane floor: the registered oracle is out of domain, the
    adaptive builder must take over."""
    vecs = [
        [float(((i * 7 + j * 13) % 23) - 11) for j in range(DIM)]
        for i in range(n)
    ]
    return _write_embeddings(tmp_path, vecs)


def test_above_floor_corpus_is_actually_above_floor(tmp_path):
    from clueso_spark.plans.dedup_queries import (
        EMB_PLANES_PER_BAND,
        _emb_planes,
        table_row_count,
    )

    sf = _above_floor_corpus(tmp_path)
    assert _emb_planes(table_row_count(sf, "embeddings")) > EMB_PLANES_PER_BAND
    # and the registered guard agrees it is out of domain
    assert not all_queries()["dedup_embedding_cosine"].oracle_valid(sf)


@pytest.mark.parametrize("name", ADAPTIVE_NAMES)
def test_adaptive_oracle_hash_matches_above_floor(spark, name, tmp_path):
    """The real claim: at a corpus size where the Spark side's
    adaptive plane count has left the floor, the sf-adaptive oracle
    reproduces the Spark output exactly (row count + schema +
    values)."""
    sf = _above_floor_corpus(tmp_path)
    cq = all_queries()[name]
    assert not cq.oracle_valid(sf)
    sql = cq.oracle_adaptive(sf)
    assert sql is not None
    res = compare(name, cq.spark(spark, sf), sql, _emb_con(sf))
    assert res.ok, (name, res.detail)
    assert res.rows_spark > 0, name


@pytest.mark.parametrize("name", ADAPTIVE_NAMES)
def test_adaptive_oracle_equals_registered_at_floor(spark, name):
    """At the driver gate's scale the adaptive builder must reproduce
    the registered oracle's result exactly -- one construction, two
    parameterizations, no fork in semantics."""
    sf = "/root/testdata/sf0.001"
    cq = all_queries()[name]
    assert cq.oracle_valid(sf)  # floor domain
    con = _emb_con(sf)
    a = con.sql(cq.oracle).df()
    b = con.sql(cq.oracle_adaptive(sf)).df()
    from clueso_spark.plans.parity import canonical_rows

    assert sorted(a.columns) == sorted(b.columns)
    assert canonical_rows(a) == canonical_rows(b), name


def test_star_cap_adversary_matches_spark(spark, tmp_path):
    """The latent-hole pin: 600 IDENTICAL vectors collide into one
    bucket per band (population 600 > LSH_BUCKET_CAP = 256), so the
    Spark side star-expands -- pairs (min_id, x) only, NOT all pairs.
    The oracle must reproduce exactly that: 599 pairs, all anchored at
    vec 0, cosine 1.0. The pre-round-15 self-join oracle returned
    C(600,2) = 179,700 pairs here."""
    vecs = [[1.0] * DIM for _ in range(600)]
    sf = _write_embeddings(tmp_path, vecs)
    cq = all_queries()["dedup_embedding_cosine"]
    rows = cq.spark(spark, sf).collect()
    assert len(rows) == 599
    assert all(r["vec_a"] == 0 and r["cosine"] == 1.0 for r in rows)
    res = compare(
        "dedup_embedding_cosine", cq.spark(spark, sf),
        cq.oracle_adaptive(sf), _emb_con(sf),
    )
    assert res.ok, res.detail


def _doc_con(sf_dir: str):
    con = duckdb.connect()
    con.sql(
        f"create view documents as "
        f"select * from '{sf_dir.rstrip('/')}/documents.parquet'"
    )
    return con


def _doc_corpus(tmp_path, family_size):
    """The guard-test corpus shape: one mass-duplicated family (all
    docs share one sketch bucket) + a few unique docs. Above
    LSH_BUCKET_CAP the Spark side star-expands the family."""
    import pandas as pd

    texts = ["big family shared words" for _ in range(family_size)]
    texts += [f"unique doc number {i} words extra" for i in range(6)]
    pd.DataFrame(
        {
            "doc_id": list(range(len(texts))),
            "lang": ["en"] * len(texts),
            "source": ["src0"] * len(texts),
            "n_chars": [len(t) for t in texts],
            "text": texts,
        }
    ).to_parquet(str(tmp_path / "documents.parquet"))
    return str(tmp_path)


NGRAM_NAMES = [
    "dedup_ngram_jaccard",
    "dedup_ngram_jaccard_pairs",
    "dedup_containment",
]


@pytest.mark.parametrize("name", NGRAM_NAMES)
def test_ngram_adaptive_oracle_matches_over_cap_family(spark, name,
                                                       tmp_path):
    """The ngram family's sf0.1 domain exit is the BUCKET CAP, not the
    sketch width: a 300-member duplicate family exceeds
    LSH_BUCKET_CAP = 256, the Spark side star-expands, and the
    registered full-fanout oracle leaves its domain. The adaptive
    builder replicates the star, so the over-cap corpus hash-verifies
    (dedup_ngram_jaccard_pairs: 299 star pairs, not C(300,2))."""
    from clueso_spark.plans.dedup_queries import LSH_BUCKET_CAP

    sf = _doc_corpus(tmp_path, LSH_BUCKET_CAP + 44)
    cq = all_queries()[name]
    assert not cq.oracle_valid(sf)
    sql = cq.oracle_adaptive(sf)
    assert sql is not None
    res = compare(name, cq.spark(spark, sf), sql, _doc_con(sf))
    assert res.ok, (name, res.detail)
    assert res.rows_spark > 0, name
    if name == "dedup_ngram_jaccard_pairs":
        assert res.rows_spark == LSH_BUCKET_CAP + 43  # star, not square


@pytest.mark.parametrize("name", NGRAM_NAMES)
def test_ngram_adaptive_equals_registered_under_cap(spark, name):
    """At the driver gate's scale (all buckets under the cap) the
    adaptive builder must reproduce the registered oracle's result
    exactly."""
    from clueso_spark.plans.parity import canonical_rows

    sf = "/root/testdata/sf0.001"
    cq = all_queries()[name]
    assert cq.oracle_valid(sf)
    con = _doc_con(sf)
    a = con.sql(cq.oracle).df()
    b = con.sql(cq.oracle_adaptive(sf)).df()
    assert sorted(a.columns) == sorted(b.columns)
    assert canonical_rows(a) == canonical_rows(b), name


@pytest.mark.parametrize("bits", [32, 48])
def test_simhash_sketch_width_parity(spark, bits, tmp_path):
    """The widened-sketch construction (salted-md5 concatenation past
    one digest's 32 nibbles) is what the ngram family runs past ~2 M
    docs; planting 2 M docs is not testable, but the ONLY thing that
    changes with width is the sketch string itself -- so pin the
    sketch bit-for-bit at 32 (one digest's full width) and 48 (two
    salted digests) on a small corpus, Spark vs the parameterized
    oracle CTEs. Composition above the sketch is width-independent
    and covered end-to-end at 16 bits."""
    from pyspark.sql import functions as F

    from clueso_spark.plans.dedup_queries import (
        _simhash_sketch_sql,
        _simhash_sketches,
    )

    sf = _doc_corpus(tmp_path, 10)
    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    got = {
        r["doc_id"]: r["simhash"]
        for r in _simhash_sketches(docs, bits).collect()
    }
    con = _doc_con(sf)
    want = {
        int(d): s
        for d, s in con.sql(
            f"with {_simhash_sketch_sql(bits)} "
            f"select doc_id, simhash from sk"
        ).fetchall()
    }
    assert got == want
    assert all(len(s) == bits for s in got.values())


def test_ngram_pairs_adaptive_sql_composes_at_wide_bits(spark, tmp_path):
    """End-to-end at a WIDE width: compose the exact building blocks
    dedup_ngram_jaccard_pairs runs (simhash_word_pairs -> word-set
    jaccard >= 0.8) at bits=32 on Spark, and compare against the
    adaptive pairs SQL built at bits=32 -- proving the parameterized
    oracle composes correctly beyond the floor width, not just that
    the sketch matches."""
    from pyspark.sql import functions as F

    from clueso_spark.functions.text import jaccard
    from clueso_spark.plans.dedup_queries import (
        _ngram_pairs_oracle,
        simhash_word_pairs,
    )

    sf = _doc_corpus(tmp_path, 40)  # one 40-doc family + 6 unique
    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    sets = docs.select("doc_id", F.array_distinct("w").alias("ws"))
    spark_pairs = (
        simhash_word_pairs(sets, bits=32)
        .select("doc_a", "doc_b", jaccard("ws_a", "ws_b").alias("jaccard"))
        .where(F.col("jaccard") >= 0.8)
    )
    sql = _ngram_pairs_oracle(32, capped=True)
    res = compare("pairs_bits32", spark_pairs, sql, _doc_con(sf))
    assert res.ok, res.detail
    assert res.rows_spark == 40 * 39 // 2  # the family, under the cap


KMEANS_NAMES = ["dedup_semantic", "sim_ivf_nprobe_curve"]


@pytest.mark.parametrize("name", KMEANS_NAMES)
def test_kmeans_adaptive_oracle_above_floor_flat_window(spark, name,
                                                        tmp_path):
    """N=600 vectors -> adaptive K = 8 (above the K=4 floor, below the
    hierarchical threshold 64): the registered fixed-K oracle is out
    of domain, the K-parameterized flat CTE chain must hash-match the
    Spark side."""
    from clueso_spark.plans.similarity_queries import adaptive_k

    vecs = [
        [float(((i * 11 + j * 5) % 17) - 8) for j in range(DIM)]
        for i in range(600)
    ]
    sf = _write_embeddings(tmp_path, vecs)
    assert adaptive_k(600) == 8
    cq = all_queries()[name]
    assert not cq.oracle_valid(sf)
    sql = cq.oracle_adaptive(sf)
    assert sql is not None
    res = compare(name, cq.spark(spark, sf), sql, _emb_con(sf))
    assert res.ok, (name, res.detail)
    assert res.rows_spark > 0, name


@pytest.fixture(scope="module")
def hier_corpus(tmp_path_factory):
    """8192 deterministic vectors -> adaptive K = 64 = HIER_MIN_K: the
    Spark side routes BOTH Lloyd assignments through the two-level
    hierarchy (g = 8 super seeds). Module-scoped: two queries share
    the build."""
    from clueso_spark.plans.similarity_queries import adaptive_k

    n = 8192
    assert adaptive_k(n) == 64
    vecs = [
        [float(((i * 13 + j * 7) % 29) - 14) for j in range(DIM)]
        for i in range(n)
    ]
    return _write_embeddings(tmp_path_factory.mktemp("hier"), vecs)


@pytest.mark.parametrize("name", KMEANS_NAMES)
def test_kmeans_adaptive_oracle_hierarchical_regime(spark, name,
                                                    hier_corpus):
    """The deepest scale-path claim: at K >= HIER_MIN_K the Spark side
    switches to the two-level coarse-quantizer routing
    (assign_nearest), and the adaptive oracle replicates it --
    seeds/centroid-routing/vector-routing/within-super-cell rank, with
    the Spark windows' (gid, cid) tie-breaks -- so the hierarchical
    branch hash-verifies end to end, not just the flat window."""
    cq = all_queries()[name]
    assert not cq.oracle_valid(hier_corpus)
    sql = cq.oracle_adaptive(hier_corpus)
    assert sql is not None
    assert "_seeds" in sql  # the hierarchical chain, not the flat one
    res = compare(name, cq.spark(spark, hier_corpus), sql,
                  _emb_con(hier_corpus))
    assert res.ok, (name, res.detail)
    assert res.rows_spark > 0, name


def test_run_catalog_prefers_adaptive_over_rows_only(spark, tmp_path,
                                                    monkeypatch):
    """Harness integration: out-of-domain + adaptive builder present ->
    hash-compared with the 'adaptive-oracle' detail; builder returning
    None -> the old rows-only fallback with its domain marker."""
    from clueso_spark.plans import catalog, parity

    sf = _above_floor_corpus(tmp_path)
    real = all_queries()["dedup_embedding_cosine"]
    # run_catalog reads all_queries() and duckdb_connect registers every
    # table; narrow both to this planted single-table corpus
    fake = CatalogQuery(
        "emb_probe", "probe", real.spark, real.oracle,
        ("test",), real.oracle_valid, real.oracle_adaptive,
    )
    monkeypatch.setattr(
        catalog, "REGISTRY", {"emb_probe": fake}, raising=True
    )
    monkeypatch.setattr(parity, "TABLE_NAMES", ["embeddings"], raising=True)
    monkeypatch.setattr(catalog, "PRIORITY", [], raising=True)
    results = parity.run_catalog(spark, sf, ["emb_probe"])
    assert len(results) == 1 and results[0].ok
    assert results[0].detail == "adaptive-oracle"
    assert results[0].rows_oracle == results[0].rows_spark > 0
    # builder declining -> rows-only fallback preserved
    fake2 = CatalogQuery(
        "emb_probe", "probe", real.spark, real.oracle,
        ("test",), real.oracle_valid, lambda _sf: None,
    )
    monkeypatch.setattr(
        catalog, "REGISTRY", {"emb_probe": fake2}, raising=True
    )
    results = parity.run_catalog(spark, sf, ["emb_probe"])
    assert results[0].ok
    assert results[0].detail == "oracle-out-of-domain"
