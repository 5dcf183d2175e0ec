"""Property-based tests (hypothesis) for the engine's core invariants.

The reference pins semantics with hand-written scenarios only (SURVEY §5);
these properties pin the *laws* those scenarios sample:
  * interval math: next_max_op_index rounds up, exact multiples fixed
  * merge: latest_rows is insensitive to input row order and duplication
  * tombstones: a winning delete hides the key, a shadowed one doesn't

Pure-Python / driver-side where possible; Spark properties use small
example budgets (Spark jobs per example are expensive).
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from clueso_spark.streaming.ingest import next_max_op_index


# -- interval math (ref: MetadataIngestionPipeline.scala:77-86) -----------


@settings(max_examples=10, deadline=None)
@given(
    recno=st.integers(min_value=1, max_value=999_999_999_999),
    interval=st.sampled_from([10, 100, 1_000, 100_000]),
)
def test_next_max_op_index_rounds_up_to_interval(spark, recno, interval):
    from pyspark.sql import functions as F

    df = spark.range(1).select(
        F.lit(f"{recno:012d}_0").alias("opIndex")
    ).select(next_max_op_index(F.col("opIndex"), interval).alias("m"))
    m = df.collect()[0]["m"]
    assert m % interval == 0
    assert m >= recno
    assert m - recno < interval  # tightest multiple
    if recno % interval == 0:
        assert m == recno  # exact multiples map to themselves


# -- merge laws (ref: MetadataQueryExecutor.scala:173-180) ----------------

def _canonicalize(rows):
    """Real streams never carry the same (key, opIndex) with two different
    types -- opIndex is a unique op counter; duplicates only arise from
    at-least-once replay of the SAME event. (On a mixed-type tie the
    row_number pick is genuinely input-order-dependent -- the reference's
    arbitrary tie-break, MetadataQueryExecutor.scala:177-180 -- which
    hypothesis correctly flagged when we generated impossible inputs.)"""
    seen: dict[tuple[str, int], str] = {}
    out = []
    for k, n, t in rows:
        t = seen.setdefault((k, n), t)
        out.append((k, n, t))
    return out


events_strategy = st.lists(
    st.tuples(
        st.sampled_from(["k1", "k2", "k3"]),  # key
        st.integers(min_value=1, max_value=50),  # opIndex record number
        st.sampled_from(["put", "delete"]),  # type
    ),
    min_size=1,
    max_size=12,
).map(_canonicalize)


def _latest(spark, rows):
    from pyspark.sql import functions as F  # noqa: F401

    from clueso_spark.operators.merge import latest_rows

    df = spark.createDataFrame(
        [(k, f"{n:012d}_0", t) for k, n, t in rows],
        "key string, opIndex string, type string",
    )
    return {
        (r["key"], r["opIndex"], r["type"])
        for r in latest_rows(df).collect()
    }


@settings(max_examples=8, deadline=None)
@given(rows=events_strategy)
def test_latest_rows_order_insensitive(spark, rows):
    assert _latest(spark, rows) == _latest(spark, list(reversed(rows)))


@settings(max_examples=8, deadline=None)
@given(rows=events_strategy)
def test_latest_rows_matches_python_oracle(spark, rows):
    # python model: per key keep max opIndex (ties: any single row, same
    # (key, opIndex) tuple either way); drop keys whose winner is a delete
    best: dict[str, tuple[int, str]] = {}
    for k, n, t in rows:
        if k not in best or n > best[k][0]:
            best[k] = (n, t)
        elif n == best[k][0]:
            best[k] = (n, best[k][1])  # row_number picks one arbitrarily
    expected_keys = {k for k, (n, t) in best.items() if t != "delete"}
    got = _latest(spark, rows)
    assert {k for k, _, _ in got} <= expected_keys | {
        k for k, (n, t) in best.items()
    }
    # winner opIndex is the max for every surviving key
    for k, op_idx, _ in got:
        assert int(op_idx[:12]) == best[k][0]
    # tombstoned keys never survive when the tombstone wins uncontested
    for k, (n, t) in best.items():
        tied = [tt for kk, nn, tt in rows if kk == k and nn == n]
        if t == "delete" and all(x == "delete" for x in tied):
            assert k not in {kk for kk, _, _ in got}


# -- connected components (functions/graph.py) ----------------------------

edges_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=20),
        st.integers(min_value=0, max_value=20),
    ).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=25,
)


def _union_find_oracle(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # component id = min vertex in component
    comp: dict[int, int] = {}
    for v in parent:
        root = find(v)
        comp[v] = min(comp.get(root, root), v)
    # second pass so every member maps to the component minimum
    roots: dict[int, int] = {}
    for v in parent:
        r = find(v)
        roots[r] = min(roots.get(r, v), v)
    return {v: roots[find(v)] for v in parent}


@settings(max_examples=6, deadline=None)
@given(edges=edges_strategy)
def test_connected_components_matches_union_find(spark, edges):
    """Both execution paths (driver union-find and distributed label
    propagation) must agree with the python oracle."""
    from clueso_spark.functions.graph import connected_components

    df = spark.createDataFrame(edges, "a int, b int")
    expected = _union_find_oracle(edges)
    driver = {
        r["vertex"]: r["component"]
        for r in connected_components(df, "a", "b").collect()
    }
    assert driver == expected
    distributed = {
        r["vertex"]: r["component"]
        for r in connected_components(
            df, "a", "b", driver_threshold=0
        ).collect()
    }
    assert distributed == expected


def test_connected_components_string_keys_stay_generic(spark):
    """The API is type-generic: string vertex ids flow through the
    driver union-find path without numeric narrowing, and the component
    id is the lexicographic minimum. Also pins the arrow-conf hygiene:
    the collect must not permanently flip the session's arrow setting."""
    from clueso_spark.functions.graph import connected_components

    arrow_key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(arrow_key, None)
    spark.conf.set(arrow_key, "false")
    try:
        df = spark.createDataFrame(
            [("bb", "aa"), ("bb", "cc"), ("zz", "yy")], "a string, b string"
        )
        got = {
            r["vertex"]: r["component"]
            for r in connected_components(df, "a", "b").collect()
        }
        assert got == {
            "aa": "aa", "bb": "aa", "cc": "aa", "yy": "yy", "zz": "yy"
        }
        assert spark.conf.get(arrow_key) == "false", (
            "connected_components leaked its arrow conf override"
        )
    finally:
        if prev is None:
            spark.conf.unset(arrow_key)
        else:
            spark.conf.set(arrow_key, prev)


def test_connected_components_wide_string_keys_take_distributed_path(
    spark, monkeypatch
):
    """Byte guard: an edge count that fits the driver path with bigint
    keys must NOT collect when the keys are wide strings -- the guard
    prices rows x measured key width, not rows alone. toPandas is
    patched to fail, so the test proves the driver path was skipped."""
    from clueso_spark.functions.graph import connected_components

    edges = [
        (f"left_{'x' * 200}_{i:04d}", f"right_{'x' * 200}_{i:04d}")
        for i in range(64)
    ]
    df = spark.createDataFrame(edges, "a string, b string")

    def _no_collect(self, *args, **kwargs):
        raise AssertionError("driver collect path used despite byte guard")

    monkeypatch.setattr(type(df), "toPandas", _no_collect)
    got = {
        r["vertex"]: r["component"]
        for r in connected_components(
            df, "a", "b", driver_threshold_bytes=10_000
        ).collect()
    }
    expected = {}
    for left, right in edges:
        expected[left] = left  # 'left_' < 'right_' lexicographically
        expected[right] = left
    assert got == expected


def test_connected_components_reliable_checkpoint_path(spark, tmp_path):
    """With a checkpoint dir configured (the cluster deployment posture),
    the distributed loop must cut lineage through RELIABLE checkpoints
    and still converge to the same labels."""
    from clueso_spark.functions.graph import connected_components

    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        df = spark.createDataFrame(
            [(1, 2), (2, 3), (7, 8)], "a bigint, b bigint"
        )
        got = {
            r["vertex"]: r["component"]
            for r in connected_components(
                df, "a", "b", driver_threshold=0
            ).collect()
        }
        assert got == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}
    finally:
        # clear the dir so later tests keep the local-mode path
        # (private[spark] var -> public setter in bytecode)
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.apply(None)
        )
        assert sc.getCheckpointDir() is None


# -- blocked dedup soundness (plans/dedup_queries.py) ---------------------

docs_strategy = st.lists(
    st.sampled_from(
        [
            "the quick brown fox jumps over the lazy dog",
            "the quick brown fox jumps over the lazy cat",
            "a completely different document about spark engines",
            "a completely different document about spark engines today",
            "one two three four five six seven eight",
        ]
    ),
    min_size=2,
    max_size=8,
)


def _jaccard(a: str, b: str) -> float:
    wa, wb = set(a.split(" ")), set(b.split(" "))
    return len(wa & wb) / len(wa | wb)


@settings(max_examples=5, deadline=None)
@given(texts=docs_strategy)
def test_blocked_jaccard_is_sound(spark, tmp_path_factory, texts):
    """Every pair the simhash-blocked Jaccard emits must be a TRUE
    >= 0.8 pair (no false positives -- blocking may lose recall, never
    precision), and emitted pairs are a subset of the brute-force set."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from clueso_spark.plans.catalog import all_queries

    sf_dir = tmp_path_factory.mktemp("jacprop")
    pq.write_table(
        pa.table(
            {
                "doc_id": list(range(len(texts))),
                "lang": ["en"] * len(texts),
                "n_chars": [len(t) for t in texts],
                "text": texts,
            }
        ),
        str(sf_dir / "documents.parquet"),
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in all_queries()["dedup_ngram_jaccard_pairs"]
        .spark(spark, str(sf_dir))
        .collect()
    }
    brute = {
        (i, j): _jaccard(texts[i], texts[j])
        for i in range(len(texts))
        for j in range(i + 1, len(texts))
        if _jaccard(texts[i], texts[j]) >= 0.8
    }
    assert set(got) <= set(brute), (got, brute)
    for pair, jac in got.items():
        assert abs(jac - brute[pair]) < 1e-12
    # the headline GROUP query partitions exactly the docs the verified
    # pairs touch: every pair lands inside one component's doc set
    comps = (
        all_queries()["dedup_ngram_jaccard"].spark(spark, str(sf_dir)).collect()
    )
    assert sum(c["n_docs"] for c in comps) == len(
        {d for p in got for d in p}
    )
    members = [set(map(int, c["doc_ids"].split(","))) for c in comps]
    for a, b in got:
        assert any(a in m and b in m for m in members), (a, b)
    # identical texts always share a sketch: exact dups are never lost
    for pair, jac in brute.items():
        if jac == 1.0:
            assert pair in got, (pair, got)


vectors_strategy = st.lists(
    st.sampled_from(
        [
            [1.0, 0.0, 0.5, -0.25],
            [1.0, 0.01, 0.5, -0.25],
            [-1.0, 0.2, -0.5, 0.75],
            [0.0, 1.0, 0.0, 1.0],
            [0.3, -0.8, 0.1, 0.9],
        ]
    ),
    min_size=2,
    max_size=8,
)


@settings(max_examples=5, deadline=None)
@given(vecs=vectors_strategy)
def test_banded_embedding_lsh_is_sound(spark, tmp_path_factory, vecs):
    """Banded hyperplane LSH: every emitted pair must be a TRUE
    cosine >= 0.4 pair with the exact score (no false positives), and an
    identical-vector pair (cosine 1) always shares every band bucket, so
    it can never be lost."""
    import math

    import pyarrow as pa
    import pyarrow.parquet as pq

    from clueso_spark.plans.catalog import all_queries

    dim = 64
    # deterministic padding to the engine's 64-dim contract
    full = [v + [0.125 * ((i + j) % 5 - 2) for j in range(dim - 4)]
            for i, v in enumerate(vecs)]

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / math.sqrt(sum(x * x for x in a) * sum(x * x for x in b))

    sf_dir = tmp_path_factory.mktemp("embprop")
    pq.write_table(
        pa.table(
            {
                "vec_id": list(range(len(full))),
                "label": [0] * len(full),
                "embedding": pa.array(
                    [[float(x) for x in v] for v in full],
                    type=pa.list_(pa.float32()),
                ),
            }
        ),
        str(sf_dir / "embeddings.parquet"),
    )
    got = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in all_queries()["dedup_embedding_cosine"]
        .spark(spark, str(sf_dir))
        .collect()
    }
    # float32 storage: recompute truth on the float32-rounded vectors
    import numpy as np

    f32 = [np.asarray(v, dtype=np.float32).astype(float).tolist() for v in full]
    brute = {
        (i, j): cos(f32[i], f32[j])
        for i in range(len(f32))
        for j in range(i + 1, len(f32))
        if cos(f32[i], f32[j]) >= 0.4
    }
    assert set(got) <= set(brute), (got, brute)
    for pair, c in got.items():
        assert abs(c - round(brute[pair], 6)) <= 1e-6, (pair, c, brute[pair])
    for (i, j), c in brute.items():
        if c > 0.999999:  # identical direction -> identical band buckets
            assert (i, j) in got, (i, j, got)


# -- text array-algebra laws (functions/text.py zip_with rewrite) ---------

words_strategy = st.lists(
    st.sampled_from(["a", "bb", "ccc", "d", "ee", "fff"]),
    min_size=0,
    max_size=12,
)


@settings(max_examples=8, deadline=None)
@given(words=words_strategy, k=st.sampled_from([2, 3, 5]))
def test_word_shingles_match_python_sliding_window(spark, words, k):
    """The zip_with-chain shingle construction equals the naive Python
    sliding window for every length, including the < k empty case."""
    from pyspark.sql import functions as F

    from clueso_spark.functions.text import word_shingles

    df = spark.createDataFrame([(words,)], "w array<string>")
    got = df.select(word_shingles("w", k).alias("s")).collect()[0]["s"]
    want = [
        " ".join(words[i : i + k]) for i in range(len(words) - k + 1)
    ] if len(words) >= k else []
    assert got == want


@settings(max_examples=8, deadline=None)
@given(words=words_strategy)
def test_max_multiplicity_matches_counter(spark, words):
    """Sorted run-length fold == max Counter frequency (0 when empty)."""
    from collections import Counter

    from clueso_spark.functions.text import max_multiplicity

    df = spark.createDataFrame([(words,)], "w array<string>")
    got = df.select(max_multiplicity("w").alias("m")).collect()[0]["m"]
    want = max(Counter(words).values()) if words else 0
    assert got == want


def test_dedup_persist_bookkeeping_is_per_session(spark):
    """Two interleaved SparkSessions must not unpersist each other's
    dedup intermediates: the persist registry is keyed by session, so a
    second session's run of the same query swaps only its OWN slot."""
    from clueso_spark.plans import catalog
    from clueso_spark.plans import dedup_queries as dq

    sf = "/root/testdata/sf0.001"
    dq.dedup_minhash_lsh(spark, sf)
    first = catalog._PERSISTED[spark]["minhash_sets"]
    assert first.storageLevel.useMemory

    other = spark.newSession()
    dq.dedup_minhash_lsh(other, sf)
    # session 1's intermediate survived session 2's construction...
    assert catalog._PERSISTED[spark]["minhash_sets"] is first
    assert first.storageLevel.useMemory
    # ...and each session tracks its own persisted frame
    assert catalog._PERSISTED[other]["minhash_sets"] is not first

    # a repeat on session 1 swaps session 1's slot only; session 2's
    # entry is untouched. (unpersist itself is not asserted through
    # storageLevel: the CacheManager keys by logical plan, so an
    # identical-plan frame cached by the newer call keeps reporting the
    # old object as cached)
    dq.dedup_minhash_lsh(spark, sf)
    assert catalog._PERSISTED[spark]["minhash_sets"] is not first
    assert catalog._PERSISTED[other]["minhash_sets"].storageLevel.useMemory


def test_ngram_oracle_domain_guard_tracks_bucket_cap(tmp_path):
    """Round-13 sf0.1 finding, pinned: the ngram-family oracles emit
    FULL per-bucket pair fan-out while the Spark side caps buckets at
    LSH_BUCKET_CAP (star expansion), so the oracle domain must exclude
    any corpus whose largest sketch bucket exceeds the cap. A planted
    corpus with one 300-doc identical family (one sketch bucket,
    300 > 256) must invalidate the oracle; trimming the family back
    under the cap must restore it. Checks the per-corpus cache too:
    since the ADVICE r13 fix the cache keys on the parquet's
    (realpath, mtime_ns, size) fingerprint, so 'dir' and 'dir/' share
    one entry and an IN-PLACE regeneration at the same path must
    return the NEW verdict rather than a stale one (a stale True
    would run a full-fanout oracle against a capped Spark plan)."""
    import os

    import pandas as pd

    from clueso_spark.plans.dedup_queries import (
        LSH_BUCKET_CAP,
        _NGRAM_CAP_DOMAIN,
        _ngram_bucket_cap_ok,
        _ngram_oracle_valid,
    )

    def corpus(path, family_size):
        texts = ["big family shared words" for _ in range(family_size)]
        texts += [f"unique doc number {i} words" for i in range(5)]
        path.mkdir(exist_ok=True)
        pd.DataFrame(
            {
                "doc_id": list(range(len(texts))),
                "lang": ["en"] * len(texts),
                "source": ["src0"] * len(texts),
                "n_chars": [len(t) for t in texts],
                "text": texts,
            }
        ).to_parquet(str(path / "documents.parquet"))
        return str(path)

    def cache_key(sf_dir):
        p = os.path.realpath(f"{sf_dir}/documents.parquet")
        stat = os.stat(p)
        return (p, stat.st_mtime_ns, stat.st_size)

    over = corpus(tmp_path / "over", LSH_BUCKET_CAP + 44)
    under = corpus(tmp_path / "under", 10)
    assert not _ngram_bucket_cap_ok(over)
    assert not _ngram_oracle_valid(over)
    assert _ngram_bucket_cap_ok(under)
    assert _ngram_oracle_valid(under)
    # cached per corpus fingerprint: repeated sweeps pay the sketch
    # once, and the trailing-slash spelling hits the same entry
    assert _NGRAM_CAP_DOMAIN[cache_key(over)] is False
    assert _NGRAM_CAP_DOMAIN[cache_key(under)] is True
    assert _ngram_bucket_cap_ok(under + "/")
    # in-place regeneration flips the verdict -- no stale cache read
    over2 = corpus(tmp_path / "under", LSH_BUCKET_CAP + 44)
    assert over2 == under
    assert not _ngram_bucket_cap_ok(under)
