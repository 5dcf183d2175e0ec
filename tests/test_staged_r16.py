"""Staged round-16 tier (sim_triplet_mining): full driver-grade parity
at two SFs, plan shape, staging honesty, capacity sizing, planted
margin/tie/degenerate adversaries, an empty-corpus guard, and a
literal Python third opinion written from the DEFINITION (the
round-12 CUSUM lesson)."""

from __future__ import annotations

import math

import pytest

from clueso_spark.plans.parity import compare, duckdb_connect
from clueso_spark.plans.staged_r16 import (
    _TRIPLET_ANCHORS,
    _TRIPLET_MARGIN,
)
from tests.conftest import registered_by

QUERIES = registered_by("clueso_spark.plans.staged_r16")

SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]


def test_tier_is_sized_to_round16_projection():
    """Round 16's free capacity is 50 - 49 (the r11 cohort, its
    mandatory head now that rounds 14 and 15 landed their pinned
    windows) = 1 slot. The r11 cohort size is fixed by the committed
    artifacts -- derive it and assert the tier fits. Also pin the
    registry ceiling this tier was sized against: the staged_r15
    promotion is LIVE (registry 249), so after this tier's single
    promotion the registry is exactly 250 = 5 x WINDOW, the
    steady-state maximum at which every query still re-verifies
    within the documented 5-round cycle (the post-250 policy in
    ROUND15_NOTES)."""
    import __spark_entry__ as entrymod

    from tests.test_entry import WINDOW, _latest_green_rounds

    latest, _ = _latest_green_rounds()
    r11 = [n for n, r in latest.items() if r == 11]
    assert len(QUERIES) <= WINDOW - len(r11), (len(QUERIES), len(r11))
    assert len(entrymod.queries()) + len(QUERIES) == 5 * WINDOW


@pytest.mark.parametrize("sf_dir", SF_DIRS)
@pytest.mark.parametrize("name", sorted(QUERIES))
def test_staged_parity(spark, name, sf_dir):
    cq = QUERIES[name]
    df = cq.spark(spark, sf_dir)
    con = duckdb_connect(sf_dir)
    res = compare(name, df, cq.oracle, con)
    assert res.ok, (name, res.detail)


def test_staged_rows_one_per_anchor(spark):
    df = QUERIES["sim_triplet_mining"].spark(spark, SF_DIRS[1])
    rows = df.collect()
    assert sorted(r["anchor_id"] for r in rows) == list(
        range(_TRIPLET_ANCHORS)
    )


def test_staged_plan_shape(spark):
    """The only BroadcastNestedLoopJoin is the sanctioned tiny-anchor
    broadcast scoring join (the similarity tier's standard shape); no
    CartesianProduct anywhere."""
    plan = (
        QUERIES["sim_triplet_mining"]
        .spark(spark, SF_DIRS[1])
        ._jdf.queryExecution()
        .toString()
    )
    assert "CartesianProduct" not in plan
    # per-anchor argmax must be the partial-aggregating groupBy form,
    # not a window sort over 8 skewed key partitions
    assert "Window" not in plan


def test_staging_is_not_live():
    """Honesty guard: the staged name is registered under the
    ``"staged"`` tag, so the driver contract leaves it out until round
    16 executes the promotion (by deleting the tag)."""
    from clueso_spark.plans.catalog import all_queries

    live = all_queries()
    overlap = sorted(set(QUERIES) & set(live))
    assert overlap == [], overlap
    assert all("staged" in cq.tags for cq in QUERIES.values())


# ---------------------------------------------------------------------------
# planted adversaries
# ---------------------------------------------------------------------------


def _write_embeddings(d, vecs):
    """vecs: {vec_id: list[float]} -> <d>/embeddings.parquet with the
    real testdata schema (vec_id, embedding, label)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids = sorted(vecs)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(ids, type=pa.int64()),
                "embedding": pa.array(
                    [vecs[i] for i in ids], type=pa.list_(pa.float32())
                ),
                "label": pa.array([0] * len(ids), type=pa.int32()),
            }
        ),
        str(d / "embeddings.parquet"),
    )
    return str(d)


def _unit(first: float) -> list[float]:
    """4-d unit-ish vector whose cosine against (1,0,0,0) is ~first."""
    return [first, math.sqrt(max(0.0, 1.0 - first * first)), 0.0, 0.0]


def test_margin_skips_near_ties(spark, tmp_path):
    """The defining semantics: a candidate INSIDE the margin band
    (cos 0.99 > pos_cos 1.0 - 0.02) is a presumed false negative and
    must be skipped; the hard negative is the best candidate at or
    below the threshold (cos ~0.9), not the runner-up."""
    one_hot = [1.0, 0.0, 0.0, 0.0]
    vecs = {0: one_hot}
    # anchors 1..7 exist but are irrelevant; park them orthogonally
    for a in range(1, 8):
        vecs[a] = [0.0, 0.0, 1.0, float(a)]
    vecs[10] = one_hot        # exact duplicate: cos exactly 1.0
    vecs[11] = _unit(0.99)    # inside the margin band -> skipped
    vecs[12] = _unit(0.90)    # hardest admissible negative
    vecs[13] = _unit(0.50)    # admissible but easier
    sf = _write_embeddings(tmp_path, vecs)
    rows = {
        r["anchor_id"]: r
        for r in QUERIES["sim_triplet_mining"].spark(spark, sf).collect()
    }
    r0 = rows[0]
    assert r0["pos_id"] == 10 and r0["pos_cos"] == 1.0
    assert r0["neg_id"] == 12, r0
    assert abs(r0["neg_cos"] - 0.9) < 1e-6


def test_cos_ties_resolve_to_smallest_vec_id(spark, tmp_path):
    """struct-max tie-break: two identical best candidates -> the
    smaller vec_id wins, in BOTH the positive and negative roles."""
    one_hot = [1.0, 0.0, 0.0, 0.0]
    vecs = {0: one_hot}
    for a in range(1, 8):
        vecs[a] = [0.0, 0.0, 1.0, float(a)]
    vecs[20] = one_hot          # tie at cos 1.0 ...
    vecs[21] = one_hot          # ... smaller id 20 must win
    vecs[30] = _unit(0.7)       # tie at cos 0.7 ...
    vecs[31] = _unit(0.7)       # ... smaller id 30 must win
    sf = _write_embeddings(tmp_path, vecs)
    rows = {
        r["anchor_id"]: r
        for r in QUERIES["sim_triplet_mining"].spark(spark, sf).collect()
    }
    assert rows[0]["pos_id"] == 20
    assert rows[0]["neg_id"] == 30


def test_no_admissible_negative_yields_null(spark, tmp_path):
    """Degenerate corpus: every candidate inside the margin band ->
    neg columns are NULL, the row still emits (a triplet miner that
    silently drops anchors would under-produce training data)."""
    one_hot = [1.0, 0.0, 0.0, 0.0]
    vecs = {i: one_hot for i in range(8)}
    vecs[40] = one_hot
    vecs[41] = _unit(0.999)  # inside the band relative to pos_cos 1.0
    sf = _write_embeddings(tmp_path, vecs)
    rows = QUERIES["sim_triplet_mining"].spark(spark, sf).collect()
    assert len(rows) == 8
    for r in rows:
        assert r["pos_cos"] == 1.0
        assert r["neg_id"] is None
        assert r["neg_cos"] is None
        assert r["margin_gap"] is None


def test_empty_corpus_returns_not_raises(spark, tmp_path_factory):
    """Empty-corpus guard, same contract as tests/test_empty_corpus.py:
    zero vectors -> zero anchors -> zero rows, no exception."""
    import sys

    from tests.conftest import REPO_ROOT

    sys.path.insert(0, str(REPO_ROOT / "tools"))
    from empty_sweep import write_empty_corpus

    sf = write_empty_corpus(str(tmp_path_factory.mktemp("empty_r16")))
    assert QUERIES["sim_triplet_mining"].spark(spark, sf).count() == 0


def reference_triplets(vecs):
    """Literal Python model of the DEFINITION: per anchor, positive =
    (cos desc, vec_id asc) argmax over all other vectors; hard
    negative = same argmax over candidates with
    cos <= pos_cos - MARGIN (None when none qualifies). Shares no
    code with the Spark plan or the DuckDB oracle; the SINGLE copy of
    the model -- the planted suite here and the hypothesis suite both
    import it (the r11 duplicate-test lesson)."""

    def cos(a, b):
        dot = sum(x * y for x, y in zip(vecs[a], vecs[b]))
        na = math.sqrt(sum(x * x for x in vecs[a]))
        nb = math.sqrt(sum(x * x for x in vecs[b]))
        return dot / (na * nb)

    out = {}
    for a in range(_TRIPLET_ANCHORS):
        scored = [(cos(a, c), c) for c in vecs if c != a]
        pos_cos, pos_id = max(scored, key=lambda t: (t[0], -t[1]))
        admissible = [
            t for t in scored if t[0] <= pos_cos - _TRIPLET_MARGIN
        ]
        neg_id = (
            max(admissible, key=lambda t: (t[0], -t[1]))[1]
            if admissible
            else None
        )
        out[a] = (pos_id, round(pos_cos, 6), neg_id)
    return out


def test_third_opinion_from_definition(spark):
    """reference_triplets over the raw sf0.001 parquet vs the Spark
    output, anchor by anchor."""
    import pyarrow.parquet as pq

    tab = pq.read_table(
        f"{SF_DIRS[0]}/embeddings.parquet", columns=["vec_id", "embedding"]
    )
    vecs = {
        int(i): [float(x) for x in v]
        for i, v in zip(tab["vec_id"].to_pylist(), tab["embedding"].to_pylist())
    }
    expected = reference_triplets(vecs)
    got = {
        r["anchor_id"]: (r["pos_id"], r["pos_cos"], r["neg_id"])
        for r in QUERIES["sim_triplet_mining"].spark(spark, SF_DIRS[0]).collect()
    }
    for a in expected:
        assert got[a][0] == expected[a][0], (a, got[a], expected[a])
        assert got[a][2] == expected[a][2], (a, got[a], expected[a])
        assert abs(got[a][1] - expected[a][1]) <= 1e-6, (a, got[a])
