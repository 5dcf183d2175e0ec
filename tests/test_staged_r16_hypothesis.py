"""Hypothesis-randomized third opinion for the staged r16 op.

The planted tests (test_staged_r16) verify chosen adversaries (margin
band, struct-max ties, all-duplicate corpora); this generates random
ones -- small low-dimensional integer-grid corpora, where repeated
vectors force cosine ties and the coarse grid makes margin-band
boundary cases common -- and compares every anchor's triplet against
a literal Python model of the definition. Small example budget: each
example writes a parquet corpus and runs two Spark scans.
"""

from __future__ import annotations

import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
from hypothesis import given, settings
from hypothesis import strategies as st

from clueso_spark.plans.staged_r16 import _TRIPLET_ANCHORS
from tests.conftest import registered_by
from tests.test_staged_r16 import reference_triplets

QUERIES = registered_by("clueso_spark.plans.staged_r16")

#: corpora of >= anchors+2 vectors on a tiny 3-d integer grid
#: (components 0..2, never all-zero): few distinct directions, so
#: duplicate-direction cosine ties and inside-margin near-ties are
#: the COMMON case, not the rare one.
_vec_strategy = st.lists(
    st.tuples(
        st.integers(0, 2), st.integers(0, 2), st.integers(0, 2)
    ).filter(lambda t: any(t)),
    min_size=_TRIPLET_ANCHORS + 2,
    max_size=_TRIPLET_ANCHORS + 8,
)


@given(_vec_strategy)
@settings(max_examples=5, deadline=None)
def test_triplets_match_literal_model(spark, vecs):
    sf_dir = tempfile.mkdtemp(prefix="hyp_r16_tri_")
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(len(vecs)), type=pa.int64()),
                "embedding": pa.array(
                    [list(map(float, v)) for v in vecs],
                    type=pa.list_(pa.float32()),
                ),
                "label": pa.array([0] * len(vecs), type=pa.int32()),
            }
        ),
        f"{sf_dir}/embeddings.parquet",
    )
    got = {
        r["anchor_id"]: (r["pos_id"], r["neg_id"])
        for r in QUERIES["sim_triplet_mining"].spark(spark, sf_dir).collect()
    }
    expected = {
        a: (p, n)
        for a, (p, _cos, n) in reference_triplets(
            {i: list(map(float, v)) for i, v in enumerate(vecs)}
        ).items()
    }
    assert got == expected
