"""Vector column functions: dot product, cosine, squared L2, norms, LSH
sketches.

``dot``, ``cosine_similarity`` and ``squared_l2`` are the similarity
tier's only vector arithmetic: every plan in ``plans/`` that scores a
pair of vectors calls them, so a change to the fold (or to a lambda
name, which shows in the plan) is made here once.

Embeddings arrive as ``array<float>``; every helper casts to double
*before* arithmetic so both engines compute the identical IEEE sequence
(sequential left-to-right fold, DuckDB's ``list_dot_product``), making
scores reproducible enough to oracle-verify after a round().

Scale stance: these are per-row Column expressions -- a cosine against K
probe vectors is a broadcast nested-loop join (probes broadcast, one pass
over the big side), and bucketed variants (LSH / IVF) turn the all-pairs
problem into a shuffle on a small bucket key. No crossJoin of the big side
against itself anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def to_double_array(col: str) -> Column:
    return F.expr(f"transform({col}, x -> cast(x as double))")


def dot(a: str, b: str) -> Column:
    """Sequential-fold dot product of two double arrays."""
    return F.expr(f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, t) -> acc + t)")


def squared_norm(a: str) -> Column:
    return F.expr(f"aggregate({a}, 0D, (acc, x) -> acc + x * x)")


def cosine_similarity(a: str, b: str, norm_a: str, norm_b: str) -> Column:
    """cosine = dot / (sqrt(|a|^2) * sqrt(|b|^2)); the norm columns are
    precomputed once per row (scale: avoids recomputing the self-norm per
    candidate pair)."""
    return dot(a, b) / (F.sqrt(F.col(norm_a)) * F.sqrt(F.col(norm_b)))


def squared_l2(a: str, b: str, sq_a: str, sq_b: str) -> Column:
    """||a - b||^2 via the identity a.a - 2 a.b + b.b, with the squared
    norms precomputed per row (the nearest-centroid distance)."""
    return F.col(sq_a) - 2 * dot(a, b) + F.col(sq_b)


def plane_weight(p: int, d: int) -> float:
    """Hyperplane weight w[p][d] = nibble(md5(f"{p}_{d}")) - 7.5,
    nibble in [0, 15] -- deterministic, engine-independent
    pseudo-randomness (no RNG, no seed state). Computed driver-side
    with hashlib (MD5 is MD5: bit-identical to the SQL
    ``instr('0123456789abcdef', substring(md5('p_d'), 1, 1)) - 8.5``
    form both the DuckDB oracles and the pre-round-7 Spark expression
    use; every weight is an exact half, so the literal round-trips
    losslessly). tests/test_vectors.py pins literal == expression
    equality over all planes."""
    import hashlib

    return int(hashlib.md5(f"{p}_{d}".encode()).hexdigest()[0], 16) - 7.5


def lsh_bucket(
    vec_col: str, n_planes: int = 4, dim: int = 64, first_plane: int = 0
) -> Column:
    """Random-hyperplane LSH bucket id as an ``n_planes``-char bit string.

    Hyperplane weights come from :func:`plane_weight` (md5-nibble family,
    shared verbatim by the DuckDB oracles). Same-bucket vectors are near
    in angle with high probability; probing a bucket replaces the
    all-pairs scan with a 2^n_planes-way partition.

    The weights are embedded as NUMERIC LITERALS, not as
    ``instr(md5(...))`` sub-expressions: Catalyst constant-folds either
    form to the same values, but the md5 form costs ~8 tree nodes per
    term -- at 24 planes x 64 dims that is a ~12k-node expression whose
    parse/analyze/fold overhead measurably dominated the 2k-row bucket
    assignment (2.3 s -> 1.0 s steady-state at sf0.1). Identical term
    order keeps the plane sum the same IEEE sequence, so bucket ids are
    bit-identical to the old form (unit-pinned).

    ``first_plane`` selects a disjoint plane family, letting callers build
    banded (OR-amplified) indexes: band k uses planes
    [k * n_planes, (k+1) * n_planes).
    """
    bits = []
    for p in range(first_plane, first_plane + n_planes):
        terms = " + ".join(
            f"({plane_weight(p, d)}) * element_at({vec_col}, {d + 1})"
            for d in range(dim)
        )
        bits.append(f"case when ({terms}) >= 0 then '1' else '0' end")
    return F.expr("concat(" + ", ".join(bits) + ")")
