"""Operators STAGED in round 14 for promotion in round 16.

Same life-cycle as staged_r6 .. staged_r15: ship now as library code
with full pytest parity coverage (tests/test_staged_r16.py runs the
exact driver comparison -- row count + schema + order-insensitive
value hash -- against DuckDB oracles at sf0.001 and sf0.01). The
query registers with the ``"staged"`` tag, so catalog.all_queries()
(and the driver contract) leaves it out; promoting it means deleting
that tag. Round 15
executed its planned window (46 r10 refreshes + the 4 staged_r15
promotions, registry now 249), so this tier targets ROUND 16: its
free capacity is 50 - 49 (the r11 cohort, round 16's mandatory head)
= ONE slot -- this tier is sized exactly to that. Registry arithmetic
after the remaining promotion: 249 -> 250, keeping the refresh cycle
at ceil(250/50) = 5 rounds exactly. 250 is the 50-slot window's
steady-state registry ceiling: from round 17 onward every window is a
full 50-name cohort refresh, so THIS is the catalog's final
promotion under the current window size -- chosen accordingly.

The op (`sim_triplet_mining`) is the contrastive-training data-prep
step the similarity tier does not yet carry: mine (anchor, positive,
hard-negative) triplets for embedding-model training. positive =
the anchor's nearest neighbor by cosine; hard negative = the
HIGHEST-cosine vector at least MARGIN below the positive -- the
"hardest admissible negative", which is exactly what triplet/InfoNCE
fine-tuning wants (too-easy negatives carry no gradient signal;
within-margin ones are presumed false negatives). Near-tie
candidates inside the margin band are skipped entirely.

100 TB shape: anchors broadcast; the corpus is scanned twice
(positive pass, then negative pass against the 8-row positive frame
broadcast back), each pass a map-only score followed by ONE
partial-aggregating groupBy(anchor) max -- no per-anchor windows, so
no 8-key skewed sort partitions; the struct-max trick (max over
struct(cos, -vec_id)) gives the (cos desc, vec_id asc) argmax with
map-side combine. A second scan beats persisting the N x anchors
scored frame at corpus scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clueso_spark.plans.catalog import register

# the similarity tier's left-fold dot product, imported (not copied) so
# the "bit-identical shared arithmetic" parity claim cannot drift
# (ADVICE r14)
from clueso_spark.plans.similarity_queries import _DOT

_TRIPLET_ANCHORS = 8
#: margin between the positive's cosine and the hardest admissible
#: negative: candidates with cos > pos_cos - MARGIN are treated as
#: presumed false negatives (near-duplicates of the positive) and
#: skipped -- standard semi-hard negative mining.
_TRIPLET_MARGIN = 0.02

def _scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(anchor_id, vec_id, cos): every anchor scored against every
    other corpus vector -- broadcast anchors, one corpus scan, the
    similarity tier's proven bit-identical cosine arithmetic."""
    from clueso_spark.plans.similarity_queries import _emb

    emb = _emb(spark, sf_dir).select("vec_id", "v", "sq")
    anchors = F.broadcast(
        emb.where(F.col("vec_id") < _TRIPLET_ANCHORS).select(
            F.col("vec_id").alias("anchor_id"),
            F.col("v").alias("av"),
            F.col("sq").alias("asq"),
        )
    )
    cos = F.expr(_DOT.format(a="av", b="v")) / (
        F.sqrt(F.col("asq")) * F.sqrt(F.col("sq"))
    )
    return anchors.join(emb, F.col("vec_id") != F.col("anchor_id")).select(
        "anchor_id", "vec_id", cos.alias("cos")
    )


def _argmax_cos(scored: DataFrame, id_alias: str, cos_alias: str) -> DataFrame:
    """Per-anchor (cos desc, vec_id asc) argmax as ONE
    partial-aggregating groupBy: max over struct(cos, -vec_id) compares
    lexicographically, so ties on cos resolve to the SMALLEST vec_id --
    no per-anchor window, so no skewed 8-key sort partition."""
    best = F.max(F.struct(F.col("cos"), (-F.col("vec_id")).alias("nid")))
    return scored.groupBy("anchor_id").agg(best.alias("b")).select(
        "anchor_id",
        (-F.col("b.nid")).alias(id_alias),
        F.col("b.cos").alias(cos_alias),
    )


@register(
    "sim_triplet_mining",
    f"Contrastive-training triplet mining over the embedding corpus: "
    f"for each of {_TRIPLET_ANCHORS} broadcast anchors, positive = "
    f"nearest neighbor by cosine (ties -> smallest vec_id); hard "
    f"negative = the highest-cosine vector with cos <= pos_cos - "
    f"{_TRIPLET_MARGIN} (near-ties inside the margin are presumed "
    "false negatives and skipped; NULL when no candidate qualifies). "
    "Two map-only corpus scans + two partial-aggregating struct-max "
    "groupBys -- no windows, no skew. Cosines bit-identical across "
    "engines (shared left-fold dot arithmetic).",
    f"""
    with e as (select vec_id,
                      list_transform(embedding, x -> cast(x as double)) v
               from embeddings),
    n as (select vec_id, v, list_dot_product(v, v) sq from e),
    anchors as (select vec_id as anchor_id, v as av, sq as asq from n
                where vec_id < {_TRIPLET_ANCHORS}),
    scored as (
      select anchor_id, n.vec_id,
             list_dot_product(av, n.v) / (sqrt(asq) * sqrt(n.sq)) as cos
      from anchors join n on n.vec_id <> anchor_id
    ),
    pos as (
      select anchor_id, vec_id as pos_id, cos as pos_cos
      from (select *, row_number() over (partition by anchor_id
                                         order by cos desc, vec_id) rk
            from scored)
      where rk = 1
    ),
    neg as (
      select s.anchor_id, s.vec_id as neg_id, s.cos as neg_cos
      from (select s.*, row_number() over (partition by s.anchor_id
                                           order by s.cos desc, s.vec_id) rk
            from scored s join pos p on s.anchor_id = p.anchor_id
            where s.cos <= p.pos_cos - {_TRIPLET_MARGIN}) s
      where rk = 1
    )
    select p.anchor_id, p.pos_id, round(p.pos_cos, 6) as pos_cos,
           n.neg_id, round(n.neg_cos, 6) as neg_cos,
           round(p.pos_cos - n.neg_cos, 6) as margin_gap
    from pos p left join neg n on p.anchor_id = n.anchor_id
    """,
    "similarity", "triplet", "contrastive", "broadcast", "staged",
)
def sim_triplet_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    positives = F.broadcast(
        _argmax_cos(_scored(spark, sf_dir), "pos_id", "pos_cos")
    )
    # second corpus scan: admissible negatives against the tiny
    # positive frame (cheaper than persisting N x anchors scored rows
    # at corpus scale), same struct-max argmax
    negatives = _argmax_cos(
        _scored(spark, sf_dir)
        .join(positives.select("anchor_id", "pos_cos"), "anchor_id")
        .where(F.col("cos") <= F.col("pos_cos") - F.lit(_TRIPLET_MARGIN))
        .select("anchor_id", "vec_id", "cos"),
        "neg_id",
        "neg_cos",
    )
    return (
        positives.join(negatives, "anchor_id", "left")
        .select(
            "anchor_id",
            "pos_id",
            F.round("pos_cos", 6).alias("pos_cos"),
            "neg_id",
            F.round("neg_cos", 6).alias("neg_cos"),
            F.round(F.col("pos_cos") - F.col("neg_cos"), 6).alias(
                "margin_gap"
            ),
        )
    )
