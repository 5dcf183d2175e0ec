"""Similarity search over ``embeddings``: brute-force top-k baseline,
LSH-bucketed ANN, IVF-cell ANN.

Scale design:
  * brute-force = K probe vectors BROADCAST against the corpus: one scan,
    no shuffle of the big side, per-partition top-k heaps
    (TakeOrderedAndProject semantics via window rank <= k).
  * LSH path: deterministic random-hyperplane buckets (md5-derived
    weights, engine-independent) -> candidate set is one bucket, exact
    rerank inside. The bucket join is an equi-join on the bucket key.
  * IVF path: centroids per cell (label), probe -> nearest centroid ->
    exact rerank within that cell. Float mean is order-dependent across
    engines, so this one is rows-only.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clueso_spark.functions.vectors import (
    cosine_similarity,
    lsh_bucket,
    squared_l2,
    squared_norm,
    to_double_array,
)
from clueso_spark.plans.catalog import persist_swap as _persist_swap, register
from clueso_spark.sources.tables import load_table

N_PROBES = 5  # vec_id < 5 are the probe vectors
TOP_K = 10
N_PLANES = 4
DIM = 64


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "label", to_double_array("embedding").alias("v"))
        .withColumn("sq", squared_norm("v"))
    )


def probe_rows(emb: DataFrame, *extra) -> DataFrame:
    """The tier's shared probe set: the rows with vec_id < N_PROBES of a
    (vec_id, v, sq) frame as (probe_id, pv, psq), plus any ``extra``
    columns. Not broadcast: each caller decides whether its probe side
    is the broadcast one."""
    return emb.where(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("v").alias("pv"),
        F.col("sq").alias("psq"),
        *extra,
    )


def top_k_per_probe(
    scored: DataFrame, k: int, score: str = "cos"
) -> DataFrame:
    """Each probe's ``k`` best rows of a scored (probe_id, vec_id,
    ``score``) frame: bigint ``rk`` = row_number over (score desc,
    vec_id) per probe, kept while rk <= k -- the per-probe top-k heap
    (TakeOrderedAndProject semantics) every exact and ANN ranker ends
    in."""
    w = Window.partitionBy("probe_id").orderBy(
        F.col(score).desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rk") <= k)
    )


BRUTE_ORACLE = f"""
with e as (select vec_id, list_transform(embedding, x -> cast(x as double)) v
           from embeddings),
n as (select vec_id, v, list_dot_product(v, v) sq from e),
probes as (select vec_id as probe_id, v as pv, sq as psq from n
           where vec_id < {N_PROBES}),
scored as (
  select probe_id, vec_id,
         list_dot_product(pv, v) / (sqrt(psq) * sqrt(sq)) as cos
  from probes join n on vec_id <> probe_id
),
ranked as (
  select probe_id, vec_id, cos,
         row_number() over (partition by probe_id
                            order by cos desc, vec_id) as rk
  from scored
)
select probe_id, vec_id, round(cos, 6) as cosine, cast(rk as bigint) as rk
from ranked where rk <= {TOP_K}
"""


@register(
    "sim_bruteforce_topk",
    f"Brute-force cosine top-{TOP_K} for {N_PROBES} probe vectors. Probes "
    "broadcast (BroadcastNestedLoopJoin); corpus scanned once; per-probe "
    "row_number keeps the heap semantics. The exact baseline every ANN "
    "variant is measured against.",
    BRUTE_ORACLE,
    "similarity", "ann", "broadcast",
)
def sim_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _brute_topk_from(_emb(spark, sf_dir))


def _brute_topk_from(emb: DataFrame) -> DataFrame:
    """Exact cosine top-k from any (vec_id, v, sq) corpus frame -- the
    moved body of sim_bruteforce_topk (plan identical through the move).
    Callers that already hold a PINNED corpus frame (sim_ivfpq_rerank,
    sim_ivf_nprobe_curve) pass it here so their exact baseline shares
    the one materialized scan instead of re-reading the corpus and
    re-deriving every norm."""
    probes = F.broadcast(probe_rows(emb))
    cos = cosine_similarity("pv", "v", "psq", "sq")
    return top_k_per_probe(
        probes.join(emb, F.col("vec_id") != F.col("probe_id")).select(
            "probe_id", "vec_id", cos.alias("cos")
        ),
        TOP_K,
    ).select("probe_id", "vec_id", F.round("cos", 6).alias("cosine"), "rk")


def _lsh_plane_sql(p: int, vec: str) -> str:
    """The oracle-side replica of functions.vectors.lsh_bucket: identical
    term order, identical md5-nibble weights."""
    terms = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5('{p}_{d}'), 1, 1)) - 8.5)"
        f" * {vec}[{d + 1}]"
        for d in range(DIM)
    )
    return f"case when ({terms}) >= 0 then '1' else '0' end"


LSH_ORACLE = (
    """
with e as (select vec_id, list_transform(embedding, x -> cast(x as double)) v
           from embeddings),
n as (select vec_id, v, list_dot_product(v, v) sq,
             concat(%s) as bucket
      from e),
probes as (select vec_id probe_id, v pv, sq psq, bucket from n
           where vec_id < %d),
scored as (
  select probe_id, n.vec_id,
         list_dot_product(pv, n.v) / (sqrt(psq) * sqrt(n.sq)) as cos
  from probes join n on probes.bucket = n.bucket and n.vec_id <> probe_id
),
ranked as (
  select probe_id, vec_id, cos,
         row_number() over (partition by probe_id
                            order by cos desc, vec_id) as rk
  from scored
)
select probe_id, vec_id, round(cos, 6) as cosine, cast(rk as bigint) as rk
from ranked where rk <= %d
"""
    % (", ".join(_lsh_plane_sql(p, "v") for p in range(N_PLANES)), N_PROBES, TOP_K)
)


@register(
    "sim_lsh_ann",
    f"LSH-bucketed ANN: {N_PLANES} deterministic random-hyperplane signs "
    "(md5-nibble weights) partition the corpus into 2^4 buckets; each "
    "probe reranks exactly inside its own bucket. Candidate join is an "
    "equi-join on the bucket key -- the 100 TB plan (bucket = shuffle "
    "key), verified cross-engine because the hyperplanes are hash-derived.",
    LSH_ORACLE,
    "similarity", "ann", "lsh",
)
def sim_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    # bucket off the RAW float column -- element_at on the derived double
    # array re-inlines its transform per term (exact same bits either
    # way, float -> double promotion is exact; see dedup_embedding_cosine)
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            lsh_bucket("embedding", N_PLANES, DIM).alias("bucket"),
            to_double_array("embedding").alias("v"),
        )
        .withColumn("sq", squared_norm("v"))
    )
    probes = F.broadcast(
        probe_rows(emb, F.col("bucket").alias("pbucket"))
    )
    cos = cosine_similarity("pv", "v", "psq", "sq")
    return top_k_per_probe(
        probes.join(
            emb,
            (F.col("pbucket") == F.col("bucket"))
            & (F.col("vec_id") != F.col("probe_id")),
        ).select("probe_id", "vec_id", cos.alias("cos")),
        TOP_K,
    ).select("probe_id", "vec_id", F.round("cos", 6).alias("cosine"), "rk")


def _center_by_label(pdf):
    """applyInPandas grouped-map worker: center each label-cell's vectors
    on the cell mean (the preprocessing step before residual quantization
    in an IVF-PQ index). Rows sorted by vec_id first so the float math is
    order-deterministic regardless of upstream partitioning."""
    import numpy as np

    pdf = pdf.sort_values("vec_id")
    mat = np.vstack(pdf["v"].to_numpy())
    centered = mat - mat.mean(axis=0)
    return pdf.assign(
        residual_norm=np.sqrt((centered * centered).sum(axis=1))
    )[["vec_id", "label", "residual_norm"]]


@register(
    "sim_residual_norms",
    "applyInPandas (grouped map): per-label mean-centering of embedding "
    "cells and residual norms -- the IVF-PQ preprocessing shape. One "
    "shuffle on the cell key; each cell processed as one Arrow batch in "
    "Python. Verified by INVARIANT (numpy pairwise float sums are not "
    "bit-replicable in SQL): the real applyInPandas output is aggregated "
    "to per-cell membership counts plus flags every residual norm must "
    "satisfy -- n_nonneg == n_vecs (norms are non-negative) and "
    "n_bounded == n_vecs (centering cannot exceed the max raw norm times "
    "two) -- which the oracle reproduces from the raw table.",
    """
    select label,
           cast(count(*) as bigint) as n_vecs,
           cast(count(*) as bigint) as n_nonneg,
           cast(count(*) as bigint) as n_bounded
    from embeddings
    group by label
    """,
    "similarity", "applyinpandas", "ivf",
)
def sim_residual_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", to_double_array("embedding").alias("v")
    )
    norms = emb.groupBy("label").applyInPandas(
        _center_by_label,
        "vec_id bigint, label int, residual_norm double",
    )
    # bound: ||v - mean|| <= ||v|| + ||mean|| <= 2 * max ||v|| in the cell
    bound = emb.groupBy("label").agg(
        (2 * F.sqrt(F.max(squared_norm("v")))).alias("cell_bound")
    )
    return (
        norms.join(bound, "label")
        .groupBy("label")
        .agg(
            F.count("*").cast("bigint").alias("n_vecs"),
            F.sum(F.when(F.col("residual_norm") >= 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_nonneg"),
            F.sum(
                F.when(F.col("residual_norm") <= F.col("cell_bound"), 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("n_bounded"),
        )
    )


IVF_ORACLE = f"""
with e as (select vec_id, label,
                  list_transform(embedding, x -> cast(x as double)) v
           from embeddings),
n as (select vec_id, label, v, list_dot_product(v, v) sq from e),
comp as (
  select label, i as pos, v[i] as x
  from e cross join generate_series(1, {DIM}) as t(i)
),
m as (
  select label, pos,
         cast(sum(cast(x as decimal(28,14))) as double) / count(*) as c
  from comp group by label, pos
),
cent as (
  select label as cell, list(c order by pos) as cv from m group by label
),
centn as (select cell, cv, list_dot_product(cv, cv) as csq from cent),
probes as (select vec_id probe_id, v pv, sq psq from n
           where vec_id < {N_PROBES}),
assign as (
  select probe_id, pv, psq, cell from (
    select probe_id, pv, psq, cell,
           row_number() over (
             partition by probe_id
             order by list_dot_product(pv, cv) / (sqrt(psq) * sqrt(csq)) desc,
                      cell) as crk
    from probes cross join centn) where crk = 1
),
scored as (
  select probe_id, cell, n.vec_id,
         list_dot_product(pv, n.v) / (sqrt(psq) * sqrt(n.sq)) as cos
  from assign join n on n.label = assign.cell and n.vec_id <> probe_id
),
ranked as (
  select probe_id, cell, vec_id, cos,
         row_number() over (partition by probe_id
                            order by cos desc, vec_id) as rk
  from scored
)
select probe_id, cast(cell as bigint) as cell, vec_id,
       round(cos, 6) as cosine, cast(rk as bigint) as rk
from ranked where rk <= 5
"""


@register(
    "sim_ivf_cells",
    "IVF-style ANN: per-cell centroids (mean embedding per label), probe "
    "-> nearest centroid -> exact top-5 rerank within the cell. "
    "Hash-verified this round: centroid component means go through "
    "decimal(28,14) so both engines sum order-independently (the "
    "sim_kmeans_lloyd trick), making the full assignment + rerank "
    "reproducible cross-engine. Centroid build = one posexplode + "
    "groupBy(cell, dim) -- at 100 TB that is the standard two-pass IVF "
    "build.",
    IVF_ORACLE,
    "similarity", "ann", "ivf",
)
def sim_ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    # centroid per label: explode to (label, pos, val), decimal-exact
    # mean (order-independent, engine-identical), re-assemble
    cent = (
        emb.select("label", F.posexplode("v").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(
            (
                F.sum(F.col("val").cast("decimal(28,14)")).cast("double")
                / F.count("*")
            ).alias("c")
        )
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select(
            F.col("label").alias("cell"),
            F.expr("transform(pc, x -> x.c)").alias("cv"),
        )
        .withColumn("csq", squared_norm("cv"))
    )
    probes = probe_rows(emb)
    pcos = cosine_similarity("pv", "cv", "psq", "csq")
    w_cell = Window.partitionBy("probe_id").orderBy(
        F.col("ccos").desc(), F.col("cell")
    )
    assign = (
        probes.join(F.broadcast(cent), F.lit(True))
        .select("probe_id", "pv", "psq", "cell", pcos.alias("ccos"))
        .withColumn("crk", F.row_number().over(w_cell))
        .where(F.col("crk") == 1)
        .drop("ccos", "crk")
    )
    cos = cosine_similarity("pv", "v", "psq", "sq")
    return top_k_per_probe(
        F.broadcast(assign)
        .join(
            emb,
            (F.col("label") == F.col("cell"))
            & (F.col("vec_id") != F.col("probe_id")),
        )
        .select("probe_id", F.col("cell").cast("bigint").alias("cell"), "vec_id", cos.alias("cos")),
        5,
    ).select("probe_id", "cell", "vec_id", F.round("cos", 6).alias("cosine"), "rk")


K_CLUSTERS = 4


def _kmeans_ctes_for(k: int) -> str:
    """The shared one-Lloyd-round CTE chain at an arbitrary FLAT K
    (init = lowest vec_ids, assign, decimal-exact centroid update,
    final assignment a2). ``_KMEANS_CTES`` below is this builder at
    the K_CLUSTERS floor (the registered-oracle string); the round-15
    sf-adaptive builders call it at the adaptive K while it stays
    below HIER_MIN_K -- the hierarchical two-level assignment is NOT
    replicated here, so adaptive builders must return None once K
    crosses that threshold."""
    return _KMEANS_CTES_TEMPLATE.format(K=k, DIM=DIM)


#: shared CTE prefix: one Lloyd round (init = lowest vec_ids, assign,
#: decimal-exact centroid update) + final assignment a2. Reused by the
#: k-means report oracle and the IVF-over-kmeans ANN oracle.
_KMEANS_CTES_TEMPLATE = """
e as (select vec_id, list_transform(embedding, x -> cast(x as double)) v
           from embeddings),
n as (select vec_id, v, list_dot_product(v, v) sq from e),
c0 as (select vec_id as cid, v as c, sq as csq from n
       where vec_id < {K}),
a1 as (
  select vec_id, v, sq, cid, dist from (
    select n.vec_id, n.v, n.sq, c0.cid,
           n.sq - 2 * list_dot_product(n.v, c0.c) + c0.csq as dist,
           row_number() over (
             partition by n.vec_id
             order by n.sq - 2 * list_dot_product(n.v, c0.c) + c0.csq, c0.cid
           ) as rk
    from n cross join c0) where rk = 1
),
comp1 as (
  select cid, i as pos, v[i] as x
  from a1 cross join generate_series(1, {DIM}) as t(i)
),
m1 as (
  select cid, pos,
         cast(sum(cast(x as decimal(28,14))) as double) / count(*) as m
  from comp1 group by cid, pos
),
c1 as (
  select cid, list(m order by pos) as c from m1 group by cid
),
c1n as (select cid, c, list_dot_product(c, c) as csq from c1),
a2 as (
  select vec_id, cid, dist from (
    select n.vec_id, c1n.cid,
           n.sq - 2 * list_dot_product(n.v, c1n.c) + c1n.csq as dist,
           row_number() over (
             partition by n.vec_id
             order by n.sq - 2 * list_dot_product(n.v, c1n.c) + c1n.csq,
                      c1n.cid
           ) as rk
    from n cross join c1n) where rk = 1
)"""

#: the K_CLUSTERS-floor instantiation: the string every registered
#: oracle embeds (the driver-gate contract)
_KMEANS_CTES = _KMEANS_CTES_TEMPLATE.format(K=K_CLUSTERS, DIM=DIM)


def _hier_assign_ctes(src_cents: str, prefix: str, g: int) -> str:
    """DuckDB replica of :func:`assign_nearest`'s two-level routing for
    the centroid relation ``src_cents`` (columns cid, c, csq): route
    centroids and vectors to their nearest of the first ``g`` seeds,
    then rank only the centroids of the matched super-cell. Emits
    ``{prefix}_seeds`` / ``{prefix}_c2s`` / ``{prefix}_v2s`` /
    ``{prefix}_a`` (vec_id, v, sq, cid, dist); tie-breaks (gid, cid)
    mirror the Spark windows exactly."""
    return f"""{prefix}_seeds as (
  select cid as gid, c as gc, csq as gcsq from {src_cents} where cid < {g}
),
{prefix}_c2s as (
  select gid, cid, c, csq from (
    select s.gid, c.cid, c.c, c.csq,
           row_number() over (
             partition by c.cid
             order by c.csq - 2 * list_dot_product(c.c, s.gc) + s.gcsq,
                      s.gid) as grk
    from {src_cents} c cross join {prefix}_seeds s) where grk = 1
),
{prefix}_v2s as (
  select vec_id, v, sq, gid from (
    select n.vec_id, n.v, n.sq, s.gid,
           row_number() over (
             partition by n.vec_id
             order by n.sq - 2 * list_dot_product(n.v, s.gc) + s.gcsq,
                      s.gid) as grk
    from n cross join {prefix}_seeds s) where grk = 1
),
{prefix}_a as (
  select vec_id, v, sq, cid, dist from (
    select v.vec_id, v.v, v.sq, c.cid,
           v.sq - 2 * list_dot_product(v.v, c.c) + c.csq as dist,
           row_number() over (
             partition by v.vec_id
             order by v.sq - 2 * list_dot_product(v.v, c.c) + c.csq,
                      c.cid) as rk
    from {prefix}_v2s v join {prefix}_c2s c using (gid)) where rk = 1
)"""


def _kmeans_ctes_hier_for(k: int, g: int) -> str:
    """The one-Lloyd-round chain with BOTH assignments routed through
    the two-level hierarchy -- exactly what the Spark side runs once
    K >= HIER_MIN_K (:func:`assign_nearest`). Same a1/a2 output shape
    as the flat template, so every downstream oracle body composes
    unchanged."""
    return f"""
e as (select vec_id, list_transform(embedding, x -> cast(x as double)) v
           from embeddings),
n as (select vec_id, v, list_dot_product(v, v) sq from e),
c0 as (select vec_id as cid, v as c, sq as csq from n
       where vec_id < {k}),
{_hier_assign_ctes("c0", "h1", g)},
a1 as (select vec_id, v, sq, cid, dist from h1_a),
comp1 as (
  select cid, i as pos, v[i] as x
  from a1 cross join generate_series(1, {DIM}) as t(i)
),
m1 as (
  select cid, pos,
         cast(sum(cast(x as decimal(28,14))) as double) / count(*) as m
  from comp1 group by cid, pos
),
c1 as (
  select cid, list(m order by pos) as c from m1 group by cid
),
c1n as (select cid, c, list_dot_product(c, c) as csq from c1),
{_hier_assign_ctes("c1n", "h2", g)},
a2 as (select vec_id, cid, dist from h2_a)"""


def kmeans_ctes_adaptive(k: int) -> str:
    """The CTE chain matching what the Spark side runs at this K: flat
    below HIER_MIN_K, hierarchical (g computed exactly as
    :func:`assign_nearest` does) at or above it."""
    if k < HIER_MIN_K:
        return _kmeans_ctes_for(k)
    g = 1 << max(1, math.ceil(math.log2(math.sqrt(k))))
    return _kmeans_ctes_hier_for(k, g)

_KMEANS_ORACLE = f"""
with {_KMEANS_CTES}
select cast(cid as bigint) as cluster_id,
       cast(count(*) as bigint) as n_members,
       round(cast(sum(cast(dist as decimal(28,14))) as double)
             / count(*), 6) as avg_sq_dist
from a2
group by cid
"""


TARGET_CELL = 128  # expected members per coarse cell at any corpus size

#: flat N x K assignment below this K; two-level (hierarchical) above.
#: With K ~ N/TARGET_CELL, flat assign costs N*K ~ N^2/128 -- the
#: scaling harness measured the bend. Two-level routes through
#: ~sqrt(K) super-cells first: N*(G + K/G) ~ 2N*sqrt(K), the standard
#: coarse-quantizer trick. Below the threshold flat is both cheaper
#: and EXACT -- which keeps fixed-K oracles bit-for-bit at the gate's
#: floor.
HIER_MIN_K = 64


def adaptive_k(n_vectors: int, floor: int = K_CLUSTERS) -> int:
    """Coarse-quantizer K: power of two >= n/TARGET_CELL, floored.
    Cell population stays ~TARGET_CELL as the corpus grows -- the knob
    that keeps per-cell work flat at 10 B vectors (K ~ 2^26)."""
    return max(
        floor,
        1
        << max(
            2, math.ceil(math.log2(max(1.0, n_vectors / TARGET_CELL)))
        ),
    )


def assign_nearest(emb: DataFrame, cents: DataFrame, k: int) -> DataFrame:
    """Nearest-centroid assignment, hierarchical when K is large.

    Two-level: centroids route to their nearest of G ~ sqrt(K) super
    seeds (a K x G product over a broadcast -- trivial), vectors route
    to their nearest seed (N x G), then rank only the centroids of
    that super-cell (N x K/G expected). Same squared-L2 fold as
    _nearest, so below HIER_MIN_K the two paths agree exactly on
    everything."""
    if k < HIER_MIN_K:
        return _nearest(emb, cents)
    g = 1 << max(1, math.ceil(math.log2(math.sqrt(k))))
    seeds = cents.where(F.col("cid") < g).select(
        F.col("cid").alias("gid"),
        F.col("c").alias("gc"),
        F.col("csq").alias("gcsq"),
    )
    gdist_c = squared_l2("c", "gc", "csq", "gcsq")
    cw = Window.partitionBy("cid").orderBy("gdist", "gid")
    c2s = (
        cents.crossJoin(F.broadcast(seeds))
        .withColumn("gdist", gdist_c)
        .withColumn("grk", F.row_number().over(cw))
        .where(F.col("grk") == 1)
        .select("gid", "cid", "c", "csq")
    )
    gdist_v = squared_l2("v", "gc", "sq", "gcsq")
    vw = Window.partitionBy("vec_id").orderBy("gdist", "gid")
    v2s = (
        emb.crossJoin(F.broadcast(seeds))
        .withColumn("gdist", gdist_v)
        .withColumn("grk", F.row_number().over(vw))
        .where(F.col("grk") == 1)
        .drop("gc", "gcsq", "gdist", "grk")
    )
    dist = squared_l2("v", "c", "sq", "csq")
    w = Window.partitionBy("vec_id").orderBy("dist", "cid")
    return (
        v2s.join(F.broadcast(c2s), "gid")
        .withColumn("dist", dist)
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .drop("rk", "c", "csq", "gid")
    )


def _nearest(emb: DataFrame, cents: DataFrame) -> DataFrame:
    """Assign each vector to its nearest centroid (squared L2 via the
    dot-product identity ||v-c||^2 = v.v - 2 v.c + c.c; the fold order
    matches DuckDB's list_dot_product for exact parity)."""
    scored = emb.crossJoin(F.broadcast(cents)).withColumn(
        "dist", squared_l2("v", "c", "sq", "csq")
    )
    w = Window.partitionBy("vec_id").orderBy("dist", "cid")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .drop("rk", "c", "csq")
    )


def _lloyd_c1(emb: DataFrame, k: int = K_CLUSTERS, assign_fn=None) -> DataFrame:
    """One Lloyd round: deterministic init (lowest vec_ids), assign,
    decimal-exact centroid update. Returns (cid, c, csq).

    ``assign_fn(emb, cents) -> assigned`` overrides the flat N x K
    nearest-centroid scan (dedup_semantic swaps in a two-level
    hierarchical assign once its adaptive K grows past threshold)."""
    cents = emb.where(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cid"),
        F.col("v").alias("c"),
        F.col("sq").alias("csq"),
    )
    a1 = (assign_fn or _nearest)(emb, cents)
    comp = a1.select("cid", F.posexplode("v").alias("pos", "x"))
    means = comp.groupBy("cid", "pos").agg(
        (
            F.sum(F.col("x").cast("decimal(28,14)")).cast("double")
            / F.count("*")
        ).alias("m")
    )
    c1 = means.groupBy("cid").agg(
        F.expr("transform(sort_array(collect_list(struct(pos, m))), t -> t.m)")
        .alias("c")
    )
    return c1.withColumn("csq", squared_norm("c"))


@register(
    "sim_kmeans_lloyd",
    f"Iterative algorithm: two Lloyd k-means rounds (K={K_CLUSTERS}, "
    "deterministic init = lowest vec_ids). Each round is assign "
    "(broadcast K centroids, argmin squared L2) + update (posexplode to "
    "(cluster, dim) cells, decimal-exact component means, rebuild "
    "arrays). The driver loop iterates PLANS, not data -- per round one "
    "broadcast join and one keyed shuffle on (cid, pos); no collect of "
    "the corpus. Component means go through decimal so both engines sum "
    "order-independently.",
    _KMEANS_ORACLE,
    "similarity", "iterative", "kmeans",
)
def sim_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    # round 2: reassign against the round-1 centroids, report clusters
    a2 = _nearest(emb, _lloyd_c1(emb))
    return (
        a2.groupBy("cid")
        .agg(
            F.count("*").cast("bigint").alias("n_members"),
            F.round(
                F.sum(F.col("dist").cast("decimal(28,14)")).cast("double")
                / F.count("*"),
                6,
            ).alias("avg_sq_dist"),
        )
        .select(
            F.col("cid").cast("bigint").alias("cluster_id"),
            "n_members",
            "avg_sq_dist",
        )
    )


IVF_KMEANS_ORACLE = f"""
with {_KMEANS_CTES},
passign as (
  select probe_id, pv, psq, cid from (
    select n.vec_id as probe_id, n.v as pv, n.sq as psq, c1n.cid,
           row_number() over (
             partition by n.vec_id
             order by n.sq - 2 * list_dot_product(n.v, c1n.c) + c1n.csq,
                      c1n.cid
           ) as rk
    from n cross join c1n where n.vec_id < {N_PROBES}) where rk = 1
),
members as (
  select a2.vec_id, a2.cid, n.v, n.sq from a2 join n on a2.vec_id = n.vec_id
),
scored as (
  select probe_id, passign.cid, m.vec_id,
         list_dot_product(pv, m.v) / (sqrt(psq) * sqrt(m.sq)) as cos
  from passign join members m
    on m.cid = passign.cid and m.vec_id <> probe_id
),
ranked as (
  select probe_id, cid, vec_id, cos,
         row_number() over (partition by probe_id
                            order by cos desc, vec_id) as rk
  from scored
)
select probe_id, cast(cid as bigint) as cluster_id, vec_id,
       round(cos, 6) as cosine, cast(rk as bigint) as rk
from ranked where rk <= 5
"""


@register(
    "sim_ivf_kmeans_ann",
    "True IVF ANN: the coarse quantizer is LEARNED (one Lloyd round of "
    f"k-means, K={K_CLUSTERS}, decimal-exact means) instead of a data "
    "attribute; every vector is assigned to its nearest learned "
    "centroid, probes route to their nearest centroid and rerank "
    "exactly inside that cell. The full IVF build-and-search loop -- "
    "train, assign, probe, rerank -- as lazy DataFrame composition, "
    "hash-verified cross-engine. At 100 TB: train on a sample, "
    "broadcast K centroids, one keyed shuffle on cell id.",
    IVF_KMEANS_ORACLE,
    "similarity", "ann", "ivf", "kmeans",
)
def sim_ivf_kmeans_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    c1 = _lloyd_c1(emb)
    members = _nearest(emb, c1).select("vec_id", "cid", "v", "sq")
    probes = probe_rows(emb)
    pdist = squared_l2("pv", "c", "psq", "csq")
    w_cell = Window.partitionBy("probe_id").orderBy("pdist", "cid")
    passign = (
        probes.join(F.broadcast(c1), F.lit(True))
        .select("probe_id", "pv", "psq", "cid", pdist.alias("pdist"))
        .withColumn("crk", F.row_number().over(w_cell))
        .where(F.col("crk") == 1)
        .drop("pdist", "crk")
    )
    cos = cosine_similarity("pv", "v", "psq", "sq")
    return top_k_per_probe(
        F.broadcast(passign)
        .join(
            members,
            (members.cid == passign.cid) & (members.vec_id != passign.probe_id),
        )
        .select(
            "probe_id",
            passign.cid.cast("bigint").alias("cluster_id"),
            "vec_id",
            cos.alias("cos"),
        ),
        5,
    ).select("probe_id", "cluster_id", "vec_id", F.round("cos", 6).alias("cosine"), "rk")


RECALL_ORACLE = f"""
with b as ({BRUTE_ORACLE}),
l as ({LSH_ORACLE}),
hits as (
  select b.probe_id, count(*) as n_hits
  from b join l on b.probe_id = l.probe_id and b.vec_id = l.vec_id
  group by b.probe_id
),
t as (select probe_id, count(*) as n_true from b group by probe_id)
select t.probe_id,
       cast(n_true as bigint) as n_true,
       cast(coalesce(n_hits, 0) as bigint) as n_hits,
       cast(coalesce(n_hits, 0) as double) / n_true as recall_at_k
from t left join hits on t.probe_id = hits.probe_id
"""


@register(
    "sim_ann_recall_at_k",
    f"ANN self-evaluation: recall@{TOP_K} of the LSH-bucketed index "
    "against the exact brute-force top-k, per probe. The quality gate "
    "every ANN deployment runs before trusting the approximate path -- "
    "and the composition pattern (two catalog queries joined into a "
    "metric) costs one semi-join over the two result sets.",
    RECALL_ORACLE,
    "similarity", "ann", "evaluation",
)
def sim_ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    brute = sim_bruteforce_topk(spark, sf_dir).select("probe_id", "vec_id")
    lsh = sim_lsh_ann(spark, sf_dir).select("probe_id", "vec_id")
    hits = brute.join(lsh, ["probe_id", "vec_id"]).groupBy("probe_id").agg(
        F.count("*").alias("n_hits")
    )
    t = brute.groupBy("probe_id").agg(F.count("*").alias("n_true"))
    return t.join(hits, "probe_id", "left").select(
        "probe_id",
        F.col("n_true").cast("bigint").alias("n_true"),
        F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
        (
            F.coalesce("n_hits", F.lit(0)).cast("double") / F.col("n_true")
        ).alias("recall_at_k"),
    )


N_SUBSPACES = 4
SUB_DIM = DIM // N_SUBSPACES
PQ_K = 4

PQ_ORACLE = f"""
with e as (select vec_id, list_transform(embedding, x -> cast(x as double)) v
           from embeddings),
subs as (
  select vec_id, s as sub, v[s * {SUB_DIM} + 1 : (s + 1) * {SUB_DIM}] as sv
  from e cross join generate_series(0, {N_SUBSPACES - 1}) as t(s)
),
n as (select vec_id, sub, sv, list_dot_product(sv, sv) as ssq from subs),
c0 as (select sub, vec_id as cid, sv as c, ssq as csq from n
       where vec_id < {PQ_K}),
a1 as (
  select vec_id, sub, sv, cid from (
    select n.vec_id, n.sub, n.sv, c0.cid,
           row_number() over (
             partition by n.vec_id, n.sub
             order by n.ssq - 2 * list_dot_product(n.sv, c0.c) + c0.csq,
                      c0.cid
           ) as rk
    from n join c0 on n.sub = c0.sub) where rk = 1
),
comp1 as (
  select sub, cid, i as pos, sv[i] as x
  from a1 cross join generate_series(1, {SUB_DIM}) as t(i)
),
m1 as (
  select sub, cid, pos,
         cast(sum(cast(x as decimal(28,14))) as double) / count(*) as m
  from comp1 group by sub, cid, pos
),
c1 as (
  select sub, cid, list(m order by pos) as c from m1 group by sub, cid
),
c1n as (select sub, cid, c, list_dot_product(c, c) as csq from c1),
a2 as (
  select vec_id, sub, cid, dist from (
    select n.vec_id, n.sub, c1n.cid,
           n.ssq - 2 * list_dot_product(n.sv, c1n.c) + c1n.csq as dist,
           row_number() over (
             partition by n.vec_id, n.sub
             order by n.ssq - 2 * list_dot_product(n.sv, c1n.c) + c1n.csq,
                      c1n.cid
           ) as rk
    from n join c1n on n.sub = c1n.sub) where rk = 1
)
select cast(sub as bigint) as subspace,
       cast(cid as bigint) as code,
       cast(count(*) as bigint) as n_members,
       round(cast(sum(cast(dist as decimal(28,14))) as double)
             / count(*), 6) as avg_sq_dist
from a2
group by sub, cid
"""


@register(
    "sim_pq_codes",
    f"Product quantization (the PQ half of IVF-PQ): vectors split into "
    f"{N_SUBSPACES} subspaces of {SUB_DIM} dims; per subspace a {PQ_K}-"
    "codeword codebook is trained with one Lloyd round (deterministic "
    "init = lowest vec_ids, decimal-exact means) and every sub-vector is "
    "assigned its nearest codeword. Output: per-(subspace, code) "
    "population and mean quantization distortion -- the codebook-quality "
    "report a PQ index build emits. Scale: a vector's PQ code is "
    f"{N_SUBSPACES} small ints instead of {DIM} floats (~64x memory "
    "compression for ANN state); training broadcasts K x M codewords and "
    "shuffles only (subspace, code, dim)-keyed partial means, never "
    "vectors.",
    PQ_ORACLE,
    "similarity", "ann", "quantization",
)
def sim_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    subs = (
        emb.select(
            "vec_id",
            F.explode(
                F.sequence(F.lit(0), F.lit(N_SUBSPACES - 1))
            ).alias("sub"),
            "v",
        )
        .select(
            "vec_id",
            "sub",
            F.expr(f"slice(v, sub * {SUB_DIM} + 1, {SUB_DIM})").alias("sv"),
        )
        .withColumn("ssq", squared_norm("sv"))
    )
    c0 = subs.where(F.col("vec_id") < PQ_K).select(
        "sub", F.col("vec_id").alias("cid"), F.col("sv").alias("c"),
        F.col("ssq").alias("csq"),
    )

    def nearest(cb: DataFrame) -> DataFrame:
        scored = subs.join(F.broadcast(cb), "sub").withColumn(
            "dist", squared_l2("sv", "c", "ssq", "csq")
        )
        w = Window.partitionBy("vec_id", "sub").orderBy("dist", "cid")
        return (
            scored.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") == 1)
            .drop("rk", "c", "csq")
        )

    a1 = nearest(c0)
    means = (
        a1.select("sub", "cid", F.posexplode("sv").alias("pos", "x"))
        .groupBy("sub", "cid", "pos")
        .agg(
            (
                F.sum(F.col("x").cast("decimal(28,14)")).cast("double")
                / F.count("*")
            ).alias("m")
        )
    )
    c1 = (
        means.groupBy("sub", "cid")
        .agg(
            F.expr(
                "transform(sort_array(collect_list(struct(pos, m))), t -> t.m)"
            ).alias("c")
        )
        .withColumn("csq", squared_norm("c"))
    )
    a2 = nearest(c1)
    return (
        a2.groupBy("sub", "cid")
        .agg(
            F.count("*").cast("bigint").alias("n_members"),
            F.round(
                F.sum(F.col("dist").cast("decimal(28,14)")).cast("double")
                / F.count("*"),
                6,
            ).alias("avg_sq_dist"),
        )
        .select(
            F.col("sub").cast("bigint").alias("subspace"),
            F.col("cid").cast("bigint").alias("code"),
            "n_members",
            "avg_sq_dist",
        )
    )


IVFPQ_ORACLE = f"""
with {_KMEANS_CTES},
res as (
  select a2.vec_id, a2.cid,
         list_transform(range(1, {DIM} + 1),
                        i -> n.v[i] - c1n.c[i]) as r
  from a2 join n on a2.vec_id = n.vec_id
          join c1n on a2.cid = c1n.cid
),
rsubs as (
  select vec_id, cid, s as sub,
         res.r[s * {SUB_DIM} + 1 : (s + 1) * {SUB_DIM}] as rv
  from res cross join generate_series(0, {N_SUBSPACES - 1}) as t(s)
),
pq0 as (select sub, vec_id as code, rv as cw from rsubs
        where vec_id < {PQ_K}),
pa1 as (
  select vec_id, sub, rv, code from (
    select r.vec_id, r.sub, r.rv, pq0.code,
           row_number() over (
             partition by r.vec_id, r.sub
             order by list_dot_product(
               list_transform(range(1, {SUB_DIM} + 1),
                              i -> r.rv[i] - pq0.cw[i]),
               list_transform(range(1, {SUB_DIM} + 1),
                              i -> r.rv[i] - pq0.cw[i])), pq0.code
           ) as rk
    from rsubs r join pq0 on r.sub = pq0.sub) where rk = 1
),
pm1 as (
  select sub, code, i as pos,
         cast(sum(cast(rv[i] as decimal(28,14))) as double)
           / count(*) as m
  from pa1 cross join generate_series(1, {SUB_DIM}) as t(i)
  group by sub, code, i
),
cb as (
  select sub, code, list(m order by pos) as cw from pm1
  group by sub, code
),
enc as (
  select vec_id, cid, sub, code from (
    select r.vec_id, r.cid, r.sub, cb.code,
           row_number() over (
             partition by r.vec_id, r.sub
             order by list_dot_product(
               list_transform(range(1, {SUB_DIM} + 1),
                              i -> r.rv[i] - cb.cw[i]),
               list_transform(range(1, {SUB_DIM} + 1),
                              i -> r.rv[i] - cb.cw[i])), cb.code
           ) as rk
    from rsubs r join cb on r.sub = cb.sub) where rk = 1
),
adc as (
  select r.vec_id as probe_id, r.sub, cb.code,
         list_dot_product(
           list_transform(range(1, {SUB_DIM} + 1),
                          i -> r.rv[i] - cb.cw[i]),
           list_transform(range(1, {SUB_DIM} + 1),
                          i -> r.rv[i] - cb.cw[i])) as part
  from rsubs r join cb on r.sub = cb.sub
  where r.vec_id < {N_PROBES}
),
probes as (select distinct vec_id as probe_id, cid from res
           where vec_id < {N_PROBES}),
scored as (
  select p.probe_id, e.vec_id,
         cast(sum(cast(a.part as decimal(28,14))) as double) as adc_dist
  from probes p
  join enc e on e.cid = p.cid and e.vec_id <> p.probe_id
  join adc a on a.probe_id = p.probe_id and a.sub = e.sub
            and a.code = e.code
  group by p.probe_id, e.vec_id
),
ranked as (
  select probe_id, vec_id, adc_dist,
         row_number() over (partition by probe_id
                            order by adc_dist, vec_id) as rk
  from scored
)
select probe_id, vec_id, round(adc_dist, 6) as adc_dist,
       cast(rk as bigint) as rk
from ranked where rk <= 5
"""


@register(
    "sim_ivfpq_ann",
    "Composed IVF-PQ ANN (the billion-scale index architecture): a "
    f"learned k-means coarse quantizer (K={K_CLUSTERS}) routes vectors "
    "and probes to cells; residuals (v - centroid) are product-quantized "
    f"({N_SUBSPACES} subspaces x {PQ_K} codewords, decimal-exact "
    "training); probe-to-candidate distances come from an ADC lookup "
    "table (probe-residual-to-codeword partial distances, summed per "
    "candidate through decimal so the 4-part sum is order-independent "
    "cross-engine). At scale the index stores M small codes per vector "
    "(~64x memory compression), the ADC table is K x M x probes tiny "
    "and broadcast, and candidate scoring is one keyed join + sum -- no "
    "full-vector distance per candidate. Exact rerank of the ADC top-k "
    "is sim_ivf_kmeans_ann's in-cell path.",
    IVFPQ_ORACLE,
    "similarity", "ann", "ivf", "quantization",
)
def sim_ivfpq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    # centroids are K tiny rows but their lineage is the full Lloyd
    # round (corpus scan + broadcast assign + keyed mean shuffle);
    # unpinned, each of the 2 consumers (asg, res's broadcast) re-runs
    # that training DAG from the parquet up
    c1 = _persist_swap(spark, "ivfpq_c1", _lloyd_c1(emb))
    asg = _nearest(emb, c1).select("vec_id", "cid", "v")
    res = asg.join(F.broadcast(c1.select("cid", "c")), "cid").select(
        "vec_id",
        "cid",
        F.expr("zip_with(v, c, (x, y) -> x - y)").alias("r"),
    )
    # (vec_id, cid, sub, rv) is the workhorse relation: PQ-codebook
    # training (pq0 init + pa1 scoring), encoding, the ADC table, and
    # the probe cell list all read it. Pinned (MEMORY_AND_DISK), the
    # residual computation (scan + centroid broadcast + subtract +
    # subspace slice) runs once; unpinned each consumer re-derived it
    # from parquet (measured 11 FileScans in the rerank composition).
    rsubs = _persist_swap(
        spark,
        "ivfpq_rsubs",
        res.select(
            "vec_id",
            "cid",
            "r",
            F.explode(
                F.sequence(F.lit(0), F.lit(N_SUBSPACES - 1))
            ).alias("sub"),
        )
        .select(
            "vec_id",
            "cid",
            "sub",
            F.expr(f"slice(r, sub * {SUB_DIM} + 1, {SUB_DIM})").alias("rv"),
        ),
    )
    sqdiff = (
        "aggregate(zip_with(rv, cw, (x, y) -> (x - y) * (x - y)), 0D,"
        " (acc, t) -> acc + t)"
    )

    def nearest_code(cb: DataFrame) -> DataFrame:
        scored = rsubs.join(F.broadcast(cb), "sub").withColumn(
            "d", F.expr(sqdiff)
        )
        w = Window.partitionBy("vec_id", "sub").orderBy("d", "code")
        return (
            scored.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") == 1)
            .drop("rk", "cw")
        )

    pq0 = rsubs.where(F.col("vec_id") < PQ_K).select(
        "sub", F.col("vec_id").alias("code"), F.col("rv").alias("cw")
    )
    pa1 = nearest_code(pq0)
    # the trained codebook is N_SUBSPACES x PQ_K tiny rows whose lineage
    # is the whole PQ training pass; enc and adc both consume it
    cb = _persist_swap(
        spark,
        "ivfpq_cb",
        pa1.select("sub", "code", F.posexplode("rv").alias("pos", "x"))
        .groupBy("sub", "code", "pos")
        .agg(
            (
                F.sum(F.col("x").cast("decimal(28,14)")).cast("double")
                / F.count("*")
            ).alias("m")
        )
        .groupBy("sub", "code")
        .agg(
            F.expr(
                "transform(sort_array(collect_list(struct(pos, m))),"
                " t -> t.m)"
            ).alias("cw")
        ),
    )
    enc = nearest_code(cb).select("vec_id", "cid", "sub", "code")
    adc = (
        rsubs.where(F.col("vec_id") < N_PROBES)
        .join(F.broadcast(cb), "sub")
        .select(
            F.col("vec_id").alias("probe_id"),
            "sub",
            "code",
            F.expr(sqdiff).alias("part"),
        )
    )
    # alias the probe's cell id: enc and probes both descend from the
    # pinned rsubs, so an unaliased cid == cid degenerates to a
    # trivially-true predicate (same attribute id) and would silently
    # drop the cell restriction. Probe cells come off the pinned frame
    # (sub = 0 carries one row per vector) rather than a fresh `res`
    # lineage -- same values, zero extra scans.
    probes = (
        rsubs.where((F.col("vec_id") < N_PROBES) & (F.col("sub") == 0))
        .select(F.col("vec_id").alias("probe_id"), F.col("cid").alias("pcid"))
    )
    scored = (
        probes.join(
            enc,
            (F.col("cid") == F.col("pcid"))
            & (F.col("vec_id") != F.col("probe_id")),
        )
        .join(F.broadcast(adc), ["probe_id", "sub", "code"])
        .groupBy("probe_id", "vec_id")
        .agg(
            F.sum(F.col("part").cast("decimal(28,14)"))
            .cast("double")
            .alias("adc_dist")
        )
    )
    w = Window.partitionBy("probe_id").orderBy("adc_dist", "vec_id")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rk") <= 5)
        .select(
            "probe_id",
            "vec_id",
            F.round("adc_dist", 6).alias("adc_dist"),
            "rk",
        )
    )


RERANK_K = 3

IVFPQ_RERANK_ORACLE = f"""
with short as ({IVFPQ_ORACLE}),
e as (select vec_id, list_transform(embedding, x -> cast(x as double)) v
      from embeddings),
n as (select vec_id, v, list_dot_product(v, v) sq from e),
rr as (
  select s.probe_id, s.vec_id,
         list_dot_product(p.v, c.v) / (sqrt(p.sq) * sqrt(c.sq)) as cos
  from short s join n p on s.probe_id = p.vec_id
               join n c on s.vec_id = c.vec_id
),
ranked as (
  select probe_id, vec_id, cos,
         row_number() over (partition by probe_id
                            order by cos desc, vec_id) as rrk
  from rr
),
top as (select * from ranked where rrk <= {RERANK_K}),
b as ({BRUTE_ORACLE}),
hits as (
  select t.probe_id, count(*) as n_hits
  from top t join b on t.probe_id = b.probe_id and t.vec_id = b.vec_id
                   and b.rk <= {RERANK_K}
  group by t.probe_id
)
select t.probe_id, t.vec_id, round(t.cos, 6) as cosine,
       cast(t.rrk as bigint) as rrk,
       cast(coalesce(h.n_hits, 0) as double) / {RERANK_K} as recall_at_k
from top t left join hits h on t.probe_id = h.probe_id
"""


@register(
    "sim_ivfpq_rerank",
    "The full production ANN loop: IVF-PQ ADC shortlist -> FULL-PRECISION "
    f"rerank of the shortlist (exact cosine, top-{RERANK_K}) -> "
    f"recall@{RERANK_K} against the exact brute-force baseline, reported "
    "per probe alongside the reranked hits. Scale shape: ADC prunes the "
    "corpus to a per-probe shortlist (billions -> dozens) without "
    "touching a full vector; only the shortlist's vectors are fetched "
    "for exact scoring via one keyed equi-join (on a bucketed/DPP store "
    "this is a pruned fetch, not a scan), and the recall join runs over "
    "two per-probe top-k sets -- all post-shortlist work is "
    "probe-count-sized, not corpus-sized.",
    IVFPQ_RERANK_ORACLE,
    "similarity", "ann", "quantization", "evaluation",
)
def sim_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    short = sim_ivfpq_ann(spark, sf_dir).select("probe_id", "vec_id")
    # ONE pinned full-precision corpus frame feeds all three vector
    # consumers -- shortlist candidates, the probe set, and the exact
    # brute-force baseline (via _brute_topk_from). Unpinned, each built
    # its own scan + norm derivation: 11 distinct FileScans measured in
    # this plan before the r9 pinning pass.
    emb = _persist_swap(
        spark, "rerank_emb", _emb(spark, sf_dir).select("vec_id", "v", "sq")
    )
    cands = emb.select(
        "vec_id", F.col("v").alias("cv"), F.col("sq").alias("csq")
    )
    probes = F.broadcast(probe_rows(emb))
    cos = cosine_similarity("pv", "cv", "psq", "csq")
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cos").desc(), F.col("vec_id")
    )
    # `top` is probe_count x RERANK_K tiny but feeds both the recall
    # join and the final projection with the whole ADC + rerank DAG
    # underneath it
    top = _persist_swap(
        spark,
        "rerank_top",
        short.join(probes, "probe_id")
        .join(cands, "vec_id")
        .select("probe_id", "vec_id", cos.alias("cos"))
        .withColumn("rrk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rrk") <= RERANK_K),
    )
    brute = (
        _brute_topk_from(emb)
        .where(F.col("rk") <= RERANK_K)
        .select("probe_id", "vec_id")
    )
    hits = (
        top.join(brute, ["probe_id", "vec_id"])
        .groupBy("probe_id")
        .agg(F.count("*").alias("n_hits"))
    )
    return top.join(hits, "probe_id", "left").select(
        "probe_id",
        "vec_id",
        F.round("cos", 6).alias("cosine"),
        "rrk",
        (
            F.coalesce("n_hits", F.lit(0)).cast("double")
            / F.lit(float(RERANK_K))
        ).alias("recall_at_k"),
    )


# ---------------------------------------------------------------------------
# Scalar quantization (int8) ANN: the 4x-memory-compression baseline
# every vector store ships before PQ. Codes are EXACT integers, so the
# whole query (training the per-dim range, coding, integer dot-product
# ranking) is bit-reproducible cross-engine -- no invariant oracle
# needed, unlike float-centroid paths.
# ---------------------------------------------------------------------------

SQ_LEVELS = 256  # 8-bit codes, stored as signed tinyint (code - 128)


def _sq_minmax_sql() -> str:
    mins = ", ".join(f"min(v[{i + 1}])" for i in range(DIM))
    maxs = ", ".join(f"max(v[{i + 1}])" for i in range(DIM))
    return f"select list_value({mins}) as mn, list_value({maxs}) as mx from n"


SQ_ORACLE = f"""
with e as (select vec_id, list_transform(embedding, x -> cast(x as double)) v
           from embeddings),
n as (select vec_id, v from e),
rng as ({_sq_minmax_sql()}),
q as (
  select vec_id,
         list_transform(range({DIM}), i ->
           cast(case when mx[i + 1] = mn[i + 1] then 0
                else least({SQ_LEVELS - 1},
                           floor((v[i + 1] - mn[i + 1])
                                 / (mx[i + 1] - mn[i + 1]) * {SQ_LEVELS}))
                end as int) - 128) as code
  from n cross join rng
),
probes as (select vec_id as probe_id, code as pcode from q
           where vec_id < {N_PROBES}),
scored as (
  select probe_id, vec_id,
         cast(list_sum(list_transform(range({DIM}),
              i -> cast(pcode[i + 1] as bigint) * code[i + 1])) as bigint)
           as qdot
  from probes join q on vec_id <> probe_id
),
ranked as (
  select probe_id, vec_id, qdot,
         row_number() over (partition by probe_id
                            order by qdot desc, vec_id) as rk
  from scored
)
select probe_id, vec_id, qdot, cast(rk as bigint) as rk
from ranked where rk <= {TOP_K}
"""


@register(
    "sim_sq_int8_ann",
    f"Scalar-quantized (int8) top-{TOP_K} ANN: train per-dimension "
    "[min, max] in ONE partial-aggregated pass (128 agg expressions, no "
    "explode), broadcast the 1-row range, code every vector to signed "
    "int8 map-side (4x memory vs float32 -- the reason vector stores "
    "quantize), then rank candidates by the integer dot product of "
    "codes. Probes broadcast against the coded corpus exactly like the "
    "float brute-force path, but every score is an exact bigint -- "
    "quantization is the rare ANN variant that gets MORE verifiable at "
    "scale, not less.",
    SQ_ORACLE,
    "similarity", "ann", "quantization",
)
def sim_sq_int8_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir).select("vec_id", "v")
    rng = emb.agg(
        F.array(
            *[F.min(F.element_at("v", i + 1)) for i in range(DIM)]
        ).alias("mn"),
        F.array(
            *[F.max(F.element_at("v", i + 1)) for i in range(DIM)]
        ).alias("mx"),
    )
    code_expr = f"""
      transform(sequence(0, {DIM - 1}), i ->
        cast(cast(case when element_at(mx, i + 1) = element_at(mn, i + 1)
                  then 0
                  else least({SQ_LEVELS - 1},
                       floor((element_at(v, i + 1) - element_at(mn, i + 1))
                             / (element_at(mx, i + 1) - element_at(mn, i + 1))
                             * {SQ_LEVELS}))
                  end as int) - 128 as tinyint))
    """
    q = emb.crossJoin(F.broadcast(rng)).select(
        "vec_id", F.expr(code_expr).alias("code")
    )
    probes = F.broadcast(
        q.where(F.col("vec_id") < N_PROBES).select(
            F.col("vec_id").alias("probe_id"), F.col("code").alias("pcode")
        )
    )
    qdot = F.expr(
        "aggregate(zip_with(pcode, code,"
        " (x, y) -> cast(x as bigint) * cast(y as bigint)),"
        " 0L, (acc, t) -> acc + t)"
    )
    return top_k_per_probe(
        probes.join(q, F.col("vec_id") != F.col("probe_id")).select(
            "probe_id", "vec_id", qdot.alias("qdot")
        ),
        TOP_K,
        "qdot",
    ).select("probe_id", "vec_id", "qdot", "rk")


# ---------------------------------------------------------------------------
# Matryoshka-truncation recall: score the classic MRL trade-off -- how
# much of the exact top-k survives when only the first d dimensions of
# the embedding are used (prefix dims carry most of the signal in
# matryoshka-trained embeddings; this measures that claim on the corpus).
# ---------------------------------------------------------------------------

MRL_DIMS = (8, 16, 32)

MRL_ORACLE = f"""
with e as (select vec_id, list_transform(embedding, x -> cast(x as double)) v
           from embeddings),
dims as (select unnest([{", ".join(str(d) for d in (*MRL_DIMS, DIM))}]) as dim),
sliced as (
  select dim, vec_id, v[1:dim] as vd, list_dot_product(v[1:dim], v[1:dim]) as sq
  from dims cross join e
),
probes as (select dim as pdim, vec_id as probe_id, vd as pv, sq as psq
           from sliced where vec_id < {N_PROBES}),
scored as (
  select pdim as dim, probe_id, vec_id,
         list_dot_product(pv, vd) / (sqrt(psq) * sqrt(sq)) as cos
  from probes join sliced on pdim = dim and vec_id <> probe_id
),
ranked as (
  select dim, probe_id, vec_id,
         row_number() over (partition by dim, probe_id
                            order by cos desc, vec_id) as rk
  from scored
),
topk as (select dim, probe_id, vec_id from ranked where rk <= {TOP_K}),
full_k as (select probe_id, vec_id from topk where dim = {DIM}),
hits as (
  select t.dim, t.probe_id,
         sum(case when f.vec_id is null then 0 else 1 end) as n_hits
  from topk t
  left join full_k f
    on f.probe_id = t.probe_id and f.vec_id = t.vec_id
  where t.dim <> {DIM}
  group by 1, 2
)
select cast(dim as bigint) as dim, probe_id,
       cast(n_hits as bigint) as n_hits,
       n_hits / {TOP_K}.0 as recall
from hits
"""


@register(
    "sim_matryoshka_recall",
    f"Matryoshka (MRL) truncation recall: for prefix dims {MRL_DIMS}, "
    f"compute cosine top-{TOP_K} using only the first d embedding "
    f"dimensions and report overlap with the full {DIM}-dim exact "
    "top-k, per probe. One corpus scan fans out all dim variants via "
    "explode (slice is a per-row projection, not a reshuffle); probes "
    "broadcast; one window ranks every (dim, probe) list. The 100 TB "
    "play: prefix-truncated search costs d/D of the full scan's FLOPs "
    "and memory bandwidth -- this query MEASURES what that buys and "
    "what it loses, per probe.",
    MRL_ORACLE,
    "similarity", "ann", "matryoshka",
)
def sim_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir).select("vec_id", "v")
    alldims = (*MRL_DIMS, DIM)
    sliced = emb.select(
        "vec_id",
        F.explode(F.array(*[F.lit(d) for d in alldims])).alias("dim"),
        "v",
    ).select(
        "dim",
        "vec_id",
        F.expr("slice(v, 1, dim)").alias("vd"),
    ).withColumn("sq", squared_norm("vd"))
    probes = F.broadcast(
        sliced.where(F.col("vec_id") < N_PROBES).select(
            F.col("dim").alias("pdim"),
            F.col("vec_id").alias("probe_id"),
            F.col("vd").alias("pv"),
            F.col("sq").alias("psq"),
        )
    )
    cos = cosine_similarity("pv", "vd", "psq", "sq")
    w = Window.partitionBy("dim", "probe_id").orderBy(
        F.col("cos").desc(), F.col("vec_id")
    )
    topk = (
        probes.join(
            sliced,
            (F.col("pdim") == F.col("dim"))
            & (F.col("vec_id") != F.col("probe_id")),
        )
        .select("dim", "probe_id", "vec_id", cos.alias("cos"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TOP_K)
        .select("dim", "probe_id", "vec_id")
    )
    topk = _persist_swap(spark, "mrl_topk", topk)
    full_k = topk.where(F.col("dim") == DIM).select(
        F.col("probe_id").alias("f_probe"), F.col("vec_id").alias("f_vec")
    )
    return (
        topk.where(F.col("dim") != DIM)
        .join(
            F.broadcast(full_k),
            (F.col("probe_id") == F.col("f_probe"))
            & (F.col("vec_id") == F.col("f_vec")),
            "left",
        )
        .groupBy("dim", "probe_id")
        .agg(
            F.sum(
                F.when(F.col("f_vec").isNull(), 0).otherwise(1)
            ).alias("n_hits")
        )
        .select(
            F.col("dim").cast("bigint").alias("dim"),
            "probe_id",
            F.col("n_hits").cast("bigint").alias("n_hits"),
            (F.col("n_hits") / F.lit(float(TOP_K))).alias("recall"),
        )
    )


# ---------------------------------------------------------------------------
# IVF nprobe tuning curve: recall@k as a function of how many coarse
# cells each probe visits -- the knob every IVF deployment tunes.
# ---------------------------------------------------------------------------

NPROBE_STEPS = (1, 2, 4)

NPROBE_ORACLE = f"""
with {{KMEANS_CTES}},
passign as (
  select probe_id, cid, crk from (
    select n.vec_id as probe_id, c1n.cid,
           row_number() over (
             partition by n.vec_id
             order by n.sq - 2 * list_dot_product(n.v, c1n.c) + c1n.csq,
                      c1n.cid
           ) as crk
    from n cross join c1n
    where n.vec_id < {N_PROBES}
  ) where crk <= {max(NPROBE_STEPS)}
),
np as (select unnest([{", ".join(str(s) for s in NPROBE_STEPS)}]) as nprobe),
cand as (
  select np.nprobe, pa.probe_id, m.vec_id
  from np
  cross join passign pa
  join a2 m on m.cid = pa.cid and m.vec_id <> pa.probe_id
  where pa.crk <= np.nprobe
),
scored as (
  select c.nprobe, c.probe_id, c.vec_id,
         list_dot_product(p.v, d.v) / (sqrt(p.sq) * sqrt(d.sq)) as cos
  from cand c
  join n p on p.vec_id = c.probe_id
  join n d on d.vec_id = c.vec_id
),
ranked as (
  select nprobe, probe_id, vec_id,
         row_number() over (partition by nprobe, probe_id
                            order by cos desc, vec_id) as rk
  from scored
),
topk as (select nprobe, probe_id, vec_id from ranked where rk <= {TOP_K}),
brute as ({{BRUTE}}),
hits as (
  select t.nprobe, t.probe_id,
         sum(case when b.vec_id is null then 0 else 1 end) as n_hits
  from topk t
  left join brute b
    on b.probe_id = t.probe_id and b.vec_id = t.vec_id
  group by 1, 2
)
select cast(nprobe as bigint) as nprobe, probe_id,
       cast(n_hits as bigint) as n_hits,
       n_hits / {TOP_K}.0 as recall
from hits
"""


def _np_oracle_valid(sf_dir: str) -> bool:
    """The oracle replicates the fixed K_CLUSTERS floor; valid while
    adaptive K sits on it (N <= 512). Beyond that the driver falls back
    to rows-only, by design (same discipline as dedup_semantic)."""
    from clueso_spark.sources.tables import table_row_count

    return adaptive_k(table_row_count(sf_dir, "embeddings")) == K_CLUSTERS


def _np_adaptive_oracle(sf_dir: str) -> str | None:
    """sf-adaptive nprobe-curve oracle (round 15): the same SQL with
    the k-means CTE chain built at the adaptive K the Spark side
    derives for THIS corpus -- flat through K < HIER_MIN_K (sf0.1's
    K=16), two-level hierarchical at and above it (the probe-to-cell
    ranking in the oracle body stays flat, exactly as the Spark side
    ranks its handful of probes against all K cells)."""
    from clueso_spark.sources.tables import table_row_count

    k = adaptive_k(table_row_count(sf_dir, "embeddings"))
    return NPROBE_ORACLE.format(
        KMEANS_CTES=kmeans_ctes_adaptive(k), BRUTE=BRUTE_ORACLE
    )


@register(
    "sim_ivf_nprobe_curve",
    f"IVF tuning curve: recall@{TOP_K} vs nprobe in {NPROBE_STEPS} "
    "against the exact brute-force top-k, per probe. ONE probe-to-cell "
    "ranking (row_number over centroid distance, kept to max nprobe) "
    "serves every curve point; candidates come from the keyed "
    "cell-membership equi-join, so raising nprobe multiplies only the "
    "probe-side fanout, never re-scans the corpus. K scales as "
    "N/TARGET_CELL (hierarchical assignment past the flat threshold), "
    "so cell population -- and per-probe candidate cost -- stays flat "
    "as the corpus grows; the fixed-K oracle is valid at the gate's "
    "floor and guarded by oracle_valid. This is the measurement that "
    "picks the operating point on the recall/latency frontier before "
    "an IVF index ships.",
    NPROBE_ORACLE.format(KMEANS_CTES=_KMEANS_CTES, BRUTE=BRUTE_ORACLE),
    "similarity", "ann", "ivf", "evaluation",
    oracle_valid=_np_oracle_valid,
    oracle_adaptive=_np_adaptive_oracle,
)
def sim_ivf_nprobe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clueso_spark.sources.tables import table_row_count

    k = adaptive_k(table_row_count(sf_dir, "embeddings"))
    emb = _emb(spark, sf_dir)
    # the k centroids are tiny but carry the whole Lloyd round; both
    # consumers (members' assign, the probe cell ranking) re-ran it
    # from parquet when unpinned
    c1 = _persist_swap(
        spark,
        "nprobe_c1",
        _lloyd_c1(emb, k=k, assign_fn=lambda e, c: assign_nearest(e, c, k)),
    )
    members = assign_nearest(emb, c1, k).select("vec_id", "cid", "v", "sq")
    members = _persist_swap(spark, "nprobe_members", members)
    # probes and the exact baseline both read the pinned members frame
    # (it carries full-precision v + sq) instead of opening fresh corpus
    # scans -- same values, zero extra reads
    probes = probe_rows(members)
    pdist = squared_l2("pv", "c", "psq", "csq")
    w_cell = Window.partitionBy("probe_id").orderBy("pdist", "cid")
    passign = (
        probes.join(F.broadcast(c1), F.lit(True))
        .select("probe_id", "pv", "psq", "cid", pdist.alias("pdist"))
        .withColumn("crk", F.row_number().over(w_cell))
        .where(F.col("crk") <= max(NPROBE_STEPS))
        .drop("pdist")
    )
    steps = F.explode(
        F.array(*[F.lit(s) for s in NPROBE_STEPS])
    ).alias("nprobe")
    fanout = passign.select(steps, "probe_id", "pv", "psq", "cid", "crk").where(
        F.col("crk") <= F.col("nprobe")
    )
    cos = cosine_similarity("pv", "v", "psq", "sq")
    w = Window.partitionBy("nprobe", "probe_id").orderBy(
        F.col("cos").desc(), F.col("vec_id")
    )
    topk = (
        F.broadcast(fanout)
        .join(
            members,
            (members.cid == fanout.cid)
            & (members.vec_id != fanout.probe_id),
        )
        .select("nprobe", "probe_id", "vec_id", cos.alias("cos"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TOP_K)
        .select("nprobe", "probe_id", "vec_id")
    )
    brute = _brute_topk_from(members.select("vec_id", "v", "sq")).select(
        F.col("probe_id").alias("b_probe"), F.col("vec_id").alias("b_vec")
    )
    return (
        topk.join(
            F.broadcast(brute),
            (F.col("probe_id") == F.col("b_probe"))
            & (F.col("vec_id") == F.col("b_vec")),
            "left",
        )
        .groupBy("nprobe", "probe_id")
        .agg(
            F.sum(
                F.when(F.col("b_vec").isNull(), 0).otherwise(1)
            ).alias("n_hits")
        )
        .select(
            F.col("nprobe").cast("bigint").alias("nprobe"),
            "probe_id",
            F.col("n_hits").cast("bigint").alias("n_hits"),
            (F.col("n_hits") / F.lit(float(TOP_K))).alias("recall"),
        )
    )


# ---------------------------------------------------------------------------
# MMR diversified re-ranking: the retrieval stage between ANN shortlist
# and the user -- greedily trade relevance against redundancy. The
# greedy argmax is inherently sequential, so the iteration is unrolled
# into a FIXED number of plan rounds (the PageRank trick): every score
# is a double computed from identical operands in both engines, which
# keeps the whole greedy trajectory hash-verifiable.
# ---------------------------------------------------------------------------

MMR_K = 5     # diversified picks per probe
MMR_LAM = 0.7  # relevance weight; (1 - LAM) penalizes redundancy


def _mmr_step_sql(t: int) -> str:
    prev = ", ".join(f"sel{i}" for i in range(1, t))
    prev_union = " union all ".join(
        f"select probe_id, vec_id from sel{i}" for i in range(1, t)
    )
    return f"""
rem{t} as (
  select c.probe_id, c.vec_id, c.rel
  from cand c
  where not exists (
    select 1 from ({prev_union}) s
    where s.probe_id = c.probe_id and s.vec_id = c.vec_id
  )
),
sc{t} as (
  select r.probe_id, r.vec_id, r.rel,
         {MMR_LAM} * r.rel - {round(1 - MMR_LAM, 10)} * max(s.sim) as score
  from rem{t} r
  join sims s on s.probe_id = r.probe_id and s.va = r.vec_id
  join ({prev_union}) p
    on p.probe_id = r.probe_id and s.vb = p.vec_id
  group by r.probe_id, r.vec_id, r.rel
),
sel{t} as (
  select probe_id, vec_id, score, {t} as step from (
    select probe_id, vec_id, score,
           row_number() over (partition by probe_id
                              order by score desc, vec_id) as rk
    from sc{t}) where rk = 1
)"""


MMR_ORACLE = f"""
with e as (select vec_id, list_transform(embedding, x -> cast(x as double)) v
           from embeddings),
n as (select vec_id, v, list_dot_product(v, v) sq from e),
probes as (select vec_id as probe_id, v as pv, sq as psq from n
           where vec_id < {N_PROBES}),
ranked as (
  select probe_id, vec_id, cos, v, sq,
         row_number() over (partition by probe_id
                            order by cos desc, vec_id) as rk
  from (
    select probe_id, vec_id,
           list_dot_product(pv, v) / (sqrt(psq) * sqrt(sq)) as cos,
           v, sq
    from probes join n on vec_id <> probe_id
  )
),
cand as (select probe_id, vec_id, cos as rel, v, sq
         from ranked where rk <= {TOP_K}),
sims as (
  select a.probe_id, a.vec_id as va, b.vec_id as vb,
         list_dot_product(a.v, b.v) / (sqrt(a.sq) * sqrt(b.sq)) as sim
  from cand a join cand b
    on a.probe_id = b.probe_id and a.vec_id <> b.vec_id
),
sel1 as (
  select probe_id, vec_id, rel as score, 1 as step from (
    select probe_id, vec_id, rel,
           row_number() over (partition by probe_id
                              order by rel desc, vec_id) as rk
    from cand) where rk = 1
),
{",".join(_mmr_step_sql(t).strip() for t in range(2, MMR_K + 1))}
select probe_id, cast(step as bigint) as step, vec_id,
       round(score, 6) as mmr_score
from ({" union all ".join(f"select * from sel{t}" for t in range(1, MMR_K + 1))})
"""


@register(
    "sim_mmr_rerank",
    f"MMR diversified re-ranking: from each probe's exact top-{TOP_K} "
    f"shortlist, greedily pick {MMR_K} results maximizing "
    f"{MMR_LAM}*relevance - {round(1 - MMR_LAM, 2)}*max-similarity-to-"
    "already-picked -- the stage between ANN shortlist and the user "
    "that stops near-duplicate hits crowding the page. The greedy "
    "argmax is sequential by nature, so it unrolls into MMR_K fixed "
    "plan rounds over the BROADCAST shortlist (tiny: probes x k rows; "
    "the corpus is touched only by the shortlist build) -- and every "
    "score divides/multiplies identical doubles in both engines, so "
    "the full greedy trajectory is hash-verified, not approximated. "
    "The greedy loop itself runs INSIDE one applyInPandas over probe "
    "groups: MMR state is per-probe (k x k rel/sim doubles), so the "
    "sequential picks parallelize perfectly ACROSS probes -- one "
    "shuffle on probe_id, zero driver round-trips, and at 1M probes "
    "the rerank stage is still a single embarrassingly-parallel job.",
    MMR_ORACLE,
    "similarity", "rerank", "mmr", "iterative",
)
def sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    probes = F.broadcast(probe_rows(emb))
    cos = cosine_similarity("pv", "v", "psq", "sq")
    w = Window.partitionBy("probe_id").orderBy(
        F.col("rel").desc(), F.col("vec_id")
    )
    cand = (
        probes.join(emb, F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", "vec_id", cos.alias("rel"), "v", "sq")
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TOP_K)
        .drop("rk")
    )
    cand = _persist_swap(spark, "mmr_cand", cand)
    b = cand.select(
        F.col("probe_id").alias("b_probe"),
        F.col("vec_id").alias("vb"),
        F.col("v").alias("bv"),
        F.col("sq").alias("bsq"),
    )
    sim = cosine_similarity("v", "bv", "sq", "bsq")
    sims = (
        cand.join(
            b,
            (F.col("probe_id") == F.col("b_probe"))
            & (F.col("vec_id") != F.col("vb")),
        )
        .select(
            "probe_id", F.col("vec_id").alias("va"), "vb", sim.alias("sim")
        )
    )
    # One row per (probe, va, vb) carrying va's relevance alongside the
    # pairwise similarity -- the complete per-probe MMR state (k*(k-1)
    # rows of doubles, all JVM-computed so both engines see identical
    # bits). The greedy argmax is sequential WITHIN a probe but
    # independent ACROSS probes, so it runs in one applyInPandas: one
    # shuffle on probe_id, then every probe's full greedy trajectory in
    # a single Arrow batch. (Round 6 claimed a "9 jobs -> 2" fusion that
    # did not exist; this round's plan is the real fix -- quiet cost
    # dropped from ~4.9 s to the shortlist-build floor.)
    rel = cand.select(
        "probe_id", F.col("vec_id").alias("va"), "rel"
    )
    state = rel.join(sims, ["probe_id", "va"])
    lam, lam2 = MMR_LAM, round(1 - MMR_LAM, 10)
    k = MMR_K

    def greedy(pdf):
        import pandas as pd

        probe = pdf["probe_id"].iloc[0]
        # float64 throughout: every arithmetic op below (mult, sub, max,
        # comparison) is the same IEEE-754 double op the old unrolled
        # JVM plan performed, so the oracle hash is unchanged.
        rel_of = {}
        sim_of = {}
        for va, r, vb, s in zip(
            pdf["va"].to_numpy(),
            pdf["rel"].to_numpy(),
            pdf["vb"].to_numpy(),
            pdf["sim"].to_numpy(),
        ):
            rel_of[int(va)] = float(r)
            sim_of[(int(va), int(vb))] = float(s)
        remaining = set(rel_of)
        picked: list[int] = []
        out = []
        for t in range(1, k + 1):
            if not remaining:
                break
            if t == 1:
                score_of = {v: rel_of[v] for v in remaining}
            else:
                score_of = {
                    v: lam * rel_of[v]
                    - lam2 * max(sim_of[(v, p)] for p in picked)
                    for v in remaining
                }
            # argmax score, ties broken by vec_id asc (= the old
            # row_number() over (order by score desc, vec_id))
            best = min(remaining, key=lambda v: (-score_of[v], v))
            out.append((probe, t, best, score_of[best]))
            picked.append(best)
            remaining.discard(best)
        return pd.DataFrame(
            out, columns=["probe_id", "step", "vec_id", "score"]
        )

    picked = state.groupBy("probe_id").applyInPandas(
        greedy,
        "probe_id bigint, step bigint, vec_id bigint, score double",
    )
    return picked.select(
        "probe_id",
        "step",
        "vec_id",
        F.round("score", 6).alias("mmr_score"),
    )
