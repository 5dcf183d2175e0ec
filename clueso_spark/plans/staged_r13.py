"""Operators staged in round 12, PROMOTED in round 13.

Same life-cycle as staged_r6 .. staged_r12 (all promoted): ship now as
library code with full pytest parity coverage (tests/test_staged_r13.py
runs the exact driver comparison -- row count + schema + order-
insensitive value hash -- against DuckDB oracles at sf0.001 and
sf0.01) because the round-12 driver window (50 slots) is fully
allocated: 28 mandatory r7 leftovers + 21 promotions + 1 changed-code.
Round 13's window arithmetic (tests/test_entry.py): the 5 deferred r12
promotions + the 41 r8 leftovers are mandatory (46 slots), leaving
exactly FOUR free slots -- this tier is sized to that capacity, so
every staged name can promote without creating new deferral debt.

What this tier adds (absent from both the reference and the live
catalog; the first two are the r11 verdict's named candidates):
  * filtered / predicate ANN (`sim_filtered_ann`) -- the production
    vector-search shape: a metadata predicate (tenant) applied INSIDE
    the IVF probe path (prefilter) vs applied after the unfiltered
    top-k (postfilter), both scored against the exact predicate-aware
    ground truth, per probe, in exact integer hit counts -- the
    prefilter-vs-postfilter recall gap is hash-verified output, not a
    claim;
  * incremental CDC chunk-store maintenance (`mm_cdc_store_delta`) --
    the compactor's LSM discipline applied to the content-addressed
    chunk store: apply a snapshot delta (payload deletes + inserts) to
    the OLD store's refcounts and GC zero-ref chunks; the DuckDB
    oracle rebuilds the store from the NEW snapshot from scratch, so
    parity proves delta-apply == rebuild entry-for-entry (the sibling
    of dedup_minhash_index_delta, on binary payloads);
  * cohort retention matrix (`ev_retention_cohort_matrix`) -- the
    classic (signup-week x week-offset) retention triangle in exact
    integers: absolute epoch weeks, per-cohort sizes, permyriad
    retention by integer division;
  * CUSUM drift detection (`window_cusum_changepoint`) -- per-user
    one-sided CUSUM over exact cents via the prefix-min identity
    S_t = P_t - min(0, min_{j<=t} P_j) (two stacked keyed windows, no
    recurrence, no UDF), alarm counts and first-alarm ids as output.

100 TB notes per op live in the docstrings; the shared discipline:
probes/centroids broadcast, corpora touched by keyed shuffles only,
all comparisons in exact integers or bit-identical double arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clueso_spark.functions.vectors import cosine_similarity, squared_norm
from clueso_spark.plans.catalog import persist_swap, register
from clueso_spark.plans.similarity_queries import DIM, N_PROBES, probe_rows
from clueso_spark.plans.staged_r11 import _DAY_US
from clueso_spark.plans.staged_r12 import (
    _GC_CHUNK_CTES,
    _md5_mod,
    _md5_mod_sql,
)
from clueso_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# Filtered / predicate ANN: the production vector-search shape. Every
# real corpus query carries a metadata predicate (tenant, language,
# date range); the engine can either push it INTO the probe path
# (prefilter: score only predicate-passing vectors in the probed
# cells) or apply it AFTER the unfiltered top-k (postfilter: cheap,
# but the filter eats the result list). This op runs BOTH against the
# exact predicate-aware ground truth and emits per-probe hit counts,
# so the recall gap -- the reason filtered ANN is its own literature
# -- is hash-verified output.
#
# 100 TB: centroids (one per IVF cell) and the 5 probes broadcast; the
# corpus is touched by (a) one keyed centroid-build aggregate and (b)
# broadcast-hash joins on the cell key. The predicate lands in the
# same scan as the cell filter, so at scale it rides partition pruning
# (tenant is exactly the kind of column a 100 TB corpus partitions
# by). No all-pairs anywhere; the ground-truth brute-force arm scans
# the TENANT SLICE only (1/_FANN_TENANTS of the corpus), which is the
# honest exact baseline a production recall audit would run.
# ---------------------------------------------------------------------------

_FANN_TENANTS = 4
_FANN_NPROBE = 2
_FANN_TOPK = 5


@register(
    "sim_filtered_ann",
    f"Filtered ANN, prefilter vs postfilter: tenant = md5(vec_id) mod "
    f"{_FANN_TENANTS}; per probe (vec_id < {N_PROBES}, target "
    f"tenant = probe_id mod {_FANN_TENANTS}), probe the "
    f"{_FANN_NPROBE} nearest IVF cells (decimal-exact centroids), "
    f"then (a) PREFILTER: top-{_FANN_TOPK} among predicate-passing "
    f"cell members, (b) POSTFILTER: unfiltered top-{_FANN_TOPK} then "
    "filter. Both arms score against the exact tenant-slice "
    "brute-force truth; output = per-probe candidate/survivor/hit "
    "counts in exact integers. The prefilter-vs-postfilter recall gap "
    "is the hash-verified payload.",
    f"""
    with e as (select vec_id,
                      list_transform(embedding, x -> cast(x as double)) v,
                      label,
                      {_md5_mod_sql("cast(vec_id as varchar)", _FANN_TENANTS)}
                        as tenant
               from embeddings),
    n as (select vec_id, label, tenant, v, list_dot_product(v, v) sq from e),
    cent as (
      select label as cell, list(m order by pos) as cv from (
        select label, i as pos,
               cast(sum(cast(v[i] as decimal(28,14))) as double) / count(*)
                 as m
        from e cross join generate_series(1, {DIM}) as t(i)
        group by label, i)
      group by label
    ),
    cn as (select cell, cv, list_dot_product(cv, cv) as csq from cent),
    probes as (select vec_id as probe_id, v as pv, sq as psq,
                      vec_id % {_FANN_TENANTS} as target
               from n where vec_id < {N_PROBES}),
    assign as (
      select probe_id, target, pv, psq, cell from (
        select probes.probe_id, probes.target, probes.pv, probes.psq,
               cn.cell,
               row_number() over (
                 partition by probes.probe_id
                 order by list_dot_product(pv, cv)
                          / (sqrt(psq) * sqrt(csq)) desc, cn.cell) as crk
        from probes cross join cn) where crk <= {_FANN_NPROBE}
    ),
    cand as (
      select a.probe_id, a.target, n.vec_id, n.tenant,
             list_dot_product(a.pv, n.v) / (sqrt(a.psq) * sqrt(n.sq)) as cos
      from assign a join n on n.label = a.cell
      where n.vec_id <> a.probe_id
    ),
    pre as (
      select probe_id, vec_id from (
        select probe_id, vec_id,
               row_number() over (partition by probe_id
                                  order by cos desc, vec_id) as rk
        from cand where tenant = target) where rk <= {_FANN_TOPK}
    ),
    post as (
      select probe_id, vec_id from (
        select probe_id, vec_id, tenant, target,
               row_number() over (partition by probe_id
                                  order by cos desc, vec_id) as rk
        from cand) where rk <= {_FANN_TOPK} and tenant = target
    ),
    truth as (
      select probe_id, vec_id from (
        select p.probe_id, n.vec_id,
               row_number() over (
                 partition by p.probe_id
                 order by list_dot_product(p.pv, n.v)
                          / (sqrt(p.psq) * sqrt(n.sq)) desc, n.vec_id) as rk
        from probes p join n on n.tenant = p.target
        where n.vec_id <> p.probe_id) where rk <= {_FANN_TOPK}
    )
    select p.probe_id,
           cast(p.target as bigint) as target_tenant,
           cast((select count(*) from n
                 where n.tenant = p.target and n.vec_id <> p.probe_id)
                as bigint) as n_tenant_corpus,
           cast((select count(*) from cand c
                 where c.probe_id = p.probe_id and c.tenant = p.target)
                as bigint) as n_candidates_pre,
           cast((select count(*) from truth t
                 where t.probe_id = p.probe_id) as bigint) as n_truth,
           cast((select count(*) from pre
                 where pre.probe_id = p.probe_id) as bigint) as n_pre,
           cast((select count(*) from pre join truth
                   on pre.probe_id = truth.probe_id
                  and pre.vec_id = truth.vec_id
                 where pre.probe_id = p.probe_id) as bigint) as pre_hits,
           cast((select count(*) from post
                 where post.probe_id = p.probe_id) as bigint)
             as n_post_survivors,
           cast((select count(*) from post join truth
                   on post.probe_id = truth.probe_id
                  and post.vec_id = truth.vec_id
                 where post.probe_id = p.probe_id) as bigint) as post_hits
    from probes p
    """,
    "similarity", "ann", "filtered",
)
def sim_filtered_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            "label",
            F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
        )
        .withColumn("tenant", _md5_mod(F.col("vec_id").cast("string"), _FANN_TENANTS))
        .withColumn("sq", squared_norm("v"))
    )
    emb = persist_swap(spark, "fann_emb", emb)
    # decimal-exact per-cell centroids (the sim_ivf_cells discipline:
    # order-independent sums, bit-identical cross-engine)
    cent = (
        emb.select("label", F.posexplode("v").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(
            (
                F.sum(F.col("val").cast("decimal(28,14)")).cast("double")
                / F.count("*")
            ).alias("m")
        )
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select(
            F.col("label").alias("cell"),
            F.expr("transform(pm, x -> x.m)").alias("cv"),
        )
        .withColumn("csq", squared_norm("cv"))
    )
    probes = probe_rows(
        emb, (F.col("vec_id") % _FANN_TENANTS).alias("target")
    )
    ccos = cosine_similarity("pv", "cv", "psq", "csq")
    w_cell = Window.partitionBy("probe_id").orderBy(
        F.col("ccos").desc(), F.col("cell")
    )
    assign = (
        probes.join(F.broadcast(cent), F.lit(True))
        .select("probe_id", "target", "pv", "psq", "cell", ccos.alias("ccos"))
        .withColumn("crk", F.row_number().over(w_cell))
        .where(F.col("crk") <= _FANN_NPROBE)
        .drop("ccos", "crk")
    )
    cos = cosine_similarity("pv", "v", "psq", "sq")
    cand = persist_swap(
        spark,
        "fann_cand",
        F.broadcast(assign)
        .join(
            emb,
            (F.col("label") == F.col("cell"))
            & (F.col("vec_id") != F.col("probe_id")),
        )
        .select("probe_id", "target", "vec_id", "tenant", cos.alias("cos")),
    )
    w_rank = Window.partitionBy("probe_id").orderBy(
        F.col("cos").desc(), F.col("vec_id")
    )
    pre = (
        cand.where(F.col("tenant") == F.col("target"))
        .withColumn("rk", F.row_number().over(w_rank))
        .where(F.col("rk") <= _FANN_TOPK)
        .select("probe_id", "vec_id")
    )
    post = (
        cand.withColumn("rk", F.row_number().over(w_rank))
        .where(
            (F.col("rk") <= _FANN_TOPK)
            & (F.col("tenant") == F.col("target"))
        )
        .select("probe_id", "vec_id")
    )
    # exact ground truth over the tenant slice: probes broadcast, the
    # slice scanned once (the sanctioned tiny-broadcast NLJ shape)
    truth = persist_swap(
        spark,
        "fann_truth",
        F.broadcast(probes)
        .join(
            emb,
            (F.col("tenant") == F.col("target"))
            & (F.col("vec_id") != F.col("probe_id")),
        )
        .select("probe_id", "vec_id", cos.alias("cos"))
        .withColumn("rk", F.row_number().over(w_rank))
        .where(F.col("rk") <= _FANN_TOPK)
        .select("probe_id", "vec_id"),
    )
    n_tenant = (
        F.broadcast(probes.select("probe_id", "target"))
        .join(
            emb.select("vec_id", "tenant"),
            (F.col("tenant") == F.col("target"))
            & (F.col("vec_id") != F.col("probe_id")),
        )
        .groupBy("probe_id")
        .agg(F.count("*").cast("bigint").alias("n_tenant_corpus"))
    )
    n_cand_pre = (
        cand.where(F.col("tenant") == F.col("target"))
        .groupBy("probe_id")
        .agg(F.count("*").cast("bigint").alias("n_candidates_pre"))
    )
    n_truth = truth.groupBy("probe_id").agg(
        F.count("*").cast("bigint").alias("n_truth")
    )
    # survivor count + truth hits in ONE pass per arm (the left join
    # keeps every survivor row; counting the matched subset in the same
    # aggregate halves the per-arm job fan-out -- guide §1.5/§7: the
    # sub-2 s tail is driver/AQE round-trip bound, so fewer tiny jobs
    # IS the optimization)
    tmark = truth.withColumn("hit", F.lit(1))
    pre_stats = (
        pre.join(F.broadcast(tmark), ["probe_id", "vec_id"], "left")
        .groupBy("probe_id")
        .agg(
            F.count("*").cast("bigint").alias("n_pre"),
            F.count("hit").cast("bigint").alias("pre_hits"),
        )
    )
    post_stats = (
        post.join(F.broadcast(tmark), ["probe_id", "vec_id"], "left")
        .groupBy("probe_id")
        .agg(
            F.count("*").cast("bigint").alias("n_post_survivors"),
            F.count("hit").cast("bigint").alias("post_hits"),
        )
    )
    base = probes.select(
        "probe_id", F.col("target").cast("bigint").alias("target_tenant")
    )
    out = base
    # every per-probe count frame is <= N_PROBES rows: broadcast
    # the assembly joins so the 5-row report never plans a sort-merge
    for frame, cols in (
        (n_tenant, ["n_tenant_corpus"]),
        (n_cand_pre, ["n_candidates_pre"]),
        (n_truth, ["n_truth"]),
        (pre_stats, ["n_pre", "pre_hits"]),
        (post_stats, ["n_post_survivors", "post_hits"]),
    ):
        out = out.join(F.broadcast(frame), "probe_id", "left")
        for col in cols:
            out = out.withColumn(
                col, F.coalesce(F.col(col), F.lit(0)).cast("bigint")
            )
    return out


# ---------------------------------------------------------------------------
# Incremental CDC chunk-store maintenance: the LSM discipline on the
# content-addressed store. OLD snapshot = payloads outside md5
# quintile 0; NEW snapshot = payloads outside quintile 1. The delta is
# therefore quintile-0 INSERTS and quintile-1 DELETES. The Spark side
# maintains the store INCREMENTALLY -- old refcounts, minus delete
# decrements, plus insert increments, GC at refcount 0 -- while the
# DuckDB oracle rebuilds the store from the NEW snapshot from scratch.
# Parity proves delta-apply == rebuild entry-for-entry: the exact
# guarantee an incremental 100 TB store maintenance job must give,
# proven as output data (the dedup_minhash_index_delta trick, applied
# to binary chunk stores).
#
# 100 TB: the delta cohorts are small relative to the store (here 20%
# each by construction; in production, a day's churn); every frame is
# a chunk_hash-keyed aggregate or join, so the maintenance cost scales
# with |delta| + |touched chunks|, never with the corpus.
# ---------------------------------------------------------------------------


@register(
    "mm_cdc_store_delta",
    "Incremental chunk-store maintenance: apply the snapshot delta "
    "(md5-quintile-1 payload deletes + quintile-0 inserts) to the OLD "
    "store's per-chunk refcounts and GC zero-ref chunks; the oracle "
    "REBUILDS the store from the NEW snapshot, so parity proves "
    "delta-apply == rebuild entry-for-entry (chunk_hash, refcount, "
    "blocks). LSM discipline for content-addressed stores, exact.",
    # oracle: rebuild the store from the NEW snapshot directly (the
    # from-scratch ground truth the incremental path must match);
    # chunk identity CTEs shared with the GC-accounting oracle
    f"""
    with {_GC_CHUNK_CTES},
    q as (
      select doc_id, chunk_hash, nb,
             {_md5_mod_sql("cast(doc_id as varchar)", 5)} as quintile
      from ch
    )
    select chunk_hash,
           cast(count(*) as bigint) as refcount,
           cast(max(nb) as bigint) as nb
    from q where quintile <> 1
    group by chunk_hash
    """,
    "multimodal", "cdc", "incremental",
)
def mm_cdc_store_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clueso_spark.plans.staged_r11 import cdc_chunk_frame

    ch = cdc_chunk_frame(spark, sf_dir).withColumn(
        "quintile", _md5_mod(F.col("doc_id").cast("string"), 5)
    )
    ch = persist_swap(spark, "cdc_delta_ch", ch)
    # the OLD store (as an incremental job would have it on disk)
    old = (
        ch.where(F.col("quintile") != 0)
        .groupBy("chunk_hash")
        .agg(
            F.count("*").cast("bigint").alias("refcount"),
            F.max("nb").cast("bigint").alias("nb"),
        )
    )
    # delta decrements: chunk refs of the deleted (quintile-1) payloads
    dec = (
        ch.where(F.col("quintile") == 1)
        .groupBy("chunk_hash")
        .agg(F.count("*").cast("bigint").alias("dec"))
    )
    # delta increments: chunk refs of the inserted (quintile-0) payloads
    inc = (
        ch.where(F.col("quintile") == 0)
        .groupBy("chunk_hash")
        .agg(
            F.count("*").cast("bigint").alias("inc"),
            F.max("nb").cast("bigint").alias("inc_nb"),
        )
    )
    merged = (
        old.join(dec, "chunk_hash", "full")
        .join(inc, "chunk_hash", "full")
        .select(
            "chunk_hash",
            (
                F.coalesce(F.col("refcount"), F.lit(0))
                - F.coalesce(F.col("dec"), F.lit(0))
                + F.coalesce(F.col("inc"), F.lit(0))
            ).alias("refcount"),
            F.coalesce(F.col("nb"), F.col("inc_nb")).alias("nb"),
        )
    )
    # GC: zero-ref chunks leave the store (negative is impossible --
    # decrements only ever consume existing refs -- but the filter is
    # written as <= 0 so a bookkeeping bug surfaces as a parity
    # mismatch, not a silent negative refcount)
    return merged.where(F.col("refcount") > 0).select(
        "chunk_hash",
        F.col("refcount").cast("bigint").alias("refcount"),
        F.col("nb").cast("bigint").alias("nb"),
    )


# ---------------------------------------------------------------------------
# Cohort retention matrix: the (signup-week x week-offset) triangle
# every growth/engagement dashboard starts from. Exact integers: weeks
# are absolute epoch weeks (unix_micros div day div 7 -- no corpus
# rebasing, so no broadcast), cohort = per-user min week, retention in
# permyriad by integer division.
#
# 100 TB: distinct (user, week) one keyed aggregate; cohort = user-
# keyed min; the matrix = (cohort, offset)-keyed count joined to
# cohort sizes. Three shuffles on shrinking relations; no windows.
# ---------------------------------------------------------------------------


@register(
    "ev_retention_cohort_matrix",
    "Cohort retention triangle: cohort_week = per-user min absolute "
    "epoch week, week_offset = active week - cohort week; output "
    "(cohort_week, week_offset, n_active, cohort_size, permyriad "
    "retention = 10000 * n_active div cohort_size). Exact integers "
    "end-to-end; offset 0 rows are the cohort sizes themselves, so "
    "the triangle is self-consistent in the hash.",
    f"""
    with uw as (
      select distinct user_id,
             epoch_us(ts) // {_DAY_US} // 7 as week
      from events
    ),
    cohort as (
      select user_id, min(week) as cohort_week from uw group by user_id
    ),
    sizes as (
      select cohort_week, cast(count(*) as bigint) as cohort_size
      from cohort group by cohort_week
    ),
    act as (
      select c.cohort_week, uw.week - c.cohort_week as week_offset,
             cast(count(*) as bigint) as n_active
      from uw join cohort c on uw.user_id = c.user_id
      group by c.cohort_week, uw.week - c.cohort_week
    )
    select act.cohort_week, act.week_offset, act.n_active,
           s.cohort_size,
           cast(10000 * act.n_active // s.cohort_size as bigint)
             as retention_x10000
    from act join sizes s on act.cohort_week = s.cohort_week
    """,
    "events", "retention", "cohort",
)
def ev_retention_cohort_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    uw = (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id",
            F.expr(f"unix_micros(ts) div {_DAY_US} div 7").alias("week"),
        )
        .distinct()
    )
    uw = persist_swap(spark, "cohort_uw", uw)
    cohort = uw.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    sizes = cohort.groupBy("cohort_week").agg(
        F.count("*").cast("bigint").alias("cohort_size")
    )
    act = (
        uw.join(cohort, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(F.count("*").cast("bigint").alias("n_active"))
    )
    return act.join(sizes, "cohort_week").select(
        "cohort_week",
        "week_offset",
        "n_active",
        "cohort_size",
        F.expr("cast(10000 * n_active div cohort_size as bigint)").alias(
            "retention_x10000"
        ),
    )


# ---------------------------------------------------------------------------
# CUSUM change-point detection: the classic one-sided drift monitor,
# S_t = max(0, S_{t-1} + x_t - K), alarm when S_t > H -- the recurrence
# every streaming-drift textbook writes imperatively. Distributed
# exactly WITHOUT a recurrence via the prefix-min identity:
#   S_t = P_t - min(0, min_{j<=t} P_j),   P_t = sum_{j<=t} (x_j - K)
# so two stacked per-user windows (running sum, running min) compute
# it in one keyed sort. Exact cents; K/H in cents.
#
# 100 TB: user-keyed windows only -- the same partitioning discipline
# as the rolling-median/EWMA family; no global ordering anywhere.
# ---------------------------------------------------------------------------

_CUSUM_K_CENTS = 5_500  # drift allowance: slightly above the ~50.00 mean
_CUSUM_H_CENTS = 20_000  # alarm threshold: ~4 consecutive high events


@register(
    "window_cusum_changepoint",
    f"Per-user one-sided CUSUM over exact cents (K = {_CUSUM_K_CENTS}, "
    f"H = {_CUSUM_H_CENTS}): S_t = P_t - min(0, running min of P) via "
    "two stacked keyed windows (the prefix-min identity -- no "
    "recurrence, no UDF). Output per user: event count, alarm count, "
    "max CUSUM statistic, first-alarm event id (-1 when none) -- "
    "FIRST in the (ts, event_id) processing order the statistic "
    "itself follows, via arg-min on the order rank rather than "
    "min(event_id): ids are not guaranteed time-ordered.",
    f"""
    with x as (
      select user_id, event_id,
             cast(round(value * 100) as bigint) - {_CUSUM_K_CENTS} as d,
             row_number() over (partition by user_id
                                order by ts, event_id) as rn
      from events
    ),
    p as (
      select user_id, event_id, rn,
             sum(d) over (partition by user_id order by rn
                          rows between unbounded preceding
                                   and current row) as pt
      from x
    ),
    s as (
      select user_id, event_id, rn,
             pt - least(0, min(pt) over (
                    partition by user_id order by rn
                    rows between unbounded preceding and current row))
               as st
      from p
    ),
    agg as (
      select user_id,
             cast(count(*) as bigint) as n_events,
             cast(sum(case when st > {_CUSUM_H_CENTS} then 1 else 0 end)
                  as bigint) as n_alarms,
             cast(max(st) as bigint) as max_cusum,
             min(case when st > {_CUSUM_H_CENTS} then rn end)
               as first_alarm_rn
      from s group by user_id
    )
    select agg.user_id, n_events, n_alarms, max_cusum,
           cast(coalesce(s.event_id, -1) as bigint)
             as first_alarm_event_id
    from agg left join s
      on s.user_id = agg.user_id and s.rn = agg.first_alarm_rn
    """,
    "window", "cusum", "drift",
)
def window_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        (
            F.round(F.col("value") * 100).cast("bigint")
            - F.lit(_CUSUM_K_CENTS)
        ).alias("d"),
    )
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    x = ev.withColumn("rn", F.row_number().over(w_ord))
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    p = x.withColumn("pt", F.sum("d").over(w_run))
    s = p.withColumn(
        "st", F.col("pt") - F.least(F.lit(0), F.min("pt").over(w_run))
    )
    s = persist_swap(spark, "cusum_s", s)
    alarm = F.when(F.col("st") > _CUSUM_H_CENTS, 1).otherwise(0)
    agg = s.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(alarm).cast("bigint").alias("n_alarms"),
        F.max("st").cast("bigint").alias("max_cusum"),
        # arg-min on the ORDER RANK, not min(event_id): the first alarm
        # is the earliest in (ts, event_id) processing order, and ids
        # are not guaranteed time-ordered (code-review finding)
        F.min(
            F.when(F.col("st") > _CUSUM_H_CENTS, F.col("rn"))
        ).alias("first_alarm_rn"),
    )
    fa = s.select(
        F.col("user_id").alias("fa_user"),
        F.col("rn").alias("fa_rn"),
        F.col("event_id").alias("fa_event_id"),
    )
    return (
        agg.join(
            fa,
            (F.col("user_id") == F.col("fa_user"))
            & (F.col("first_alarm_rn") == F.col("fa_rn")),
            "left",
        )
        .select(
            "user_id",
            "n_events",
            "n_alarms",
            "max_cusum",
            F.coalesce(F.col("fa_event_id"), F.lit(-1))
            .cast("bigint")
            .alias("first_alarm_event_id"),
        )
    )

