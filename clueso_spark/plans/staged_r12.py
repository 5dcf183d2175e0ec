"""Operators staged in round 11, PROMOTED in round 12 (this module is
now in catalog.QUERY_MODULES and registers at import).

Same life-cycle as staged_r6 / staged_r8 / staged_r9 / staged_r10 /
staged_r11 (all promoted): these shipped in round 11 as library code
with full pytest parity coverage (tests/test_staged_r12.py runs the
exact driver comparison -- row count + schema + order-insensitive
value hash -- against DuckDB oracles at sf0.001 and sf0.01) because
the round-11 driver window (50 slots) was fully allocated. Round 12's
window fits 21 of the 26 after the 28 mandatory r7 leftovers and one
changed-code re-verification (dedup_edit_distance); the five
cheapest-to-verify ops (ev_asof_tolerance_join,
ev_interval_union_length, window_max_drawdown, join_salted_skew,
pipeline_dataset_card -- 0.40-0.61 s each at sf0.1) defer to HEAD
round 13's window, the obligation pinned mechanically by
tests/test_entry.py DEFERRED_PROMOTIONS.

What this tier adds (all absent from both the reference and the live
catalog):
  * mergeable sketches -- the partial/merge siblings the 1000-executor
    story needs: an HDR-style log2-bucketed quantile sketch whose
    per-shard partials sum into corpus quantile bounds (the t-digest
    deployment shape with EXACT cross-engine buckets), and a count-min
    sketch built as per-shard partials merged by summation, audited
    against exact counts (estimate >= truth is IN the output);
  * distribution drift -- exact scaled-integer KL divergence between
    event-type distributions of two deterministic user cohorts (the
    corpus-mixture drift monitor), cross-multiplied so no division or
    float sum ever happens;
  * dedup index maintenance -- the LSM discipline applied to the
    near-dup index: apply a snapshot delta (deletes + inserts) to a
    banded minhash index and prove entry-for-entry equality with a
    from-scratch rebuild, per band, as output data;
  * graph -- k-core decomposition by plan-unrolled peeling rounds, and
    Adamic-Adar link prediction over degree-bounded wedges with
    scaled-integer weights;
  * text -- TextRank keywords: 3 scaled-integer PageRank rounds over
    the adjacent-word co-occurrence graph, top-k via TakeOrdered;
  * multimodal -- content-addressed chunk-store GC accounting over the
    CDC chunks (live / dead / still-shared blocks after a snapshot
    delete -- the companion measurement to mm_cdc_dedup);
  * pipeline -- a one-pass per-source dataset card (counts, exact
    doubled-median length, language mix, exact dup rate);
  * events -- day-of-week seasonal baseline deviations via rank-
    arithmetic integer medians, an as-of join with a tolerance bound
    (the pandas merge_asof(tolerance=...) semantic), and per-user
    interval-union coverage time (the billing meter) with no join;
  * joins -- a corpus-GLOBAL interval-point range join via time
    bucketing (one keyed shuffle; the oracle is the naive inequality
    join, so parity proves the bucketing exact);
  * evaluation -- LSH relative recall by IR pooling (two independent
    sketch families scored against the exactly-verified pooled union)
    and Newman modularity of the label-propagation communities in
    exact integers -- the engine scores its own candidates and
    clusters, and the scores hash-verify.

Session-3 additions (same gate, same promotion round):
  * curation deletion signals -- corpus n-gram NOVELTY (first-
    occurrence attribution over a shingle-keyed window) and
    boilerplate-chunk removal accounting (the CCNet/RefinedWeb
    duplicated-paragraph pass), both pure keyed shuffles;
  * sketch set ALGEBRA -- theta/KMV union + inclusion-exclusion
    intersection estimates from two-level (shard-partial, then merge)
    bottom-k sketches, with the exact cardinalities riding in the same
    row so the error itself hash-verifies;
  * skew -- a salted fact-dim join whose oracle is the UNSALTED join
    (parity proves the hot-key spread is semantics-free);
  * bitmap indexes -- per (user, week) 7-bit day masks via
    bit_or(1 << dow), week-over-week retention as AND + popcount;
  * ordered analytics -- per-user max drawdown of the signed cash
    flow through two stacked keyed windows;
  * spatial blocking -- DBSCAN core points by width-eps grid cells
    (3x3 neighbor-cell equi-join; oracle = the naive quadratic join,
    parity proves the blocking exact);
  * graph -- per-node LOCAL clustering coefficient (each triangle
    credits its 3 corners; degree-ordered orientation, x3 explode);
  * streaming -- a stateful KMV distinct-count sketch
    (applyInPandasWithState, O(k) state per cohort) whose drained
    state hash-verifies against the batch sketch, with a genuine
    3-micro-batch fold test pinning the cross-batch associativity;
  * graph -- HITS authority/hub scoring (2 unrolled integer rounds,
    unnormalized so every score is an exact bigint) on the directed
    customer->part purchase graph;
  * windows -- per-user rolling OLS slope from five window sums over
    one keyed 8-row frame (the windowed form of agg_ols_trend),
    shipped as exact (num, den) plus a permyriad quotient.

Determinism contract: identical to plans/catalog.py -- exact bigint /
decimal arithmetic wherever a float sum would be order-sensitive;
every computed column aliased identically on both sides; day buckets
via bigint ``div`` (== DuckDB ``//`` on both signs); floor-log2 via
base-2 digit counts (Spark ``length(conv(x, 10, 2)) - 1`` == DuckDB
``length(bin(x)) - 1``, probed exact for the bigint ranges used);
md5-derived integers via the shared hex-prefix construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clueso_spark.plans.catalog import persist_swap, register
from clueso_spark.plans.relational import (
    PART_MIN_SUPPORT,
    PR_SCALE,
    closed_triangles,
    cust_supp_edges,
    part_pair_edges,
)
from clueso_spark.plans.staged_r10 import _lp_edges_sql
from clueso_spark.plans.staged_r11 import _DAY_US, _cents, _day
from clueso_spark.sources.tables import load_table, load_table_spread


#: Spark-side md5-prefix -> bigint (DuckDB twin: ('0x' || substr(md5(s),
#: 1, 8))::bigint). 8 hex digits = 32 bits, exact in both engines.
def _md5_mod(col: F.Column, mod: int) -> F.Column:
    return (
        F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint") % mod
    )


def _md5_mod_sql(expr: str, mod: int) -> str:
    return f"cast(('0x' || substr(md5({expr}), 1, 8)) as bigint) % {mod}"


# ---------------------------------------------------------------------------
# Mergeable quantile sketch, partial/merge: the deployment shape of
# t-digest / DDSketch, with EXACT cross-engine arithmetic. Values are
# log2-bucketed (floor-log2 by base-2 digit count -- pure integer), 8
# deterministic shards each build a partial (shard, bucket, count)
# sketch, the merge is a SUM -- the whole point of mergeable sketches:
# partials combine associatively, so 1000 executors each sketch their
# split and a tiny reduce merges. Quantile answers are bucket bounds
# [2^b, 2^(b+1)); the row carries the EXACT quantile (rank arithmetic)
# and the containment flag, so the sketch's accuracy claim itself is
# hash-verified, not asserted.
# ---------------------------------------------------------------------------

_HDR_SHARDS = 8
_HDR_QUANTILES = (50, 90, 99)


@register(
    "agg_hdr_quantile_merge",
    "Mergeable log2-bucketed quantile sketch, partial/merge: 8 "
    "md5-derived shards each build a (bucket, count) partial over "
    "event cents (floor-log2 via base-2 digit count, exact in any "
    "engine); merging is a plain SUM of partials. For q in "
    f"{_HDR_QUANTILES}: the sketch's answer interval [2^b, 2^(b+1)-1] "
    "at the ceil(q*n/100) rank, the EXACT quantile from rank "
    "arithmetic, and within_bucket = the containment check -- the "
    "sketch's accuracy claim is output data, not an assertion. The "
    "t-digest deployment shape with none of its float merge order "
    "sensitivity.",
    f"""
    with e as (
      select event_id,
             cast(round(value * 100) as bigint) as cents
      from events where round(value * 100) >= 1
    ),
    s as (
      select {_md5_mod_sql("cast(event_id as varchar)", _HDR_SHARDS)}
               as shard,
             length(bin(cents)) - 1 as bucket, cents
      from e
    ),
    partials as (
      select shard, bucket, cast(count(*) as bigint) as cnt
      from s group by shard, bucket
    ),
    merged as (
      select bucket, cast(sum(cnt) as bigint) as cnt
      from partials group by bucket
    ),
    cum as (
      select bucket, cnt,
             sum(cnt) over (order by bucket) as cum_cnt,
             sum(cnt) over () as n
      from merged
    ),
    q as (select unnest(ARRAY{list(_HDR_QUANTILES)}) as pct),
    pick as (
      select q.pct, min(cum.bucket) as bucket
      from q join cum
        on cum.cum_cnt >= (q.pct * cum.n + 99) // 100
      group by q.pct
    ),
    ranked as (
      select cents, row_number() over (order by cents, event_id) as rn,
             count(*) over () as n
      from e
    ),
    exact as (
      select q.pct, min(ranked.cents) as exact_cents
      from q join ranked on ranked.rn >= (q.pct * ranked.n + 99) // 100
      group by q.pct
    )
    select pick.pct as pct,
           cast(pick.bucket as bigint) as bucket,
           cast(2 ** pick.bucket as bigint) as est_low,
           cast(2 ** (pick.bucket + 1) - 1 as bigint) as est_high,
           cast(exact.exact_cents as bigint) as exact_cents,
           cast(case when exact.exact_cents between 2 ** pick.bucket
                      and 2 ** (pick.bucket + 1) - 1
                     then 1 else 0 end as bigint) as within_bucket
    from pick join exact on pick.pct = exact.pct
    """,
    "aggregate", "sketch", "quantile", "merge",
)
def agg_hdr_quantile_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (
        load_table(spark, sf_dir, "events")
        .select("event_id", _cents("value").alias("cents"))
        .where(F.col("cents") >= 1)
    )
    e = persist_swap(spark, "hdr_events", e)
    # floor-log2 by base-2 digit count: exact for positive bigints
    bucket = (F.length(F.conv(F.col("cents"), 10, 2)) - 1).alias("bucket")
    s = e.select(
        _md5_mod(F.col("event_id").cast("string"), _HDR_SHARDS).alias(
            "shard"
        ),
        bucket,
    )
    partials = s.groupBy("shard", "bucket").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    merged = partials.groupBy("bucket").agg(
        F.sum("cnt").cast("bigint").alias("cnt")
    )
    # the merged sketch is bucket-count-sized (<= ~40 rows for any
    # corpus: cents fit in a bigint), so the cumulative window over it
    # is bounded-constant, not a scale surface
    cw = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = (
        merged.withColumn("cum_cnt", F.sum("cnt").over(cw))
        .crossJoin(
            F.broadcast(merged.agg(F.sum("cnt").alias("n")))
        )
    )
    qdf = spark.createDataFrame(
        [(q,) for q in _HDR_QUANTILES], "pct int"
    )
    pick = (
        F.broadcast(qdf)
        .join(
            cum,
            F.col("cum_cnt") >= F.expr("(pct * n + 99) div 100"),
        )
        .groupBy("pct")
        .agg(F.min("bucket").alias("bucket"))
    )
    # exact quantiles the agg_exact_quantiles way: value-domain
    # histogram (bounded by the cents DOMAIN, not the corpus) + ONE
    # ranged cumsum -- never a partition-less row_number over the
    # event stream (the single-task trap; caught in this round's own
    # review: the first draft ranked the corpus through one window)
    from clueso_spark.functions.ordered import ranged_cumsum

    hist = e.groupBy("cents").agg(F.count("*").cast("bigint").alias("w"))
    hist = persist_swap(spark, "hdr_hist", hist)
    cum2 = ranged_cumsum(hist, ["cents"], "w", "cw").crossJoin(
        F.broadcast(hist.agg(F.sum("w").alias("n")))
    )
    exact = (
        F.broadcast(qdf)
        .join(cum2, F.col("cw") >= F.expr("(pct * n + 99) div 100"))
        .groupBy("pct")
        .agg(F.min("cents").alias("exact_cents"))
    )
    est_low = F.expr("cast(pow(2, bucket) as bigint)")
    est_high = F.expr("cast(pow(2, bucket + 1) as bigint) - 1")
    return (
        pick.join(exact, "pct")
        .select(
            F.col("pct").cast("int").alias("pct"),
            F.col("bucket").cast("bigint").alias("bucket"),
            est_low.alias("est_low"),
            est_high.alias("est_high"),
            F.col("exact_cents").cast("bigint").alias("exact_cents"),
            F.when(
                (F.col("exact_cents") >= est_low)
                & (F.col("exact_cents") <= est_high),
                1,
            )
            .otherwise(0)
            .cast("bigint")
            .alias("within_bucket"),
        )
    )


# ---------------------------------------------------------------------------
# Count-min sketch, partial/merge: per-shard CMS tables merged by
# summation (CMS cells are counters -- the merge IS addition, which is
# why CMS survives distribution). d=4 hash rows from disjoint md5
# prefixes, w=64 columns. The audit joins the merged sketch's point
# estimates back to exact counts for the top heavy hitters: estimate >=
# truth ALWAYS (hash-verified as a flag), overcount measured.
# ---------------------------------------------------------------------------

_CMS_D = 4
_CMS_W = 64
_CMS_SHARDS = 8
_CMS_TOP = 15


def _cms_col_sql(row: int, expr: str) -> str:
    # disjoint 8-hex slices of one md5 = 4 independent 32-bit hashes
    return (
        f"cast(('0x' || substr(md5({expr}), {row * 8 + 1}, 8)) as bigint)"
        f" % {_CMS_W}"
    )


@register(
    "agg_cms_partial_merge",
    f"Count-min sketch partial/merge over event user_ids: {_CMS_SHARDS} "
    f"md5 shards each build a d={_CMS_D} x w={_CMS_W} CMS partial "
    "(rows from disjoint md5 slices), merged by CELL-WISE SUM (the CMS "
    "merge operator). Point estimate = min over rows of the merged "
    f"cells, audited against exact counts for the top {_CMS_TOP} "
    "users: ge_truth (always 1 -- the CMS guarantee, hash-verified) "
    "and the measured overcount. The mergeable heavy-hitter audit at "
    "fleet scale.",
    f"""
    with e as (
      select cast(user_id as varchar) as u, event_id from events
    ),
    cells as (
      select {_md5_mod_sql("cast(event_id as varchar)", _CMS_SHARDS)}
               as shard,
             r.range as row_id,
             case r.range
               when 0 then {_cms_col_sql(0, "u")}
               when 1 then {_cms_col_sql(1, "u")}
               when 2 then {_cms_col_sql(2, "u")}
               else {_cms_col_sql(3, "u")}
             end as col_id
      from e cross join range({_CMS_D}) r
    ),
    partials as (
      select shard, row_id, col_id, cast(count(*) as bigint) as cnt
      from cells group by shard, row_id, col_id
    ),
    merged as (
      select row_id, col_id, cast(sum(cnt) as bigint) as cnt
      from partials group by row_id, col_id
    ),
    truth as (
      select u, cast(count(*) as bigint) as true_cnt
      from e group by u
      order by true_cnt desc, u limit {_CMS_TOP}
    ),
    probes as (
      select t.u, t.true_cnt, r.range as row_id,
             case r.range
               when 0 then {_cms_col_sql(0, "t.u")}
               when 1 then {_cms_col_sql(1, "t.u")}
               when 2 then {_cms_col_sql(2, "t.u")}
               else {_cms_col_sql(3, "t.u")}
             end as col_id
      from truth t cross join range({_CMS_D}) r
    )
    select cast(p.u as bigint) as user_id,
           cast(any_value(p.true_cnt) as bigint) as true_cnt,
           cast(min(m.cnt) as bigint) as cms_estimate,
           cast(min(m.cnt) - any_value(p.true_cnt) as bigint) as overcount,
           cast(case when min(m.cnt) >= any_value(p.true_cnt)
                     then 1 else 0 end as bigint) as ge_truth
    from probes p join merged m
      on p.row_id = m.row_id and p.col_id = m.col_id
    group by p.u
    """,
    "aggregate", "sketch", "cms", "merge",
)
def agg_cms_partial_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("u"), "event_id"
    )
    e = persist_swap(spark, "cms_events", e)
    rows = F.explode(
        F.array(*[F.lit(r) for r in range(_CMS_D)])
    ).alias("row_id")

    def col_id(row_expr: str, u: str) -> F.Column:
        # row_id-indexed disjoint md5 slice; CASE keeps it one md5 call
        return F.expr(
            "case row_id "
            + " ".join(
                f"when {r} then cast(conv(substring(md5({u}), "
                f"{r * 8 + 1}, 8), 16, 10) as bigint) % {_CMS_W}"
                for r in range(_CMS_D - 1)
            )
            + f" else cast(conv(substring(md5({u}), "
            f"{(_CMS_D - 1) * 8 + 1}, 8), 16, 10) as bigint) % {_CMS_W}"
            " end"
        )

    cells = e.select(
        _md5_mod(F.col("event_id").cast("string"), _CMS_SHARDS).alias(
            "shard"
        ),
        "u",
        rows,
    ).select("shard", "row_id", col_id("row_id", "u").alias("col_id"))
    partials = cells.groupBy("shard", "row_id", "col_id").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    merged = partials.groupBy("row_id", "col_id").agg(
        F.sum("cnt").cast("bigint").alias("cnt")
    )
    truth = (
        e.groupBy("u")
        .agg(F.count("*").cast("bigint").alias("true_cnt"))
        .orderBy(F.col("true_cnt").desc(), "u")
        .limit(_CMS_TOP)
    )
    probes = truth.select("u", "true_cnt", rows).select(
        "u", "true_cnt", "row_id", col_id("row_id", "u").alias("col_id")
    )
    return (
        F.broadcast(probes)
        .join(merged, ["row_id", "col_id"])
        .groupBy("u")
        .agg(
            F.any_value(F.col("true_cnt")).cast("bigint").alias("true_cnt"),
            F.min("cnt").cast("bigint").alias("cms_estimate"),
            (F.min("cnt") - F.any_value(F.col("true_cnt")))
            .cast("bigint")
            .alias("overcount"),
            F.when(
                F.min("cnt") >= F.any_value(F.col("true_cnt")), 1
            )
            .otherwise(0)
            .cast("bigint")
            .alias("ge_truth"),
        )
        .select(
            F.col("u").cast("bigint").alias("user_id"),
            "true_cnt",
            "cms_estimate",
            "overcount",
            "ge_truth",
        )
    )


# ---------------------------------------------------------------------------
# Distribution drift: exact scaled-integer KL divergence between the
# event-type distributions of two deterministic user cohorts (md5
# parity). KL = sum_i p_i * log2(p_i / q_i); with counts c_i (sum n)
# and d_i (sum m), n * KL_scaled = sum_i c_i * (L(c_i * m) - L(d_i * n))
# where L = round(log2 * 1e6) -- pure bigint products inside the log,
# one integer sum outside, zero divisions until the single final
# display division (by n, exactly representable). Types restricted to
# those PRESENT IN BOTH cohorts (KL is undefined on q_i = 0; the
# excluded mass is reported alongside).
# ---------------------------------------------------------------------------

_KL_SCALE = 1_000_000


@register(
    "agg_kl_divergence_drift",
    "Exact scaled-integer KL divergence D(P||Q) between event-type "
    "distributions of the even / odd md5-user cohorts: with counts "
    "c_i (total n) and d_i (total m), n*KL*1e6 = sum c_i * "
    "(L(c_i * m) - L(d_i * n)), L = round(log2 * 1e6) -- bigint "
    "products inside logs, integer sum outside, no float accumulation "
    "anywhere. Reported with both cohort masses and the shared-support "
    "type count (types absent from a cohort are excluded, per KL's "
    "domain). The corpus-mixture drift monitor, exactly reproducible "
    "on any engine.",
    f"""
    with e as (
      select event_type,
             {_md5_mod_sql("cast(user_id as varchar)", 2)} as cohort
      from events
    ),
    c as (
      select event_type,
             sum(case when cohort = 0 then 1 else 0 end) as ci,
             sum(case when cohort = 1 then 1 else 0 end) as di
      from e group by event_type
    ),
    shared as (select * from c where ci > 0 and di > 0),
    tot as (
      select cast(sum(ci) as bigint) as n, cast(sum(di) as bigint) as m,
             cast(count(*) as bigint) as n_types
      from shared
    )
    select tot.n as p_mass, tot.m as q_mass, tot.n_types as n_types,
           cast(sum(ci * (round(log2(ci * tot.m) * {_KL_SCALE})
                          - round(log2(di * tot.n) * {_KL_SCALE})))
                as bigint) as kl_num_scaled,
           cast(cast(sum(ci * (round(log2(ci * tot.m) * {_KL_SCALE})
                          - round(log2(di * tot.n) * {_KL_SCALE})))
                as bigint) // tot.n as bigint) as kl_scaled
    from shared cross join tot
    group by tot.n, tot.m, tot.n_types
    """,
    "aggregate", "statistics", "drift",
)
def agg_kl_divergence_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        _md5_mod(F.col("user_id").cast("string"), 2).alias("cohort"),
    )
    c = e.groupBy("event_type").agg(
        F.sum(F.when(F.col("cohort") == 0, 1).otherwise(0)).alias("ci"),
        F.sum(F.when(F.col("cohort") == 1, 1).otherwise(0)).alias("di"),
    )
    shared = c.where((F.col("ci") > 0) & (F.col("di") > 0))
    shared = persist_swap(spark, "kl_shared", shared)
    tot = F.broadcast(
        shared.agg(
            F.sum("ci").cast("bigint").alias("n"),
            F.sum("di").cast("bigint").alias("m"),
            F.count("*").cast("bigint").alias("n_types"),
        )
    )
    term = F.expr(
        f"ci * (round(log2(ci * m) * {_KL_SCALE})"
        f" - round(log2(di * n) * {_KL_SCALE}))"
    )
    return (
        shared.crossJoin(tot)
        .groupBy("n", "m", "n_types")
        .agg(F.sum(term).cast("bigint").alias("kl_num_scaled"))
        .select(
            F.col("n").alias("p_mass"),
            F.col("m").alias("q_mass"),
            "n_types",
            "kl_num_scaled",
            F.expr("cast(kl_num_scaled div n as bigint)").alias(
                "kl_scaled"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Near-dup index maintenance with DELETES: the LSM discipline applied
# to the banded minhash index. Two deterministic corpus snapshots (md5
# deciles: old = 0..8, new = 1..9) differ by one deleted cohort and one
# added cohort; the maintained index = old entries MINUS deleted docs'
# entries PLUS added docs' signatures, and the output proves -- as
# hash-verified data, per band -- that maintenance lands exactly on the
# from-scratch rebuild, alongside the delta volumes and the incremental
# probe candidate count. At 100 TB this is the difference between
# re-sketching the corpus per ingest and sketching only the delta.
# ---------------------------------------------------------------------------


def _index_delta_oracle() -> str:
    from clueso_spark.plans.dedup_queries import _minhash_bands_sql

    return f"""
    with t as (select doc_id,
                      {_md5_mod_sql("cast(doc_id as varchar)", 10)} as b,
                      string_split(text, ' ') as w
               from documents),
    {_minhash_bands_sql("b", r="bb", indent="    ")},
    stats as (
      select band,
             sum(case when b <= 8 then 1 else 0 end) as n_before,
             sum(case when b = 0 then 1 else 0 end) as n_deleted,
             sum(case when b = 9 then 1 else 0 end) as n_added,
             sum(case when b >= 1 then 1 else 0 end) as n_rebuilt
      from bands group by band
    ),
    probes as (
      select n.band, count(distinct (n.doc_id, i.doc_id)) as n_cand
      from bands n join bands i
        on n.band = i.band and n.sig = i.sig
      where n.b = 9 and i.b between 1 and 8
      group by n.band
    )
    select cast(s.band as bigint) as band,
           cast(n_before as bigint) as n_before,
           cast(n_deleted as bigint) as n_deleted,
           cast(n_added as bigint) as n_added,
           cast(n_before - n_deleted + n_added as bigint) as n_after,
           cast(case when n_before - n_deleted + n_added = n_rebuilt
                     then 1 else 0 end as bigint) as matches_rebuild,
           cast(coalesce(p.n_cand, 0) as bigint) as n_probe_candidates
    from stats s left join probes p on s.band = p.band
    """


@register(
    "dedup_minhash_index_delta",
    "Minhash-LSH index MAINTENANCE with deletes: snapshots old = md5 "
    "deciles 0..8 / new = 1..9; per band, the maintained entry count "
    "(before - deleted + added) is proven equal to a from-scratch "
    "rebuild of the new snapshot (matches_rebuild, hash-verified "
    "data), with delta volumes and the incremental probe candidate "
    "count (added docs vs the post-delete index, one (band,sig) keyed "
    "join). The signature family is minhash_band_sigs, byte-identical "
    "to dedup_minhash_lsh's oracle. Scale: per ingest only the DELTA "
    "is sketched; the index is touched by keyed joins only.",
    _index_delta_oracle(),
    "dedup", "minhash", "lsh", "incremental", "delete",
)
def dedup_minhash_index_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clueso_spark.functions.text import tokens
    from clueso_spark.plans.dedup_queries import (
        minhash_band_sigs,
        shingle_sets,
    )

    docs = (
        load_table_spread(spark, sf_dir, "documents")
        .withColumn("w", tokens())
    )
    sets = shingle_sets(
        docs, _md5_mod(F.col("doc_id").cast("string"), 10).alias("b")
    )
    # persist the SIGNATURE frame, then explode from the cache: the
    # Generate below infers a `size(sigs) > 0` filter that pushdown
    # rewrites onto the full minhash fold and pushes BENEATH the
    # repartition exchange -- a separate stage, outside the codegen
    # span whose common-subexpression elimination would otherwise
    # dedup it -- so every signature was computed TWICE per document
    # (measured 4.3s -> 1.3s at sf0.1; round-12 profiling finding).
    # Siblings that explode sigs WITHOUT an exchange between the
    # projection and the inferred filter (dedup_minhash_lsh,
    # dedup_lsh_relative_recall) do NOT pay this: CSE inside the
    # shared whole-stage span already dedups the fold there
    # (re-measured to confirm before leaving them untouched).
    sigs = persist_swap(
        spark,
        "index_delta_sigs",
        sets.select("doc_id", "b", minhash_band_sigs().alias("sigs")),
    )
    long = persist_swap(
        spark,
        "index_delta_bands",
        sigs.select(
            "doc_id", "b", F.posexplode("sigs").alias("band", "sig")
        ),
    )
    stats = long.groupBy("band").agg(
        F.sum(F.when(F.col("b") <= 8, 1).otherwise(0)).alias("n_before"),
        F.sum(F.when(F.col("b") == 0, 1).otherwise(0)).alias("n_deleted"),
        F.sum(F.when(F.col("b") == 9, 1).otherwise(0)).alias("n_added"),
        F.sum(F.when(F.col("b") >= 1, 1).otherwise(0)).alias("n_rebuilt"),
    )
    added = long.where(F.col("b") == 9).select(
        F.col("doc_id").alias("new_id"), "band", "sig"
    )
    index = long.where(F.col("b").between(1, 8)).select(
        F.col("doc_id").alias("index_id"), "band", "sig"
    )
    probes = (
        added.join(index, ["band", "sig"])
        .select("band", "new_id", "index_id")
        .distinct()
        .groupBy("band")
        .agg(F.count("*").alias("n_cand"))
    )
    return (
        stats.join(probes, "band", "left")
        .select(
            F.col("band").cast("bigint").alias("band"),
            F.col("n_before").cast("bigint").alias("n_before"),
            F.col("n_deleted").cast("bigint").alias("n_deleted"),
            F.col("n_added").cast("bigint").alias("n_added"),
            (F.col("n_before") - F.col("n_deleted") + F.col("n_added"))
            .cast("bigint")
            .alias("n_after"),
            F.when(
                F.col("n_before") - F.col("n_deleted") + F.col("n_added")
                == F.col("n_rebuilt"),
                1,
            )
            .otherwise(0)
            .cast("bigint")
            .alias("matches_rebuild"),
            F.coalesce(F.col("n_cand"), F.lit(0))
            .cast("bigint")
            .alias("n_probe_candidates"),
        )
    )


# ---------------------------------------------------------------------------
# k-core decomposition by plan-unrolled peeling: 3 synchronous rounds
# of "drop nodes with degree < k" on the customer-supplier co-purchase
# graph (k = 2; same 1e12-offset edge set the other graph ops share).
# Each round is one keyed degree aggregate + two semi joins -- the
# Pregel-superstep shape, no driver loop, no collect. Reported per
# round: surviving nodes and undirected edges.
# ---------------------------------------------------------------------------

_KCORE_K = 2
_KCORE_ROUNDS = 3


def _kcore_round_sql(r: int) -> str:
    prev = "e" if r == 1 else f"e{r - 1}"
    return f""",
    d{r} as (select u, count(*) as d from {prev} group by u),
    s{r} as (select u from d{r} where d >= {_KCORE_K}),
    e{r} as (
      select e.u, e.v from {prev} e
      join s{r} a on e.u = a.u join s{r} b on e.v = b.u
    )"""


@register(
    "graph_kcore_decomposition",
    f"k-core peeling (k = {_KCORE_K}), {_KCORE_ROUNDS} plan-unrolled "
    "synchronous rounds on the co-purchase graph: each round one keyed "
    "degree aggregate + two semi joins dropping nodes below k. Per "
    "round: surviving node and undirected edge counts -- the standard "
    "coreness preprocessing for community/influence pipelines, exact "
    "integers in any engine.",
    f"""
    with {_lp_edges_sql()}
    {"".join(_kcore_round_sql(r).strip() for r in range(1, _KCORE_ROUNDS + 1))}
    select * from (
      {" union all ".join(
        f'''select cast({r} as bigint) as round,
               cast((select count(*) from s{r}) as bigint) as n_nodes,
               cast((select count(*) // 2 from e{r}) as bigint) as n_edges'''
        for r in range(1, _KCORE_ROUNDS + 1)
      )}
    ) order by round
    """,
    "graph", "kcore", "iterative",
)
def graph_kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = persist_swap(spark, "kcore_edges", cust_supp_edges(spark, sf_dir))
    rows = []
    cur = edges
    for r in range(1, _KCORE_ROUNDS + 1):
        deg = cur.groupBy("u").agg(F.count("*").alias("d"))
        surv = deg.where(F.col("d") >= _KCORE_K).select("u")
        # the survivor set feeds two semi joins + the count: pin it
        surv = persist_swap(spark, f"kcore_s{r}", surv)
        cur = (
            cur.join(surv, "u", "semi")
            .join(
                surv.select(F.col("u").alias("v")), "v", "semi"
            )
        )
        # each round's edge set feeds the next round's degree pass AND
        # this round's count: pin per round (the SCALE.md
        # double-consumption rule)
        cur = persist_swap(spark, f"kcore_e{r}", cur)
        rows.append(
            surv.agg(F.count("*").alias("n_nodes"))
            .crossJoin(cur.agg((F.count("*") / 2).alias("n_edges")))
            .select(
                F.lit(r).cast("bigint").alias("round"),
                F.col("n_nodes").cast("bigint").alias("n_nodes"),
                F.col("n_edges").cast("bigint").alias("n_edges"),
            )
        )
    out = rows[0]
    for df in rows[1:]:
        out = out.unionByName(df)
    return out.orderBy("round")


# ---------------------------------------------------------------------------
# Adamic-Adar link prediction on the part co-purchase graph: candidate
# pair score = sum over common neighbors z of 1 / log2(deg z), as the
# scaled integer 1e12 div L(deg z) with L = round(log2 * 1e6) -- exact
# bigint floor division, identical in any engine. Wedges are generated
# per CENTER z with 2 <= deg(z) <= 16 (the degree bound is the scale
# control: high-degree hubs contribute the least AA weight per pair
# yet the most pairs -- dropping them is the standard practice this
# op makes explicit); existing edges are anti-joined away; top 20 by
# (score, pair) with rank AFTER TakeOrdered.
# ---------------------------------------------------------------------------

_AA_MAX_DEG = 16
_AA_TOP = 20
_AA_SCALE = 1_000_000_000_000


@register(
    "graph_adamic_adar_linkpred",
    "Adamic-Adar link prediction over the part co-purchase graph "
    f"(co-occurrence support >= {PART_MIN_SUPPORT}): non-adjacent part "
    "pairs scored by sum over common neighbors z of "
    f"{_AA_SCALE} div round(log2(deg z) * 1e6), wedges generated only "
    f"through centers with deg in [2, {_AA_MAX_DEG}] (hubs carry the "
    "least per-pair AA weight and the most pairs -- the documented "
    f"scale bound). Top {_AA_TOP} candidate pairs, rank after "
    "TakeOrdered.",
    f"""
    with op as (
      select distinct a.l_orderkey, a.l_partkey as pa, b.l_partkey as pb
      from lineitem a join lineitem b
        on a.l_orderkey = b.l_orderkey and a.l_partkey < b.l_partkey
    ),
    e0 as (
      select pa, pb from op
      group by 1, 2 having count(*) >= {PART_MIN_SUPPORT}
    ),
    sym as (select pa as u, pb as v from e0
            union all select pb, pa from e0),
    deg as (select u, cast(count(*) as bigint) as d from sym group by u),
    centers as (
      select u as z, d from deg where d between 2 and {_AA_MAX_DEG}
    ),
    wedges as (
      select a.v as pa, b.v as pb,
             {_AA_SCALE} // cast(round(log2(c.d) * 1000000) as bigint)
               as w
      from centers c
      join sym a on a.u = c.z
      join sym b on b.u = c.z and a.v < b.v
    ),
    scored as (
      select pa, pb, cast(sum(w) as bigint) as aa_scaled
      from wedges group by pa, pb
    ),
    cand as (
      select s.* from scored s
      left join e0 on s.pa = e0.pa and s.pb = e0.pb
      where e0.pa is null
    ),
    top as (
      select pa, pb, aa_scaled,
             row_number() over (order by aa_scaled desc, pa, pb) as rk
      from cand
    )
    select cast(pa as bigint) as pa, cast(pb as bigint) as pb,
           aa_scaled, cast(rk as bigint) as rk
    from top where rk <= {_AA_TOP}
    """,
    "graph", "linkpred", "similarity",
)
def graph_adamic_adar_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    e0 = persist_swap(spark, "aa_edges", part_pair_edges(spark, sf_dir))
    sym = e0.select(F.col("pa").alias("u"), F.col("pb").alias("v")).unionByName(
        e0.select(F.col("pb").alias("u"), F.col("pa").alias("v"))
    )
    sym = persist_swap(spark, "aa_sym", sym)
    deg = sym.groupBy("u").agg(F.count("*").cast("bigint").alias("d"))
    centers = deg.where(F.col("d").between(2, _AA_MAX_DEG)).select(
        F.col("u").alias("z"),
        F.expr(
            f"{_AA_SCALE} div cast(round(log2(d) * 1000000) as bigint)"
        ).alias("w"),
    )
    # wedges through bounded centers: per-center pair expansion from the
    # sorted neighbor set (deg <= 16 by the centers filter, so the
    # per-group fan-out is <= C(16,2) = 120 -- bounded by construction,
    # the same reasoning LSH_BUCKET_CAP enforces dynamically elsewhere)
    grouped = (
        sym.join(F.broadcast(centers), sym.u == centers.z)
        .groupBy("z", "w")
        .agg(F.sort_array(F.collect_set("v")).alias("ns"))
        .where(F.size("ns") > 1)
    )
    wedges = grouped.select(
        "w",
        F.explode(
            F.expr(
                """flatten(transform(sequence(1, size(ns) - 1),
                     i -> transform(sequence(i + 1, size(ns)),
                       j -> struct(element_at(ns, i) as pa,
                                   element_at(ns, j) as pb))))"""
            )
        ).alias("p"),
    ).select("p.pa", "p.pb", "w")
    scored = wedges.groupBy("pa", "pb").agg(
        F.sum("w").cast("bigint").alias("aa_scaled")
    )
    cand = scored.join(e0, ["pa", "pb"], "left_anti")
    top = cand.orderBy(F.col("aa_scaled").desc(), "pa", "pb").limit(_AA_TOP)
    rw = Window.orderBy(F.col("aa_scaled").desc(), "pa", "pb")
    return top.withColumn(
        "rk", F.row_number().over(rw).cast("bigint")
    ).select(
        F.col("pa").cast("bigint").alias("pa"),
        F.col("pb").cast("bigint").alias("pb"),
        "aa_scaled",
        "rk",
    )


# ---------------------------------------------------------------------------
# TextRank keywords (Mihalcea & Tarau 2004): PageRank over the
# adjacent-word co-occurrence graph, 3 plan-unrolled rounds of the same
# scaled-integer arithmetic graph_pagerank_copurchase uses (rank in
# 1e-12 units, floor division), so the whole iteration is bit-exact in
# any engine. Edges are weighted by adjacency count; contributions are
# weight-proportional: (r * w) div strength.
# ---------------------------------------------------------------------------

_TR_ROUNDS = 3
_TR_TOP = 20
_TR_MIN_LEN = 3


def _tr_round_sql(i: int) -> str:
    prev = "r0" if i == 1 else f"r{i - 1}"
    return f""",
    i{i} as (
      select e.v as u, sum(({prev}.r * e.w) // st.s) as inflow
      from e join {prev} on e.u = {prev}.u join st on st.u = e.u
      group by e.v
    ),
    r{i} as (
      select i{i}.u,
             (15 * ({PR_SCALE} // nn.n) + 85 * inflow) // 100 as r
      from i{i} cross join nn
    )"""


@register(
    "txt_textrank_keywords",
    f"TextRank keywords: adjacent-word co-occurrence graph (words of "
    f">= {_TR_MIN_LEN} chars, symmetric, weight = adjacency count), "
    f"{_TR_ROUNDS} plan-unrolled PageRank rounds in exact 1e-12-unit "
    "integer arithmetic with weight-proportional contributions "
    f"((r * w) div strength); top {_TR_TOP} words, rank after "
    "TakeOrdered. The co-occurrence sibling of RAKE, sharing the "
    "iterative discipline of graph_pagerank_copurchase.",
    f"""
    with t as (select doc_id, string_split(text, ' ') as w from documents),
    adj as (
      select w[i] as a, w[i + 1] as b
      from t, unnest(range(1, len(w))) as ix(i)
      where length(w[i]) >= {_TR_MIN_LEN}
        and length(w[i + 1]) >= {_TR_MIN_LEN}
        and w[i] <> w[i + 1]
    ),
    e as (
      select u, v, cast(count(*) as bigint) as w from (
        select a as u, b as v from adj
        union all select b, a from adj
      ) group by u, v
    ),
    st as (select u, cast(sum(w) as bigint) as s from e group by u),
    nn as (select cast(count(*) as bigint) as n from st),
    r0 as (select u, ({PR_SCALE} // n) as r from st cross join nn),
    {",".join(_tr_round_sql(i).strip().lstrip(",") for i in range(1, _TR_ROUNDS + 1))},
    ranked as (
      select u as word, cast(r as bigint) as rank_scaled,
             row_number() over (order by r desc, u) as rk
      from r{_TR_ROUNDS}
    )
    select word, rank_scaled, cast(rk as bigint) as rk
    from ranked where rk <= {_TR_TOP}
    """,
    "text", "keywords", "pagerank", "iterative",
)
def txt_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clueso_spark.functions.text import tokens

    docs = (
        load_table_spread(spark, sf_dir, "documents")
        .withColumn("w", tokens())
    )
    adj = docs.select(
        F.explode(
            F.expr(
                "filter(transform(sequence(1, size(w) - 1),"
                " i -> struct(element_at(w, i) as a,"
                "             element_at(w, i + 1) as b)),"
                f" p -> length(p.a) >= {_TR_MIN_LEN}"
                f" and length(p.b) >= {_TR_MIN_LEN} and p.a != p.b)"
            )
        ).alias("p")
    ).select("p.a", "p.b")
    e = (
        adj.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .unionByName(adj.select(F.col("b").alias("u"), F.col("a").alias("v")))
        .groupBy("u", "v")
        .agg(F.count("*").cast("bigint").alias("w"))
    )
    # edges feed every round (join per round) plus the strength and
    # vertex aggregates: pin once, PRE-PARTITIONED on the per-round
    # probe key u (the graph_pagerank_copurchase treatment -- cached
    # partitioning is reused at runtime, so the strength aggregate, the
    # edge-strength join, and every rank round run exchange-free on the
    # edge side; the word-pair graph is corpus-sized at 100 TB)
    e = persist_swap(spark, "textrank_edges", e.repartition("u"))
    st = e.groupBy("u").agg(F.sum("w").cast("bigint").alias("s"))
    st = persist_swap(spark, "textrank_strength", st)
    nn = F.broadcast(st.agg(F.count("*").alias("n")))
    ranks = st.crossJoin(nn).select(
        "u", F.expr(f"{PR_SCALE} div n").alias("r")
    )
    ew = e.join(st, "u")  # (u, v, w, s)
    for _ in range(_TR_ROUNDS):
        inflow = (
            ew.join(ranks, "u")
            .select("v", F.expr("(r * w) div s").alias("contrib"))
            .groupBy("v")
            .agg(F.sum("contrib").alias("inflow"))
        )
        ranks = inflow.crossJoin(nn).select(
            F.col("v").alias("u"),
            F.expr(
                f"(15 * ({PR_SCALE} div n) + 85 * inflow) div 100"
            ).alias("r"),
        )
    top = ranks.orderBy(F.col("r").desc(), "u").limit(_TR_TOP)
    rw = Window.orderBy(F.col("r").desc(), "u")
    return (
        top.withColumn("rk", F.row_number().over(rw).cast("bigint"))
        .select(
            F.col("u").alias("word"),
            F.col("r").cast("bigint").alias("rank_scaled"),
            "rk",
        )
    )


# ---------------------------------------------------------------------------
# Content-addressed chunk-store GC accounting: after deleting a
# deterministic 20% payload cohort, which CDC chunks (mm_cdc_chunking's
# boundary rule) stay live, which become garbage, and how many blocks
# a chunk-level GC reclaims vs must RETAIN because surviving payloads
# still reference them -- the number a naive per-file delete gets
# wrong. Chunk identity is the same md5-of-block-sequence mm_cdc_dedup
# verifies.
# ---------------------------------------------------------------------------

_GC_CHUNK_CTES = """
    b as (
      select doc_id,
             regexp_extract_all(hex(encode(text)), '.{8}') as blocks
      from documents
    ),
    e as (
      select doc_id, unnest(blocks) as block,
             unnest(range(1, len(blocks) + 1)) as pos
      from b
    ),
    c as (
      select doc_id, pos, block,
             coalesce(sum(case when md5(block) like '0%' then 1 else 0
                          end) over (
               partition by doc_id order by pos
               rows between unbounded preceding and 1 preceding), 0)
               as chunk_id
      from e
    ),
    ch as (
      select doc_id, chunk_id,
             md5(string_agg(block, '' order by pos)) as chunk_hash,
             cast(count(*) as bigint) as nb
      from c group by doc_id, chunk_id
    )"""


@register(
    "mm_chunk_gc_accounting",
    "Chunk-store garbage collection accounting: delete the md5-quintile "
    "0 payload cohort (20%), then per distinct CDC chunk count live vs "
    "dead references and report what a content-addressed GC reclaims "
    "(blocks of chunks with ZERO live refs) vs must retain because "
    "survivors still share them (chunks with BOTH live and dead refs) "
    "-- the cross-payload sharing a per-file delete cannot see. One "
    "doc-keyed window + two keyed aggregates over the mm_cdc_dedup "
    "chunk identity.",
    f"""
    with {_GC_CHUNK_CTES},
    refs as (
      select chunk_hash, max(nb) as nb,
             sum(case when {_md5_mod_sql("cast(doc_id as varchar)", 5)} = 0
                      then 1 else 0 end) as dead_refs,
             sum(case when {_md5_mod_sql("cast(doc_id as varchar)", 5)} = 0
                      then 0 else 1 end) as live_refs
      from ch group by chunk_hash
    )
    select cast(count(*) as bigint) as n_distinct_chunks,
           cast(sum(case when live_refs > 0 then 1 else 0 end) as bigint)
             as n_live,
           cast(sum(case when live_refs = 0 then 1 else 0 end) as bigint)
             as n_dead,
           cast(sum(case when live_refs = 0 then nb else 0 end) as bigint)
             as blocks_reclaimed,
           cast(sum(case when live_refs > 0 and dead_refs > 0 then nb
                         else 0 end) as bigint)
             as blocks_shared_retained
    from refs
    """,
    "multimodal", "cdc", "gc",
)
def mm_chunk_gc_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clueso_spark.plans.staged_r11 import cdc_chunk_frame

    ch = cdc_chunk_frame(spark, sf_dir)
    dead = F.when(
        _md5_mod(F.col("doc_id").cast("string"), 5) == 0, 1
    ).otherwise(0)
    refs = ch.groupBy("chunk_hash").agg(
        F.max("nb").alias("nb"),
        F.sum(dead).alias("dead_refs"),
        F.sum(1 - dead).alias("live_refs"),
    )
    return refs.agg(
        F.count("*").cast("bigint").alias("n_distinct_chunks"),
        F.sum(F.when(F.col("live_refs") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_live"),
        F.sum(F.when(F.col("live_refs") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_dead"),
        F.sum(F.when(F.col("live_refs") == 0, F.col("nb")).otherwise(0))
        .cast("bigint")
        .alias("blocks_reclaimed"),
        F.sum(
            F.when(
                (F.col("live_refs") > 0) & (F.col("dead_refs") > 0),
                F.col("nb"),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("blocks_shared_retained"),
    )


# ---------------------------------------------------------------------------
# The dataset card: per-source corpus profile in one composed pass --
# the summary table every corpus release ships. Exact integers
# throughout: the length median is the doubled rank-arithmetic median
# (no per-source collect), the top language is rank-1 of a
# source-keyed count window, the dup rate is exact distinct-hash
# arithmetic.
# ---------------------------------------------------------------------------


@register(
    "pipeline_dataset_card",
    "Per-source dataset card: doc count, total chars, DOUBLED exact "
    "median doc length (rank arithmetic, no collect), distinct "
    "languages, top language + its doc count (count-desc, lang "
    "tiebreak), and exact duplicate rows (n_docs - distinct normalized "
    "md5). The release-notes table of a corpus drop, hash-verified "
    "cross-engine. Scale: source-keyed windows and aggregates only.",
    """
    with t as (
      select doc_id, source, lang, n_chars,
             md5(lower(trim(text))) as fp
      from documents
    ),
    base as (
      select source,
             cast(count(*) as bigint) as n_docs,
             cast(sum(n_chars) as bigint) as total_chars,
             cast(count(distinct fp) as bigint) as n_distinct,
             cast(count(distinct lang) as bigint) as n_langs
      from t group by source
    ),
    mr as (
      select source, n_chars,
             row_number() over (partition by source
                                order by n_chars, doc_id) as rn,
             count(*) over (partition by source) as n
      from t
    ),
    med as (
      select source,
             cast(sum(n_chars
                      * (case when rn = (n + 1) // 2 then 1 else 0 end
                         + case when rn = (n + 2) // 2 then 1 else 0 end))
                  as bigint) as median2_chars
      from mr group by source
    ),
    lc as (
      select source, lang, cast(count(*) as bigint) as cnt,
             row_number() over (partition by source
                                order by count(*) desc, lang) as rk
      from t group by source, lang
    )
    select base.source as source, n_docs, total_chars,
           med.median2_chars as median2_chars, n_langs,
           lc.lang as top_lang, lc.cnt as top_lang_docs,
           cast(n_docs - n_distinct as bigint) as n_dup_rows
    from base
    join med on base.source = med.source
    join lc on base.source = lc.source and lc.rk = 1
    """,
    "pipeline", "profile", "card",
)
def pipeline_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "lang",
        "n_chars",
        F.md5(F.lower(F.trim(F.col("text")))).alias("fp"),
    )
    t = persist_swap(spark, "card_docs", t)
    base = t.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.count_distinct("fp").cast("bigint").alias("n_distinct"),
        F.count_distinct("lang").cast("bigint").alias("n_langs"),
    )
    mw = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    cw = Window.partitionBy("source")
    mr = t.select(
        "source",
        "n_chars",
        F.row_number().over(mw).alias("rn"),
        F.count("*").over(cw).alias("n"),
    )
    pickm = F.when(
        (F.col("rn") == F.expr("(n + 1) div 2"))
        | (F.col("rn") == F.expr("(n + 2) div 2")),
        F.col("n_chars"),
    ).otherwise(0)
    # doubled median: when n is odd both picks land on the same rank --
    # match the oracle's indicator SUM (the middle row counts twice)
    med = mr.groupBy("source").agg(
        F.sum(
            F.col("n_chars")
            * (
                F.when(F.col("rn") == F.expr("(n + 1) div 2"), 1).otherwise(0)
                + F.when(F.col("rn") == F.expr("(n + 2) div 2"), 1).otherwise(
                    0
                )
            )
        )
        .cast("bigint")
        .alias("median2_chars")
    )
    lw = Window.partitionBy("source").orderBy(
        F.col("cnt").desc(), "lang"
    )
    lc = (
        t.groupBy("source", "lang")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .withColumn("rk", F.row_number().over(lw))
        .where(F.col("rk") == 1)
    )
    return (
        base.join(med, "source")
        .join(lc.select("source", "lang", "cnt"), "source")
        .select(
            "source",
            "n_docs",
            "total_chars",
            "median2_chars",
            "n_langs",
            F.col("lang").alias("top_lang"),
            F.col("cnt").alias("top_lang_docs"),
            (F.col("n_docs") - F.col("n_distinct"))
            .cast("bigint")
            .alias("n_dup_rows"),
        )
    )


# ---------------------------------------------------------------------------
# Seasonal (day-of-week) baseline deviations: per (event_type, dow),
# the doubled integer median of daily counts is the baseline; a day is
# deviant when it misses the baseline by more than half of it
# (|cnt - med| > med/2, scaled through 2x on both sides so the whole
# gate is exact bigints). The weekly-seasonality health check every
# event pipeline runs -- with rank-arithmetic medians, never a
# per-group collect.
# ---------------------------------------------------------------------------


@register(
    "ev_seasonal_dow_deviation",
    "Day-of-week seasonal baseline: daily event counts per type, "
    "doubled integer median per (type, dow) via rank arithmetic, and "
    "the count of days deviating from the baseline by more than half "
    "of it (2*|2*cnt - med2| > med2 -- exact bigints, no division). "
    "Per (event_type, dow): median2_daily, n_days, n_deviant.",
    f"""
    with d as (
      select event_type,
             epoch_us(ts) // {_DAY_US} as day,
             cast(count(*) as bigint) as cnt
      from events group by event_type, day
    ),
    r as (
      select event_type, day % 7 as dow, day, cnt,
             row_number() over (partition by event_type, day % 7
                                order by cnt, day) as rn,
             count(*) over (partition by event_type, day % 7) as n
      from d
    ),
    med as (
      select event_type, dow,
             cast(sum(cnt * (case when rn = (n + 1) // 2 then 1 else 0 end
                             + case when rn = (n + 2) // 2 then 1 else 0
                               end)) as bigint) as med2
      from r group by event_type, dow
    )
    select r.event_type as event_type, cast(r.dow as bigint) as dow,
           cast(any_value(med.med2) as bigint) as median2_daily,
           cast(count(*) as bigint) as n_days,
           cast(sum(case when 2 * abs(2 * r.cnt - med.med2) > med.med2
                         then 1 else 0 end) as bigint) as n_deviant
    from r join med on r.event_type = med.event_type and r.dow = med.dow
    group by r.event_type, r.dow
    """,
    "events", "seasonality", "anomaly",
)
def ev_seasonal_dow_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    d = ev.select("event_type", _day().alias("day")).groupBy(
        "event_type", "day"
    ).agg(F.count("*").cast("bigint").alias("cnt"))
    rw = Window.partitionBy("event_type", F.expr("day % 7")).orderBy(
        "cnt", "day"
    )
    nw = Window.partitionBy("event_type", F.expr("day % 7"))
    r = d.select(
        "event_type",
        F.expr("day % 7").alias("dow"),
        "day",
        "cnt",
        F.row_number().over(rw).alias("rn"),
        F.count("*").over(nw).alias("n"),
    )
    r = persist_swap(spark, "dow_ranked", r)
    med = r.groupBy("event_type", "dow").agg(
        F.sum(
            F.col("cnt")
            * (
                F.when(F.col("rn") == F.expr("(n + 1) div 2"), 1).otherwise(0)
                + F.when(F.col("rn") == F.expr("(n + 2) div 2"), 1).otherwise(
                    0
                )
            )
        )
        .cast("bigint")
        .alias("med2")
    )
    return (
        r.join(med, ["event_type", "dow"])
        .groupBy("event_type", "dow")
        .agg(
            F.any_value(F.col("med2")).cast("bigint").alias("median2_daily"),
            F.count("*").cast("bigint").alias("n_days"),
            F.sum(
                F.when(
                    2 * F.abs(2 * F.col("cnt") - F.col("med2"))
                    > F.col("med2"),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_deviant"),
        )
        .select(
            "event_type",
            F.col("dow").cast("bigint").alias("dow"),
            "median2_daily",
            "n_days",
            "n_deviant",
        )
    )


# ---------------------------------------------------------------------------
# As-of join WITH TOLERANCE (the pandas merge_asof(tolerance=...)
# semantic): each purchase matches the most recent click by the same
# user at-or-before it, but only within a 1-hour bound -- staler
# matches are rejected, not returned. Same union-merge construction as
# ev_asof_attribution (ONE user-keyed window pass, no inequality
# join); the tolerance is a filter on the computed gap.
# ---------------------------------------------------------------------------

_ASOF_TOL_US = 3_600_000_000  # 1 hour


@register(
    "ev_asof_tolerance_join",
    "As-of join with tolerance: each purchase takes the most recent "
    "click at-or-before it by the same user (union-merge + ONE "
    "user-keyed last_value window -- the inequality-join-free as-of "
    "construction) and keeps it only when the gap is <= 1 h; beyond "
    "tolerance the purchase reports unmatched (-1). The "
    "merge_asof(tolerance=...) semantic at corpus scale.",
    f"""
    with u as (
      select user_id, event_id, epoch_us(ts) as ts_us,
             case when event_type = 'click' then 0 else 1 end as tag
      from events where event_type in ('click', 'purchase')
    ),
    w as (
      select user_id, event_id, ts_us, tag,
             last_value(case when tag = 0 then ts_us end ignore nulls)
               over (partition by user_id order by ts_us, tag, event_id
                     rows between unbounded preceding and current row)
               as click_ts,
             last_value(case when tag = 0 then event_id end ignore nulls)
               over (partition by user_id order by ts_us, tag, event_id
                     rows between unbounded preceding and current row)
               as click_id
      from u
    )
    select event_id as purchase_id, user_id,
           cast(case when click_ts is not null
                      and ts_us - click_ts <= {_ASOF_TOL_US}
                     then click_id else -1 end as bigint) as click_id,
           cast(case when click_ts is not null
                      and ts_us - click_ts <= {_ASOF_TOL_US}
                     then ts_us - click_ts else -1 end as bigint) as gap_us
    from w where tag = 1
    """,
    "events", "asof", "join", "tolerance",
)
def ev_asof_tolerance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
    )
    u = ev.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        F.when(F.col("event_type") == "click", 0).otherwise(1).alias("tag"),
    )
    wspec = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "tag", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w = u.select(
        "user_id",
        "event_id",
        "ts_us",
        "tag",
        F.last(
            F.when(F.col("tag") == 0, F.col("ts_us")), ignorenulls=True
        )
        .over(wspec)
        .alias("click_ts"),
        F.last(
            F.when(F.col("tag") == 0, F.col("event_id")), ignorenulls=True
        )
        .over(wspec)
        .alias("click_id"),
    )
    ok = F.col("click_ts").isNotNull() & (
        F.col("ts_us") - F.col("click_ts") <= _ASOF_TOL_US
    )
    return w.where(F.col("tag") == 1).select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.when(ok, F.col("click_id")).otherwise(-1).cast("bigint").alias(
            "click_id"
        ),
        F.when(ok, F.col("ts_us") - F.col("click_ts"))
        .otherwise(-1)
        .cast("bigint")
        .alias("gap_us"),
    )


# ---------------------------------------------------------------------------
# Per-user interval-union coverage (the billing meter): each event
# opens a 30-minute interval; covered time = length of the UNION of a
# user's intervals. The classic running-max-end construction: one
# user-keyed window computes the max end over all prior intervals and
# each row contributes only its uncovered suffix -- exact microsecond
# integers, no self-join, no interval explosion.
# ---------------------------------------------------------------------------

_IVL_LEN_US = 1_800_000_000  # 30 minutes


@register(
    "ev_interval_union_length",
    "Per-user union length of 30-minute event intervals: running "
    "max(end) over prior rows (ONE user-keyed window), each interval "
    "contributes greatest(end - greatest(start, prev_max_end), 0) -- "
    "the exact union length with no join and no sweep materialization. "
    "Per user: n_events, covered_us. The metering/billing primitive.",
    f"""
    with iv as (
      select user_id, event_id, epoch_us(ts) as s,
             epoch_us(ts) + {_IVL_LEN_US} as e
      from events
    ),
    w as (
      select user_id, event_id, s, e,
             max(e) over (partition by user_id order by s, event_id
                          rows between unbounded preceding
                          and 1 preceding) as prev_end
      from iv
    )
    select user_id,
           cast(count(*) as bigint) as n_events,
           cast(sum(greatest(e - greatest(s, coalesce(prev_end, s)), 0))
                as bigint) as covered_us
    from w group by user_id
    """,
    "events", "intervals", "union",
)
def ev_interval_union_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + _IVL_LEN_US).alias("e"),
    )
    wspec = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w = iv.withColumn("prev_end", F.max("e").over(wspec))
    contrib = F.greatest(
        F.col("e")
        - F.greatest(F.col("s"), F.coalesce(F.col("prev_end"), F.col("s"))),
        F.lit(0),
    )
    return w.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(contrib).cast("bigint").alias("covered_us"),
    )


# ---------------------------------------------------------------------------
# Global range join WITHOUT an entity key, via time bucketing: the
# scale path when intervals and points share no equi-key (the existing
# ev_range_interval_join is user-keyed; this one is corpus-global).
# Each 2-hour interval lands in at most 2 width-2h buckets, points in
# exactly one; the join is a plain equi-join on bucket id with the
# range predicate as a post-filter -- ONE keyed shuffle instead of the
# broadcast-nested-loop a naive t BETWEEN s AND e join plans. The
# DuckDB oracle runs the NAIVE inequality join, so parity proves the
# bucketing is semantically exact, not just replicated.
# ---------------------------------------------------------------------------

_RB_WIDTH_US = 7_200_000_000  # bucket width == interval length (2 h)


@register(
    "join_range_bucketed_global",
    "Corpus-global interval-point range join via time bucketing: every "
    "signup opens a 2-hour window; for EVERY error event (no shared "
    "user key) count the open signup windows covering it. Intervals "
    "explode to <= 2 width-2h buckets, points join on bucket id (one "
    "keyed shuffle), the range predicate post-filters. The oracle is "
    "the NAIVE inequality join -- parity proves the bucketed plan "
    "computes exactly the quadratic-join semantics without one.",
    f"""
    with s as (
      select event_id as s_id, epoch_us(ts) as s_us,
             epoch_us(ts) + {_RB_WIDTH_US} as e_us
      from events where event_type = 'signup'
    ),
    p as (
      select event_id as e_id, epoch_us(ts) as t_us
      from events where event_type = 'error'
    )
    select p.e_id as error_id,
           cast(count(s.s_id) as bigint) as n_open_windows
    from p left join s on p.t_us >= s.s_us and p.t_us < s.e_us
    group by p.e_id
    """,
    "join", "range", "bucketed",
)
def join_range_bucketed_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s = ev.where(F.col("event_type") == "signup").select(
        F.col("event_id").alias("s_id"),
        F.unix_micros("ts").alias("s_us"),
        (F.unix_micros("ts") + _RB_WIDTH_US).alias("e_us"),
    )
    # interval -> its (at most 2) covering buckets; array_distinct
    # collapses the exact-alignment case
    sb = s.select(
        "s_id",
        "s_us",
        "e_us",
        F.explode(
            F.array_distinct(
                F.array(
                    F.expr(f"s_us div {_RB_WIDTH_US}"),
                    F.expr(f"(e_us - 1) div {_RB_WIDTH_US}"),
                )
            )
        ).alias("bucket"),
    )
    p = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("e_id"),
        F.unix_micros("ts").alias("t_us"),
    ).select(
        "e_id", "t_us", F.expr(f"t_us div {_RB_WIDTH_US}").alias("bucket")
    )
    hits = (
        p.join(sb, "bucket")
        .where((F.col("t_us") >= F.col("s_us")) & (F.col("t_us") < F.col("e_us")))
        .groupBy("e_id")
        .agg(F.count("*").cast("bigint").alias("n_open"))
    )
    return (
        p.select("e_id")
        .join(hits, "e_id", "left")
        .select(
            F.col("e_id").alias("error_id"),
            F.coalesce(F.col("n_open"), F.lit(0))
            .cast("bigint")
            .alias("n_open_windows"),
        )
    )


# ---------------------------------------------------------------------------
# LSH evaluation: relative recall + exact precision of two INDEPENDENT
# banded sketch families over the same shingle sets. Absolute recall
# needs the all-pairs ground truth no 100 TB corpus can afford; the
# standard substitute (IR pooling) verifies the UNION of both
# families' candidates exactly and scores each family against it.
# Family A is the registered production family (minhash_band_sigs,
# 8 bands, r=2); family B is a salt-disjoint 4-band family -- every
# number is md5-deterministic, so the evaluation itself hash-verifies.
# ---------------------------------------------------------------------------

_RR_TAU = 0.5
_RR_B_BANDS = 4
_RR_B_SALTS = ("a+", "b+", "c+", "d+")


def _rr_oracle() -> str:
    from clueso_spark.plans.dedup_queries import _minhash_bands_sql

    b_band_sql = "\n      union all\n".join(
        f"""      select doc_id, {b} as band,
             min(substr(md5('{salt}' || shingle), 1, 8))
             || min(substr(md5('{salt}' || shingle), 9, 8)) as sig
      from sh group by doc_id"""
        for b, salt in enumerate(_RR_B_SALTS)
    )
    return f"""
    with t as (select doc_id, string_split(text, ' ') as w from documents),
    {_minhash_bands_sql(name="bands_a", indent="    ")},
    bands_b as (
{b_band_sql}
    ),
    cand_a as (
      select distinct a.doc_id as doc_a, b.doc_id as doc_b
      from bands_a a join bands_a b
        on a.band = b.band and a.sig = b.sig and a.doc_id < b.doc_id
    ),
    cand_b as (
      select distinct a.doc_id as doc_a, b.doc_id as doc_b
      from bands_b a join bands_b b
        on a.band = b.band and a.sig = b.sig and a.doc_id < b.doc_id
    ),
    pool as (select * from cand_a union select * from cand_b),
    sets as (select doc_id, list(shingle) as ss from sh group by doc_id),
    verified as (
      select doc_a, doc_b
      from pool join sets x on doc_a = x.doc_id
                join sets y on doc_b = y.doc_id
      where len(list_intersect(x.ss, y.ss))::double
              / len(list_distinct(x.ss || y.ss)) >= {_RR_TAU}
    ),
    u as (select cast(count(*) as bigint) as n_union from verified),
    fam as (
      select 'A' as family,
             cast((select count(*) from cand_a) as bigint) as n_candidates,
             cast((select count(*) from cand_a
                   join verified using (doc_a, doc_b)) as bigint) as n_verified
      union all
      select 'B',
             cast((select count(*) from cand_b) as bigint),
             cast((select count(*) from cand_b
                   join verified using (doc_a, doc_b)) as bigint)
    )
    select family, n_candidates, n_verified, u.n_union as n_union_verified,
           cast(case when u.n_union = 0 then 1000000
                else 1000000 * n_verified // u.n_union end as bigint)
             as recall_rel_scaled,
           cast(case when n_candidates = 0 then 1000000
                else 1000000 * n_verified // n_candidates end as bigint)
             as precision_scaled
    from fam cross join u
    """


@register(
    "dedup_lsh_relative_recall",
    "LSH evaluation by pooling: two independent banded minhash "
    "families (the registered 8-band r=2 production family vs a "
    f"salt-disjoint {_RR_B_BANDS}-band family) generate candidates, "
    f"the pooled union is verified exactly (Jaccard >= {_RR_TAU}), "
    "and each family reports exact precision and recall RELATIVE to "
    "the pooled truth -- the IR-pooling protocol, because absolute "
    "recall needs the all-pairs ground truth no 100 TB corpus can "
    "afford. Every number is md5-deterministic, so the evaluation "
    "itself hash-verifies cross-engine.",
    _rr_oracle(),
    "dedup", "minhash", "lsh", "evaluation",
)
def dedup_lsh_relative_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clueso_spark.functions.text import jaccard, tokens
    from clueso_spark.plans.dedup_queries import (
        LSH_BUCKET_CAP,
        _bucket_pairs,
        minhash_band_sigs,
        shingle_sets,
    )

    docs = (
        load_table_spread(spark, sf_dir, "documents")
        .withColumn("w", tokens())
    )
    sets = persist_swap(spark, "rr_sets", shingle_sets(docs))
    long_a = sets.select(
        "doc_id", F.posexplode(minhash_band_sigs()).alias("band", "sig")
    )
    # family B: per band one salted digest per shingle, r=2 from its
    # two disjoint 8-hex halves -- ONE fold per band with a 2-slot
    # array accumulator, so each shingle is hashed exactly once per
    # band (a fold per half would double the interpreted md5 work;
    # the per-fold-evaluation reasoning is minhash_pairs')
    b_sigs = F.array(
        *[
            F.expr(
                f"""aggregate(
                  transform(ss, s -> md5(concat('{salt}', s))),
                  array_repeat('g', 2),
                  (acc, h) -> array(least(element_at(acc, 1), substring(h, 1, 8)),
                                    least(element_at(acc, 2), substring(h, 9, 8))),
                  acc -> concat(element_at(acc, 1), element_at(acc, 2)))"""
            )
            for salt in _RR_B_SALTS
        ]
    )
    long_b = sets.select(
        "doc_id", F.posexplode(b_sigs).alias("band", "sig")
    )
    cand_a = persist_swap(
        spark,
        "rr_cand_a",
        _bucket_pairs(
            long_a, ["band", "sig"], "doc_id", "doc_a", "doc_b",
            cap=LSH_BUCKET_CAP,
        ).distinct(),
    )
    cand_b = persist_swap(
        spark,
        "rr_cand_b",
        _bucket_pairs(
            long_b, ["band", "sig"], "doc_id", "doc_a", "doc_b",
            cap=LSH_BUCKET_CAP,
        ).distinct(),
    )
    pool = cand_a.unionByName(cand_b).distinct()
    x = sets.select(F.col("doc_id").alias("doc_a"), F.col("ss").alias("ss_a"))
    y = sets.select(F.col("doc_id").alias("doc_b"), F.col("ss").alias("ss_b"))
    verified = persist_swap(
        spark,
        "rr_verified",
        pool.join(x, "doc_a")
        .join(y, "doc_b")
        .where(jaccard("ss_a", "ss_b") >= _RR_TAU)
        .select("doc_a", "doc_b"),
    )
    u = F.broadcast(verified.agg(F.count("*").alias("n_union")))

    def fam(cand: DataFrame, name: str) -> DataFrame:
        n_cand = cand.agg(F.count("*").alias("n_candidates"))
        n_ver = cand.join(verified, ["doc_a", "doc_b"]).agg(
            F.count("*").alias("n_verified")
        )
        return (
            n_cand.crossJoin(n_ver)
            .crossJoin(u)
            .select(
                F.lit(name).alias("family"),
                F.col("n_candidates").cast("bigint").alias("n_candidates"),
                F.col("n_verified").cast("bigint").alias("n_verified"),
                F.col("n_union").cast("bigint").alias("n_union_verified"),
                F.expr(
                    "cast(case when n_union = 0 then 1000000"
                    " else 1000000 * n_verified div n_union end as bigint)"
                ).alias("recall_rel_scaled"),
                F.expr(
                    "cast(case when n_candidates = 0 then 1000000"
                    " else 1000000 * n_verified div n_candidates end"
                    " as bigint)"
                ).alias("precision_scaled"),
            )
        )

    return fam(cand_a, "A").unionByName(fam(cand_b, "B"))


# ---------------------------------------------------------------------------
# Community-quality evaluation: Newman modularity of the 3-round
# label-propagation communities, in EXACT integer arithmetic.
# Q = sum_c [ e_c/m - (d_c/2m)^2 ]; cross-multiplying by 4m^2 gives
# Q * 4m^2 = sum_c (4m*e_c - d_c^2) -- pure bigints (safe to SF ~2000:
# sum d_c^2 <= (2m)^2). The clustering-evaluation sibling of
# sim_ann_recall_at_k: the engine does not just produce communities,
# it scores them, and the score hash-verifies.
# ---------------------------------------------------------------------------


def _modularity_oracle() -> str:
    from clueso_spark.plans.staged_r10 import _LP_ROUND_SQL, _lp_edges_sql

    return f"""
    with {_lp_edges_sql()},
    l0 as (
      select u as node, u as lbl from (select u from e group by u)
    )
    {_LP_ROUND_SQL},
    lab as (select node, lbl from l3),
    m as (select cast(count(*) as bigint) // 2 as m from e),
    ec as (
      select la.lbl as c, cast(count(*) as bigint) // 2 as e_c
      from e join lab la on e.u = la.node
             join lab lb on e.v = lb.node
      where la.lbl = lb.lbl
      group by la.lbl
    ),
    dc as (
      select lab.lbl as c, cast(count(*) as bigint) as d_c
      from e join lab on e.u = lab.node
      group by lab.lbl
    ),
    terms as (
      select dc.c, coalesce(ec.e_c, 0) as e_c, dc.d_c
      from dc left join ec on dc.c = ec.c
    )
    select m.m as m,
           cast((select count(*) from dc) as bigint) as n_communities,
           cast(sum(4 * m.m * e_c - d_c * d_c) as bigint) as q_num,
           cast(sum(4 * m.m * e_c - d_c * d_c) as double)
             / cast(4 * m.m * m.m as double) as q
    from terms cross join m
    group by m.m
    """


@register(
    "graph_modularity_communities",
    "Newman modularity of the 3-round label-propagation communities "
    "on the co-purchase graph, in exact integers: Q * 4m^2 = "
    "sum_c (4m*e_c - d_c^2) over intra-community edge counts e_c and "
    "community degree sums d_c (bigint-safe to SF ~2000); q is the "
    "single final IEEE division of two exact integers. The engine "
    "scores the communities it produces, and the score hash-verifies.",
    _modularity_oracle(),
    "graph", "communities", "evaluation",
)
def graph_modularity_communities(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # pinned PRE-PARTITIONED on the per-round probe key u (same cached-
    # partitioning reuse as graph_label_propagation: the corpus-sized
    # edge list is shuffled once per query, not once per round)
    edges = persist_swap(
        spark, "mod_edges", cust_supp_edges(spark, sf_dir).repartition("u")
    )
    labels = edges.groupBy("u").agg(F.lit(0)).select(
        F.col("u").alias("node"), F.col("u").alias("lbl")
    )
    for k in range(3):
        # same per-round pin discipline AND round shape as
        # graph_label_propagation (guide §2.3/§2.4): attach the source
        # label on the cached key u (zero edge-side exchange), partial-
        # aggregate min-label per destination map-side, shuffle only
        # the node-sized partials. Symmetric edges make the destination
        # grouping equivalent to the old labels->edges->labels chain.
        labels = persist_swap(spark, f"mod_lbl_{k}", labels)
        msg = (
            edges.join(labels, edges.u == labels.node)
            .groupBy("v")
            .agg(F.min("lbl").alias("mn"))
        )
        labels = (
            labels.join(msg, labels.node == msg.v, "left")
            .select(
                "node",
                F.least(
                    F.col("lbl"), F.coalesce(F.col("mn"), F.col("lbl"))
                ).alias("lbl"),
            )
        )
    lab = persist_swap(spark, "mod_labels", labels)
    m = F.broadcast(
        edges.agg((F.count("*") / 2).cast("bigint").alias("m"))
    )
    la = lab.select(F.col("node").alias("u"), F.col("lbl").alias("la"))
    lb = lab.select(F.col("node").alias("v"), F.col("lbl").alias("lb"))
    # same-community edge count: attach la on the cached key u (no edge
    # exchange), pre-aggregate per (v, la) -- map-side partials shrink
    # the one remaining shuffle from edge-sized rows to (dest, label)
    # group counts -- then resolve lb with a node-sized join
    vl = (
        edges.join(la, "u")
        .groupBy("v", "la")
        .agg(F.count("*").alias("n"))
    )
    ec = (
        vl.join(lb, "v")
        .where(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("c"))
        .agg((F.sum("n") / 2).cast("bigint").alias("e_c"))
    )
    # d_c = sum of node degrees per community: aggregate edges to the
    # NODE-sized degree relation first, then one node-keyed join --
    # joining the full edge list against labels a second time (the
    # first draft) shuffles |E| rows to compute what |V| rows carry
    deg = edges.groupBy("u").agg(F.count("*").alias("d"))
    dc = (
        deg.join(la, "u")
        .groupBy(F.col("la").alias("c"))
        .agg(F.sum("d").cast("bigint").alias("d_c"))
    )
    terms = dc.join(ec, "c", "left").select(
        "c",
        F.coalesce(F.col("e_c"), F.lit(0)).alias("e_c"),
        "d_c",
    )
    return (
        terms.crossJoin(m)
        .groupBy("m")
        .agg(
            F.count("*").cast("bigint").alias("n_communities"),
            F.sum(
                4 * F.col("m") * F.col("e_c") - F.col("d_c") * F.col("d_c")
            )
            .cast("bigint")
            .alias("q_num"),
        )
        .select(
            "m",
            "n_communities",
            "q_num",
            (
                F.col("q_num").cast("double")
                / (4 * F.col("m") * F.col("m")).cast("double")
            ).alias("q"),
        )
    )


# ---------------------------------------------------------------------------
# Session-3 additions (same staging life-cycle, round-12 promotion).
#
# Corpus novelty + boilerplate removal: the two deletion-side signals a
# crawl-scale curation pipeline runs between exact dedup and near dedup
# (RefinedWeb / CCNet run the paragraph-level variant). Both are pure
# keyed shuffles over exploded shingles -- the same shape as the
# dedup_* family, no all-pairs anywhere.
# ---------------------------------------------------------------------------

_NOV_N = 5  # novelty shingle width (words)


@register(
    "txt_ngram_novelty",
    f"Corpus novelty curve: per doc, the fraction of its overlapping "
    f"{_NOV_N}-word shingles whose FIRST corpus occurrence (min doc_id "
    "over a shingle-keyed window) is this doc -- the marginal-new-text "
    "measure curation uses to order crawl snapshots. Occurrence-level "
    "counting; one shingle-keyed shuffle + one doc-keyed aggregate; "
    "novelty ratio as exact integer permyriad.",
    f"""
    with t as (select doc_id, string_split(text, ' ') w from documents),
    g as (
      select doc_id,
             unnest(list_transform(range(1, len(w) - {_NOV_N} + 2),
                    i -> array_to_string(w[i:i+{_NOV_N - 1}], ' '))) as ng
      from t where len(w) >= {_NOV_N}
    ),
    f as (
      select doc_id, ng,
             min(doc_id) over (partition by ng) as first_doc
      from g
    )
    select doc_id,
           cast(count(*) as bigint) as n_ngrams,
           cast(sum(case when first_doc = doc_id then 1 else 0 end)
                as bigint) as n_novel,
           cast((10000 * sum(case when first_doc = doc_id then 1 else 0
                end)) // count(*) as bigint) as novelty_x10000
    from f group by doc_id
    """,
    "text", "novelty", "dedup",
)
def txt_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    g = docs.where(F.size("w") >= _NOV_N).select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(w) - {_NOV_N} + 1), "
                f"i -> concat_ws(' ', slice(w, i, {_NOV_N})))"
            )
        ).alias("ng"),
    )
    f = g.withColumn(
        "first_doc", F.min("doc_id").over(Window.partitionBy("ng"))
    )
    novel = F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    return (
        f.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_ngrams"),
            F.sum(novel).cast("bigint").alias("n_novel"),
        )
        .withColumn(
            "novelty_x10000",
            F.expr("(10000 * n_novel) div n_ngrams").cast("bigint"),
        )
    )


_BP_W = 8  # boilerplate chunk width (words, non-overlapping)
_BP_K = 2  # a chunk present in >= K distinct docs is boilerplate


@register(
    "txt_boilerplate_chunks",
    f"Boilerplate removal accounting (the CCNet/RefinedWeb duplicated-"
    f"paragraph pass, adapted to this corpus's single-line docs): docs "
    f"split into non-overlapping {_BP_W}-word chunks; a chunk seen in "
    f">= {_BP_K} DISTINCT docs is boilerplate. Per doc: chunk counts, "
    "boilerplate chunks, retained tokens after dropping them. Chunk "
    "identity via md5; distinct-doc counts from one chunk-keyed "
    "aggregate re-attached by a second keyed join -- no all-pairs.",
    f"""
    with t as (select doc_id, string_split(text, ' ') w from documents),
    c as (
      select doc_id,
             md5(array_to_string(
               w[(j * {_BP_W} + 1):(j * {_BP_W} + {_BP_W})], ' ')) as ck
      from t cross join unnest(range(0, len(w) // {_BP_W})) as u(j)
      where len(w) >= {_BP_W}
    ),
    d as (
      select ck, cast(count(distinct doc_id) as bigint) as n_docs
      from c group by ck
    )
    select c.doc_id,
           cast(count(*) as bigint) as n_chunks,
           cast(sum(case when d.n_docs >= {_BP_K} then 1 else 0 end)
                as bigint) as n_boiler,
           cast({_BP_W} * (count(*) - sum(case when d.n_docs >= {_BP_K}
                then 1 else 0 end)) as bigint) as retained_tokens
    from c join d using (ck)
    group by c.doc_id
    """,
    "text", "dedup", "boilerplate",
)
def txt_boilerplate_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    c = docs.where(F.size("w") >= _BP_W).select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, size(w) div {_BP_W} - 1), "
                f"j -> md5(concat_ws(' ', "
                f"slice(w, j * {_BP_W} + 1, {_BP_W}))))"
            )
        ).alias("ck"),
    )
    d = (
        c.select("doc_id", "ck")
        .distinct()
        .groupBy("ck")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    )
    boiler = F.when(F.col("n_docs") >= _BP_K, 1).otherwise(0)
    return (
        c.join(d, "ck")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_chunks"),
            F.sum(boiler).cast("bigint").alias("n_boiler"),
            (_BP_W * (F.count("*") - F.sum(boiler)))
            .cast("bigint")
            .alias("retained_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# KMV / theta-sketch SET ALGEBRA: the mergeable-sketch family extended
# from counting (agg_kmv_distinct, agg_cms_partial_merge) to set
# operations -- union and intersection cardinality estimated purely
# from two cohorts' bottom-k hash sketches, the way theta sketches
# trade exactness for a fixed-size summary at 1000-executor scale.
# Items are (user, day) activity pairs; hashes are 32-bit md5 prefixes
# (engine-independent); every estimate is exact integer arithmetic
# ((k-1) * 2^32 div h_k), and the EXACT cardinalities ride in the same
# row so the sketch's error is itself hash-verified output.
# ---------------------------------------------------------------------------

_KMV_K = 64
_KMV_M = 4_294_967_296  # 2^32: the hash value domain
#: partial-sketch fan-out: bounds any single task's sort at
#: corpus / shards rows; exact at any value (see the two-level note
#: in agg_theta_sketch_setops), so production sizes it to parallelism
_KMV_SHARDS = 64


@register(
    "agg_theta_sketch_setops",
    f"Theta/KMV sketch set algebra: bottom-{_KMV_K} md5 sketches of "
    "click user-days (a) and purchase user-days (b); union estimated "
    "from the sketch of a UNION b, intersection by inclusion-exclusion "
    f"on the three estimates -- est = ({_KMV_K}-1) * 2^32 div h_k, "
    "exact integers end-to-end. Exact cardinalities ride alongside, so "
    "the estimation error is verified output, not a claim. Bottom-k "
    "runs two-level (64 md5-shard PARTIALS, merge over <= 4096 rows) "
    "-- the mergeable deployment shape, no cohort-sized window task.",
    f"""
    with base as (
      select event_type, user_id,
             epoch_us(ts) // {_DAY_US} as day
      from events where event_type in ('click', 'purchase')
    ),
    items as (
      select distinct
        case when event_type = 'click' then 'a' else 'b' end as cohort,
        concat_ws(':', user_id, day) as item
      from base
    ),
    allc as (
      select cohort, item from items
      union all
      select distinct 'u' as cohort, item from items
    ),
    h as (
      select cohort, item,
             cast(('0x' || substr(md5(item), 1, 8)) as bigint) as hv
      from allc
    ),
    n as (select cohort, cast(count(*) as bigint) as n_exact
          from h group by cohort),
    rk as (
      select cohort, hv,
             row_number() over (partition by cohort
                                order by hv, item) as r
      from h
    ),
    kth as (
      select cohort, cast(count(*) as bigint) as n_k,
             max(hv) as h_k
      from rk where r <= {_KMV_K} group by cohort
    ),
    s as (
      select n.cohort, n.n_exact,
             case when kth.n_k >= {_KMV_K}
                  then (({_KMV_K} - 1) * {_KMV_M}) // kth.h_k
                  else n.n_exact end as est
      from n join kth using (cohort)
    )
    select
      cast(max(case when cohort = 'a' then n_exact end) as bigint)
        as exact_a,
      cast(max(case when cohort = 'b' then n_exact end) as bigint)
        as exact_b,
      cast(max(case when cohort = 'u' then n_exact end) as bigint)
        as exact_union,
      cast(max(case when cohort = 'a' then n_exact end)
           + max(case when cohort = 'b' then n_exact end)
           - max(case when cohort = 'u' then n_exact end) as bigint)
        as exact_intersect,
      cast(max(case when cohort = 'a' then est end) as bigint) as est_a,
      cast(max(case when cohort = 'b' then est end) as bigint) as est_b,
      cast(max(case when cohort = 'u' then est end) as bigint)
        as est_union,
      cast(max(case when cohort = 'a' then est end)
           + max(case when cohort = 'b' then est end)
           - max(case when cohort = 'u' then est end) as bigint)
        as est_intersect
    from s
    """,
    "aggregate", "sketch", "mergeable",
)
def agg_theta_sketch_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    base = ev.where(F.col("event_type").isin("click", "purchase")).select(
        F.when(F.col("event_type") == "click", "a").otherwise("b").alias(
            "cohort"
        ),
        F.concat_ws(":", F.col("user_id"), _day()).alias("item"),
    )
    items = base.distinct()
    allc = items.unionAll(
        items.select(F.lit("u").alias("cohort"), "item").distinct()
    )
    h = allc.withColumn(
        "hv", F.conv(F.substring(F.md5("item"), 1, 8), 16, 10).cast("bigint")
    )
    n = h.groupBy("cohort").agg(
        F.count("*").cast("bigint").alias("n_exact")
    )
    # two-level bottom-k, the actual mergeable-sketch deployment shape:
    # each md5 shard keeps its own bottom-k PARTIAL (keyed window), so
    # the largest sort any task performs is corpus / _KMV_SHARDS rows,
    # and the merge ranks only <= shards * k survivors per cohort.
    # Exact at ANY shard count (the global bottom-k is a subset of the
    # union of shard bottom-ks), so production sizes shards to cluster
    # parallelism; 64 here keeps the merge at <= 4096 rows while making
    # the per-task sort bound 64x smaller than the cohort.
    sharded = h.withColumn("shard", _md5_mod(F.col("item"), _KMV_SHARDS))
    r1 = F.row_number().over(
        Window.partitionBy("cohort", "shard").orderBy("hv", "item")
    )
    partials = sharded.withColumn("r1", r1).where(F.col("r1") <= _KMV_K)
    rk = partials.withColumn(
        "r",
        F.row_number().over(
            Window.partitionBy("cohort").orderBy("hv", "item")
        ),
    )
    kth = (
        rk.where(F.col("r") <= _KMV_K)
        .groupBy("cohort")
        .agg(
            F.count("*").cast("bigint").alias("n_k"),
            F.max("hv").alias("h_k"),
        )
    )
    s = n.join(kth, "cohort").select(
        "cohort",
        "n_exact",
        F.when(
            F.col("n_k") >= _KMV_K,
            F.expr(f"(({_KMV_K} - 1) * {_KMV_M}) div h_k"),
        )
        .otherwise(F.col("n_exact"))
        .alias("est"),
    )

    def pick(col: str, cohort: str) -> F.Column:
        return F.max(F.when(F.col("cohort") == cohort, F.col(col)))

    return s.agg(
        pick("n_exact", "a").cast("bigint").alias("exact_a"),
        pick("n_exact", "b").cast("bigint").alias("exact_b"),
        pick("n_exact", "u").cast("bigint").alias("exact_union"),
        (pick("n_exact", "a") + pick("n_exact", "b") - pick("n_exact", "u"))
        .cast("bigint")
        .alias("exact_intersect"),
        pick("est", "a").cast("bigint").alias("est_a"),
        pick("est", "b").cast("bigint").alias("est_b"),
        pick("est", "u").cast("bigint").alias("est_union"),
        (pick("est", "a") + pick("est", "b") - pick("est", "u"))
        .cast("bigint")
        .alias("est_intersect"),
    )


# ---------------------------------------------------------------------------
# Max drawdown: the classic ordered-series risk measure over each
# user's signed cash flow (purchase/signup credit, click/view/error
# debit). Two user-keyed window passes (running sum, then running max)
# + one aggregate -- exact cents, no join, no global window.
# ---------------------------------------------------------------------------


@register(
    "window_max_drawdown",
    "Per-user max drawdown of the signed cumulative cash flow "
    "(purchase/signup = credit, click/view/error = debit), events "
    "ordered by (ts, event_id): drawdown = running peak - running "
    "balance; output n_events, final balance, max drawdown, all exact "
    "cents through TWO stacked user-keyed windows (no join).",
    """
    with s as (
      select user_id, event_id, ts,
             case when event_type in ('purchase', 'signup')
                  then cast(round(value * 100) as bigint)
                  else -cast(round(value * 100) as bigint) end as flow
      from events
    ),
    b as (
      select user_id, ts, event_id, flow,
             sum(flow) over (partition by user_id order by ts, event_id
                             rows between unbounded preceding
                             and current row) as bal
      from s
    ),
    p as (
      select user_id, bal,
             max(bal) over (partition by user_id order by ts, event_id
                            rows between unbounded preceding
                            and current row) as peak,
             row_number() over (partition by user_id
                                order by ts desc, event_id desc) as rk_last
      from b
    )
    select user_id,
           cast(count(*) as bigint) as n_events,
           cast(max(peak - bal) as bigint) as max_drawdown_cents,
           cast(max(case when rk_last = 1 then bal end)
                as bigint) as final_bal_cents
    from p group by user_id
    """,
    "window", "ordered", "finance",
)
def window_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    flow = F.when(
        F.col("event_type").isin("purchase", "signup"), _cents("value")
    ).otherwise(-_cents("value"))
    s = ev.select("user_id", "event_id", "ts", flow.alias("flow"))
    wsum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    b = s.withColumn("bal", F.sum("flow").over(wsum))
    wmax = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    p = b.withColumn("peak", F.max("bal").over(wmax))
    last = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    p = p.withColumn("rk_last", F.row_number().over(last))
    return p.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.max(F.col("peak") - F.col("bal"))
        .cast("bigint")
        .alias("max_drawdown_cents"),
        F.max(F.when(F.col("rk_last") == 1, F.col("bal")))
        .cast("bigint")
        .alias("final_bal_cents"),
    )


# ---------------------------------------------------------------------------
# Salted skew join: the standard hot-key mitigation, proven
# semantics-preserving. The dimension side replicates across _SALT_N
# salt values; the fact side salts each row deterministically
# (md5(event_id) % _SALT_N); the join key becomes (type, salt), so one
# hot type's rows spread over _SALT_N reducers instead of one. The
# ORACLE is the UNSALTED join -- parity proves salting changes the
# physical distribution only, never the answer. (At this SF the dim is
# broadcast anyway; the pattern is registered for the 100 TB case
# where both sides shuffle and one key carries half the corpus.)
# ---------------------------------------------------------------------------

_SALT_N = 8


@register(
    "join_salted_skew",
    f"Skew-salted fact-dim join: the event-type dimension (weight = "
    f"name length) replicates x{_SALT_N}; facts salt on md5(event_id) "
    f"% {_SALT_N}; join on (type, salt) then aggregate per type. The "
    "oracle computes the UNSALTED join, so parity proves the salt "
    "preserves semantics exactly -- the hot-key spread is free.",
    """
    with dim as (
      select distinct event_type as d_type,
             cast(length(event_type) as bigint) as weight
      from events
    )
    select e.event_type,
           cast(count(*) as bigint) as n_events,
           cast(sum(cast(round(e.value * 100) as bigint) * d.weight)
                as bigint) as weighted_cents
    from events e join dim d on e.event_type = d.d_type
    group by e.event_type
    """,
    "join", "skew", "salted",
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    dim = (
        ev.select(F.col("event_type").alias("d_type"))
        .distinct()
        .withColumn("weight", F.length("d_type").cast("bigint"))
    )
    dim_salted = dim.select(
        "d_type",
        "weight",
        F.explode(F.expr(f"sequence(0, {_SALT_N - 1})")).alias("salt"),
    )
    fact = ev.withColumn(
        "salt", _md5_mod(F.col("event_id").cast("string"), _SALT_N)
    )
    return (
        fact.join(
            dim_salted,
            (fact.event_type == dim_salted.d_type)
            & (fact.salt == dim_salted.salt),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(_cents("value") * F.col("weight"))
            .cast("bigint")
            .alias("weighted_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Bitmap-index retention: per (user, week) a 7-bit day-presence mask
# built by bit_or(1 << dow) -- the roaring-bitmap pattern that turns
# retention into bitwise AND + popcount instead of a self-join on day
# rows. Weeks align to the corpus's global min day (one 1-row
# broadcast). Week-over-week retention = bit_count(mask & next mask).
# ---------------------------------------------------------------------------


@register(
    "ev_bitmap_retention",
    "Bitmap retention: per (user, week) a 7-bit activity mask "
    "(bit_or(1 << day-of-week), weeks rebased to the corpus min day); "
    "week-over-week retained days = bit_count(current & next) via ONE "
    "user-keyed self-join on (user, week+1). The bitmap-index pattern: "
    "day-grain presence compressed to one int per user-week, retention "
    "as bitwise algebra.",
    f"""
    with d as (
      select user_id, epoch_us(ts) // {_DAY_US} as day from events
    ),
    rebased as (
      select user_id, day - (select min(day) from d) as rd from d
    ),
    m as (
      select user_id, rd // 7 as week,
             bit_or(cast(1 as bigint) << cast(rd % 7 as integer)) as mask
      from rebased group by user_id, rd // 7
    )
    select a.user_id, cast(a.week as bigint) as week,
           cast(bit_count(a.mask) as bigint) as active_days,
           cast(coalesce(bit_count(a.mask & b.mask), 0) as bigint)
             as retained_days,
           cast(case when b.user_id is not null then 1 else 0 end
                as bigint) as active_next_week
    from m a left join m b
      on a.user_id = b.user_id and b.week = a.week + 1
    """,
    "events", "bitmap", "retention",
)
def ev_bitmap_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    d = ev.select("user_id", _day().alias("day"))
    min_day = d.agg(F.min("day").alias("min_day"))
    rebased = d.crossJoin(F.broadcast(min_day)).select(
        "user_id", (F.col("day") - F.col("min_day")).alias("rd")
    )
    m = (
        rebased.groupBy(
            "user_id", F.expr("rd div 7").alias("week")
        ).agg(
            F.bit_or(
                F.expr(
                    "shiftleft(cast(1 as bigint), cast(rd % 7 as int))"
                )
            ).alias("mask")
        )
    )
    # referenced on both sides of the week self-join: persist once so
    # the scan + min-day rebase doesn't run twice
    m = persist_swap(spark, "bitmap_masks", m)
    a = m.select(
        "user_id", F.col("week").alias("week"), F.col("mask").alias("mask_a")
    )
    b = m.select(
        F.col("user_id").alias("b_user"),
        F.col("week").alias("b_week"),
        F.col("mask").alias("mask_b"),
    )
    joined = a.join(
        b,
        (a.user_id == b.b_user) & (b.b_week == a.week + 1),
        "left",
    )
    return joined.select(
        "user_id",
        F.col("week").cast("bigint").alias("week"),
        F.bit_count("mask_a").cast("bigint").alias("active_days"),
        F.coalesce(
            F.bit_count(F.col("mask_a").bitwiseAND(F.col("mask_b"))),
            F.lit(0),
        )
        .cast("bigint")
        .alias("retained_days"),
        F.when(F.col("b_user").isNotNull(), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("active_next_week"),
    )


# ---------------------------------------------------------------------------
# Grid-blocked epsilon-neighborhood self-join (the DBSCAN core-point
# step). Points are integer user features (clicks, purchases); each
# point belongs to ONE width-eps grid cell; a point's eps-ball can only
# intersect the 3x3 neighboring cells, so the quadratic "every pair
# within eps" join becomes: query side explodes to <= 9 cells, ONE
# equi-join on cell id, exact integer distance post-filter. The ORACLE
# is the naive quadratic inequality self-join -- parity proves the
# blocking is semantically exact. Same pattern scale applies to
# quantized-embedding grids.
# ---------------------------------------------------------------------------

_DB_EPS = 2  # eps (grid cell width); squared radius = 4
_DB_MINPTS = 4  # core point threshold (neighbors within eps, self excl.)


@register(
    "sim_dbscan_grid",
    f"DBSCAN core points by grid blocking: users as integer points "
    f"(x = clicks, y = purchases); eps = {_DB_EPS} (euclidean); a "
    f"point is core when >= {_DB_MINPTS} other points sit within eps. "
    "Joins run over DISTINCT points with multiplicity (coincident "
    "piles cost one row; neighbor count = in-ball mass - 1); each "
    "distinct point hashes to one width-eps cell, queries explode to "
    "the 3x3 neighbor cells, ONE cell-keyed equi-join + exact integer "
    "distance filter. Oracle = the naive quadratic join, so parity "
    "proves the grid + collapse prunes nothing it shouldn't.",
    f"""
    with p as (
      select user_id,
             cast(count(*) filter (event_type = 'click') as bigint) as x,
             cast(count(*) filter (event_type = 'purchase') as bigint)
               as y
      from events group by user_id
    ),
    nb as (
      select p1.user_id, cast(count(*) as bigint) as n_neighbors
      from p p1 join p p2
        on p1.user_id <> p2.user_id
       and (p1.x - p2.x) * (p1.x - p2.x)
           + (p1.y - p2.y) * (p1.y - p2.y) <= {_DB_EPS * _DB_EPS}
      group by p1.user_id
    )
    select p.user_id, p.x, p.y,
           coalesce(nb.n_neighbors, 0) as n_neighbors,
           cast(case when coalesce(nb.n_neighbors, 0) >= {_DB_MINPTS}
                then 1 else 0 end as bigint) as is_core
    from p left join nb using (user_id)
    """,
    "similarity", "clustering", "grid",
)
def sim_dbscan_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the join runs over DISTINCT points carrying a multiplicity count,
    # never over raw members: mass-coincident points (thousands of
    # users at one feature pair -- a certainty at crawl scale) would
    # otherwise expand O(b^2) pairs inside one cell. Collapsed, a
    # coincident pile costs ONE distinct-point row; every member's
    # neighbor count is sum(cnt in ball) - 1 (self excluded), so the
    # degenerate case is free instead of quadratic -- the same
    # discipline as the LSH star cap, but exact here. Better still, on
    # an integer lattice a width-eps cell holds at most eps^2 DISTINCT
    # coordinates, so the post-collapse per-cell pair fan-out is
    # bounded by geometry (eps^2 x 9 cells), not by data volume.
    ev = load_table(spark, sf_dir, "events")
    pts = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("y"),
    )
    pts = persist_swap(spark, "dbscan_pts", pts)
    dpts = pts.groupBy("x", "y").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    dpts = persist_swap(spark, "dbscan_dpts", dpts)
    data = dpts.select(
        F.col("x").alias("dx"),
        F.col("y").alias("dy"),
        F.col("cnt").alias("dcnt"),
        F.expr(f"x div {_DB_EPS}").alias("cx"),
        F.expr(f"y div {_DB_EPS}").alias("cy"),
    )
    query = dpts.select(
        "x",
        "y",
        F.explode(
            F.expr(
                f"""flatten(transform(sequence(-1, 1), i ->
                      transform(sequence(-1, 1), j ->
                        struct(x div {_DB_EPS} + i as cx,
                               y div {_DB_EPS} + j as cy))))"""
            )
        ).alias("cell"),
    ).select("x", "y", "cell.cx", "cell.cy")
    d2 = (F.col("x") - F.col("dx")) * (F.col("x") - F.col("dx")) + (
        F.col("y") - F.col("dy")
    ) * (F.col("y") - F.col("dy"))
    # in-ball mass per distinct point INCLUDING itself; self excluded
    # per member below (ball - 1)
    ball = (
        query.join(data, ["cx", "cy"])
        .where(d2 <= _DB_EPS * _DB_EPS)
        .groupBy("x", "y")
        .agg(F.sum("dcnt").cast("bigint").alias("in_ball"))
    )
    return pts.join(ball, ["x", "y"]).select(
        "user_id",
        "x",
        "y",
        (F.col("in_ball") - 1).cast("bigint").alias("n_neighbors"),
        F.when(F.col("in_ball") - 1 >= _DB_MINPTS, 1)
        .otherwise(0)
        .cast("bigint")
        .alias("is_core"),
    )


# ---------------------------------------------------------------------------
# Per-node LOCAL clustering coefficient: graph_triangle_count's global
# number decomposed to nodes -- each triangle credits its 3 corners,
# lcc(v) = 2 * tri(v) / (d(v) * (d(v) - 1)) as an exact integer
# permyriad. Same degree-ordered orientation (each triangle generated
# exactly once), one extra 3-way corner explode + node-keyed count.
# ---------------------------------------------------------------------------

@register(
    "graph_local_clustering",
    "Per-node local clustering coefficient over the part co-purchase "
    f"graph (edge = >= {PART_MIN_SUPPORT} common orders): triangles "
    "found once via degree-ordered orientation, each credits its 3 "
    "corners; lcc = 2*tri/(d*(d-1)) as exact permyriad, nodes with "
    "d >= 2. The node-level transitivity signal community detection "
    "seeds from; corner explode is x3, never quadratic.",
    f"""
    with op as (
      select distinct a.l_orderkey, a.l_partkey as pa, b.l_partkey as pb
      from lineitem a join lineitem b
        on a.l_orderkey = b.l_orderkey and a.l_partkey < b.l_partkey
    ),
    e0 as (
      select pa, pb from op
      group by 1, 2 having count(*) >= {PART_MIN_SUPPORT}
    ),
    deg as (
      select node, count(*) as d from (
        select pa as node from e0 union all select pb as node from e0
      ) group by node
    ),
    orient as (
      select case when (da.d, e0.pa) < (db.d, e0.pb)
                  then e0.pa else e0.pb end as u,
             case when (da.d, e0.pa) < (db.d, e0.pb)
                  then e0.pb else e0.pa end as v
      from e0 join deg da on da.node = e0.pa
              join deg db on db.node = e0.pb
    ),
    tri3 as (
      select o1.u as n1, least(o1.v, o2.v) as n2,
             greatest(o1.v, o2.v) as n3
      from orient o1
      join orient o2 on o1.u = o2.u and o1.v < o2.v
      join e0 on e0.pa = least(o1.v, o2.v)
             and e0.pb = greatest(o1.v, o2.v)
    ),
    pern as (
      select node, cast(count(*) as bigint) as n_tri from (
        select n1 as node from tri3
        union all select n2 from tri3
        union all select n3 from tri3
      ) group by node
    )
    select deg.node, cast(deg.d as bigint) as degree,
           coalesce(pern.n_tri, 0) as n_triangles,
           cast((20000 * coalesce(pern.n_tri, 0))
                // (deg.d * (deg.d - 1)) as bigint) as lcc_x10000
    from deg left join pern using (node)
    where deg.d >= 2
    """,
    "graph", "triangles", "clustering",
)
def graph_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    e0 = persist_swap(spark, "lcc_e0", part_pair_edges(spark, sf_dir))
    deg = (
        e0.select(F.col("pa").alias("node"))
        .unionAll(e0.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    deg = persist_swap(spark, "lcc_deg", deg)
    tri3 = closed_triangles(e0, deg)
    corners = (
        tri3.select(F.col("u").alias("node"))
        .unionAll(tri3.select(F.col("wa").alias("node")))
        .unionAll(tri3.select(F.col("wb").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("n_tri"))
    )
    return (
        deg.where(F.col("d") >= 2)
        .join(corners, "node", "left")
        .select(
            "node",
            F.col("d").cast("bigint").alias("degree"),
            F.coalesce(F.col("n_tri"), F.lit(0))
            .cast("bigint")
            .alias("n_triangles"),
            F.expr("(20000 * coalesce(n_tri, 0)) div (d * (d - 1))")
            .cast("bigint")
            .alias("lcc_x10000"),
        )
    )


# ---------------------------------------------------------------------------
# STREAMING KMV sketch: the stateful-stream sibling of
# agg_theta_sketch_setops. Per cohort, applyInPandasWithState maintains
# the bottom-k (hash, item) entries as O(k) state across micro-batches
# -- the property that lets a streaming job estimate distinct counts
# forever without unbounded dedup state. Bottom-k folding is
# associative, so the drained stream's final state must equal the
# batch-computed bottom-k EXACTLY; the DuckDB oracle computes that
# batch sketch, making the stream-vs-batch equivalence hash-verified.
# ---------------------------------------------------------------------------


def _kmv_state_fn(key, pdf_iter, state):
    """Bottom-k fold worker. State = (json entries, rows seen): entries
    are the current bottom-{_KMV_K} [hash, item] pairs ordered by
    (hash, item) -- identical to the batch rank order, so hash ties
    across distinct items keep both rows, exactly as the oracle does.
    Within a batch the candidate list is bounded by an INLINE cap
    (4 * k): whenever it fills, sort + truncate to k and rebuild the
    dedup set. Exact: a stream-wide bottom-k entry, once added, is by
    definition among the k smallest of ANY entry set containing it, so
    no truncation can ever drop it; a truncated (non-bottom-k) item
    that recurs is simply re-added and re-truncated. Per-key memory is
    therefore O(k) regardless of batch size (ADVICE r11)."""
    import hashlib
    import json as _json

    import pandas as pd

    if state.exists:
        entries_json, seen = state.get
        entries = _json.loads(entries_json)
    else:
        entries, seen = [], 0
    have = {e[1] for e in entries}
    cap = 4 * _KMV_K
    for pdf in pdf_iter:
        for item in pdf["item"]:
            seen += 1
            it = str(item)
            if it in have:
                continue
            hv = int(hashlib.md5(it.encode()).hexdigest()[:8], 16)
            entries.append([hv, it])
            have.add(it)
            if len(entries) >= cap:
                entries.sort(key=lambda e: (e[0], e[1]))
                entries = entries[: _KMV_K]
                have = {e[1] for e in entries}
    entries.sort(key=lambda e: (e[0], e[1]))
    entries = entries[: _KMV_K]
    state.update((_json.dumps(entries), seen))
    n = len(entries)
    h_k = entries[-1][0] if entries else 0
    est = ((_KMV_K - 1) * _KMV_M) // h_k if n >= _KMV_K else n
    yield pd.DataFrame(
        {
            "cohort": [key[0]],
            "n_sketch": [n],
            "h_k": [h_k],
            "est_distinct": [est],
            "n_seen": [seen],
        }
    )


@register(
    "st_kmv_distinct_sketch",
    f"STREAMING distinct-count sketch (applyInPandasWithState): per "
    f"cohort (click/purchase user-days) the bottom-{_KMV_K} md5 "
    "(hash, item) entries fold across micro-batches as O(k) state -- "
    "distinct counting that never grows dedup state. Bottom-k folding "
    "is associative, so the drained final state equals the batch "
    "sketch EXACTLY; the oracle computes that batch sketch, so "
    "stream == batch is hash-verified, not asserted.",
    f"""
    with base as (
      select distinct
        case when event_type = 'click' then 'a' else 'b' end as cohort,
        concat_ws(':', user_id, epoch_us(ts) // {_DAY_US}) as item
      from events where event_type in ('click', 'purchase')
    ),
    h as (
      select cohort, item,
             cast(('0x' || substr(md5(item), 1, 8)) as bigint) as hv
      from base
    ),
    rk as (
      select cohort, hv,
             row_number() over (partition by cohort
                                order by hv, item) as r
      from h
    )
    select cohort,
           cast(count(*) as bigint) as n_sketch,
           max(hv) as h_k,
           cast(case when count(*) >= {_KMV_K}
                then (({_KMV_K} - 1) * {_KMV_M}) // max(hv)
                else count(*) end as bigint) as est_distinct
    from rk where r <= {_KMV_K} group by cohort
    """,
    "streaming", "stateful", "sketch",
)
def st_kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.streaming.state import GroupStateTimeout

    from clueso_spark.plans.streaming_queries import (
        events_stream,
        run_on_state_sized_session,
    )

    # TWO state keys (cohorts a/b) on session-default partitioning paid
    # for 32 state partitions' worth of Python-worker spin-up -- the
    # exact per-query reading the r14 verdict flagged as bimodal (4.24 s
    # driver vs 2.15 s canonical). Input-sized state partitions via the
    # cloned session; the bottom-k fold is associative, so output is
    # partitioning-independent.
    def plan(s: SparkSession) -> DataFrame:
        stream = (
            events_stream(s, sf_dir)
            .where(F.col("event_type").isin("click", "purchase"))
            .select(
                F.when(F.col("event_type") == "click", "a")
                .otherwise("b")
                .alias("cohort"),
                F.concat_ws(":", F.col("user_id"), _day()).alias("item"),
            )
        )
        out_schema = (
            "cohort string, n_sketch bigint, h_k bigint, "
            "est_distinct bigint, n_seen bigint"
        )
        state_schema = "entries string, seen bigint"
        return stream.groupBy("cohort").applyInPandasWithState(
            _kmv_state_fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    sunk = run_on_state_sized_session(
        spark, sf_dir, plan, "st_kmv_distinct_sketch_sink",
        output_mode="update",
    )
    # update-mode sink keeps one row per cohort per micro-batch; the
    # final state is the row with the largest rows-seen counter
    # (monotone across batches by construction)
    w = Window.partitionBy("cohort").orderBy(F.col("n_seen").desc())
    return (
        sunk.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("cohort", "n_sketch", "h_k", "est_distinct")
    )


# ---------------------------------------------------------------------------
# HITS authority/hub scoring on the directed customer->part purchase
# graph -- the third centrality family after PageRank (global walk) and
# Katz (decayed paths): mutually-recursive scores where good hubs point
# at good authorities. Two plan-unrolled rounds in raw integers (the
# classic L2 normalization only rescales the ranking, so dropping it
# keeps every score an exact bigint and the top-k identical). Each
# round is one keyed join + one keyed aggregate over the edge list.
# ---------------------------------------------------------------------------

_HITS_TOP = 20


@register(
    "graph_hits_authority",
    "HITS on the customer->part purchase graph, 2 unrolled rounds in "
    "exact integers (unnormalized -- rescaling never reorders): "
    "auth1 = in-degree, hub1(c) = sum of auth1 over c's parts, "
    f"auth2(p) = sum of hub1 over buyers; top-{_HITS_TOP} authorities "
    "by (auth2, part). Edge list = DISTINCT (cust, part) pairs; every "
    "round is edge-keyed join + aggregate, never adjacency "
    "materialization.",
    f"""
    with e as (
      select distinct o_custkey as c, l_partkey as p
      from orders join lineitem on o_orderkey = l_orderkey
    ),
    auth1 as (
      select p, cast(count(*) as bigint) as a1 from e group by p
    ),
    hub1 as (
      select e.c, cast(sum(auth1.a1) as bigint) as h1
      from e join auth1 using (p) group by e.c
    ),
    auth2 as (
      select e.p, cast(sum(hub1.h1) as bigint) as a2
      from e join hub1 using (c) group by e.p
    )
    select auth2.p as part, auth1.a1 as auth_round1,
           auth2.a2 as auth_round2
    from auth2 join auth1 using (p)
    order by auth2.a2 desc, part
    limit {_HITS_TOP}
    """,
    "graph", "centrality", "hits",
)
def graph_hits_authority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    e = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p")
        )
        .distinct()
    )
    # pinned PRE-PARTITIONED on p: the auth-side degree aggregate and
    # the first hub join both key on p and reuse the cached
    # partitioning with zero exchange; only the alternating c-keyed
    # round still shuffles edge rows (structural for HITS -- hub and
    # authority passes key on opposite endpoints)
    e = persist_swap(spark, "hits_edges", e.repartition("p"))
    auth1 = e.groupBy("p").agg(F.count("*").cast("bigint").alias("a1"))
    hub1 = (
        e.join(auth1, "p")
        .groupBy("c")
        .agg(F.sum("a1").cast("bigint").alias("h1"))
    )
    auth2 = (
        e.join(hub1, "c")
        .groupBy("p")
        .agg(F.sum("h1").cast("bigint").alias("a2"))
    )
    return (
        auth2.join(auth1, "p")
        .select(
            F.col("p").alias("part"),
            F.col("a1").alias("auth_round1"),
            F.col("a2").alias("auth_round2"),
        )
        .orderBy(F.col("auth_round2").desc(), "part")
        .limit(_HITS_TOP)
    )


# ---------------------------------------------------------------------------
# Rolling regression: the windowed form of agg_ols_trend -- per user, an
# 8-row rolling OLS slope of value against the event index, built from
# FOUR window sums (n, sum x, sum y, sum xy, sum x2) over the same
# keyed frame. All moments exact bigints; the slope ships as both the
# exact (num, den) pair and a permyriad integer quotient (div == //
# toward zero on both engines, probed for negatives).
# ---------------------------------------------------------------------------

_ROLL_W = 8  # rolling frame: 7 preceding + current


@register(
    "window_rolling_regression",
    f"Per-user rolling OLS slope over the last {_ROLL_W} events (value "
    "cents against the per-user event index): slope = (n*Sxy - Sx*Sy) "
    "/ (n*Sx2 - Sx^2) assembled from five window sums over ONE keyed "
    "frame -- no self-join, no UDF. Ships exact integer (num, den) "
    "plus slope_x10000 = (10000*num) div den; single-row frames carry "
    "the 0/0 sentinel as 0.",
    f"""
    with s as (
      select user_id, event_id, ts,
             cast(round(value * 100) as bigint) as y,
             row_number() over (partition by user_id
                                order by ts, event_id) as x
      from events
    ),
    w as (
      select user_id, event_id, x, y,
             count(*) over fr as n,
             sum(x) over fr as sx,
             sum(y) over fr as sy,
             sum(x * y) over fr as sxy,
             sum(x * x) over fr as sx2
      from s
      window fr as (partition by user_id order by x
                    rows between {_ROLL_W - 1} preceding and current row)
    )
    select user_id, event_id,
           cast(n as bigint) as n,
           cast(n * sxy - sx * sy as bigint) as slope_num,
           cast(n * sx2 - sx * sx as bigint) as slope_den,
           cast(case when n * sx2 - sx * sx = 0 then 0
                else (10000 * (n * sxy - sx * sy))
                     // (n * sx2 - sx * sx) end as bigint)
             as slope_x10000
    from w
    """,
    "window", "regression", "ordered",
)
def window_rolling_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "user_id",
        "event_id",
        "ts",
        _cents("value").alias("y"),
    ).withColumn("x", F.row_number().over(order))
    fr = (
        Window.partitionBy("user_id")
        .orderBy("x")
        .rowsBetween(-(_ROLL_W - 1), Window.currentRow)
    )
    w = (
        s.withColumn("n", F.count("*").over(fr))
        .withColumn("sx", F.sum("x").over(fr))
        .withColumn("sy", F.sum("y").over(fr))
        .withColumn("sxy", F.sum(F.col("x") * F.col("y")).over(fr))
        .withColumn("sx2", F.sum(F.col("x") * F.col("x")).over(fr))
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx")
    return w.select(
        "user_id",
        "event_id",
        F.col("n").cast("bigint").alias("n"),
        num.cast("bigint").alias("slope_num"),
        den.cast("bigint").alias("slope_den"),
        F.when(den == 0, F.lit(0))
        .otherwise(F.expr(
            "(10000 * (n * sxy - sx * sy)) div (n * sx2 - sx * sx)"
        ))
        .cast("bigint")
        .alias("slope_x10000"),
    )

