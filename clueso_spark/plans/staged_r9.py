"""Operators staged in round 8, PROMOTED in round 9 (live).

Same life-cycle as ``plans/staged_r6.py`` (promoted in round 6) and
``plans/staged_r8.py`` (promoted in round 8): they shipped in round 8
as library code with full pytest parity coverage (tests/test_staged_r9.py
runs the exact driver comparison -- row count + schema +
order-insensitive value hash -- against their DuckDB oracles at sf0.001
and sf0.01) because the round-8 driver window was fully allocated.
Round 9 executed the promotion: this module is in catalog.QUERY_MODULES,
registers at import, every name heads the round-9 driver
window, and all 17 are perf-tracked in bench.py HEADLINE (same commit).

Registry arithmetic: 165 + 17 = 182 registered queries against the
50-slot window keeps the refresh cycle at ceil(182/50) = 4 rounds --
tests/test_entry.py's test_refresh_cycle_matches_registry_size holds
without a constant bump.

Reference parity note: none of these exist in the reference engine
(its whole surface is the metadata merge/search path); they extend the
engine along axes the build brief names first-class -- event analytics
(SCD-2 interval build, ordered conversion funnels, streak mining,
exact sliding-window distinct counts, time-weighted state averages),
retrieval (BM25, bottom-k set-similarity sketches), statistics over
exact sums (OLS trend, higher moments, Gini concentration, grouped
weighted medians, exact grouped quantiles, CUSUM change points), window
rank-distribution coverage (percent_rank/cume_dist), weighted
corpus sampling, the stream-static enrichment join, and bounded-BFS
k-hop reachability (the fixed-depth sibling of connected components).

Determinism contract: identical to plans/catalog.py -- exact bigint /
decimal arithmetic wherever a float sum would be order-sensitive;
scaled-log2-of-bigint (staged_r6._l2) for information measures; doubles
only as the final step of identical IEEE operation chains over
exactly-represented integer inputs; every computed column aliased
identically on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clueso_spark.functions.text import tokens
from clueso_spark.plans.catalog import register
from clueso_spark.plans.relational import PART_MIN_SUPPORT, part_pair_edges
from clueso_spark.plans.staged_r6 import _l2
from clueso_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# SCD-2 interval build: turn an append-only event log into
# validity-interval rows ([ts, next_ts) per user), the standard
# warehouse shape for "what was each entity's state at time T" queries.
# One lead() window per user -- partitioned by the entity key, so no
# global sort; at 100 TB the shuffle is one keyed exchange and each
# task sorts only its users' (bounded) histories.
# ---------------------------------------------------------------------------


@register(
    "ev_scd2_intervals",
    "SCD-2 interval build: per user, each event opens a validity "
    "interval closed by the user's next event (lead over ts, event_id "
    "tiebreak); report per event_type the closed/open interval counts "
    "and the exact total closed duration in microseconds. Scale: one "
    "user-keyed exchange + per-user sort (bounded history), then a "
    "partial-aggregated rollup -- no global window anywhere.",
    """
    with iv as (
      select event_type, epoch_us(ts) as s_us,
             lead(epoch_us(ts)) over (
               partition by user_id order by ts, event_id) as e_us
      from events
    )
    select event_type,
           cast(sum(case when e_us is not null then 1 else 0 end)
                as bigint) as n_closed,
           cast(sum(case when e_us is null then 1 else 0 end)
                as bigint) as n_open,
           cast(coalesce(sum(case when e_us is not null
                                  then e_us - s_us end), 0)
                as bigint) as total_dur_us
    from iv group by event_type
    """,
    "events", "window", "scd2",
)
def ev_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    iv = ev.select(
        "event_type",
        F.unix_micros("ts").alias("s_us"),
        F.lead(F.unix_micros("ts")).over(w).alias("e_us"),
    )
    closed = F.col("e_us").isNotNull()
    return iv.groupBy("event_type").agg(
        F.sum(F.when(closed, 1).otherwise(0)).cast("bigint").alias("n_closed"),
        F.sum(F.when(~closed, 1).otherwise(0)).cast("bigint").alias("n_open"),
        F.coalesce(
            F.sum(F.when(closed, F.col("e_us") - F.col("s_us"))), F.lit(0)
        )
        .cast("bigint")
        .alias("total_dur_us"),
    )


# ---------------------------------------------------------------------------
# Ordered conversion funnel within a time window (the windowFunnel
# shape): signup -> first click within 7 days -> first purchase after
# that click, still within 7 days of signup. Three keyed min-aggregates
# + left joins on user_id: every stage is a partial-aggregated
# equi-join, so the plan is skew-tolerant and never materializes a
# per-user event array.
# ---------------------------------------------------------------------------

_FUNNEL_WINDOW_US = 7 * 24 * 3600 * 1_000_000


@register(
    "ev_window_funnel",
    "Ordered 3-stage conversion funnel with a 7-day window: per user "
    "the earliest signup, the earliest click strictly after it within "
    "the window, the earliest purchase strictly after that click still "
    "within the window; report users per max level reached (1..3). "
    "Scale: three filtered min-aggregates + user-keyed joins -- no "
    "per-user sort, no event-array collect, every stage partial.",
    f"""
    with s as (
      select user_id, min(epoch_us(ts)) as s_us
      from events where event_type = 'signup' group by user_id
    ),
    c as (
      select e.user_id, min(epoch_us(e.ts)) as c_us
      from events e join s on e.user_id = s.user_id
      where e.event_type = 'click'
        and epoch_us(e.ts) > s.s_us
        and epoch_us(e.ts) <= s.s_us + {_FUNNEL_WINDOW_US}
      group by e.user_id
    ),
    p as (
      select e.user_id, min(epoch_us(e.ts)) as p_us
      from events e
      join s on e.user_id = s.user_id
      join c on e.user_id = c.user_id
      where e.event_type = 'purchase'
        and epoch_us(e.ts) > c.c_us
        and epoch_us(e.ts) <= s.s_us + {_FUNNEL_WINDOW_US}
      group by e.user_id
    )
    select cast(case when p.user_id is not null then 3
                     when c.user_id is not null then 2
                     else 1 end as integer) as level,
           cast(count(*) as bigint) as n_users
    from s
    left join c on s.user_id = c.user_id
    left join p on s.user_id = p.user_id
    group by level
    """,
    "events", "funnel", "join",
)
def ev_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    s = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("us").alias("s_us"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(s, "user_id")
        .where(
            (F.col("us") > F.col("s_us"))
            & (F.col("us") <= F.col("s_us") + F.lit(_FUNNEL_WINDOW_US))
        )
        .groupBy("user_id")
        .agg(F.min("us").alias("c_us"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .join(c, "user_id")
        .where(
            (F.col("us") > F.col("c_us"))
            & (F.col("us") <= F.col("s_us") + F.lit(_FUNNEL_WINDOW_US))
        )
        .groupBy("user_id")
        .agg(F.min("us").alias("p_us"))
    )
    level = (
        F.when(F.col("p_us").isNotNull(), 3)
        .when(F.col("c_us").isNotNull(), 2)
        .otherwise(1)
        .cast("int")
        .alias("level")
    )
    return (
        s.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(level)
        .groupBy("level")
        .agg(F.count("*").cast("bigint").alias("n_users"))
    )


# ---------------------------------------------------------------------------
# BM25 retrieval (Okapi, k1 = 1.2, b = 0.75) for a fixed query-term
# set, exact cross-engine. The rational constants are multiplied
# through so every term contribution is one double division of two
# exactly-represented bigints, rounded to a 1e-6-scaled bigint; the
# per-doc score is then an order-independent bigint sum:
#   contrib = idf * tf*(k1+1) / (tf + k1*(1-b) + k1*b*dl*N/T)
#           = idf * 22*tf*T / (10*tf*T + 3*T + 9*dl*N)
# with idf the scaled-log2 form of ln((N-df+0.5)/(df+0.5)+1):
#   idf_s = L(2N+2) - L(2df+1),  L(x) = round(log2(x)*1e6).
# The bigint products stay far under 2^53 at catalog scale; a 100 TB
# deployment swaps the T/N literals for a plain double avgdl (the
# ranking is then float but the plan shape -- inverted postings,
# broadcast idf, keyed dl join -- is unchanged).
# ---------------------------------------------------------------------------

_BM25_TERMS = ("spark", "window", "merge", "vector")
_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in _BM25_TERMS)
_BM25_K = 10


@register(
    "txt_bm25_topk",
    f"BM25 top-{_BM25_K} retrieval for the fixed query "
    f"{_BM25_TERMS}: postings built by filtering the token stream to "
    "the query terms BEFORE any shuffle, idf (4 rows) and the corpus "
    "totals (1 row) broadcast, document lengths equi-joined on doc_id, "
    "exact scaled-bigint scoring (see module notes), total-ordered "
    "top-k with doc_id tiebreak. Scale: the only corpus-sized "
    "exchanges are the tf groupBy and the dl join, both keyed; "
    "TakeOrderedAndProject bounds the top-k.",
    f"""
    with ln as (
      select doc_id, len(string_split(text, ' ')) as dl from documents
    ),
    tot as (
      select cast(sum(dl) as bigint) as t_tok,
             cast(count(*) as bigint) as n_docs
      from ln
    ),
    tf as (
      select doc_id, term, cast(count(*) as bigint) as tf
      from (
        select doc_id, unnest(string_split(text, ' ')) as term
        from documents
      )
      where term in ({_BM25_TERMS_SQL})
      group by doc_id, term
    ),
    idf as (
      select term,
             cast(round(log2(2*n_docs + 2) * 1000000) as bigint)
               - cast(round(log2(2*cast(count(*) as bigint) + 1) * 1000000)
                      as bigint) as idf_s
      from tf, tot group by term, n_docs
    ),
    sc as (
      select tf.doc_id,
             cast(round(cast(idf_s as double)
                        * cast(22*tf*t_tok as double)
                        / cast(10*tf*t_tok + 3*t_tok + 9*dl*n_docs
                               as double)) as bigint) as contrib
      from tf
      join idf using (term)
      join ln using (doc_id), tot
    )
    select doc_id, cast(sum(contrib) as bigint) as score_s
    from sc group by doc_id
    order by score_s desc, doc_id
    limit {_BM25_K}
    """,
    "text", "retrieval", "topk",
)
def txt_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clueso_spark.plans.catalog import persist_swap

    docs = load_table(spark, sf_dir, "documents").withColumn("w", tokens())
    # lengths feeds the corpus totals AND the per-doc score join; tf
    # feeds the idf counts AND the scoring relation. Without pinning,
    # each consumer re-tokenizes the corpus (5 text-column scans in the
    # audited plan); persisted, the corpus is read twice -- once per
    # projection -- and both are slim (2 ints/doc; <= |terms| rows/doc).
    lengths = persist_swap(
        spark, "bm25_lengths", docs.select("doc_id", F.size("w").alias("dl"))
    )
    totals = lengths.agg(
        F.sum("dl").cast("bigint").alias("t_tok"),
        F.count("*").cast("bigint").alias("n_docs"),
    )
    tf = persist_swap(
        spark,
        "bm25_tf",
        docs.select("doc_id", F.explode("w").alias("term"))
        .where(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("bigint").alias("tf")),
    )
    idf = (
        tf.groupBy("term")
        .agg(F.count("*").cast("bigint").alias("df"))
        .crossJoin(F.broadcast(totals))
        .select(
            "term",
            F.expr(f"{_l2('2*n_docs + 2')} - {_l2('2*df + 1')}").alias(
                "idf_s"
            ),
        )
    )
    scored = (
        tf.join(F.broadcast(idf), "term")
        .join(lengths, "doc_id")
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            F.expr(
                "cast(round(cast(idf_s as double)"
                " * cast(22*tf*t_tok as double)"
                " / cast(10*tf*t_tok + 3*t_tok + 9*dl*n_docs as double))"
                " as bigint)"
            ).alias("contrib"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.sum("contrib").cast("bigint").alias("score_s"))
        .orderBy(F.col("score_s").desc(), "doc_id")
        .limit(_BM25_K)
    )


# ---------------------------------------------------------------------------
# OLS trend over exact sums: per order priority, the least-squares
# slope/intercept of daily order counts against the day index. The five
# sufficient statistics (n, Sx, Sy, Sxy, Sxx) are exact bigint sums --
# order-independent by construction -- and the slope/intercept are one
# identical IEEE double chain over them, so the result is reproducible
# bit-for-bit on any partitioning. This is the map-side-combinable way
# to fit 1e6 regressions at 100 TB: no per-group sort, no iteration.
# ---------------------------------------------------------------------------


@register(
    "agg_ols_trend",
    "Per-priority OLS trend of daily order counts: x = days since "
    "1990-01-01, y = orders that day; slope/intercept from the exact "
    "bigint sufficient statistics (n, Sx, Sy, Sxy, Sxx), computed as "
    "one identical double chain in both engines. Scale: two partial "
    "aggregates, no window, no sort -- the canonical distributed "
    "regression shape.",
    """
    with daily as (
      select o_orderpriority,
             datediff('day', date '1990-01-01', cast(o_orderdate as date))
               as x,
             cast(count(*) as bigint) as y
      from orders group by o_orderpriority, x
    ),
    s as (
      select o_orderpriority,
             cast(count(*) as bigint) as n,
             cast(sum(x) as bigint) as sx,
             cast(sum(y) as bigint) as sy,
             cast(sum(x*y) as bigint) as sxy,
             cast(sum(x*x) as bigint) as sxx
      from daily group by o_orderpriority
    )
    select o_orderpriority, n as n_days,
           cast(n*sxy - sx*sy as double) / cast(n*sxx - sx*sx as double)
             as slope,
           (cast(sy as double)
            - (cast(n*sxy - sx*sy as double)
               / cast(n*sxx - sx*sx as double)) * cast(sx as double))
             / cast(n as double) as intercept
    from s
    """,
    "agg", "statistics",
)
def agg_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.select(
            "o_orderpriority",
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit("1990-01-01").cast("date")
            ).alias("x"),
        )
        .groupBy("o_orderpriority", "x")
        .agg(F.count("*").cast("bigint").alias("y"))
    )
    s = daily.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    slope = F.expr(
        "cast(n*sxy - sx*sy as double) / cast(n*sxx - sx*sx as double)"
    )
    return s.select(
        "o_orderpriority",
        F.col("n").alias("n_days"),
        slope.alias("slope"),
        (
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
            / F.col("n").cast("double")
        ).alias("intercept"),
    )


# ---------------------------------------------------------------------------
# Importance-weighted corpus sampling: each document's keep probability
# is proportional to an integer weight derived from its length (the
# standard quality/importance reweighting step before token budgeting),
# decided by a derived md5 hash -- deterministic, seedless, and exactly
# reproducible in SQL. Map-only: the decision needs no shuffle at all;
# the per-source report is one partial aggregate.
# ---------------------------------------------------------------------------


@register(
    "pipeline_importance_sample",
    "Importance-weighted Bernoulli sample: weight w = clamp(n_chars "
    "div 50, 1, 100) percent, keep iff md5('imp_'||doc_id)-derived "
    "uniform < w; per-source report of doc counts, kept counts, total "
    "weight mass and kept chars. Scale: the keep decision is map-only "
    "column math (no RNG state, no shuffle); the report is one "
    "partial-aggregated groupBy over ~sources rows.",
    """
    with w as (
      select source, n_chars,
             least(100, greatest(1, n_chars // 50)) as w8,
             cast(('0x' || substr(md5('imp_' || cast(doc_id as varchar)),
                                  1, 8)) as bigint) % 100 as u
      from documents
    )
    select source,
           cast(count(*) as bigint) as n_docs,
           cast(sum(case when u < w8 then 1 else 0 end) as bigint)
             as n_kept,
           cast(sum(w8) as bigint) as w_sum,
           cast(coalesce(sum(case when u < w8 then n_chars end), 0)
                as bigint) as chars_kept
    from w group by source
    """,
    "pipeline", "sampling",
)
def pipeline_importance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w8 = F.least(
        F.lit(100), F.greatest(F.lit(1), F.expr("n_chars div 50"))
    ).alias("w8")
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("imp_"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 100
    ).alias("u")
    w = docs.select("source", "n_chars", w8, u)
    kept = F.col("u") < F.col("w8")
    return w.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.when(kept, 1).otherwise(0)).cast("bigint").alias("n_kept"),
        F.sum("w8").cast("bigint").alias("w_sum"),
        F.coalesce(F.sum(F.when(kept, F.col("n_chars"))), F.lit(0))
        .cast("bigint")
        .alias("chars_kept"),
    )


# ---------------------------------------------------------------------------
# Activity streak mining (gaps-and-islands): longest run of consecutive
# active days per user, reported as a distribution. The island key
# (day - row_number) needs only a per-user window over the user's
# DISTINCT days -- bounded state, user-keyed shuffle, no global sort.
# ---------------------------------------------------------------------------


@register(
    "ev_activity_streaks",
    "Longest consecutive-active-day streak per user via "
    "gaps-and-islands (island key = day - per-user row_number over "
    "distinct days), reported as streak_days -> n_users. Scale: one "
    "user-keyed exchange; per-user state is the distinct-day list "
    "(bounded by the calendar), every aggregate partial.",
    """
    with d as (
      select distinct user_id, epoch_us(ts) // 86400000000 as day
      from events
    ),
    r as (
      select user_id, day,
             row_number() over (partition by user_id order by day) as rn
      from d
    ),
    s as (
      select user_id, cast(count(*) as bigint) as len
      from r group by user_id, day - rn
    ),
    m as (
      select user_id, max(len) as streak_days from s group by user_id
    )
    select streak_days, cast(count(*) as bigint) as n_users
    from m group by streak_days
    """,
    "events", "window", "streaks",
)
def ev_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # Day bucketing: Spark `div` and DuckDB's bigint `//` BOTH truncate
    # toward zero (measured, and pinned by
    # test_staged_r9_properties.test_day_bucket_div_matches_duckdb), so
    # cross-engine parity holds for ALL timestamps including pre-1970;
    # the "day" label is only calendar-meaningful for ts >= epoch, which
    # the events table satisfies (ADVICE r8).
    d = ev.select(
        "user_id", F.expr("unix_micros(ts) div 86400000000").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    r = d.withColumn("rn", F.row_number().over(w))
    s = (
        r.groupBy("user_id", (F.col("day") - F.col("rn")).alias("island"))
        .agg(F.count("*").cast("bigint").alias("len"))
    )
    m = s.groupBy("user_id").agg(F.max("len").alias("streak_days"))
    return m.groupBy("streak_days").agg(
        F.count("*").cast("bigint").alias("n_users")
    )


# ---------------------------------------------------------------------------
# Exact higher moments from power sums: per-source mean / variance /
# skewness / kurtosis of document length, derived from the bigint
# sufficient statistics (n, S1..S4). The sums are order-independent by
# construction (pure integer addition) and each final statistic is one
# identical IEEE double chain over them, so the result is bit-for-bit
# reproducible on any partitioning -- the map-side-combinable way to
# profile a 100 TB corpus in one pass. Magnitude check: n_chars <= 577
# at sf0.1, so S4 <= 5000 * 577^4 ~= 5.5e14 < 2^53 -- every sum is
# exactly representable even as a double.
# ---------------------------------------------------------------------------

# one shared expression text evaluated verbatim by BOTH engines: the
# operator tree (and hence the IEEE rounding sequence) is identical
_MOM_M = "(cast(s1 as double) / cast(n as double))"
_MOM_R2 = "(cast(s2 as double) / cast(n as double))"
_MOM_R3 = "(cast(s3 as double) / cast(n as double))"
_MOM_R4 = "(cast(s4 as double) / cast(n as double))"
_MOM_VAR = f"({_MOM_R2} - {_MOM_M} * {_MOM_M})"
_MOM_SKEW = (
    f"(({_MOM_R3} - 3.0 * {_MOM_M} * {_MOM_R2}"
    f" + 2.0 * {_MOM_M} * {_MOM_M} * {_MOM_M})"
    f" / (sqrt({_MOM_VAR}) * {_MOM_VAR}))"
)
_MOM_KURT = (
    f"(({_MOM_R4} - 4.0 * {_MOM_M} * {_MOM_R3}"
    f" + 6.0 * {_MOM_M} * {_MOM_M} * {_MOM_R2}"
    f" - 3.0 * {_MOM_M} * {_MOM_M} * {_MOM_M} * {_MOM_M})"
    f" / ({_MOM_VAR} * {_MOM_VAR}))"
)


@register(
    "agg_exact_moments",
    "Per-source mean/variance/skewness/kurtosis of document length "
    "from exact bigint power sums (n, S1..S4): one partial-aggregated "
    "groupBy, then a shared IEEE double chain (identical expression "
    "text in both engines, sqrt instead of pow so every step is "
    "correctly rounded). Scale: single map-side-combinable pass, no "
    "window, no sort.",
    f"""
    with s as (
      select source,
             cast(count(*) as bigint) as n,
             cast(sum(n_chars) as bigint) as s1,
             cast(sum(n_chars*n_chars) as bigint) as s2,
             cast(sum(n_chars*n_chars*n_chars) as bigint) as s3,
             cast(sum(n_chars*n_chars*n_chars*n_chars) as bigint) as s4
      from documents group by source
    )
    select source, n as n_docs,
           {_MOM_M} as mean_chars,
           {_MOM_VAR} as var_chars,
           {_MOM_SKEW} as skew_chars,
           {_MOM_KURT} as kurt_chars
    from s
    """,
    "agg", "statistics", "moments",
)
def agg_exact_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    c = F.col("n_chars")
    s = docs.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(c).cast("bigint").alias("s1"),
        F.sum(c * c).cast("bigint").alias("s2"),
        F.sum(c * c * c).cast("bigint").alias("s3"),
        F.sum(c * c * c * c).cast("bigint").alias("s4"),
    )
    return s.select(
        "source",
        F.col("n").alias("n_docs"),
        F.expr(_MOM_M).alias("mean_chars"),
        F.expr(_MOM_VAR).alias("var_chars"),
        F.expr(_MOM_SKEW).alias("skew_chars"),
        F.expr(_MOM_KURT).alias("kurt_chars"),
    )


# ---------------------------------------------------------------------------
# percent_rank / cume_dist coverage: the two rank-distribution window
# functions the catalog's window tier (ntile, rank, lag, rolling,
# range-frame) did not yet exercise. Ordering is by raw c_acctbal so
# ties share a rank -- the result is deterministic without a tiebreak
# because both functions are pure functions of the value ordering, and
# each value is one exact integer division ((rank-1)/(n-1), peers/n)
# evaluated in double by both engines. Partitioned by nation: no
# global window anywhere.
# ---------------------------------------------------------------------------


@register(
    "window_cume_percent_rank",
    "Per-nation percent_rank and cume_dist of customer account "
    "balance (ties share ranks; each value is a single IEEE division "
    "of exact ints so cross-engine bits match). Scale: one "
    "nation-keyed exchange, per-nation sort only.",
    """
    select n_name, c_custkey, c_acctbal,
           percent_rank() over w as pct_rank,
           cume_dist() over w as cum_dist
    from customer join nation on c_nationkey = n_nationkey
    window w as (partition by n_name order by c_acctbal)
    """,
    "window", "rank",
)
def window_cume_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy("c_acctbal")
    return (
        cust.join(
            F.broadcast(nat),
            cust.c_nationkey == nat.n_nationkey,
        )
        .select(
            "n_name",
            "c_custkey",
            "c_acctbal",
            F.percent_rank().over(w).alias("pct_rank"),
            F.cume_dist().over(w).alias("cum_dist"),
        )
    )


# ---------------------------------------------------------------------------
# Exact sliding-window distinct counts (DAU / trailing-7-day WAU /
# stickiness): the explode-to-target-day trick turns a sliding
# COUNT(DISTINCT) -- normally a re-scan per window position -- into ONE
# keyed shuffle: each distinct (user, day) pair is fanned out to the <=7
# window positions it supports, then a plain distinct-count per target
# day. At 100 TB the fan-out factor is the window length (bounded), the
# state per key is nothing, and every stage is partial-aggregatable.
# ---------------------------------------------------------------------------


@register(
    "ev_dau_wau_stickiness",
    "Per-day DAU, exact trailing-7-day WAU (explode each distinct "
    "(user, day) to the 7 window positions it supports -> one keyed "
    "distinct-count, no per-window re-scan), and DAU/WAU stickiness "
    "as a single double division of exact bigints. Scale: bounded "
    "x7 fan-out of the deduped (user, day) pairs, all aggregates "
    "partial.",
    """
    with d as (
      select distinct user_id, epoch_us(ts) // 86400000000 as day
      from events
    ),
    days as (select distinct day from d),
    dau as (
      select day, cast(count(*) as bigint) as dau from d group by day
    ),
    x as (
      select user_id, unnest(generate_series(day, day + 6)) as day from d
    ),
    wau as (
      select x.day, cast(count(distinct x.user_id) as bigint) as wau
      from x join days using (day) group by x.day
    )
    select day, dau, wau,
           cast(dau as double) / cast(wau as double) as stickiness
    from dau join wau using (day)
    """,
    "events", "window", "distinct",
)
def ev_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clueso_spark.plans.catalog import persist_swap

    ev = load_table(spark, sf_dir, "events")
    # the deduped (user, day) relation feeds three consumers (days,
    # dau, the fan-out); unpinned, each re-runs the corpus-sized
    # distinct. Pinned it is 2 ints per active user-day.
    # `div` vs DuckDB `//`: both truncate toward zero on bigints -- see
    # the ev_activity_streaks note + the pinned cross-engine test.
    d = persist_swap(
        spark,
        "dau_wau_d",
        ev.select(
            "user_id", F.expr("unix_micros(ts) div 86400000000").alias("day")
        ).distinct(),
    )
    days = d.select("day").distinct()
    dau = d.groupBy("day").agg(F.count("*").cast("bigint").alias("dau"))
    x = d.select(
        "user_id",
        F.explode(F.sequence(F.col("day"), F.col("day") + 6)).alias("day"),
    )
    wau = (
        x.join(F.broadcast(days), "day")
        .groupBy("day")
        .agg(F.countDistinct("user_id").cast("bigint").alias("wau"))
    )
    return dau.join(wau, "day").select(
        "day",
        "dau",
        "wau",
        (F.col("dau").cast("double") / F.col("wau").cast("double")).alias(
            "stickiness"
        ),
    )


# ---------------------------------------------------------------------------
# Gini concentration of customer spend per nation: how unequal is
# revenue across a nation's customers? Spend is summed in exact cents
# (decimal -> bigint), customers are ranked inside their nation only
# (rank ties broken by custkey so the index is total), and the Gini
# comes from the closed form over the ascending ranks:
#   G = (2 * sum(i * x_i) - (n + 1) * sum(x_i)) / (n * sum(x_i))
# as ONE double division of exact bigints. Customers without orders
# count as zero spend (left join), which is what makes the
# concentration statistic honest.
# ---------------------------------------------------------------------------


@register(
    "agg_gini_concentration",
    "Per-nation Gini coefficient of customer spend (exact cents via "
    "decimal sums; rank-index closed form; one final double division "
    "of bigints). Customers with no orders count as zero spend. "
    "Scale: customer-keyed aggregate, nation-keyed window -- no "
    "global sort.",
    """
    with spend as (
      select c.c_custkey, n.n_name,
             cast(coalesce(sum(cast(o.o_totalprice as decimal(12,2))),
                           cast(0 as decimal(12,2))) * 100 as bigint)
               as cents
      from customer c
      join nation n on c.c_nationkey = n.n_nationkey
      left join orders o on o.o_custkey = c.c_custkey
      group by c.c_custkey, n.n_name
    ),
    r as (
      select n_name, cents,
             cast(row_number() over (
               partition by n_name order by cents, c_custkey) as bigint)
               as i
      from spend
    ),
    g as (
      select n_name,
             cast(count(*) as bigint) as n,
             cast(sum(cents) as bigint) as sx,
             cast(sum(i * cents) as bigint) as six
      from r group by n_name
    )
    select n_name, n as n_customers,
           cast(2*six - (n + 1)*sx as double) / cast(n*sx as double)
             as gini
    from g
    """,
    "agg", "statistics", "concentration",
)
def agg_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    spend = (
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .join(orders, orders.o_custkey == cust.c_custkey, "left")
        .groupBy("c_custkey", "n_name")
        .agg(
            (
                F.coalesce(
                    F.sum(F.col("o_totalprice").cast("decimal(12,2)")),
                    F.lit(0).cast("decimal(12,2)"),
                )
                * 100
            )
            .cast("bigint")
            .alias("cents")
        )
    )
    w = Window.partitionBy("n_name").orderBy("cents", "c_custkey")
    r = spend.select(
        "n_name", "cents", F.row_number().over(w).cast("bigint").alias("i")
    )
    g = r.groupBy("n_name").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("sx"),
        F.sum(F.col("i") * F.col("cents")).cast("bigint").alias("six"),
    )
    return g.select(
        "n_name",
        F.col("n").alias("n_customers"),
        F.expr(
            "cast(2*six - (n + 1)*sx as double) / cast(n*sx as double)"
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# Bottom-k set-similarity sketch between corpus sources: the standard
# bottom-k (KMV) Jaccard estimator -- J(A,B) ~= |BottomK(A u B) that
# land in BOTH signatures| / |BottomK(A u B)| -- computed entirely from
# k-row signatures. The denominator is the union's ACTUAL bottom-k size
# (min(k, |A u B|)), not the literal k: when the union is smaller than
# k the sketch holds the whole union and the estimate becomes exact
# Jaccard (a fixed /k would underestimate small unions -- caught by
# tests/test_staged_r9.py::test_jaccard_bottomk_identical_and_disjoint).
# The only corpus-sized work is the distinct (source, term)
# projection (one keyed shuffle); everything after operates on
# 20 sources x k rows. The source-pair frame is a 20x20 inequality
# join (BroadcastNestedLoop over two ~20-row dims -- sanctioned; the
# signature joins themselves are broadcast equi-joins).
# ---------------------------------------------------------------------------

_KMV_K = 64


@register(
    "sim_source_jaccard_bottomk",
    f"Bottom-{_KMV_K} (KMV) Jaccard similarity between every source "
    "pair: per-source signature = the k lexicographically-smallest "
    "md5-derived term hashes; estimate = hits in both signatures "
    "among the union's bottom-k, over the union's actual bottom-k "
    "size (exact when the union is smaller than k). Scale: the "
    "corpus touches one distinct (source, term) shuffle; all pair "
    "math runs on k-row signatures.",
    f"""
    with tok as (
      select distinct source, unnest(string_split(text, ' ')) as term
      from documents
    ),
    h as (
      select source, term,
             cast(('0x' || substr(md5(term), 1, 12)) as bigint) as hv
      from tok
    ),
    sig as (
      select source, term, hv
      from (
        select source, term, hv,
               row_number() over (
                 partition by source order by hv, term) as rn
        from h
      ) where rn <= {_KMV_K}
    ),
    pairs as (
      select a.source as src_a, b.source as src_b
      from (select distinct source from documents) a
      join (select distinct source from documents) b
        on a.source < b.source
    ),
    m as (
      select src_a, src_b, term, hv, cast(count(*) as bigint) as n_sides
      from (
        select p.src_a, p.src_b, s.term, s.hv
        from pairs p join sig s on s.source = p.src_a
        union all
        select p.src_a, p.src_b, s.term, s.hv
        from pairs p join sig s on s.source = p.src_b
      )
      group by src_a, src_b, term, hv
    ),
    r as (
      select src_a, src_b, n_sides,
             row_number() over (
               partition by src_a, src_b order by hv, term) as mrn
      from m
    )
    select src_a, src_b,
           cast(sum(case when n_sides = 2 then 1 else 0 end) as bigint)
             as k_hits,
           cast(sum(case when n_sides = 2 then 1 else 0 end) as double)
             / cast(count(*) as double) as jaccard_est
    from r where mrn <= {_KMV_K}
    group by src_a, src_b
    """,
    "sim", "sketch", "dedup",
)
def sim_source_jaccard_bottomk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(tokens()).alias("term")
    ).distinct()
    h = tok.withColumn(
        "hv", F.conv(F.substring(F.md5("term"), 1, 12), 16, 10).cast("bigint")
    )
    w = Window.partitionBy("source").orderBy("hv", "term")
    from clueso_spark.plans.catalog import persist_swap

    # the signatures feed both sides of the pair expansion (ma, mb);
    # unpinned, the corpus-sized distinct + window runs twice. Pinned
    # they are k rows per source.
    sig = persist_swap(
        spark,
        "kmv_sig",
        h.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _KMV_K)
        .drop("rn"),
    )
    # enumerate sources from the persisted k-row signatures, NOT from a
    # second corpus scan: every document tokenizes to >= 1 token (split
    # on ' ' yields [''] even for empty text, identically in both
    # engines), so every source carries a signature row and the two
    # enumerations are equal -- but this one is signature-sized
    srcs = sig.select("source").distinct()
    pairs = (
        srcs.alias("a")
        .join(srcs.alias("b"), F.col("a.source") < F.col("b.source"))
        .select(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
    )
    ma = sig.join(F.broadcast(pairs), sig.source == pairs.src_a).select(
        "src_a", "src_b", "term", "hv"
    )
    mb = sig.join(F.broadcast(pairs), sig.source == pairs.src_b).select(
        "src_a", "src_b", "term", "hv"
    )
    m = (
        ma.unionByName(mb)
        .groupBy("src_a", "src_b", "term", "hv")
        .agg(F.count("*").cast("bigint").alias("n_sides"))
    )
    wm = Window.partitionBy("src_a", "src_b").orderBy("hv", "term")
    r = m.withColumn("mrn", F.row_number().over(wm)).where(
        F.col("mrn") <= _KMV_K
    )
    hit = F.when(F.col("n_sides") == 2, 1).otherwise(0)
    return r.groupBy("src_a", "src_b").agg(
        F.sum(hit).cast("bigint").alias("k_hits"),
        (F.sum(hit).cast("double") / F.count("*").cast("double")).alias(
            "jaccard_est"
        ),
    )


# ---------------------------------------------------------------------------
# Time-weighted value average over event intervals: each event's value
# holds until the user's next event (the SCD-2 validity shape above),
# so the honest per-type average weights each value by its holding
# duration -- the standard fix for irregularly-sampled state (TWAP).
# Exact: value is scaled to integer hundredths, durations are integer
# milliseconds, the weighted sums are pure bigint addition, and the
# final average is one double division.
# ---------------------------------------------------------------------------


@register(
    "ev_time_weighted_value",
    "Per-event-type time-weighted average value (TWAP over the SCD-2 "
    "validity intervals): value scaled to exact hundredths, duration "
    "to exact ms, bigint weighted sums, one final double division. "
    "Scale: one user-keyed window + a partial-aggregated rollup -- "
    "no global window.",
    """
    with iv as (
      select event_type,
             cast(round(value * 100) as bigint) as v_s,
             epoch_us(ts) as s_us,
             lead(epoch_us(ts)) over (
               partition by user_id order by ts, event_id) as e_us
      from events
    ),
    c as (
      select event_type, v_s, (e_us - s_us) // 1000 as dur_ms
      from iv where e_us is not null
    )
    select event_type,
           cast(count(*) as bigint) as n_intervals,
           cast(sum(dur_ms) as bigint) as total_dur_ms,
           cast(sum(v_s * dur_ms) as double)
             / (cast(sum(dur_ms) as double) * 100.0) as tw_avg_value
    from c group by event_type
    """,
    "events", "window", "scd2",
)
def ev_time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    iv = ev.select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("v_s"),
        F.unix_micros("ts").alias("s_us"),
        F.lead(F.unix_micros("ts")).over(w).alias("e_us"),
    )
    c = iv.where(F.col("e_us").isNotNull()).select(
        "event_type",
        "v_s",
        F.expr("(e_us - s_us) div 1000").alias("dur_ms"),
    )
    return c.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_intervals"),
        F.sum("dur_ms").cast("bigint").alias("total_dur_ms"),
        (
            F.sum(F.col("v_s") * F.col("dur_ms")).cast("double")
            / (F.sum("dur_ms").cast("double") * F.lit(100.0))
        ).alias("tw_avg_value"),
    )


# ---------------------------------------------------------------------------
# Grouped weighted median at scale: the histogram-first pattern. Weight
# is pre-aggregated per (group, value) -- the corpus-sized shuffle, and
# the relation shrinks to the value domain -- then the running weight
# uses ranged_cumsum (range-partitioned, no single-task stage) over the
# global (group, value) order, corrected into in-group cumulatives by
# subtracting per-group offsets (a 3-row relation; its window is over
# the GROUP COUNT, never the data). The lower weighted median is then
# the smallest value whose doubled running weight reaches the group
# total -- insensitive to tie order by construction. This is how a
# grouped exact quantile survives 100 TB: no per-group single-task
# sort anywhere.
# ---------------------------------------------------------------------------


@register(
    "agg_weighted_median",
    "Per-returnflag weighted median of extended price, weighted by "
    "quantity (exact bigint weights): histogram pre-aggregation per "
    "(flag, price), ranged running weight (range-partitioned cumsum, "
    "no global window), per-flag offsets from a group-count-sized "
    "relation, lower-median selection min(price | 2*cum >= total). "
    "Scale: one keyed shuffle over the corpus; everything after runs "
    "on the value-domain histogram.",
    """
    with g as (
      select l_returnflag as flag, l_extendedprice as price,
             cast(sum(cast(l_quantity as bigint)) as bigint) as w
      from lineitem group by flag, price
    ),
    r as (
      select flag, price, w,
             sum(w) over (partition by flag order by price) as cw,
             sum(w) over (partition by flag) as tw
      from g
    )
    select flag, cast(max(tw) as bigint) as total_weight,
           min(price) as w_median_price
    from r where 2*cw >= tw group by flag
    """,
    "agg", "statistics", "quantile",
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clueso_spark.functions.ordered import ranged_cumsum

    li = load_table(spark, sf_dir, "lineitem")
    g = (
        li.select(
            F.col("l_returnflag").alias("flag"),
            F.col("l_extendedprice").alias("price"),
            F.col("l_quantity").cast("bigint").alias("q"),
        )
        .groupBy("flag", "price")
        .agg(F.sum("q").cast("bigint").alias("w"))
    )
    # the histogram feeds both the ranged cumsum and the per-flag
    # totals; unpinned, the corpus aggregation runs twice. Pinned it is
    # value-domain-sized.
    from clueso_spark.plans.catalog import persist_swap

    g = persist_swap(spark, "wmedian_hist", g)
    # global running weight over (flag, price) -- unique per row after
    # the pre-aggregation, as ranged_cumsum requires
    cum = ranged_cumsum(g, ["flag", "price"], "w", "cw")
    tw = g.groupBy("flag").agg(F.sum("w").cast("bigint").alias("tw"))
    # per-flag offset = total weight of all earlier flags; the window
    # is over the |groups|-row totals relation (3 rows), not the data
    off_w = Window.orderBy("flag").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = tw.withColumn(
        "off", F.coalesce(F.sum("tw").over(off_w), F.lit(0))
    )
    j = cum.join(F.broadcast(offs), "flag")
    hit = j.where(2 * (F.col("cw") - F.col("off")) >= F.col("tw"))
    return hit.groupBy("flag").agg(
        F.max("tw").cast("bigint").alias("total_weight"),
        F.min("price").alias("w_median_price"),
    )


# ---------------------------------------------------------------------------
# CUSUM change-point detection over daily event volumes: for each
# event type, the cumulative deviation of daily counts from the type's
# own mean, kept exact by scaling through the day count
# (S_k = sum_{d<=k} (c_d * D - T) -- integer arithmetic, no float
# mean), and the change point is the day of maximum |S_k| (earliest
# day on ties). The corpus-sized work is ONE partial-aggregated
# groupBy; the CUSUM window runs on the (type x day) rollup, which is
# calendar-bounded at any corpus size.
# ---------------------------------------------------------------------------


@register(
    "ev_cusum_changepoint",
    "Per-event-type CUSUM change point over daily counts: exact "
    "integer deviations (c_d*D - T, so the mean never becomes a "
    "float), running sum per type, change point = earliest day of "
    "max |S_k|. Scale: one groupBy over the corpus; the window runs "
    "on the calendar-bounded (type, day) rollup.",
    """
    with daily as (
      select event_type, epoch_us(ts) // 86400000000 as day,
             cast(count(*) as bigint) as c
      from events group by event_type, day
    ),
    t as (
      select event_type, cast(count(*) as bigint) as d_days,
             cast(sum(c) as bigint) as t_total
      from daily group by event_type
    ),
    s as (
      select daily.event_type, day,
             sum(c * d_days - t_total) over (
               partition by daily.event_type order by day) as s_k
      from daily join t using (event_type)
    ),
    m as (
      select event_type, max(abs(s_k)) as max_dev
      from s group by event_type
    )
    select s.event_type, cast(min(s.day) as bigint) as cp_day,
           cast(max(m.max_dev) as bigint) as max_scaled_dev
    from s join m on s.event_type = m.event_type
                 and abs(s.s_k) = m.max_dev
    group by s.event_type
    """,
    "events", "statistics", "changepoint",
)
def ev_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # `div` vs DuckDB `//`: both truncate toward zero on bigints -- see
    # the ev_activity_streaks note + the pinned cross-engine test.
    daily = (
        ev.select(
            "event_type",
            F.expr("unix_micros(ts) div 86400000000").alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    t = daily.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("d_days"),
        F.sum("c").cast("bigint").alias("t_total"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    s = daily.join(F.broadcast(t), "event_type").withColumn(
        "s_k",
        F.sum(
            F.col("c") * F.col("d_days") - F.col("t_total")
        ).over(w),
    )
    m = s.groupBy("event_type").agg(F.max(F.abs("s_k")).alias("max_dev"))
    j = s.join(F.broadcast(m), "event_type").where(
        F.abs(F.col("s_k")) == F.col("max_dev")
    )
    return j.groupBy("event_type").agg(
        F.min("day").cast("bigint").alias("cp_day"),
        F.max("max_dev").cast("bigint").alias("max_scaled_dev"),
    )


# ---------------------------------------------------------------------------
# Exact grouped multi-quantiles without a per-group sort: the
# counterpart to agg_exact_median (plans/relational.py), whose
# row_number construction deliberately documents "one full sort per
# group" as the cost of exactness. This op shows the scale-safe way
# out: histogram the values per group (the corpus-sized shuffle
# shrinks to the value domain), run ONE ranged cumsum over the global
# (group, value) order, recover in-group cumulatives from a
# |groups|-row offset relation, and read all four quantiles off the
# same cumulative relation with an explode -- nearest-rank definition
# (smallest value whose cumulative count reaches ceil(q/100 * n),
# i.e. 100*cum >= q*n in integers), so no interpolation and no
# engine-specific percentile semantics anywhere.
# ---------------------------------------------------------------------------

_QUANTILE_PCTS = (25, 50, 90, 99)


@register(
    "agg_exact_quantiles",
    "Exact p25/p50/p90/p99 of event value per event type with NO "
    "per-group sort: value-domain histogram (exact hundredths), one "
    "ranged cumsum, group offsets from a group-count-sized relation, "
    "nearest-rank selection in pure integer arithmetic "
    "(100*cum >= pct*n). The scale-safe exact-quantile pattern "
    "agg_exact_median's docstring points at.",
    """
    with h as (
      select event_type, cast(round(value * 100) as bigint) as v_s,
             cast(count(*) as bigint) as w
      from events group by event_type, v_s
    ),
    r as (
      select event_type, v_s, w,
             sum(w) over (partition by event_type order by v_s) as cw,
             sum(w) over (partition by event_type) as tw
      from h
    )
    select event_type, pct,
           cast(max(tw) as bigint) as n_events,
           cast(min(v_s) as double) / 100.0 as q_value
    from r, (select unnest([25, 50, 90, 99]) as pct) q
    where 100*cw >= pct*tw
    group by event_type, pct
    """,
    "agg", "statistics", "quantile",
)
def agg_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clueso_spark.functions.ordered import ranged_cumsum

    ev = load_table(spark, sf_dir, "events")
    h = (
        ev.select(
            "event_type",
            F.round(F.col("value") * 100).cast("bigint").alias("v_s"),
        )
        .groupBy("event_type", "v_s")
        .agg(F.count("*").cast("bigint").alias("w"))
    )
    # histogram feeds the ranged cumsum AND the per-type totals (see
    # agg_weighted_median); pinned, the corpus is aggregated once
    from clueso_spark.plans.catalog import persist_swap

    h = persist_swap(spark, "quantiles_hist", h)
    cum = ranged_cumsum(h, ["event_type", "v_s"], "w", "cw")
    tw = h.groupBy("event_type").agg(
        F.sum("w").cast("bigint").alias("tw")
    )
    off_w = Window.orderBy("event_type").rowsBetween(
        Window.unboundedPreceding, -1
    )
    # |groups|-row relation (event types); the window is over the group
    # count, never the data
    offs = tw.withColumn(
        "off", F.coalesce(F.sum("tw").over(off_w), F.lit(0))
    )
    j = cum.join(F.broadcast(offs), "event_type")
    e = j.withColumn(
        "pct",
        F.explode(F.array(*[F.lit(p) for p in _QUANTILE_PCTS])),
    )
    hit = e.where(
        100 * (F.col("cw") - F.col("off")) >= F.col("pct") * F.col("tw")
    )
    return hit.groupBy("event_type", "pct").agg(
        F.max("tw").cast("bigint").alias("n_events"),
        (F.min("v_s").cast("double") / F.lit(100.0)).alias("q_value"),
    )


# ---------------------------------------------------------------------------
# Stream-static enrichment join: the one standard streaming shape the
# st_ tier did not yet exercise -- a stream joined to a STATIC
# dimension (here: events enriched with the customer's market segment,
# then aggregated). Spark re-broadcasts the static side per micro-batch
# (no state, no watermark needed for an inner stream-static equi-join);
# at 100 TB/day the stream side never shuffles for the join at all.
# Drained with availableNow into a complete-mode memory sink, so the
# result equals the batch join by construction (the harness contract
# every st_ query shares).
# ---------------------------------------------------------------------------


@register(
    "st_static_enrichment",
    "STREAMING stream-static enrichment: the events stream inner-joins "
    "the static customer dimension on user_id = c_custkey (broadcast "
    "per micro-batch -- the stream never shuffles for the join), then "
    "aggregates exact decimal value sums per (event_type, segment). "
    "Drained with availableNow; result equals the batch join.",
    """
    select e.event_type, c.c_mktsegment,
           cast(count(*) as bigint) as n_events,
           cast(sum(cast(e.value as decimal(12,2))) as double) as sum_value
    from events e join customer c on e.user_id = c.c_custkey
    group by e.event_type, c.c_mktsegment
    """,
    "streaming", "join", "enrichment",
)
def st_static_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clueso_spark.plans.catalog import dec
    from clueso_spark.plans.streaming_queries import events_stream

    stream = events_stream(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    enriched = stream.join(
        F.broadcast(dim), stream.user_id == dim.c_custkey
    )
    agg = enriched.groupBy("event_type", "c_mktsegment").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(dec("value")).cast("double").alias("sum_value"),
    )
    sink_name = "st_static_enrichment_sink"
    query = (
        agg.writeStream.format("memory")
        .queryName(sink_name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return spark.table(sink_name).select(
        "event_type", "c_mktsegment", "n_events", "sum_value"
    )


# ---------------------------------------------------------------------------
# k-hop reachability (bounded BFS) over the part co-purchase graph:
# the bounded-depth graph primitive the tier lacked (connected
# components is the unbounded-fixpoint sibling, functions/graph.py).
# Three frontier-expansion rounds unrolled at PLAN level -- the
# k-means-Lloyd precedent: a fixed round count is a plan shape, not a
# driver loop -- each round one keyed equi-join frontier x edges plus
# one distinct; the frontier is bounded by the vertex set, the edge
# list by the basket-size-bounded pair expansion.
# ---------------------------------------------------------------------------

_KHOP_SEED_BOUND = 50  # seeds = graph vertices with partkey < bound


@register(
    "graph_khop_reach",
    "Bounded BFS: how many parts are reachable within 0..3 hops of the "
    f"seed set (graph vertices with partkey < {_KHOP_SEED_BOUND}) on "
    f"the co-purchase graph (edge = >= {PART_MIN_SUPPORT} common "
    "orders)? Three plan-unrolled frontier expansions, each one keyed "
    "equi-join + distinct; no fixpoint loop, no driver collect. "
    "Scale: edges come from the basket-bounded pair expansion, the "
    "frontier never exceeds the vertex set.",
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
    e as (select pa as u, pb as v from e0
          union all select pb, pa from e0),
    s0 as (
      select distinct n from (
        select pa as n from e0 union all select pb from e0
      ) where n < {_KHOP_SEED_BOUND}
    ),
    r1 as (select distinct n from (
      select n from s0
      union all select e.v from s0 join e on e.u = s0.n)),
    r2 as (select distinct n from (
      select n from r1
      union all select e.v from r1 join e on e.u = r1.n)),
    r3 as (select distinct n from (
      select n from r2
      union all select e.v from r2 join e on e.u = r2.n))
    select * from (
      select cast(0 as integer) as k,
             cast((select count(*) from s0) as bigint) as n_reached
      union all select 1, (select count(*) from r1)
      union all select 2, (select count(*) from r2)
      union all select 3, (select count(*) from r3)
    )
    """,
    "graph", "bfs", "reachability",
)
def graph_khop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clueso_spark.plans.catalog import persist_swap

    e0 = part_pair_edges(spark, sf_dir)
    # the undirected edge list feeds all three expansion rounds: pinned
    # PRE-PARTITIONED on u so each round's expansion join reuses the
    # cached partitioning (the frontier's distinct already leaves it
    # n-partitioned) -- zero edge-side exchange per round
    e = persist_swap(
        spark,
        "khop_edges",
        e0.select(F.col("pa").alias("u"), F.col("pb").alias("v"))
        .unionAll(e0.select(F.col("pb").alias("u"), F.col("pa").alias("v")))
        .repartition("u"),
    )
    frontier = (
        e.select(F.col("u").alias("n"))
        .where(F.col("n") < _KHOP_SEED_BOUND)
        .distinct()
    )
    # each round reads the previous frontier TWICE (carry-over union arm
    # + the expansion join) and every round's count aggregate reads it
    # AGAIN -- unpinned, the unrolled lineage re-derived early rounds
    # exponentially (r9 scan audit). One vertex-set-sized pin per round,
    # in its OWN slot so round k-1 stays materialized while round k and
    # the counts build on it.
    frontier = persist_swap(spark, "khop_frontier_0", frontier)
    counts = [frontier.agg(F.count("*").cast("bigint").alias("n_reached"))]
    for k in range(3):
        frontier = persist_swap(
            spark,
            f"khop_frontier_{k + 1}",
            frontier.unionAll(
                frontier.join(e, frontier.n == e.u).select(
                    F.col("v").alias("n")
                )
            ).distinct(),
        )
        counts.append(
            frontier.agg(F.count("*").cast("bigint").alias("n_reached"))
        )
    out = None
    for k, c in enumerate(counts):
        row = c.select(F.lit(k).cast("int").alias("k"), "n_reached")
        out = row if out is None else out.unionAll(row)
    return out

