"""Operators staged in round 9, PROMOTED in round 10 (this module is
now in catalog.QUERY_MODULES and registers at import).

Same life-cycle as staged_r6 / staged_r8 / staged_r9 (all promoted):
these shipped in round 9 as library code with full pytest parity
coverage (tests/test_staged_r10.py runs the exact driver comparison --
row count + schema + order-insensitive value hash -- against DuckDB
oracles at sf0.001 and sf0.01) because the round-9 driver window (50
slots) was fully allocated: 17 promotions + 8 changed-code + 20
mandatory r5 leftovers + 5 r6 refreshes (the final shipped split --
the two empty-corpus robustness fixes displaced st_windowed_topk and
ev_gap_fill_forward into the r6 leftover cohort). Round 10: every name
here heads the driver window and joins bench.py HEADLINE.

What this tier adds (all absent from both the reference and the live
catalog):
  * SQL-surface completions -- LATERAL correlated subquery join,
    correlated scalar subqueries, EXCEPT ALL multiset semantics, the
    first/nth/last_value window frame family, exact grouped mode;
  * exact two-sample statistics -- Kolmogorov-Smirnov (cross-multiplied
    integer ECDFs), chi-square independence cells, Welch's t from
    exact power sums;
  * event analytics -- conversion-delay exact percentiles, Lorenz
    curve / top-decile concentration of user activity, bounce-rate by
    session entry event, log2-bucketed inter-arrival histograms;
  * graph -- 3-round label-propagation communities and truncated Katz
    centrality with exact integer walk counts, both plan-unrolled on
    the same co-purchase edges PageRank uses;
  * multimodal -- perceptual-hash-style near-dup plumbing over payload
    chunks (deterministic md5 stand-in features, banded candidate
    generation, exact Hamming verify).

Determinism contract: identical to plans/catalog.py -- exact bigint /
decimal arithmetic wherever a float sum would be order-sensitive;
doubles only as the final step of identical IEEE operation chains over
exactly-represented integer inputs; every computed column aliased
identically on both sides. Integer floor-log2 comes from base-2 digit
counts (Spark ``length(conv(x, 10, 2)) - 1`` == DuckDB
``length(bin(x)) - 1``, probed exact for the full bigint range used).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clueso_spark.plans.catalog import persist_swap, register
from clueso_spark.plans.relational import SUPP_BASE, cust_supp_edges
from clueso_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# LATERAL correlated subquery join: per-key top-N without a window over
# the whole fact table. Spark compiles the correlated LIMIT subquery to
# a partitioned rank under the hood, but the SQL surface (and the
# Catalyst DecorrelateInnerQuery path) is a distinct capability the
# catalog had not exercised. Scale: the lateral probe is keyed on the
# outer row's orderkey -- one keyed shuffle, per-key heaps of size 2.
# ---------------------------------------------------------------------------


@register(
    "join_lateral_top2_per_order",
    "LATERAL correlated subquery with ORDER BY + LIMIT: for each urgent "
    "order, its top-2 lineitems by extendedprice (linenumber tiebreak). "
    "Exercises Spark's lateral-join decorrelation (SPARK-35855); the "
    "physical plan is a keyed rank, never a per-row re-scan.",
    """
    select o.o_orderkey, t.l_linenumber,
           cast(t.l_extendedprice as double) as price
    from orders o,
    lateral (
      select l_linenumber, l_extendedprice
      from lineitem l
      where l.l_orderkey = o.o_orderkey
      order by l_extendedprice desc, l_linenumber
      limit 2
    ) t
    where o.o_orderpriority = '1-URGENT'
    """,
    "join", "lateral", "subquery",
)
def join_lateral_top2_per_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        select o.o_orderkey, t.l_linenumber,
               cast(t.l_extendedprice as double) as price
        from orders o,
        lateral (
          select l_linenumber, l_extendedprice
          from lineitem l
          where l.l_orderkey = o.o_orderkey
          order by l_extendedprice desc, l_linenumber
          limit 2
        ) t
        where o.o_orderpriority = '1-URGENT'
        """
    )


# ---------------------------------------------------------------------------
# Correlated scalar subqueries with exact integer comparison: customers
# above their nation's average balance. The naive float-average compare
# is engine-divergent at ties; cross-multiplying by the count keeps the
# whole predicate in exact cents-integers (n * bal_cents > sum_cents).
# ---------------------------------------------------------------------------


@register(
    "subquery_correlated_scalar",
    "TWO correlated scalar subqueries per outer row (their nation's "
    "exact cents-sum and count of balances), consumed by an integer "
    "cross-multiplied above-average predicate -- no float average ever "
    "exists, so the boundary rows match in any engine. Catalyst "
    "decorrelates both into one aggregate + join. Report per nation.",
    """
    with c as (
      select c_custkey, c_nationkey,
             cast(round(c_acctbal * 100) as bigint) as bal_cents
      from customer
    )
    select n.n_name,
           cast(count(*) as bigint) as n_above,
           cast(sum(c.bal_cents) as bigint) as above_cents
    from c join nation n on c.c_nationkey = n.n_nationkey
    where c.bal_cents * (select count(*) from c c2
                         where c2.c_nationkey = c.c_nationkey)
          > (select sum(c3.bal_cents) from c c3
             where c3.c_nationkey = c.c_nationkey)
    group by n.n_name
    """,
    "subquery", "correlated", "scalar",
)
def subquery_correlated_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    return spark.sql(
        """
        with c as (
          select c_custkey, c_nationkey,
                 cast(round(c_acctbal * 100) as bigint) as bal_cents
          from customer
        )
        select n.n_name,
               cast(count(*) as bigint) as n_above,
               cast(sum(c.bal_cents) as bigint) as above_cents
        from c join nation n on c.c_nationkey = n.n_nationkey
        where c.bal_cents * (select count(*) from c c2
                             where c2.c_nationkey = c.c_nationkey)
              > (select sum(c3.bal_cents) from c c3
                 where c3.c_nationkey = c.c_nationkey)
        group by n.n_name
        """
    )


# ---------------------------------------------------------------------------
# Exact grouped mode: most frequent quantity per return flag,
# smallest-value tiebreak. One keyed count + one max_by struct -- the
# scale-safe mode (no per-group sort; counts are partial-aggregated).
# ---------------------------------------------------------------------------


@register(
    "agg_mode_exact",
    "Exact grouped MODE with deterministic tiebreak (highest count, "
    "then smallest quantity): per (flag, qty) counts partial-aggregate "
    "map-side, then one max_by over a (count, -qty_cents) key per "
    "flag. Two keyed shuffles total, no sort anywhere.",
    """
    with q as (
      select l_returnflag as flag,
             cast(round(l_quantity * 100) as bigint) as qty_cents,
             cast(count(*) as bigint) as n
      from lineitem group by 1, 2
    ),
    r as (
      select flag, qty_cents, n,
             row_number() over (partition by flag
                                order by n desc, qty_cents) as rk
      from q
    )
    select flag, cast(qty_cents as double) / 100 as mode_qty,
           n as mode_count
    from r where rk = 1
    """,
    "aggregate", "mode",
)
def agg_mode_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    q = (
        li.select(
            F.col("l_returnflag").alias("flag"),
            F.round(F.col("l_quantity") * 100)
            .cast("bigint")
            .alias("qty_cents"),
        )
        .groupBy("flag", "qty_cents")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    # max_by with a composite (n, -qty_cents) key == highest count,
    # smallest qty tiebreak; a per-flag aggregate, not a window sort
    return q.groupBy("flag").agg(
        (
            F.expr("max_by(qty_cents, struct(n, -qty_cents))").cast("double")
            / 100
        ).alias("mode_qty"),
        F.expr("max_by(n, struct(n, -qty_cents))").alias("mode_count"),
    )


# ---------------------------------------------------------------------------
# first/nth/last_value window frames: the rank-value family the window
# tier had not exercised, with the full-partition frame spelled out
# (the default frame stops at CURRENT ROW and silently changes
# last_value's meaning -- the classic window bug, pinned here).
# ---------------------------------------------------------------------------


@register(
    "window_nth_value_frames",
    "first_value / nth_value(2) / last_value over a full-partition "
    "ROWS frame per nation (balance desc, custkey tiebreak) -- the "
    "explicit UNBOUNDED FOLLOWING frame is the semantic point: the "
    "default frame would freeze last_value at the current row. "
    "Values pass through untouched (no float arithmetic).",
    """
    select c_custkey, n_name,
           cast(first_value(c_acctbal) over w as double) as top_bal,
           cast(nth_value(c_acctbal, 2) over w as double) as second_bal,
           cast(last_value(c_acctbal) over w as double) as bottom_bal
    from customer join nation on c_nationkey = n_nationkey
    window w as (partition by n_name
                 order by c_acctbal desc, c_custkey
                 rows between unbounded preceding and unbounded following)
    """,
    "window", "frames",
)
def window_nth_value_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    w = (
        Window.partitionBy("n_name")
        .orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        cust.join(
            F.broadcast(nat), cust.c_nationkey == nat.n_nationkey
        ).select(
            "c_custkey",
            "n_name",
            F.first("c_acctbal").over(w).cast("double").alias("top_bal"),
            F.expr("nth_value(c_acctbal, 2)")
            .over(w)
            .cast("double")
            .alias("second_bal"),
            F.last("c_acctbal").over(w).cast("double").alias("bottom_bal"),
        )
    )


# ---------------------------------------------------------------------------
# EXCEPT ALL: the one multiset set-op the setop tier lacked (INTERSECT
# ALL landed in round 5). Each key survives max(#urgent - #high, 0)
# times -- a count-difference aggregate join physically.
# ---------------------------------------------------------------------------


@register(
    "setop_except_all_multiset",
    "EXCEPT ALL with true multiset semantics: urgent-order customer "
    "keys minus high-order customer keys, each surviving "
    "max(n_urgent - n_high, 0) times. Compiles to a count-bearing "
    "aggregate join -- one keyed shuffle, no row dedup.",
    """
    select o_custkey from orders where o_orderpriority = '1-URGENT'
    except all
    select o_custkey from orders where o_orderpriority = '2-HIGH'
    """,
    "setop", "multiset",
)
def setop_except_all_multiset(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT").select(
        "o_custkey"
    )
    high = orders.where(F.col("o_orderpriority") == "2-HIGH").select(
        "o_custkey"
    )
    return urgent.exceptAll(high)


# ---------------------------------------------------------------------------
# Welch's t-statistic from exact power sums: the two-sample location
# test a curation pipeline runs when comparing a new source against a
# reference corpus. All sufficient statistics are exact bigints; the
# final t is ONE shared IEEE expression over those integers, evaluated
# verbatim by both engines (the agg_exact_moments discipline).
# ---------------------------------------------------------------------------

_WELCH_A, _WELCH_B = "src0", "src1"

#: the shared final-step formula (exact bigint inputs -> double):
#: identical text on both sides so every IEEE step matches. nullif
#: guards the n-1 variance denominators: a single-member source is a
#: legitimate corpus shape and must yield t_stat NULL, not an ANSI
#: DIVIDE_BY_ZERO crash (caught by tests/test_staged_r10_edges.py).
_WELCH_EXPR = (
    "(cast(s1 as double) / n1 - cast(s2 as double) / n2) / "
    "sqrt((cast(q1 as double) / n1 - (cast(s1 as double) / n1) * "
    "(cast(s1 as double) / n1)) / nullif(n1 - 1, 0) + "
    "(cast(q2 as double) / n2 - (cast(s2 as double) / n2) * "
    "(cast(s2 as double) / n2)) / nullif(n2 - 1, 0))"
)


@register(
    "agg_welch_ttest",
    f"Welch's two-sample t between the '{_WELCH_A}' and '{_WELCH_B}' "
    "sources' document lengths, from exact bigint power sums (n, "
    "sum(x), sum(x^2)) -- two partial aggregates and a 1x1 join; the "
    "t statistic is one shared IEEE expression over the exact sums, so "
    "both engines round identically at every step. The distributed "
    "two-sample test shape: nothing but 6 integers leaves the corpus.",
    f"""
    with s as (
      select source, cast(count(*) as bigint) as n,
             cast(sum(n_chars) as bigint) as s1,
             cast(sum(n_chars * n_chars) as bigint) as q1
      from documents where source in ('{_WELCH_A}', '{_WELCH_B}')
      group by source
    ),
    a as (select n as n1, s1, q1 from s where source = '{_WELCH_A}'),
    b as (select n as n2, s1 as s2, q1 as q2 from s where source = '{_WELCH_B}')
    select n1, n2, {_WELCH_EXPR} as t_stat
    from a cross join b
    """,
    "aggregate", "statistics", "ttest",
)
def agg_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    s = (
        docs.where(F.col("source").isin(_WELCH_A, _WELCH_B))
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("n_chars").cast("bigint").alias("s"),
            F.sum(F.col("n_chars") * F.col("n_chars"))
            .cast("bigint")
            .alias("q"),
        )
    )
    a = s.where(F.col("source") == _WELCH_A).select(
        F.col("n").alias("n1"), F.col("s").alias("s1"), F.col("q").alias("q1")
    )
    b = s.where(F.col("source") == _WELCH_B).select(
        F.col("n").alias("n2"), F.col("s").alias("s2"), F.col("q").alias("q2")
    )
    return a.crossJoin(F.broadcast(b)).select(
        "n1", "n2", F.expr(_WELCH_EXPR).alias("t_stat")
    )


# ---------------------------------------------------------------------------
# Conversion-delay exact percentiles: signup -> first purchase latency,
# nearest-rank p25/p50/p90 with NO global sort -- per-delta histogram +
# ranged cumsum (the agg_exact_quantiles discipline; delays are bucketed
# to whole seconds so the histogram stays bounded at any corpus size).
# ---------------------------------------------------------------------------

_CONV_PCTS = (25, 50, 90)


@register(
    "ev_funnel_time_percentiles",
    "Exact nearest-rank p25/p50/p90 of the signup -> first-purchase "
    "delay (whole seconds): per-user min-aggregates give each "
    "converter's delay, a per-second histogram + ranged running sum "
    "select the quantiles -- the corpus never passes through a global "
    "sort, and only converting users reach the (bounded) histogram.",
    f"""
    with s as (
      select user_id, min(epoch_us(ts)) as s_us
      from events where event_type = 'signup' group by user_id
    ),
    p as (
      select e.user_id, min(epoch_us(e.ts)) as p_us
      from events e join s on e.user_id = s.user_id
      where e.event_type = 'purchase' and epoch_us(e.ts) > s.s_us
      group by e.user_id
    ),
    d as (
      select (p.p_us - s.s_us) // 1000000 as delay_s
      from p join s on p.user_id = s.user_id
    ),
    h as (select delay_s, count(*) as w from d group by delay_s),
    c as (
      select delay_s, w,
             sum(w) over (order by delay_s
                          rows unbounded preceding) as cw,
             sum(w) over () as tw
      from h
    ),
    x as (select delay_s, cw, tw, unnest([{", ".join(map(str, _CONV_PCTS))}]) as pct from c)
    select cast(pct as integer) as pct,
           cast(max(tw) as bigint) as n_converters,
           cast(min(delay_s) as bigint) as delay_s
    from x where 100 * cw >= pct * tw
    group by pct
    """,
    "events", "funnel", "quantiles",
)
def ev_funnel_time_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clueso_spark.functions.ordered import ranged_cumsum

    ev = load_table(spark, sf_dir, "events")
    s = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("s_us"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .select("user_id", F.unix_micros("ts").alias("e_us"))
        .join(s, "user_id")
        .where(F.col("e_us") > F.col("s_us"))
        .groupBy("user_id")
        .agg(F.min("e_us").alias("p_us"))
    )
    d = p.join(s, "user_id").select(
        F.expr("(p_us - s_us) div 1000000").alias("delay_s")
    )
    h = d.groupBy("delay_s").agg(F.count("*").cast("bigint").alias("w"))
    h = persist_swap(spark, "conv_pct_hist", h)
    cum = ranged_cumsum(h, ["delay_s"], "w", "cw")
    tot = h.agg(F.sum("w").cast("bigint").alias("tw"))
    x = cum.crossJoin(F.broadcast(tot)).withColumn(
        "pct", F.explode(F.array(*[F.lit(p_) for p_ in _CONV_PCTS]))
    )
    return (
        x.where(100 * F.col("cw") >= F.col("pct") * F.col("tw"))
        .groupBy("pct")
        .agg(
            F.max("tw").cast("bigint").alias("n_converters"),
            F.min("delay_s").cast("bigint").alias("delay_s"),
        )
        .select(F.col("pct").cast("int").alias("pct"), "n_converters", "delay_s")
    )


# ---------------------------------------------------------------------------
# Lorenz curve of user activity: what share of all events do the top
# 10%/20%/... of users generate? Exact at every decile boundary even
# when the boundary splits a tie-group: the per-count histogram gives
# integer (users, events) partial sums, and the within-group remainder
# is count * (boundary - users_above) -- all bigint.
# ---------------------------------------------------------------------------


@register(
    "ev_lorenz_power_users",
    "Exact Lorenz / power-user curve: users ranked by event count "
    "(descending); at each decile boundary floor(k*N/10) report the "
    "cumulative event share of the top-k/10 users. Computed from the "
    "per-count histogram + running sums -- boundary-splitting tie "
    "groups contribute count * remainder exactly; no per-user sort, "
    "the histogram is bounded by the distinct activity levels.",
    """
    with uc as (
      select user_id, count(*) as c from events group by user_id
    ),
    h as (select c, count(*) as nu from uc group by c),
    r as (
      select c, nu, c * nu as ev,
             coalesce(sum(nu) over (order by c desc
                                    rows between unbounded preceding
                                    and 1 preceding), 0) as users_above,
             coalesce(sum(c * nu) over (order by c desc
                                        rows between unbounded preceding
                                        and 1 preceding), 0) as events_above,
             sum(nu) over () as tot_users,
             sum(c * nu) over () as tot_events
      from h
    ),
    k as (select unnest(range(1, 11)) as decile),
    b as (
      select k.decile, (k.decile * r.tot_users) // 10 as boundary,
             r.c, r.nu, r.users_above, r.events_above,
             r.tot_users, r.tot_events
      from k join r
        on r.users_above < (k.decile * r.tot_users) // 10
       and (k.decile * r.tot_users) // 10 <= r.users_above + r.nu
    )
    select cast(decile as integer) as decile,
           cast(boundary as bigint) as n_users,
           cast(events_above + c * (boundary - users_above) as bigint)
             as n_events,
           cast(events_above + c * (boundary - users_above) as double)
             / tot_events as event_share
    from b
    """,
    "events", "lorenz", "concentration",
)
def ev_lorenz_power_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clueso_spark.functions.ordered import ranged_cumsum

    ev = load_table(spark, sf_dir, "events")
    uc = ev.groupBy("user_id").agg(F.count("*").alias("c"))
    h = uc.groupBy("c").agg(F.count("*").cast("bigint").alias("nu"))
    h = persist_swap(
        spark, "lorenz_hist", h.withColumn("ev", F.col("c") * F.col("nu"))
    )
    # running sums EXCLUSIVE of the current count-group, ordered by
    # activity descending: ranged_cumsum gives the inclusive sum over
    # (-c) order; exclusive = inclusive - own value
    neg = h.withColumn("negc", -F.col("c"))
    cum = ranged_cumsum(neg, ["negc"], "nu", "cu_incl")
    cum = ranged_cumsum(cum, ["negc"], "ev", "ce_incl")
    r = cum.select(
        "c",
        "nu",
        "ev",
        (F.col("cu_incl") - F.col("nu")).alias("users_above"),
        (F.col("ce_incl") - F.col("ev")).alias("events_above"),
    )
    tot = h.agg(
        F.sum("nu").cast("bigint").alias("tot_users"),
        F.sum("ev").cast("bigint").alias("tot_events"),
    )
    k = spark.range(1, 11).select(F.col("id").alias("decile"))
    b = (
        r.crossJoin(F.broadcast(tot))
        .join(
            F.broadcast(k),
            (
                F.col("users_above")
                < F.expr("(decile * tot_users) div 10")
            )
            & (
                F.expr("(decile * tot_users) div 10")
                <= F.col("users_above") + F.col("nu")
            ),
        )
        .withColumn("boundary", F.expr("(decile * tot_users) div 10"))
    )
    picked = F.col("events_above") + F.col("c") * (
        F.col("boundary") - F.col("users_above")
    )
    return b.select(
        F.col("decile").cast("int").alias("decile"),
        F.col("boundary").cast("bigint").alias("n_users"),
        picked.cast("bigint").alias("n_events"),
        (picked.cast("double") / F.col("tot_events")).alias("event_share"),
    )


# ---------------------------------------------------------------------------
# Bounce rate by session entry event: sessionize (30-min gap, the
# ev_sessionize constant), then report per first-event-type how many
# sessions never got a second event. User-keyed windows only.
# ---------------------------------------------------------------------------


@register(
    "ev_bounce_rate_sessions",
    "Bounce rate by session entry type: 30-minute-gap sessionization "
    "(user-keyed lag window, one exchange), session aggregation keyed "
    "on (user, session), entry type via min_by over (ts, event_id); "
    "bounce = single-event session. Exact counts, one double division.",
    """
    with x as (
      select user_id, event_type, event_id, epoch_us(ts) as us,
             case when epoch_us(ts) - lag(epoch_us(ts)) over (
                    partition by user_id order by ts, event_id)
                  > 1800000000 then 1
                  when lag(epoch_us(ts)) over (
                    partition by user_id order by ts, event_id) is null
                  then 1 else 0 end as brk
      from events
    ),
    s as (
      select user_id, event_type, event_id, us,
             sum(brk) over (partition by user_id order by us, event_id
                            rows unbounded preceding) as sess,
             row_number() over (partition by user_id
                                order by us, event_id) as rn
      from x
    ),
    g as (
      select user_id, sess, count(*) as n_events, min(rn) as entry_rn
      from s group by user_id, sess
    ),
    e as (
      select g.n_events, s.event_type as entry_type
      from g join s on g.user_id = s.user_id and s.rn = g.entry_rn
    )
    select entry_type,
           cast(count(*) as bigint) as n_sessions,
           cast(sum(case when n_events = 1 then 1 else 0 end) as bigint)
             as n_bounced,
           cast(sum(case when n_events = 1 then 1 else 0 end) as double)
             / count(*) as bounce_rate
    from e group by entry_type
    """,
    "events", "sessionize", "bounce",
)
def ev_bounce_rate_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "event_id",
        F.unix_micros("ts").alias("us"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    brk = F.when(
        F.lag("us").over(w).isNull()
        | ((F.col("us") - F.lag("us").over(w)) > 1800 * 1000 * 1000),
        1,
    ).otherwise(0)
    x = ev.withColumn("brk", brk)
    # sess and rn ride the SAME user-keyed sort -- one exchange, one
    # sort, two window functions
    s = x.withColumn(
        "sess",
        F.sum("brk").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    ).withColumn("rn", F.row_number().over(w))
    g = s.groupBy("user_id", "sess").agg(
        F.count("*").alias("n_events"),
        F.min("rn").alias("entry_rn"),
        # rn is unique per user, so min_by over it is the entry event's
        # type -- a hash aggregate, not a second window pass
        F.expr("min_by(event_type, rn)").alias("entry_type"),
    )
    bounced = F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
    return g.groupBy("entry_type").agg(
        F.count("*").cast("bigint").alias("n_sessions"),
        bounced.cast("bigint").alias("n_bounced"),
        (bounced.cast("double") / F.count("*")).alias("bounce_rate"),
    )


# ---------------------------------------------------------------------------
# Inter-arrival histogram on a log2 scale: per event type, the
# distribution of gaps between a user's consecutive events. The bucket
# is the base-2 digit count of the gap in milliseconds -- an exact
# integer in both engines (no float log anywhere).
# ---------------------------------------------------------------------------


@register(
    "ev_inter_event_histogram",
    "Log2-bucketed inter-arrival histogram per event type: per-user "
    "consecutive gaps (one user-keyed lag window), bucket = integer "
    "floor(log2(gap_ms)) via base-2 digit count (exact in both "
    "engines; no float log), zero-gap bucket -1. One exchange + one "
    "keyed aggregate.",
    """
    with g as (
      select event_type,
             epoch_us(ts) - lag(epoch_us(ts)) over (
               partition by user_id order by ts, event_id) as gap_us
      from events
    ),
    b as (
      select event_type,
             case when gap_us // 1000 <= 0 then -1
                  else length(bin(gap_us // 1000)) - 1 end as log2_ms
      from g where gap_us is not null
    )
    select event_type, cast(log2_ms as integer) as log2_ms,
           cast(count(*) as bigint) as n_gaps
    from b group by event_type, log2_ms
    """,
    "events", "histogram", "log2",
)
def ev_inter_event_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.select(
        "event_type",
        (
            F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
        ).alias("gap_us"),
    ).where(F.col("gap_us").isNotNull())
    b = g.select(
        "event_type",
        F.when(F.expr("gap_us div 1000") <= 0, F.lit(-1))
        .otherwise(F.expr("length(conv(gap_us div 1000, 10, 2)) - 1"))
        .cast("int")
        .alias("log2_ms"),
    )
    return b.groupBy("event_type", "log2_ms").agg(
        F.count("*").cast("bigint").alias("n_gaps")
    )


# ---------------------------------------------------------------------------
# Label-propagation communities: 3 synchronous min-label rounds on the
# co-purchase graph (same bipartite edge set PageRank uses: customer /
# offset-supplier, edge = an order linked them). Plan-unrolled rounds --
# each is one keyed join + min-aggregate; after 3 rounds report
# community sizes. The bounded-round sibling of connected components'
# driver fixpoint (functions/graph.py), useful when a fixed sync budget
# is the contract (the Pregel-superstep shape).
# ---------------------------------------------------------------------------

_LP_ROUNDS = 3


def _lp_edges_sql() -> str:
    return f"""
    e0 as (
      select distinct o_custkey as c, {SUPP_BASE} + l_suppkey as s
      from orders join lineitem on o_orderkey = l_orderkey
    ),
    e as (select c as u, s as v from e0 union all select s, c from e0)
    """


_LP_ROUND_SQL = "".join(
    f""",
    l{k} as (
      select l.node,
             least(l.lbl, coalesce(min(nl.lbl), l.lbl)) as lbl
      from l{k - 1} l
      left join e on e.u = l.node
      left join l{k - 1} nl on nl.node = e.v
      group by l.node, l.lbl
    )"""
    for k in range(1, _LP_ROUNDS + 1)
)


@register(
    "graph_label_propagation",
    f"Label propagation, {_LP_ROUNDS} synchronous min-label rounds on "
    "the customer-supplier co-purchase graph, plan-unrolled (the "
    "Pregel-superstep shape: each round ONE keyed join + min "
    "aggregate, no driver loop, no collect). Report community sizes "
    ">= 2 after the final round. Labels are node ids, so every round "
    "is exact integer math in any engine.",
    f"""
    with {_lp_edges_sql()},
    l0 as (
      select u as node, u as lbl from (select u from e group by u)
    )
    {_LP_ROUND_SQL}
    select lbl as community, cast(count(*) as bigint) as n_nodes
    from l{_LP_ROUNDS}
    group by lbl having count(*) >= 2
    """,
    "graph", "communities", "iterative",
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    # edges feed every round plus the vertex set: pin once, PRE-
    # PARTITIONED on the per-round probe key u. The cached partitioning
    # is honored at runtime (canChangeCachedPlanOutputPartitioning
    # defaults false), so every round's edge-side join reuses it with
    # ZERO exchange -- the edge list, the one relation that is
    # corpus-sized at 100 TB, is shuffled exactly once per query
    # instead of once per round (guide §2.4: bucketed-table semantics
    # via a pinned partitioned intermediate).
    edges = persist_swap(
        spark, "lp_edges", cust_supp_edges(spark, sf_dir).repartition("u")
    )
    labels = edges.groupBy("u").agg(F.lit(0)).select(
        F.col("u").alias("node"), F.col("u").alias("lbl")
    )
    for k in range(_LP_ROUNDS):
        # each round reads the previous labels TWICE (own label + the
        # neighbor side of the self-join), so an unpinned unroll doubles
        # the lineage per round -- measured 2^rounds blowup (13.8 s at
        # sf0.1, x10 curve bending). Pinning each round's node-count-sized
        # frame in its OWN slot keeps round k-1 materialized while
        # round k builds on it (one shared slot would unpersist the
        # frame its successor still reads). DuckDB's oracle CTEs are
        # materialized once by the engine -- this is the Spark-side
        # equivalent of that guarantee.
        #
        # Round shape (guide §2.3 "aggregate before you shuffle" +
        # §2.4 "remove shuffles outright"): attach each edge's SOURCE
        # label by joining on the cached partitioning key u (zero
        # edge-side exchange), partially aggregate min-label per
        # DESTINATION v map-side, and only then shuffle the node-sized
        # partial aggregates. The old shape joined labels->edges->
        # labels and shuffled the full edge-sized join output by v
        # every round. Equivalence: the edge set is symmetric, so
        # {u : (u,v) in E} is exactly v's neighbor set, and labels has
        # one row per node, so grouping by v over (edge x source-label)
        # rows computes the same min-neighbor-label; nodes are never
        # isolated (the vertex set is derived from edges), so inner
        # joins lose nothing vs the old left joins.
        labels = persist_swap(spark, f"lp_labels_{k}", labels)
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
    return (
        labels.groupBy(F.col("lbl").alias("community"))
        .agg(F.count("*").cast("bigint").alias("n_nodes"))
        .where(F.col("n_nodes") >= 2)
    )


# ---------------------------------------------------------------------------
# Truncated Katz centrality with exact integer walk counts: c(v) =
# sum_k beta^k * walks_k(v) for k = 1..3, beta = 1/8, scaled by 8^3 so
# every term is a bigint (64*w1 + 8*w2 + w3). Three keyed join+agg
# rounds over the same pinned edges -- the fixed-depth centrality a
# feature pipeline can afford at 100 TB (full eigenvector iteration is
# PageRank's job).
# ---------------------------------------------------------------------------

_KATZ_TOP = 20


@register(
    "graph_katz_centrality",
    "Truncated Katz centrality (beta = 1/8, depth 3) with EXACT "
    "integer walk counts: walks_k(v) = count of length-k walks ending "
    "at v, each round one keyed join + sum over the pinned co-purchase "
    f"edges; centrality_scaled = 64*w1 + 8*w2 + w3 (8^3-scaled). Top "
    f"{_KATZ_TOP} nodes, (score, node) tiebreak.",
    f"""
    with {_lp_edges_sql()},
    w1 as (select v, cast(count(*) as bigint) as w from e group by v),
    w2 as (
      select e.v, cast(sum(w1.w) as bigint) as w
      from e join w1 on w1.v = e.u group by e.v
    ),
    w3 as (
      select e.v, cast(sum(w2.w) as bigint) as w
      from e join w2 on w2.v = e.u group by e.v
    ),
    c as (
      select w1.v as node,
             64 * w1.w + 8 * coalesce(w2.w, 0) + coalesce(w3.w, 0)
               as katz_scaled
      from w1
      left join w2 on w2.v = w1.v
      left join w3 on w3.v = w1.v
    ),
    r as (
      select node, katz_scaled,
             row_number() over (order by katz_scaled desc, node) as rk
      from c
    )
    select node, cast(katz_scaled as bigint) as katz_scaled,
           cast(rk as bigint) as rk
    from r where rk <= {_KATZ_TOP}
    """,
    "graph", "centrality", "katz",
)
def graph_katz_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pinned PRE-PARTITIONED on u, the key every walk round probes:
    # cached partitioning is reused at runtime, so the edge list is
    # shuffled once per query instead of once per round (the same
    # discipline as graph_label_propagation)
    edges = persist_swap(
        spark, "katz_edges", cust_supp_edges(spark, sf_dir).repartition("u")
    )
    # w1 and w2 each feed TWO consumers (the next walk round + the
    # final score join) -- the SCALE.md double-consumption rule: one
    # vertex-set-sized pin per round, own slots (round-10 review; the
    # recompute read the pinned edges, so this trims joins, not scans)
    w1 = persist_swap(
        spark,
        "katz_w1",
        edges.groupBy("v").agg(F.count("*").cast("bigint").alias("w")),
    )
    w2 = persist_swap(
        spark,
        "katz_w2",
        edges.join(w1.select(F.col("v").alias("u"), "w"), "u")
        .groupBy("v")
        .agg(F.sum("w").cast("bigint").alias("w")),
    )
    w3 = (
        edges.join(w2.select(F.col("v").alias("u"), "w"), "u")
        .groupBy("v")
        .agg(F.sum("w").cast("bigint").alias("w"))
    )
    c = (
        w1.select(F.col("v").alias("node"), F.col("w").alias("w1"))
        .join(
            w2.select(F.col("v").alias("node"), F.col("w").alias("w2")),
            "node",
            "left",
        )
        .join(
            w3.select(F.col("v").alias("node"), F.col("w").alias("w3")),
            "node",
            "left",
        )
        .select(
            "node",
            (
                64 * F.col("w1")
                + 8 * F.coalesce(F.col("w2"), F.lit(0))
                + F.coalesce(F.col("w3"), F.lit(0))
            ).alias("katz_scaled"),
        )
    )
    # top-k FIRST via orderBy+limit (TakeOrderedAndProject: per-task
    # heaps, driver merge), THEN rank the k survivors -- the previous
    # partition-less row_number window sorted the ENTIRE vertex set
    # through one task (1.5e9 customer nodes at target scale; the
    # single-partition trap this repo's ranged helpers exist to avoid,
    # round-10 review finding). The post-limit window is over exactly
    # _KATZ_TOP rows: bounded-constant, not a scale surface.
    top = c.orderBy(F.col("katz_scaled").desc(), "node").limit(_KATZ_TOP)
    w = Window.orderBy(F.col("katz_scaled").desc(), F.col("node"))
    return (
        top.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .select(
            "node",
            F.col("katz_scaled").cast("bigint").alias("katz_scaled"),
            "rk",
        )
    )


# ---------------------------------------------------------------------------
# Exact two-sample Kolmogorov-Smirnov: D = max |ECDF_a - ECDF_b| kept
# in cross-multiplied integers (|cum_a * n_b - cum_b * n_a|) until one
# final double division -- the float-ECDF tie ambiguity never exists.
# The ECDF support is the distinct value set (document lengths:
# bounded), so the running sums ride ranged_cumsum, not a global sort.
# ---------------------------------------------------------------------------

_KS_A, _KS_B = "src0", "src1"


@register(
    "agg_ks_two_sample",
    f"Exact two-sample KS statistic between '{_KS_A}' and '{_KS_B}' "
    "document-length distributions: per-value counts (one keyed "
    "aggregate), running ECDFs via ranged cumulative sums over the "
    "bounded distinct-length support, D from cross-multiplied bigints "
    "|cum_a*n_b - cum_b*n_a| with ONE double division at the end; "
    "ties broken to the smallest attaining length.",
    f"""
    with h as (
      select n_chars as v,
             sum(case when source = '{_KS_A}' then 1 else 0 end) as ca,
             sum(case when source = '{_KS_B}' then 1 else 0 end) as cb
      from documents where source in ('{_KS_A}', '{_KS_B}')
      group by n_chars
    ),
    c as (
      select v,
             sum(ca) over (order by v rows unbounded preceding) as cuma,
             sum(cb) over (order by v rows unbounded preceding) as cumb,
             sum(ca) over () as na, sum(cb) over () as nb
      from h
    ),
    d as (
      select v, abs(cuma * nb - cumb * na) as dnum, na, nb from c
    ),
    m as (select max(dnum) as mx from d)
    select cast(min(d.v) as bigint) as at_value,
           cast(d.na as bigint) as n_a,
           cast(d.nb as bigint) as n_b,
           cast(m.mx as bigint) as d_num,
           cast(m.mx as double) / (d.na * d.nb) as d_stat
    from d join m on d.dnum = m.mx
    group by d.na, d.nb, m.mx
    """,
    "aggregate", "statistics", "ks",
)
def agg_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clueso_spark.functions.ordered import ranged_cumsum

    docs = load_table(spark, sf_dir, "documents")
    h = (
        docs.where(F.col("source").isin(_KS_A, _KS_B))
        .groupBy(F.col("n_chars").alias("v"))
        .agg(
            F.sum(
                F.when(F.col("source") == _KS_A, 1).otherwise(0)
            ).alias("ca"),
            F.sum(
                F.when(F.col("source") == _KS_B, 1).otherwise(0)
            ).alias("cb"),
        )
    )
    h = persist_swap(spark, "ks_hist", h)
    c = ranged_cumsum(h, ["v"], "ca", "cuma")
    c = ranged_cumsum(c, ["v"], "cb", "cumb")
    tot = h.agg(
        F.sum("ca").cast("bigint").alias("na"),
        F.sum("cb").cast("bigint").alias("nb"),
    )
    d = c.crossJoin(F.broadcast(tot)).select(
        "v",
        "na",
        "nb",
        F.abs(
            F.col("cuma") * F.col("nb") - F.col("cumb") * F.col("na")
        ).alias("dnum"),
    )
    d = persist_swap(spark, "ks_d", d)
    m = d.agg(F.max("dnum").alias("mx"))
    return (
        d.join(F.broadcast(m), d.dnum == F.col("mx"))
        .groupBy("na", "nb", "mx")
        .agg(F.min("v").cast("bigint").alias("at_value"))
        .select(
            "at_value",
            F.col("na").cast("bigint").alias("n_a"),
            F.col("nb").cast("bigint").alias("n_b"),
            F.col("mx").cast("bigint").alias("d_num"),
            (
                F.col("mx").cast("double") / (F.col("na") * F.col("nb"))
            ).alias("d_stat"),
        )
    )


# ---------------------------------------------------------------------------
# Chi-square independence cells: event_type x day-of-week contingency
# with exact integer margins. Per-cell contribution
# (O*n - R*C)^2 / (R*C*n) is emitted PER CELL (one deterministic IEEE
# chain over exact 128-bit integers each) -- no cross-cell float sum
# exists, so the whole table hash-verifies. Day-of-week is an integer
# day-number mod 7 (engine-independent; no locale-sensitive dayofweek).
# ---------------------------------------------------------------------------


@register(
    "agg_chi2_independence",
    "Chi-square independence cells for event_type x day-of-week: exact "
    "bigint observed counts and margins from ONE corpus aggregate; the "
    "per-cell statistic (n*O - R*C)^2 / (R*C*n) is computed through "
    "128-bit integers (Spark decimal(38,0), DuckDB hugeint) and ONE "
    "double division per cell -- no float sum across cells, every row "
    "hash-verifiable. dow = epoch-day mod 7, locale-free.",
    """
    with b as (
      select event_type,
             (epoch_us(ts) // 86400000000) % 7 as dow
      from events
    ),
    o as (
      select event_type, dow, cast(count(*) as bigint) as obs
      from b group by event_type, dow
    ),
    r as (select event_type, sum(obs) as rt from o group by event_type),
    c as (select dow, sum(obs) as ct from o group by dow),
    n as (select sum(obs) as n from o)
    select o.event_type, cast(o.dow as integer) as dow, o.obs,
           cast(r.rt as bigint) as row_total,
           cast(c.ct as bigint) as col_total,
           cast(
             cast((n.n::hugeint * o.obs - r.rt::hugeint * c.ct)
                  * (n.n::hugeint * o.obs - r.rt::hugeint * c.ct) as double)
             / cast(r.rt::hugeint * c.ct * n.n as double)
           as double) as chi2_cell
    from o join r using (event_type) join c using (dow) cross join n
    """,
    "aggregate", "statistics", "chi2",
)
def agg_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    b = ev.select(
        "event_type",
        F.expr("(unix_micros(ts) div 86400000000) % 7").alias("dow"),
    )
    o = b.groupBy("event_type", "dow").agg(
        F.count("*").cast("bigint").alias("obs")
    )
    o = persist_swap(spark, "chi2_obs", o)
    r = o.groupBy("event_type").agg(F.sum("obs").alias("rt"))
    c = o.groupBy("dow").agg(F.sum("obs").alias("ct"))
    n = o.agg(F.sum("obs").alias("n"))
    dec38 = "decimal(38,0)"
    num = (
        F.col("n").cast(dec38) * F.col("obs")
        - F.col("rt").cast(dec38) * F.col("ct")
    )
    den = F.col("rt").cast(dec38) * F.col("ct") * F.col("n")
    return (
        o.join(F.broadcast(r), "event_type")
        .join(F.broadcast(c), "dow")
        .crossJoin(F.broadcast(n))
        .select(
            "event_type",
            F.col("dow").cast("int").alias("dow"),
            "obs",
            F.col("rt").cast("bigint").alias("row_total"),
            F.col("ct").cast("bigint").alias("col_total"),
            (
                (num * num).cast("double") / den.cast("double")
            ).alias("chi2_cell"),
        )
    )


# ---------------------------------------------------------------------------
# Perceptual-hash-style near-dup plumbing: a 64-bit positional
# signature over payload chunks (bit i = md5 of the i-th length-
# normalized chunk -- a deterministic stand-in where a deployment
# plugs a real pHash/dHash over decoded pixels; the Spark-side shape,
# banding, and exact Hamming verify are the real engine work), banded
# 4 x 16 bits for candidate generation, exact Hamming <= threshold to
# confirm. Mirrors dedup_minhash_lsh's one-keyed-shuffle contract.
# ---------------------------------------------------------------------------

_PHASH_BITS = 64
_PHASH_BANDS = 4
_PHASH_MAX_HAMMING = 6


def _phash_sig_spark() -> "F.Column":
    bits = []
    for i in range(_PHASH_BITS):
        chunk = (
            f"substring(text, 1 + {i} * (length(text) div {_PHASH_BITS}),"
            f" greatest(1, length(text) div {_PHASH_BITS}))"
        )
        bits.append(
            f"case when instr('89abcdef', substring(md5({chunk}), 1, 1)) > 0"
            " then '1' else '0' end"
        )
    return F.expr("concat(" + ", ".join(bits) + ")")


def _phash_sig_sql() -> str:
    bits = []
    for i in range(_PHASH_BITS):
        chunk = (
            f"substring(text, 1 + {i} * (length(text) // {_PHASH_BITS}),"
            f" greatest(1, length(text) // {_PHASH_BITS}))"
        )
        bits.append(
            f"case when strpos('89abcdef', substring(md5({chunk}), 1, 1)) > 0"
            " then '1' else '0' end"
        )
    return " || ".join(bits)


@register(
    "mm_phash_hamming_dedup",
    f"Perceptual-hash near-dup plumbing: {_PHASH_BITS}-bit positional "
    "chunk signature per payload (deterministic md5 stand-in for a "
    f"pixel pHash), {_PHASH_BANDS} x {_PHASH_BITS // _PHASH_BANDS}-bit "
    "bands -> candidates share any band (one keyed shuffle, "
    "per-bucket pair expansion), exact Hamming distance <= "
    f"{_PHASH_MAX_HAMMING} verifies. Positional chunking keeps bit "
    "locality (a local edit flips few bits), which is what makes "
    "banding sound.",
    f"""
    with s as (
      select doc_id, {_phash_sig_sql()} as sig from documents
    ),
    l as (
      select doc_id, band, substring(sig, 1 + band * 16, 16) as bk, sig
      from s cross join (select unnest(range(0, {_PHASH_BANDS})) as band)
    ),
    cand as (
      select distinct a.doc_id as doc_a, b.doc_id as doc_b
      from l a join l b
        on a.band = b.band and a.bk = b.bk and a.doc_id < b.doc_id
    ),
    v as (
      select c.doc_a, c.doc_b,
             cast(len(list_filter(range(1, {_PHASH_BITS} + 1),
               i -> substring(sa.sig, i, 1) <> substring(sb.sig, i, 1)))
               as bigint) as hamming
      from cand c
      join s sa on sa.doc_id = c.doc_a
      join s sb on sb.doc_id = c.doc_b
    )
    select doc_a, doc_b, hamming
    from v where hamming <= {_PHASH_MAX_HAMMING}
    """,
    "multimodal", "dedup", "phash",
)
def mm_phash_hamming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clueso_spark.plans.dedup_queries import (
        LSH_BUCKET_CAP,
        _bucket_pairs,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", _phash_sig_spark().alias("sig")
    )
    # the signature projection is 64 md5 calls per row -- compute once,
    # feed the banding AND both verify sides from the pinned frame
    docs = persist_swap(spark, "phash_sigs", docs)
    band_w = _PHASH_BITS // _PHASH_BANDS
    long = docs.select(
        "doc_id",
        F.explode(
            F.array(*[F.lit(k) for k in range(_PHASH_BANDS)])
        ).alias("band"),
        "sig",
    ).select(
        "doc_id",
        "band",
        F.expr(f"substring(sig, 1 + band * {band_w}, {band_w})").alias("bk"),
    )
    cand = _bucket_pairs(
        long, ["band", "bk"], "doc_id", "doc_a", "doc_b", cap=LSH_BUCKET_CAP
    )
    cand = cand.distinct()
    sa = docs.select(
        F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a")
    )
    sb = docs.select(
        F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b")
    )
    ham = F.expr(
        f"size(filter(sequence(1, {_PHASH_BITS}),"
        " i -> substring(sig_a, i, 1) != substring(sig_b, i, 1)))"
    ).cast("bigint")
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", ham.alias("hamming"))
        .where(F.col("hamming") <= _PHASH_MAX_HAMMING)
        .select("doc_a", "doc_b", "hamming")
    )

