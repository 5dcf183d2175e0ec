"""Operators staged in round 10, PROMOTED in round 11 (this module is
now in catalog.QUERY_MODULES and registers at import).

Same life-cycle as staged_r6 / staged_r8 / staged_r9 / staged_r10 (all
promoted): these shipped in round 10 as library code with full pytest
parity coverage (tests/test_staged_r11.py runs the exact driver
comparison -- row count + schema + order-insensitive value hash --
against DuckDB oracles at sf0.001 and sf0.01) because the round-10
driver window (50 slots) was fully allocated: 15 promotions + 4
changed-code + 31 r6 refreshes. Round 11: every name here sits inside
the driver window (after the 10 mandatory r6 leftovers) and joins
bench.py HEADLINE; registry 197 -> 212, refresh cycle 4 -> 5 rounds.

What this tier adds (all absent from both the reference and the live
catalog):
  * relational surface -- the DataFrame ``groupBy().pivot()`` operator
    (the catalog's existing pivot-shaped queries are conditional
    aggregation; this exercises the dedicated API + its oracle), exact
    equi-depth histogram edges from the scale-safe ranged-rank helpers;
  * ordered analytics -- exact rolling median over a row frame (doubled
    middle-pair sum, so no division ever happens), an 8-tap exact-
    integer EWMA (the streaming-telemetry smoother, expressed as a
    fixed FIR so both engines compute identical bigints);
  * event analytics -- cumulative distinct users over time via the
    first-seen-day identity (sum of firsts == running distinct count,
    no quadratic re-scan), top session paths (first-3-event sequences),
    sweep-line concurrent-interval counting (+1/-1 deltas + one global
    ranged cumsum -- the interval-overlap join family WITHOUT a join);
  * statistics -- exact two-sample Mann-Whitney U from doubled midranks
    (integer tie handling: 2r = 2*less + ties + 1), MAD-based robust
    per-entity anomaly counts (doubled/quadrupled integer medians via
    rank arithmetic, no per-user collect);
  * sketches -- KMV bottom-k distinct estimate whose md5-derived value
    is the SAME exact integer in any engine (HLL's sketch bits are not);
  * graph -- 3-round Bellman-Ford shortest paths with exact integer
    min-plus weights, plan-unrolled with per-round pins (the SCALE.md
    double-consumption rule);
  * dedup -- edit-distance near-dup verification (levenshtein, identical
    DP metric in both engines) over (prefix, length-bucket) blocking,
    winnowing fingerprints (Schleimer et al. 2003 / MOSS) with
    shared-fingerprint candidate pairs from one keyed shuffle, and the
    CDC pair: content-defined chunking (map-only boundary algebra) +
    cross-payload duplicate-chunk accounting (the measured payoff a
    content-addressed blob store gets).

Determinism contract: identical to plans/catalog.py -- exact bigint /
decimal arithmetic wherever a float sum would be order-sensitive;
every computed column aliased identically on both sides; day buckets
via bigint ``div`` (== DuckDB ``//`` on both signs, pinned by
test_day_bucket_div_matches_duckdb); cents via ``round(x * 100)`` on
2-decimal doubles (no ties exist at the third decimal, so round-half
policy differences are unreachable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clueso_spark.plans.catalog import persist_swap, register
from clueso_spark.plans.relational import SUPP_BASE
from clueso_spark.sources.tables import load_table

#: day bucket: microseconds div one day (cross-engine truncation pinned)
_DAY_US = 86_400_000_000


def _cents(col: str) -> F.Column:
    return F.round(F.col(col) * 100).cast("bigint")


def _day(col: str = "ts") -> F.Column:
    return F.expr(f"unix_micros({col}) div {_DAY_US}")


# ---------------------------------------------------------------------------
# The DataFrame pivot operator: groupBy().pivot(values).agg(...). The
# catalog's existing "pivot-style" queries are hand-written conditional
# aggregation; this exercises Spark's dedicated pivot path (PivotFirst /
# two-phase pivot aggregate) with pinned pivot values -- pinned values
# matter at scale: without them Spark runs an extra distinct-collect
# job over the corpus just to discover the column set.
# ---------------------------------------------------------------------------


@register(
    "agg_pivot_shipmode",
    "groupBy(l_linestatus).pivot(l_returnflag, [A, N, R]).sum(quantity)"
    " -- Spark's dedicated pivot operator with PINNED pivot values (no "
    "values-discovery pre-job over the corpus). Exact bigint quantity "
    "sums; absent cells coalesce to 0 so the cross-engine hash is "
    "defined on any corpus slice.",
    """
    select l_linestatus,
           cast(coalesce(sum(case when l_returnflag = 'A'
                 then cast(l_quantity as bigint) end), 0) as bigint) as qty_a,
           cast(coalesce(sum(case when l_returnflag = 'N'
                 then cast(l_quantity as bigint) end), 0) as bigint) as qty_n,
           cast(coalesce(sum(case when l_returnflag = 'R'
                 then cast(l_quantity as bigint) end), 0) as bigint) as qty_r
    from lineitem group by l_linestatus
    """,
    "aggregate", "pivot",
)
def agg_pivot_shipmode(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_linestatus",
        "l_returnflag",
        F.col("l_quantity").cast("bigint").alias("qty"),
    )
    wide = (
        li.groupBy("l_linestatus")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(F.sum("qty"))
    )
    return wide.select(
        "l_linestatus",
        *[
            F.coalesce(F.col(v), F.lit(0)).cast("bigint").alias(
                f"qty_{v.lower()}"
            )
            for v in ("A", "N", "R")
        ],
    )


# ---------------------------------------------------------------------------
# Exact rolling median over a row frame. Spark has no median window
# function; the exact construction collects the (bounded, 5-row) frame
# into an array, sorts it, and emits the DOUBLED middle-pair sum -- for
# odd n that is 2x the middle element, for even n the sum of the two
# middles -- so the result is a pure bigint and no engine ever divides.
# ---------------------------------------------------------------------------


@register(
    "window_rolling_median",
    "Per-user exact rolling median of event value (cents) over the "
    "trailing 5-row frame: collect the bounded frame, sort, emit the "
    "doubled middle-pair sum (odd n: 2x middle; even n: sum of the two "
    "middles) -- exact bigints, no division, identical in any engine. "
    "Scale: the frame is O(1) per row and the window is user-keyed; "
    "cost is one keyed shuffle.",
    f"""
    with e as (
      select event_id, user_id, epoch_us(ts) as ts_us,
             cast(round(value * 100) as bigint) as cents
      from events
    ),
    r as (
      select event_id, user_id,
             list_sort(list(cents) over (
               partition by user_id order by ts_us, event_id
               rows between 4 preceding and current row)) as arr
      from e
    )
    select event_id, user_id,
           cast(len(arr) as bigint) as n_in_frame,
           cast(arr[((len(arr) - 1) // 2) + 1]
                + arr[(len(arr) // 2) + 1] as bigint) as median_x2_cents
    from r
    """,
    "window", "median", "ordered",
)
def window_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        _cents("value").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(-4, 0)
    )
    arr = F.array_sort(F.collect_list("cents").over(w))
    n = F.size(arr)
    lo = F.element_at(arr, ((n - 1) / 2).cast("int") + 1)
    hi = F.element_at(arr, (n / 2).cast("int") + 1)
    return ev.select(
        "event_id",
        "user_id",
        n.cast("bigint").alias("n_in_frame"),
        (lo + hi).cast("bigint").alias("median_x2_cents"),
    )


# ---------------------------------------------------------------------------
# Cumulative distinct users over time WITHOUT re-scanning history: a
# user contributes to the running distinct count exactly once, on their
# first-seen day, so cumulative-distinct(day) == running sum of
# first-seen counts. One groupBy(user) + one day-level cumsum -- the
# day-level relation is time-span-sized, never corpus-sized, and the
# global running sum routes through the ranged helper (no
# single-partition window).
# ---------------------------------------------------------------------------


@register(
    "ev_cumulative_distinct_users",
    "Running distinct-user count per active day via the first-seen-day "
    "identity (min day per user -> per-day new-user counts -> one "
    "ranged cumulative sum): exact, one corpus pass, no per-day "
    "re-scan of history -- the growth-curve query every usage "
    "dashboard runs. Global cumsum is ranged (functions/ordered.py), "
    "never a single-partition window.",
    f"""
    with fs as (
      select user_id, min(epoch_us(ts) // {_DAY_US}) as day
      from events group by user_id
    ),
    days as (
      select distinct epoch_us(ts) // {_DAY_US} as day from events
    ),
    nu as (select day, cast(count(*) as bigint) as n_new from fs group by day)
    select days.day,
           cast(coalesce(nu.n_new, 0) as bigint) as n_new,
           cast(sum(coalesce(nu.n_new, 0)) over (
                  order by days.day
                  rows between unbounded preceding and current row)
                as bigint) as cum_users
    from days left join nu using (day)
    """,
    "events", "distinct", "timeseries",
)
def ev_cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clueso_spark.functions.ordered import ranged_cumsum

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", _day().alias("day")
    )
    first_seen = ev.groupBy("user_id").agg(F.min("day").alias("day"))
    new_users = first_seen.groupBy("day").agg(
        F.count("*").cast("bigint").alias("n_new")
    )
    days = ev.select("day").distinct()
    per_day = days.join(new_users, "day", "left").select(
        "day", F.coalesce("n_new", F.lit(0)).cast("bigint").alias("n_new")
    )
    out = ranged_cumsum(per_day, ["day"], "n_new", "cum_users")
    return out.select(
        "day", "n_new", F.col("cum_users").cast("bigint").alias("cum_users")
    )


# ---------------------------------------------------------------------------
# Top session paths: the first 3 event types per (user, day), joined
# into a path string, counted globally -- the navigation-flow /
# Sankey-source query. The per-session collect is bounded (3 elements);
# the global top-20 compiles to TakeOrderedAndProject.
# ---------------------------------------------------------------------------


@register(
    "ev_top_paths",
    "Per-(user, day) session path = first 3 event types in time order "
    "(event_id tiebreak), '>'-joined; global top-20 paths by exact "
    "count with a path tiebreak. The collect is bounded at 3 elements "
    "per session and the top-k is a TakeOrderedAndProject -- no global "
    "sort, no unbounded state.",
    f"""
    with o as (
      select user_id, epoch_us(ts) // {_DAY_US} as day, event_type,
             row_number() over (
               partition by user_id, epoch_us(ts) // {_DAY_US}
               order by epoch_us(ts), event_id) as rn
      from events
    ),
    p as (
      select user_id, day,
             string_agg(event_type, '>' order by rn) as path
      from o where rn <= 3 group by user_id, day
    )
    select path, cast(count(*) as bigint) as n_sessions
    from p group by path
    order by n_sessions desc, path
    limit 20
    """,
    "events", "sessionize", "topk",
)
def ev_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        _day().alias("day"),
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
    )
    w = Window.partitionBy("user_id", "day").orderBy("ts_us", "event_id")
    first3 = ev.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= 3
    )
    paths = first3.groupBy("user_id", "day").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").cast("bigint").alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Exact equi-depth histogram without a global window: global rank via
# the ranged row-number helper, ntile arithmetic by comparison
# (functions/ordered.ntile_from_rank). The oracle uses plain ntile --
# identical semantics (first n%k buckets take the extra row), so this
# doubles as a cross-engine proof of the scale-safe construction.
# ---------------------------------------------------------------------------

_EQUIDEPTH_K = 4


@register(
    "agg_equidepth_histogram",
    f"Exact equi-depth ({_EQUIDEPTH_K}-bucket) histogram of order value "
    "in cents: global rank from the ranged (no single-partition) "
    "row-number helper, ntile bucket from rank arithmetic, per-bucket "
    "exact count/min/max. The oracle's plain ntile proves the ranged "
    "construction reproduces SQL ntile semantics bit-for-bit.",
    f"""
    with o as (
      select o_orderkey,
             cast(round(o_totalprice * 100) as bigint) as cents
      from orders
    ),
    r as (
      select cents,
             ntile({_EQUIDEPTH_K}) over (order by cents, o_orderkey)
               as bucket
      from o
    )
    select cast(bucket as bigint) as bucket,
           cast(count(*) as bigint) as n_orders,
           cast(min(cents) as bigint) as lo_cents,
           cast(max(cents) as bigint) as hi_cents
    from r group by bucket
    """,
    "aggregate", "histogram", "ordered",
)
def agg_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clueso_spark.functions.ordered import (
        ntile_from_rank,
        ranged_row_number,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", _cents("o_totalprice").alias("cents")
    )
    ranked = ranged_row_number(o, ["cents", "o_orderkey"], "rk")
    # total row count from the frame ranged_row_number already pinned --
    # an o.agg(count(*)) would re-scan the orders table from disk
    # (round-10 review finding: the q15/q22 double-consumption pattern)
    total = ranked.agg(F.count("*").cast("bigint").alias("n_total"))
    ranked = ranked.crossJoin(F.broadcast(total))
    bucketed = ranked.select(
        "cents", ntile_from_rank("rk", "n_total", _EQUIDEPTH_K).alias("bucket")
    )
    return bucketed.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.min("cents").cast("bigint").alias("lo_cents"),
        F.max("cents").cast("bigint").alias("hi_cents"),
    )


# ---------------------------------------------------------------------------
# Sweep-line concurrent-interval counting: how many shipments are
# in-flight on each day. Each lineitem opens an interval at its ship
# day and closes it (quantity % 7) + 1 days later (deterministic
# transit time derived from data -- the schema has no receipt date).
# The classic interval-overlap JOIN is O(intervals x days); the
# sweep-line is two delta rows per interval + ONE ranged cumulative sum
# -- no join at all, the shape that survives 100 TB.
# ---------------------------------------------------------------------------


@register(
    "ev_sweepline_active_intervals",
    "Concurrent in-flight shipments per day by sweep-line: +1 delta at "
    "ship day, -1 at the close day ((quantity %% 7) + 1 days later), "
    "day-level delta aggregate, one ranged global cumsum -- the "
    "interval-overlap family with NO interval join; report the top-15 "
    "busiest days (count desc, day asc tiebreak).",
    f"""
    with li as (
      select datediff('day', date '1970-01-01',
                      cast(l_shipdate as date)) as d0,
             (cast(l_quantity as bigint) % 7) + 1 as dur
      from lineitem
    ),
    deltas as (
      select d0 as day, cast(1 as bigint) as delta from li
      union all
      select d0 + dur as day, cast(-1 as bigint) as delta from li
    ),
    per_day as (select day, sum(delta) as delta from deltas group by day),
    cum as (
      select day,
             cast(sum(delta) over (
               order by day rows between unbounded preceding
               and current row) as bigint) as active
      from per_day
    )
    select day, active from cum
    order by active desc, day
    limit 15
    """,
    "timeseries", "interval", "sweepline",
)
def ev_sweepline_active_intervals(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from clueso_spark.functions.ordered import ranged_cumsum

    li = load_table(spark, sf_dir, "lineitem").select(
        # day index via DATE datediff (l_shipdate is naive TIMESTAMP --
        # unix_micros would reject the NTZ read; the date cast is the
        # repo's pinned cross-engine day bridge, see relational.py)
        F.datediff(
            F.col("l_shipdate").cast("date"), F.lit("1970-01-01").cast("date")
        )
        .cast("bigint")
        .alias("d0"),
        ((F.col("l_quantity").cast("bigint") % 7) + 1).alias("dur"),
    )
    deltas = li.select(
        F.col("d0").alias("day"), F.lit(1).cast("bigint").alias("delta")
    ).unionAll(
        li.select(
            (F.col("d0") + F.col("dur")).alias("day"),
            F.lit(-1).cast("bigint").alias("delta"),
        )
    )
    per_day = deltas.groupBy("day").agg(F.sum("delta").alias("delta"))
    cum = ranged_cumsum(per_day, ["day"], "delta", "active")
    return (
        cum.select("day", F.col("active").cast("bigint").alias("active"))
        .orderBy(F.col("active").desc(), "day")
        .limit(15)
    )


# ---------------------------------------------------------------------------
# 8-tap exact-integer EWMA: s_k = sum_{j=0..7} 7^j * 8^(7-j) * x_{k-j}
# -- the (7/8)-decay exponential smoother truncated to 8 taps and
# scaled by 8^(taps-1) = 8^7 (each weight = (7/8)^j * 8^7; their sum is
# 8^8 - 7^8) so every term is an exact bigint (max |s| ~ 3.6e11,
# far inside bigint). Emitted only where the full 8-row history exists,
# so the weight vector never re-normalizes and both engines compute the
# identical integer.
# ---------------------------------------------------------------------------

_EWMA_TAPS = 8
_EWMA_WEIGHTS = [7**j * 8 ** (_EWMA_TAPS - 1 - j) for j in range(_EWMA_TAPS)]


def _ewma_terms_sql() -> str:
    terms = [
        f"{w} * lag(cents, {j}) over ("
        "partition by user_id order by ts_us, event_id)"
        if j
        else f"{w} * cents"
        for j, w in enumerate(_EWMA_WEIGHTS)
    ]
    return " + ".join(terms)


@register(
    "ev_ewma_smoothed",
    "Per-user exponentially weighted moving average of event value as "
    f"an exact {_EWMA_TAPS}-tap FIR: decay 7/8, scaled by 8^"
    f"{_EWMA_TAPS - 1} into pure bigint arithmetic (no float power chain "
    "to diverge across engines). Rows emitted only with full history "
    "(row_number >= taps). One user-keyed window shuffle.",
    f"""
    with e as (
      select event_id, user_id, epoch_us(ts) as ts_us,
             cast(round(value * 100) as bigint) as cents
      from events
    ),
    r as (
      select event_id, user_id,
             row_number() over (partition by user_id
                                order by ts_us, event_id) as rn,
             {_ewma_terms_sql()} as ewma_scaled
      from e
    )
    select event_id, user_id, cast(ewma_scaled as bigint) as ewma_scaled
    from r where rn >= {_EWMA_TAPS}
    """,
    "window", "timeseries", "smoothing",
)
def ev_ewma_smoothed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        _cents("value").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    s = None
    for j, wt in enumerate(_EWMA_WEIGHTS):
        term = (F.lag("cents", j).over(w) if j else F.col("cents")) * F.lit(
            wt
        )
        s = term if s is None else s + term
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .withColumn("ewma_scaled", s)
        .where(F.col("rn") >= _EWMA_TAPS)
        .select(
            "event_id",
            "user_id",
            F.col("ewma_scaled").cast("bigint").alias("ewma_scaled"),
        )
    )


# ---------------------------------------------------------------------------
# Exact two-sample Mann-Whitney U via doubled midranks. For a tie group
# of size t starting after `less` smaller observations, every member's
# midrank is less + (t + 1) / 2 -- DOUBLED that is the integer
# 2*less + t + 1, so rank sums and U stay exact bigints with ties
# handled textbook-correctly. The value histogram is domain-sized, the
# strictly-less prefix comes from one ranged cumsum.
# ---------------------------------------------------------------------------


@register(
    "agg_mann_whitney",
    "Exact Mann-Whitney U between click and view event values: doubled "
    "midranks (2r = 2*less + ties + 1) keep tie handling in pure "
    "bigints; reports doubled rank sums, doubled U for both samples, "
    "and the u2_a + u2_b == 2*n_a*n_b identity as a computed column "
    "the hash pins to 0. Complements Welch t (means) and KS (shape) "
    "with the rank test.",
    f"""
    with e as (
      select cast(round(value * 100) as bigint) as cents,
             (event_type = 'click') as is_a
      from events where event_type in ('click', 'view')
    ),
    h as (
      select cents,
             cast(sum(case when is_a then 1 else 0 end) as bigint) as ca,
             cast(sum(case when is_a then 0 else 1 end) as bigint) as cb
      from e group by cents
    ),
    c as (
      select cents, ca, cb,
             sum(ca + cb) over (order by cents
               rows between unbounded preceding and current row)
               - (ca + cb) as less
      from h
    ),
    s as (
      select sum(ca) as n_a, sum(cb) as n_b,
             sum(ca * (2 * less + (ca + cb) + 1)) as r2a,
             sum(cb * (2 * less + (ca + cb) + 1)) as r2b
      from c
    )
    select cast(n_a as bigint) as n_a,
           cast(n_b as bigint) as n_b,
           cast(r2a - n_a * (n_a + 1) as bigint) as u2_a,
           cast(r2b - n_b * (n_b + 1) as bigint) as u2_b,
           cast((r2a - n_a * (n_a + 1)) + (r2b - n_b * (n_b + 1))
                - 2 * n_a * n_b as bigint) as identity_resid
    from s
    """,
    "statistics", "ranktest", "aggregate",
)
def agg_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clueso_spark.functions.ordered import ranged_cumsum

    e = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type").isin("click", "view"))
        .select(
            _cents("value").alias("cents"),
            (F.col("event_type") == "click").alias("is_a"),
        )
    )
    h = e.groupBy("cents").agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0))
        .cast("bigint")
        .alias("ca"),
        F.sum(F.when(F.col("is_a"), 0).otherwise(1))
        .cast("bigint")
        .alias("cb"),
    )
    h = h.withColumn("cnt", F.col("ca") + F.col("cb"))
    c = ranged_cumsum(h, ["cents"], "cnt", "cum_incl").withColumn(
        "less", F.col("cum_incl") - F.col("cnt")
    )
    s = c.agg(
        F.sum("ca").alias("n_a"),
        F.sum("cb").alias("n_b"),
        F.sum(
            F.col("ca") * (2 * F.col("less") + F.col("cnt") + 1)
        ).alias("r2a"),
        F.sum(
            F.col("cb") * (2 * F.col("less") + F.col("cnt") + 1)
        ).alias("r2b"),
    )
    u2a = F.col("r2a") - F.col("n_a") * (F.col("n_a") + 1)
    u2b = F.col("r2b") - F.col("n_b") * (F.col("n_b") + 1)
    return s.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        u2a.cast("bigint").alias("u2_a"),
        u2b.cast("bigint").alias("u2_b"),
        (u2a + u2b - 2 * F.col("n_a") * F.col("n_b"))
        .cast("bigint")
        .alias("identity_resid"),
    )


# ---------------------------------------------------------------------------
# Bellman-Ford shortest paths, 3 plan-unrolled rounds of exact integer
# min-plus on the customer-supplier co-purchase graph (edge weight =
# min lineitem quantity on the relationship; seeds = every 20th
# customer node). Per the SCALE.md double-consumption rule, each
# round's distance frame feeds BOTH the carry-over arm and the
# relaxation join, so every round is pinned in its own slot.
# ---------------------------------------------------------------------------

_BF_ROUNDS = 3
_BF_SEED_MOD = 20


def _bf_edges_sql() -> str:
    return f"""
    e0 as (
      select o_custkey as c, {SUPP_BASE} + l_suppkey as s,
             min(cast(l_quantity as bigint)) as w
      from orders join lineitem on o_orderkey = l_orderkey
      group by o_custkey, l_suppkey
    ),
    e as (select c as u, s as v, w from e0
          union all select s, c, w from e0)
    """


def _bf_round_sql(k: int) -> str:
    return f""",
    d{k} as (
      select node, min(dd) as dist from (
        select node, dist as dd from d{k - 1}
        union all
        select e.v as node, d.dist + e.w as dd
        from d{k - 1} d join e on e.u = d.node
      ) group by node
    )"""


@register(
    "graph_shortest_paths",
    f"Bellman-Ford shortest paths, {_BF_ROUNDS} plan-unrolled exact "
    "integer min-plus rounds on the customer-supplier co-purchase "
    "graph (weight = min lineitem quantity per relationship; seeds = "
    f"every {_BF_SEED_MOD}th customer node at distance 0). Per-round "
    "report: reached-node count + exact distance sum, verifying the "
    "whole iteration. Each round's frame is pinned in its own slot "
    "(SCALE.md double-consumption rule).",
    f"""
    with {_bf_edges_sql()},
    d0 as (
      select u as node, cast(0 as bigint) as dist
      from (select u from e group by u)
      where u < {SUPP_BASE} and u % {_BF_SEED_MOD} = 0
    )
    {"".join(_bf_round_sql(k) for k in range(1, _BF_ROUNDS + 1))}
    {" union all ".join(
        f"select cast({k} as int) as k,"
        f" cast(count(*) as bigint) as n_reached,"
        f" cast(sum(dist) as bigint) as sum_dist from d{k}"
        for k in range(_BF_ROUNDS + 1)
    )}
    """,
    "graph", "shortestpath", "iterative",
)
def graph_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", F.col("l_quantity").cast("bigint").alias("q")
    )
    e0 = (
        orders.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            F.col("o_custkey").alias("c"),
            (F.lit(SUPP_BASE) + F.col("l_suppkey")).alias("s"),
        )
        .agg(F.min("q").alias("w"))
    )
    # pinned PRE-PARTITIONED on u, the relax join's probe key: every
    # Bellman-Ford round reuses the cached partitioning (zero edge-side
    # exchange per round; the distance frame is already node-partitioned
    # from its groupBy) -- the edge list shuffles once per query
    e = persist_swap(
        spark,
        "bf_edges",
        e0.select(F.col("c").alias("u"), F.col("s").alias("v"), "w")
        .unionAll(e0.select(F.col("s").alias("u"), F.col("c").alias("v"), "w"))
        .repartition("u"),
    )
    d = (
        e.select("u")
        .groupBy("u")
        .agg(F.lit(0).cast("bigint").alias("dist"))
        .where(
            (F.col("u") < SUPP_BASE) & (F.col("u") % _BF_SEED_MOD == 0)
        )
        .select(F.col("u").alias("node"), "dist")
    )
    d = persist_swap(spark, "bf_d0", d)
    reports = [
        d.agg(
            F.count("*").cast("bigint").alias("n_reached"),
            F.sum("dist").cast("bigint").alias("sum_dist"),
        )
    ]
    for k in range(1, _BF_ROUNDS + 1):
        relaxed = d.join(e, d.node == e.u).select(
            F.col("v").alias("node"), (F.col("dist") + F.col("w")).alias("dd")
        )
        d = persist_swap(
            spark,
            f"bf_d{k}",
            d.select("node", F.col("dist").alias("dd"))
            .unionAll(relaxed)
            .groupBy("node")
            .agg(F.min("dd").alias("dist")),
        )
        reports.append(
            d.agg(
                F.count("*").cast("bigint").alias("n_reached"),
                F.sum("dist").cast("bigint").alias("sum_dist"),
            )
        )
    out = None
    for k, rep in enumerate(reports):
        row = rep.select(
            F.lit(k).cast("int").alias("k"), "n_reached", "sum_dist"
        )
        out = row if out is None else out.unionAll(row)
    return out


# ---------------------------------------------------------------------------
# Edit-distance near-dup verification: TWO blocking families -- (12-char
# normalized prefix, length-bucket) and (12-char normalized SUFFIX,
# length-bucket) -- each one keyed shuffle; levenshtein over the 80-char
# normalized prefix verifies. Both engines implement the identical
# classic DP metric, so the distance column hash-matches.
#
# Why two families (round-11 verdict finding): prefix blocking alone is
# DETERMINISTICALLY blind to near-dups whose edits fall inside the first
# 12 characters (a changed leading timestamp/title token) -- unlike
# MinHash banding, whose recall guarantee is position-independent. The
# suffix family covers exactly that case: an edit confined to the head
# leaves the last 12 characters (and, for substitutions, the length
# bucket) intact, so the pair surfaces through the suffix key. Residual
# misses -- edits touching BOTH the first and last 12 chars, or
# insertions that cross a length-bucket boundary -- remain, which is why
# this op is documented as a VERIFY tier behind MinHash banding, not a
# standalone recall claim. tests/test_staged_r11_edges.py plants the
# leading-edit counter-example and pins the contract.
# ---------------------------------------------------------------------------

_EDIT_MAX_DIST = 10
_EDIT_PREFIX = 12
_EDIT_VERIFY_CHARS = 80
_EDIT_LEN_BUCKET = 20


@register(
    "dedup_edit_distance",
    "Edit-distance near-dup pairs: candidates from TWO blocking "
    f"families -- (first {_EDIT_PREFIX} normalized chars, n_chars div "
    f"{_EDIT_LEN_BUCKET}) and (last {_EDIT_PREFIX} normalized chars, "
    "same length bucket) -- each one keyed shuffle, the same bounded-"
    "candidates discipline as MinHash banding; the suffix family "
    "recovers the leading-edit pairs prefix blocking is "
    "deterministically blind to. Verify with exact levenshtein over "
    f"the {_EDIT_VERIFY_CHARS}-char normalized prefix at distance <= "
    f"{_EDIT_MAX_DIST}. Levenshtein is the identical classic DP in "
    "both engines, so distances hash-match. VERIFY tier behind MinHash "
    "banding: edits touching both the head and the tail 12 chars can "
    "still evade blocking.",
    f"""
    with d as (
      select doc_id, lower(trim(text)) as norm, n_chars from documents
    ),
    b as (
      select doc_id, substr(norm, 1, {_EDIT_VERIFY_CHARS}) as vnorm,
             substr(norm, 1, {_EDIT_PREFIX}) as pfx,
             right(norm, {_EDIT_PREFIX}) as sfx,
             n_chars // {_EDIT_LEN_BUCKET} as lenb
      from d
    ),
    c as (
      select a.doc_id as doc_a, b2.doc_id as doc_b,
             a.vnorm as va, b2.vnorm as vb
      from b a join b b2
        on a.pfx = b2.pfx and a.lenb = b2.lenb and a.doc_id < b2.doc_id
      union
      select a.doc_id as doc_a, b2.doc_id as doc_b,
             a.vnorm as va, b2.vnorm as vb
      from b a join b b2
        on a.sfx = b2.sfx and a.lenb = b2.lenb and a.doc_id < b2.doc_id
    ),
    p as (
      select doc_a, doc_b, levenshtein(va, vb) as dist from c
    )
    select doc_a, doc_b, cast(dist as bigint) as edit_distance
    from p where dist <= {_EDIT_MAX_DIST}
    """,
    "dedup", "editdistance", "blocking",
)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clueso_spark.plans.dedup_queries import (
        LSH_BUCKET_CAP,
        _bucket_pairs,
    )

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.lower(F.trim("text")).alias("norm"),
        "n_chars",
    )
    # only the verify prefix survives into the pinned frame: persisting
    # / shuffling full document bodies through the two pair joins would
    # be O(total corpus bytes) for text levenshtein never reads past
    # char _EDIT_VERIFY_CHARS (round-10 review finding)
    b = persist_swap(
        spark,
        "edit_blocked",
        d.select(
            "doc_id",
            F.substring("norm", 1, _EDIT_VERIFY_CHARS).alias("norm"),
            F.substring("norm", 1, _EDIT_PREFIX).alias("pfx"),
            # suffix key of the FULL normalized text (not the verify
            # prefix): a leading edit leaves the document tail intact,
            # so this family recovers exactly the pairs the prefix key
            # deterministically misses
            F.expr(f"right(norm, {_EDIT_PREFIX})").alias("sfx"),
            F.expr(f"n_chars div {_EDIT_LEN_BUCKET}").alias("lenb"),
        ),
    )
    pairs = (
        _bucket_pairs(
            b, ["pfx", "lenb"], "doc_id", "doc_a", "doc_b",
            cap=LSH_BUCKET_CAP,
        )
        .unionAll(
            _bucket_pairs(
                b, ["sfx", "lenb"], "doc_id", "doc_a", "doc_b",
                cap=LSH_BUCKET_CAP,
            )
        )
        # pair-level dedup across the two families: O(candidates), far
        # smaller than the corpus, so the extra shuffle is negligible
        .distinct()
    )
    na = b.select(F.col("doc_id").alias("doc_a"), F.col("norm").alias("na"))
    nb = b.select(F.col("doc_id").alias("doc_b"), F.col("norm").alias("nb"))
    dist = F.levenshtein(F.col("na"), F.col("nb"))
    return (
        pairs.join(na, "doc_a")
        .join(nb, "doc_b")
        .select("doc_a", "doc_b", dist.cast("bigint").alias("edit_distance"))
        .where(F.col("edit_distance") <= _EDIT_MAX_DIST)
    )


# ---------------------------------------------------------------------------
# KMV (k-minimum-values / bottom-k) distinct sketch: the OTHER classic
# mergeable distinct counter next to HLL. hashes are md5-derived, so --
# unlike HLL, whose sketch bits are engine-private -- the estimate
# itself is the SAME exact integer in any engine and hash-verifies
# directly. Map-side bottom-k, one TakeOrdered merge, estimate
# (k-1) * 2^56 div kth_hash in pure bigints (14 hex digits = 56 bits
# keeps the numerator inside int64).
# ---------------------------------------------------------------------------

_KMV_K = 64
_KMV_BITS_HEX = 14  # 56-bit hash domain


@register(
    "agg_kmv_distinct",
    f"KMV bottom-{_KMV_K} distinct sketch over o_custkey: md5-derived "
    f"{4 * _KMV_BITS_HEX}-bit hashes, k smallest distinct values, "
    "estimate (k-1) * 2^56 div kth -- every step deterministic and "
    "integer-exact, so the ESTIMATE hash-verifies cross-engine (HLL's "
    "cannot; its sketch bits are engine-private). Degenerate corpora "
    "with fewer than k distinct hashes report the exact count. At "
    "100 TB the sketch is a k-row mergeable state per partition.",
    f"""
    with h as (
      select distinct
             cast(('0x' || substr(md5(cast(o_custkey as varchar)), 1,
                                  {_KMV_BITS_HEX})) as bigint) as hv
      from orders
    ),
    b as (select hv from h order by hv limit {_KMV_K}),
    s as (select max(hv) as kth, cast(count(*) as bigint) as kk from b),
    x as (select cast(count(distinct o_custkey) as bigint) as n_exact
          from orders)
    select cast({_KMV_K} as bigint) as k,
           n_exact,
           cast(coalesce(kth, 0) as bigint) as kth_hash,
           cast(case when kk < {_KMV_K} then kk
                else (({_KMV_K} - 1) * {2 ** (4 * _KMV_BITS_HEX)}) // kth
                end as bigint) as est_kmv
    from s cross join x
    """,
    "aggregate", "sketch", "approx",
)
def agg_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    h = orders.select(
        F.conv(
            F.substring(F.md5(F.col("o_custkey").cast("string")), 1,
                        _KMV_BITS_HEX),
            16,
            10,
        )
        .cast("bigint")
        .alias("hv")
    ).distinct()
    bottom = h.orderBy("hv").limit(_KMV_K)  # TakeOrdered: k-row heaps
    s = bottom.agg(
        F.max("hv").alias("kth"), F.count("*").cast("bigint").alias("kk")
    )
    x = orders.agg(
        F.count_distinct("o_custkey").cast("bigint").alias("n_exact")
    )
    dom = 2 ** (4 * _KMV_BITS_HEX)
    return s.crossJoin(F.broadcast(x)).select(
        F.lit(_KMV_K).cast("bigint").alias("k"),
        "n_exact",
        F.coalesce("kth", F.lit(0)).cast("bigint").alias("kth_hash"),
        F.when(F.col("kk") < _KMV_K, F.col("kk"))
        .otherwise(
            F.expr(f"({_KMV_K} - 1) * cast({dom} as bigint) div kth")
        )
        .cast("bigint")
        .alias("est_kmv"),
    )


# ---------------------------------------------------------------------------
# MAD-based robust anomaly detection per user -- the data-quality /
# outlier gate robust to the heavy tails that break z-scores. All in
# doubled/quadrupled integer medians via RANK ARITHMETIC (two keyed
# window passes, no per-user collect): m2 = doubled median of cents,
# d2_i = |2*x_i - m2| (= 2x the absolute deviation), mad2 = doubled
# median of d2 (= 4x the MAD), anomaly iff 2*d2 > 3*mad2
# (<=> |x - m| > 1.5 * MAD... scaled 4x on both sides: exact bigints,
# zero divisions).
# ---------------------------------------------------------------------------


def _doubled_median_sql(src: str, val: str, out: str) -> str:
    """DuckDB CTE pair computing the per-user doubled median of
    ``val`` from ``src`` via rank arithmetic (no list collect)."""
    return f"""
    {out}_r as (
      select user_id, {val},
             row_number() over (partition by user_id
                                order by {val}, event_id) as rn,
             count(*) over (partition by user_id) as n
      from {src}
    ),
    {out} as (
      select user_id,
             sum({val} * (case when rn = (n + 1) // 2 then 1 else 0 end
                          + case when rn = (n + 2) // 2 then 1 else 0 end))
               as {out}_v
      from {out}_r group by user_id
    )"""


@register(
    "ev_user_value_anomalies",
    "Per-user robust anomaly counts via MAD: doubled median m2 and "
    "quadrupled MAD (mad2, the doubled median of doubled absolute "
    "deviations) computed by RANK ARITHMETIC over two user-keyed "
    "window passes -- no per-user collect, no division anywhere; an "
    "event is anomalous iff 2*|2x - m2| > 3*mad2 (|x - median| > 1.5 "
    "MAD scaled through 4x). The z-score-free outlier gate a quality "
    "pipeline runs per entity.",
    f"""
    with e as (
      select event_id, user_id,
             cast(round(value * 100) as bigint) as cents
      from events
    ),
    {_doubled_median_sql("e", "cents", "m")},
    d as (
      select e.event_id, e.user_id,
             abs(2 * e.cents - m.m_v) as d2
      from e join m using (user_id)
    ),
    {_doubled_median_sql("d", "d2", "md")}
    select d.user_id,
           cast(count(*) as bigint) as n_events,
           cast(any_value(m.m_v) as bigint) as median_x2_cents,
           cast(any_value(md.md_v) as bigint) as mad_x4_cents,
           cast(sum(case when 2 * d.d2 > 3 * md.md_v then 1 else 0 end)
                as bigint) as n_anomalies
    from d join m using (user_id) join md using (user_id)
    group by d.user_id
    """,
    "statistics", "anomaly", "robust",
)
def ev_user_value_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", _cents("value").alias("cents")
    )

    def doubled_median(df: DataFrame, val: str) -> DataFrame:
        w = Window.partitionBy("user_id").orderBy(val, "event_id")
        wn = Window.partitionBy("user_id")
        r = df.withColumn("rn", F.row_number().over(w)).withColumn(
            "n", F.count("*").over(wn)
        )
        pick = F.when(
            F.col("rn") == F.expr("(n + 1) div 2"), 1
        ).otherwise(0) + F.when(
            F.col("rn") == F.expr("(n + 2) div 2"), 1
        ).otherwise(0)
        return r.groupBy("user_id").agg(
            F.sum(F.col(val) * pick).alias("m2")
        )

    m = doubled_median(ev, "cents")
    d = ev.join(m, "user_id").select(
        "event_id",
        "user_id",
        F.abs(2 * F.col("cents") - F.col("m2")).alias("d2"),
        F.col("m2").alias("median_x2_cents"),
    )
    d = persist_swap(spark, "mad_deviations", d)
    md = doubled_median(d, "d2").withColumnRenamed("m2", "mad2")
    return (
        d.join(md, "user_id")
        .groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.any_value("median_x2_cents")
            .cast("bigint")
            .alias("median_x2_cents"),
            F.any_value("mad2").cast("bigint").alias("mad_x4_cents"),
            F.sum(
                F.when(2 * F.col("d2") > 3 * F.col("mad2"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_anomalies"),
        )
    )


# ---------------------------------------------------------------------------
# Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003, the
# MOSS algorithm): per window of W consecutive k-gram hashes keep the
# minimum; the distinct selected hashes are the doc's fingerprint set,
# and docs sharing >= 2 fingerprints are near-dup/plagiarism
# candidates. The per-window min is a zip_with chain of `least` over
# shifted slices -- NOT transform(sequence, i -> slice(...)): slice/
# zip_with ARGUMENTS evaluate once per row, while a lambda body
# re-inlines its column's defining expression per element (the
# measured O(len^2) trap documented in functions/text.py).
# ---------------------------------------------------------------------------

_WINNOW_K = 3  # k-gram size
_WINNOW_W = 4  # winnowing window (selected density ~ 2/(W+1))
_WINNOW_MIN_SHARED = 2


def _winnow_hashes(words_col: str) -> F.Column:
    """k-gram md5 hash array (empty for docs shorter than k words)."""
    from clueso_spark.functions.text import _zip_shingles

    return F.expr(
        f"""case when size({words_col}) < {_WINNOW_K} then array()
        else transform({_zip_shingles(words_col, _WINNOW_K)},
                       s -> md5(s)) end"""
    )


def _winnow_fps(h_col: str) -> F.Column:
    """Distinct per-window minima over the hash array column ``h_col``
    (empty when there are fewer than W hashes). The window min is a
    zip_with(least) chain over shifted slice views of the SAME array
    column -- slice/zip_with arguments evaluate once per row."""
    nw = f"size({h_col}) - {_WINNOW_W - 1}"
    expr = f"slice({h_col}, 1, {nw})"
    for j in range(2, _WINNOW_W + 1):
        expr = (
            f"zip_with({expr}, slice({h_col}, {j}, {nw}),"
            f" (a, b) -> least(a, b))"
        )
    return F.expr(
        f"""case when size({h_col}) < {_WINNOW_W} then array()
        else array_distinct({expr}) end"""
    )


@register(
    "dedup_winnowing",
    "Winnowing fingerprints (Schleimer et al. 2003 / MOSS): md5 "
    f"{_WINNOW_K}-gram hashes, per-{_WINNOW_W}-window minima selected "
    "as the doc's fingerprint set (~2/(W+1) density, position-robust "
    "unlike fixed-stride sampling), candidate pairs = docs sharing >= "
    f"{_WINNOW_MIN_SHARED} fingerprints via ONE keyed shuffle on the "
    "fingerprint -- the plagiarism-detection / near-dup shape between "
    "MinHash (set overlap) and exact-substring (suffix windows). "
    "Window minima are zip_with(least) chains over shifted slices "
    "(argument-evaluated once; a lambda would re-inline O(len^2) -- "
    "functions/text.py note).",
    f"""
    with d as (
      select doc_id, string_split(text, ' ') as w from documents
    ),
    g as (
      select doc_id,
             list_transform(range(1, len(w) - {_WINNOW_K - 1} + 1),
               i -> md5(w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) as h
      from d where len(w) >= {_WINNOW_K + _WINNOW_W - 1}
    ),
    f as (
      select doc_id,
             unnest(list_distinct(
               list_transform(range(1, len(h) - {_WINNOW_W - 1} + 1),
                 i -> least(h[i], h[i + 1], h[i + 2], h[i + 3])))) as fp
      from g
    ),
    p as (
      select a.doc_id as doc_a, b.doc_id as doc_b,
             cast(count(*) as bigint) as n_shared
      from f a join f b on a.fp = b.fp and a.doc_id < b.doc_id
      group by a.doc_id, b.doc_id
    )
    select doc_a, doc_b, n_shared
    from p where n_shared >= {_WINNOW_MIN_SHARED}
    """,
    "dedup", "fingerprint", "winnowing",
)
def dedup_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clueso_spark.plans.dedup_queries import (
        LSH_BUCKET_CAP,
        _bucket_pairs,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    hashed = docs.select("doc_id", _winnow_hashes("w").alias("h"))
    fps = hashed.select(
        "doc_id", F.explode(_winnow_fps("h")).alias("fp")
    )
    pairs = _bucket_pairs(
        fps, ["fp"], "doc_id", "doc_a", "doc_b", cap=LSH_BUCKET_CAP
    )
    return (
        pairs.groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("bigint").alias("n_shared"))
        .where(F.col("n_shared") >= _WINNOW_MIN_SHARED)
    )


# ---------------------------------------------------------------------------
# Content-defined chunking (the rsync/LBFS/casync dedup primitive for
# BINARY payloads): split each payload where the hash of a local window
# matches a boundary mask, so chunk edges survive insertions -- the
# property fixed-stride chunking lacks, and the reason CDC underlies
# every blob-dedup store. Here: hex-encode the payload, 8-hex-char
# (4-byte) blocks, boundary where md5(block) starts with '0' (rate
# 1/16 -> mean chunk 64 bytes). Every lambda touches only its element/
# index variables (the functions/text.py inlining rule); block arrays
# are built ONCE per row by regexp_extract_all.
# ---------------------------------------------------------------------------


@register(
    "mm_cdc_chunking",
    "Content-defined chunking over binary payloads (rsync/LBFS shape): "
    "4-byte hex blocks, boundary where md5(block) LIKE '0%' (1/16 "
    "rate), per-payload chunk count and max chunk size derived from "
    "boundary positions with pure array algebra -- map-only, no "
    "shuffle until the final per-doc rows; chunk edges are "
    "insertion-stable, which fixed-stride sampling is not. Lambdas "
    "touch only element/index variables (the O(len^2) lambda-inlining "
    "trap is documented in functions/text.py).",
    """
    with b as (
      select doc_id,
             regexp_extract_all(hex(encode(text)), '.{8}') as blocks
      from documents
    ),
    p as (
      select doc_id, len(blocks) as n_blocks,
             list_filter(range(0, len(blocks)),
                         i -> md5(blocks[i + 1]) like '0%') as bpos
      from b where len(blocks) > 0
    ),
    s as (
      select doc_id, n_blocks,
             list_filter(
               list_transform(range(1, len(bpos) + 2),
                 j -> coalesce(bpos[j], n_blocks - 1)
                      - coalesce(bpos[j - 1], -1)),
               x -> x > 0) as sizes
      from p
    )
    select doc_id,
           cast(n_blocks as bigint) as n_blocks,
           cast(len(sizes) as bigint) as n_chunks,
           cast(list_aggregate(sizes, 'max') as bigint) as max_chunk_blocks
    from s
    """,
    "multimodal", "cdc", "dedup",
)
def mm_cdc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clueso_spark.functions.multimodal import attach_payload

    docs = attach_payload(load_table(spark, sf_dir, "documents"))
    b = docs.select(
        "doc_id",
        F.expr("regexp_extract_all(hex(payload), '.{8}', 0)").alias(
            "blocks"
        ),
    ).where(F.size("blocks") > 0)
    p = b.select(
        "doc_id",
        F.size("blocks").alias("n_blocks"),
        # 0-based boundary indices; (b, i) index lambda touches only
        # its own variables
        F.expr(
            "filter(transform(blocks, (b, i) -> "
            "case when md5(b) like '0%' then i end), x -> x is not null)"
        ).alias("bpos"),
    )
    # chunk sizes: ends = bpos ++ [n_blocks-1], starts = [-1] ++ bpos;
    # a trailing boundary yields one zero-size phantom, filtered out
    s = p.select(
        "doc_id",
        "n_blocks",
        F.expr(
            "filter(zip_with("
            "  concat(bpos, array(n_blocks - 1)),"
            "  concat(array(-1), bpos),"
            "  (e, st) -> e - st), x -> x > 0)"
        ).alias("sizes"),
    )
    return s.select(
        "doc_id",
        F.col("n_blocks").cast("bigint").alias("n_blocks"),
        F.size("sizes").cast("bigint").alias("n_chunks"),
        F.array_max("sizes").cast("bigint").alias("max_chunk_blocks"),
    )


# ---------------------------------------------------------------------------
# The CDC PAYOFF measured: cross-payload duplicate-chunk accounting --
# what fraction of stored blocks a chunk-level blob store would
# deduplicate away. Chunk identity is md5 over the chunk's block
# sequence; chunk membership comes from a doc-keyed running sum of
# boundary flags (NOT per-chunk array lambdas: slicing the block array
# once per chunk would re-evaluate its defining expression per chunk --
# the documented O(len^2) inlining trap). Everything downstream of the
# posexplode is keyed aggregation.
# ---------------------------------------------------------------------------


def cdc_chunk_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, chunk_id, chunk_hash, nb) for every CDC chunk of every
    payload -- the shared identity both mm_cdc_dedup and the staged
    chunk-GC accounting consume: posexplode blocks, chunk id = running
    boundary count per payload (one doc-keyed window), chunk hash =
    md5 of the order-preserved block concatenation (one keyed
    aggregate)."""
    from clueso_spark.functions.multimodal import attach_payload

    docs = attach_payload(load_table(spark, sf_dir, "documents"))
    e = docs.select(
        "doc_id",
        F.posexplode(
            F.expr("regexp_extract_all(hex(payload), '.{8}', 0)")
        ).alias("pos", "block"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = e.withColumn(
        "chunk_id",
        F.coalesce(
            F.sum(
                F.when(F.md5("block").like("0%"), 1).otherwise(0)
            ).over(w),
            F.lit(0),
        ),
    )
    return c.groupBy("doc_id", "chunk_id").agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "block"))),
                    lambda s: s["block"],
                ),
                "",
            )
        ).alias("chunk_hash"),
        F.count("*").cast("bigint").alias("nb"),
    )


@register(
    "mm_cdc_dedup",
    "Chunk-level dedup accounting over CDC chunks (mm_cdc_chunking's "
    "boundary rule): posexplode blocks, chunk id = running boundary "
    "count per payload (one doc-keyed window), chunk hash = md5 of the "
    "order-preserved block concatenation (one keyed aggregate), then "
    "corpus-wide duplicate-chunk stats: total/distinct chunks, total "
    "blocks, and blocks a content-addressed store would NOT re-store "
    "(sum (copies-1) x chunk size). The measured payoff of "
    "content-defined chunking, exactly.",
    """
    with b as (
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
    ),
    g as (
      select chunk_hash, cast(count(*) as bigint) as cnt,
             max(nb) as nb
      from ch group by chunk_hash
    )
    select cast(sum(cnt) as bigint) as n_chunks,
           cast(count(*) as bigint) as n_distinct,
           cast(sum(cnt * nb) as bigint) as blocks_total,
           cast(sum((cnt - 1) * nb) as bigint) as blocks_saved
    from g
    """,
    "multimodal", "cdc", "dedup",
)
def mm_cdc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ch = cdc_chunk_frame(spark, sf_dir)
    g = ch.groupBy("chunk_hash").agg(
        F.count("*").cast("bigint").alias("cnt"),
        F.max("nb").alias("nb"),
    )
    return g.agg(
        F.sum("cnt").cast("bigint").alias("n_chunks"),
        F.count("*").cast("bigint").alias("n_distinct"),
        F.sum(F.col("cnt") * F.col("nb")).cast("bigint").alias("blocks_total"),
        F.sum((F.col("cnt") - 1) * F.col("nb"))
        .cast("bigint")
        .alias("blocks_saved"),
    )

