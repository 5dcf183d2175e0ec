"""Relational surface: scans, joins, aggregates, windows, sorts, set ops.

SURVEY.md §2.3/§2.4 note the reference implements no joins or groupBy
aggregates of its own -- they ride Catalyst (ref: MetadataQueryExecutor.scala
uses only union+window). This module *exercises* that Catalyst-free-ride
surface over the driver's TPC-H-ish tables so every operator family has a
driver-verified correctness row.

Determinism rules (hash parity with the DuckDB oracle):
  * money/qty sums go through ``decimal`` (exact, order-independent) and are
    cast back to double -- bit-identical across engines;
  * averages = exact decimal sum cast to double, divided by a bigint count
    (a single IEEE double division is deterministic);
  * every top-k ordering carries a unique-key tie-breaker;
  * integer outputs are cast to bigint on both sides (pandas dtype parity).

Scale notes are inline per query: which side broadcasts, what shuffles,
what AQE is expected to do at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clueso_spark.plans.catalog import dec, persist_swap as _persist_swap, register
from clueso_spark.plans.dedup_queries import _bucket_pairs
from clueso_spark.sources.tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# TPC-H-style analytical queries
# ---------------------------------------------------------------------------

Q1_ORACLE = """
select
  l_returnflag, l_linestatus,
  cast(sum(cast(l_quantity as decimal(12,2))) as double)      as sum_qty,
  cast(sum(cast(l_extendedprice as decimal(12,2))) as double) as sum_base_price,
  cast(sum(cast(l_extendedprice as decimal(12,2))
           * cast(1 - l_discount as decimal(12,2))) as double) as sum_disc_price,
  cast(sum(cast(l_extendedprice as decimal(12,2))
           * cast(1 - l_discount as decimal(12,2))
           * cast(1 + l_tax as decimal(12,2))) as double)      as sum_charge,
  cast(sum(cast(l_quantity as decimal(12,2))) as double) / count(*)      as avg_qty,
  cast(sum(cast(l_extendedprice as decimal(12,2))) as double) / count(*) as avg_price,
  cast(sum(cast(l_discount as decimal(12,2))) as double) / count(*)      as avg_disc,
  cast(count(*) as bigint) as count_order
from lineitem
where l_shipdate <= timestamp '1998-09-01 00:00:00'
group by l_returnflag, l_linestatus
"""


@register(
    "q1_pricing_summary",
    "TPC-H Q1 pricing summary: filtered scan -> hash aggregate. "
    "Scale: partial (map-side) agg + 4-group final agg; the shipdate filter "
    "and 7-column pruning push to the parquet scan.",
    Q1_ORACLE,
    "aggregate", "scan", "tpch",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc_price = dec("l_extendedprice") * dec(F.lit(1) - F.col("l_discount"))
    charge = disc_price * dec(F.lit(1) + F.col("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            (F.sum(dec("l_quantity")).cast("double") / F.count("*")).alias("avg_qty"),
            (F.sum(dec("l_extendedprice")).cast("double") / F.count("*")).alias("avg_price"),
            (F.sum(dec("l_discount")).cast("double") / F.count("*")).alias("avg_disc"),
            F.count("*").cast("bigint").alias("count_order"),
        )
    )


Q3_ORACLE = """
select
  l_orderkey,
  cast(sum(cast(l_extendedprice as decimal(12,2))
           * cast(1 - l_discount as decimal(12,2))) as double) as revenue,
  strftime(o_orderdate, '%Y-%m-%d') as order_date,
  o_orderpriority
from customer join orders on c_custkey = o_custkey
              join lineitem on l_orderkey = o_orderkey
where c_mktsegment = 'BUILDING'
  and o_orderdate < timestamp '1995-03-15 00:00:00'
  and l_shipdate > timestamp '1995-03-15 00:00:00'
group by l_orderkey, o_orderdate, o_orderpriority
order by revenue desc, l_orderkey
limit 10
"""


@register(
    "q3_shipping_priority",
    "TPC-H Q3: 3-way join (customer⋈orders⋈lineitem) + agg + top-k. "
    "Scale: customer filter prunes the build side; orders⋈lineitem is the "
    "big shuffle join on orderkey; top-10 compiles to TakeOrderedAndProject.",
    Q3_ORACLE,
    "join", "aggregate", "topk", "tpch",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    revenue = dec("l_extendedprice") * dec(F.lit(1) - F.col("l_discount"))
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


Q5_ORACLE = """
select
  n_name,
  cast(sum(cast(l_extendedprice as decimal(12,2))
           * cast(1 - l_discount as decimal(12,2))) as double) as revenue
from customer
  join orders   on c_custkey = o_custkey
  join lineitem on l_orderkey = o_orderkey
  join supplier on l_suppkey = s_suppkey and c_nationkey = s_nationkey
  join nation   on s_nationkey = n_nationkey
  join region   on n_regionkey = r_regionkey
where r_name = 'ASIA'
  and o_orderdate >= timestamp '1996-01-01 00:00:00'
  and o_orderdate <  timestamp '1997-01-01 00:00:00'
group by n_name
"""


@register(
    "q5_local_supplier_volume",
    "TPC-H Q5: 6-way join with broadcast dims. Scale: nation/region/supplier "
    "are broadcast (no shuffle); only customer⋈orders⋈lineitem shuffle on "
    "their keys. Explicit F.broadcast hints pin the strategy.",
    Q5_ORACLE,
    "join", "broadcast", "aggregate", "tpch",
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    supp = F.broadcast(_t(spark, sf_dir, "supplier"))
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    region = F.broadcast(_t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA"))
    revenue = dec("l_extendedprice") * dec(F.lit(1) - F.col("l_discount"))
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(nation, supp.s_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )


Q18_ORACLE = """
select c_custkey, c_name, o_orderkey,
       cast(o_totalprice as double) as total_price,
       cast(sum(cast(l_quantity as decimal(12,2))) as double) as total_qty
from customer join orders on c_custkey = o_custkey
              join lineitem on o_orderkey = l_orderkey
where o_orderkey in (
  select l_orderkey from lineitem
  group by l_orderkey having sum(cast(l_quantity as decimal(12,2))) > 150
)
group by c_custkey, c_name, o_orderkey, o_totalprice
order by total_qty desc, o_orderkey
limit 100
"""


@register(
    "q18_large_volume_orders",
    "TPC-H Q18: HAVING-subquery (orders whose lineitems sum past a "
    "quantity threshold) semi-joined back through customer. The IN-"
    "subquery becomes an aggregate + semi join; one lineitem scan feeds "
    "both sides.",
    Q18_ORACLE,
    "join", "aggregate", "subquery", "tpch",
)
def q18_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(dec("l_quantity")).alias("_q"))
        .where(F.col("_q") > 150)
        .select("l_orderkey")
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .join(big.withColumnRenamed("l_orderkey", "_bk"),
              F.col("o_orderkey") == F.col("_bk"), "left_semi")
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_totalprice")
        .agg(F.sum(dec("l_quantity")).cast("double").alias("total_qty"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.col("o_totalprice").cast("double").alias("total_price"),
            "total_qty",
        )
        .orderBy(F.col("total_qty").desc(), "o_orderkey")
        .limit(100)
    )


Q7_ORACLE = """
select n1.n_name as supp_nation, n2.n_name as cust_nation,
       cast(year(l_shipdate) as bigint) as l_year,
       cast(sum(cast(l_extendedprice as decimal(12,2))
                * cast(1 - l_discount as decimal(12,2))) as double) as revenue
from supplier
  join lineitem on s_suppkey = l_suppkey
  join orders   on o_orderkey = l_orderkey
  join customer on c_custkey = o_custkey
  join nation n1 on s_nationkey = n1.n_nationkey
  join nation n2 on c_nationkey = n2.n_nationkey
where n1.n_name in ('NATION_1', 'NATION_2')
  and n2.n_name in ('NATION_1', 'NATION_2')
  and n1.n_name <> n2.n_name
group by n1.n_name, n2.n_name, year(l_shipdate)
"""


@register(
    "q7_nation_volume_shipping",
    "TPC-H Q7: cross-nation shipping volume -- the same dimension table "
    "(nation) broadcast-joined twice under different roles, revenue by "
    "year. Pins multi-role dimension reuse.",
    Q7_ORACLE,
    "join", "broadcast", "aggregate", "tpch",
)
def q7_nation_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nations = ("NATION_1", "NATION_2")
    n1 = F.broadcast(
        _t(spark, sf_dir, "nation")
        .where(F.col("n_name").isin(*nations))
        .select(
            F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
        )
    )
    n2 = F.broadcast(
        _t(spark, sf_dir, "nation")
        .where(F.col("n_name").isin(*nations))
        .select(
            F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
        )
    )
    revenue = dec("l_extendedprice") * dec(F.lit(1) - F.col("l_discount"))
    return (
        supp.join(li, supp.s_suppkey == li.l_suppkey)
        .join(orders, F.col("o_orderkey") == li.l_orderkey)
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .join(n1, supp.s_nationkey == F.col("n1_key"))
        .join(n2, cust.c_nationkey == F.col("n2_key"))
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )


# ---------------------------------------------------------------------------
# Join types (inner / left / semi / anti)
# ---------------------------------------------------------------------------

JOIN_INNER_ORACLE = """
select c_custkey, c_name, o_orderkey,
       cast(o_totalprice as double) as total_price
from customer join orders on c_custkey = o_custkey
where o_totalprice > 400000
"""


@register(
    "join_inner_big_orders",
    "Inner join customer⋈orders with a selective pushed filter. Scale: the "
    "o_totalprice filter reaches the parquet scan (PushedFilters); AQE picks "
    "broadcast if the filtered side is small.",
    JOIN_INNER_ORACLE,
    "join",
)
def join_inner_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 400000)
    return cust.join(orders, cust.c_custkey == orders.o_custkey).select(
        "c_custkey",
        "c_name",
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("total_price"),
    )


JOIN_LEFT_ORACLE = """
select c_custkey, c_mktsegment,
       cast(count(o_orderkey) as bigint) as n_orders,
       cast(coalesce(sum(cast(o_totalprice as decimal(12,2))), 0) as double)
         as total_spend
from customer left join orders on c_custkey = o_custkey
group by c_custkey, c_mktsegment
"""


@register(
    "join_left_order_counts",
    "Left outer join preserving order-less customers (count=0). Scale: "
    "shuffle join on custkey; partial count pushes map-side.",
    JOIN_LEFT_ORACLE,
    "join", "aggregate",
)
def join_left_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").cast("bigint").alias("n_orders"),
            F.coalesce(F.sum(dec("o_totalprice")), F.lit(0))
            .cast("double")
            .alias("total_spend"),
        )
    )


JOIN_SEMI_ORACLE = """
select c_custkey, c_name
from customer
where exists (select 1 from orders
              where o_custkey = c_custkey and o_orderpriority = '1-URGENT')
"""


@register(
    "join_semi_urgent_customers",
    "Left-semi join (EXISTS): customers having at least one urgent order. "
    "Scale: semi join never materializes the probe side's payload columns.",
    JOIN_SEMI_ORACLE,
    "join",
)
def join_semi_urgent_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    urgent = _t(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return cust.join(
        urgent, cust.c_custkey == urgent.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


JOIN_ANTI_ORACLE = """
select c_custkey, c_name, c_mktsegment
from customer
where not exists (select 1 from orders
                  where o_custkey = c_custkey and o_orderpriority = '1-URGENT')
"""


@register(
    "join_anti_no_urgent_orders",
    "Left-anti join (NOT EXISTS): customers with no urgent orders.",
    JOIN_ANTI_ORACLE,
    "join",
)
def join_anti_no_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    urgent = _t(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return cust.join(
        urgent, cust.c_custkey == urgent.o_custkey, "left_anti"
    ).select("c_custkey", "c_name", "c_mktsegment")


Q12_ORACLE = """
select l_linestatus,
       cast(sum(case when o_orderpriority in ('1-URGENT', '2-HIGH')
                     then 1 else 0 end) as bigint) as high_line_count,
       cast(sum(case when o_orderpriority not in ('1-URGENT', '2-HIGH')
                     then 1 else 0 end) as bigint) as low_line_count
from orders join lineitem on o_orderkey = l_orderkey
where l_shipdate >= timestamp '1996-01-01 00:00:00'
  and l_shipdate <  timestamp '1997-01-01 00:00:00'
group by l_linestatus
"""


@register(
    "q12_priority_shipmode",
    "TPC-H Q12 shape: conditional counting (SUM of CASE) after a fact "
    "join -- pivot-style aggregation in one pass.",
    Q12_ORACLE,
    "join", "aggregate", "conditional", "tpch",
)
def q12_priority_shipmode(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
    )


Q14_ORACLE = """
select
  cast(100.0 * sum(case when p_type like 'TYPE_1%'
        then cast(l_extendedprice as decimal(12,2))
             * cast(1 - l_discount as decimal(12,2)) else 0 end) as double)
  / cast(sum(cast(l_extendedprice as decimal(12,2))
             * cast(1 - l_discount as decimal(12,2))) as double)
  as promo_revenue_pct
from lineitem join part on l_partkey = p_partkey
where l_shipdate >= timestamp '1996-09-01 00:00:00'
  and l_shipdate <  timestamp '1996-10-01 00:00:00'
"""


@register(
    "q14_promo_revenue",
    "TPC-H Q14 shape: ratio of two exact decimal sums (cast to double "
    "only for the final division) -- deterministic cross-engine because "
    "both operands are exact before the single float op.",
    Q14_ORACLE,
    "join", "aggregate", "ratio", "tpch",
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    revenue = dec("l_extendedprice") * dec(F.lit(1) - F.col("l_discount"))
    promo = F.when(F.col("p_type").like("TYPE_1%"), revenue).otherwise(
        F.lit(0).cast("decimal(12,2)")
    )
    return li.join(part, li.l_partkey == part.p_partkey).agg(
        (
            (F.lit(100.0) * F.sum(promo).cast("double"))
            / F.sum(revenue).cast("double")
        ).alias("promo_revenue_pct")
    )


PROFILE_ORACLE = """
select
  cast(count(*) as bigint) as n_rows,
  cast(count(l_orderkey) as bigint) as orderkey_nonnull,
  cast(count(distinct l_orderkey) as bigint) as orderkey_distinct,
  cast(min(l_quantity) as double) as qty_min,
  cast(max(l_quantity) as double) as qty_max,
  cast(sum(cast(l_quantity as decimal(12,2))) as double) / count(*) as qty_mean,
  cast(quantile_cont(l_quantity, 0.5) as double) as qty_median,
  strftime(min(l_shipdate), '%Y-%m-%d') as first_ship,
  strftime(max(l_shipdate), '%Y-%m-%d') as last_ship,
  cast(count(distinct l_returnflag) as bigint) as returnflag_card
from lineitem
"""


@register(
    "profile_lineitem",
    "Data-profiling operator: one-pass column statistics (null counts, "
    "cardinalities, min/max/mean/median, date range) -- the first query "
    "every pipeline runs on a new 100 TB table. Exact median via "
    "percentile (interpolating, matches quantile_cont).",
    PROFILE_ORACLE,
    "aggregate", "profiling",
)
def profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.count("l_orderkey").cast("bigint").alias("orderkey_nonnull"),
        F.count_distinct("l_orderkey").cast("bigint").alias("orderkey_distinct"),
        F.min("l_quantity").cast("double").alias("qty_min"),
        F.max("l_quantity").cast("double").alias("qty_max"),
        (F.sum(dec("l_quantity")).cast("double") / F.count("*")).alias("qty_mean"),
        F.expr("percentile(l_quantity, 0.5)").cast("double").alias("qty_median"),
        F.date_format(F.min("l_shipdate"), "yyyy-MM-dd").alias("first_ship"),
        F.date_format(F.max("l_shipdate"), "yyyy-MM-dd").alias("last_ship"),
        F.count_distinct("l_returnflag").cast("bigint").alias("returnflag_card"),
    )


# ---------------------------------------------------------------------------
# Grouping extensions: rollup / cube / grouping sets / distinct aggregates
# ---------------------------------------------------------------------------

ROLLUP_ORACLE = """
select o_orderpriority, o_orderstatus,
       cast(grouping(o_orderpriority) as bigint) as g_priority,
       cast(grouping(o_orderstatus) as bigint)  as g_status,
       cast(count(*) as bigint) as n_orders,
       cast(sum(cast(o_totalprice as decimal(12,2))) as double) as total_price
from orders
group by rollup (o_orderpriority, o_orderstatus)
"""


@register(
    "agg_rollup_priority_status",
    "ROLLUP over (priority, status) with GROUPING flags disambiguating "
    "subtotal rows. Scale: Spark expands rollup to a single Expand+agg pass.",
    ROLLUP_ORACLE,
    "aggregate", "rollup",
)
def agg_rollup_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.grouping("o_orderpriority").cast("bigint").alias("g_priority"),
            F.grouping("o_orderstatus").cast("bigint").alias("g_status"),
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(dec("o_totalprice")).cast("double").alias("total_price"),
        )
    )


CUBE_ORACLE = """
select l_returnflag, l_linestatus,
       cast(grouping(l_returnflag) as bigint) as g_flag,
       cast(grouping(l_linestatus) as bigint) as g_status,
       cast(sum(cast(l_quantity as decimal(12,2))) as double) as sum_qty
from lineitem
group by cube (l_returnflag, l_linestatus)
"""


@register(
    "agg_cube_flag_status",
    "CUBE over (returnflag, linestatus): all 4 grouping combinations in one "
    "Expand pass.",
    CUBE_ORACLE,
    "aggregate", "cube",
)
def agg_cube_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("bigint").alias("g_flag"),
        F.grouping("l_linestatus").cast("bigint").alias("g_status"),
        F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
    )


GROUPING_SETS_ORACLE = """
select o_orderstatus, o_orderpriority,
       cast(count(*) as bigint) as n_orders
from orders
group by grouping sets ((o_orderstatus), (o_orderpriority))
"""


@register(
    "agg_grouping_sets",
    "GROUPING SETS ((status),(priority)) via Spark SQL -- two independent "
    "group-bys in one Expand+aggregate.",
    GROUPING_SETS_ORACLE,
    "aggregate", "grouping-sets", "sql",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders").createOrReplaceTempView("_gs_orders")
    return spark.sql(
        """
        select o_orderstatus, o_orderpriority,
               cast(count(*) as bigint) as n_orders
        from _gs_orders
        group by grouping sets ((o_orderstatus), (o_orderpriority))
        """
    )


DISTINCT_ORACLE = """
select
  cast(count(distinct o_custkey) as bigint)  as n_customers,
  cast(count(distinct o_orderpriority) as bigint) as n_priorities,
  cast(count(*) as bigint) as n_orders
from orders
"""


@register(
    "agg_distinct_counts",
    "Multiple COUNT(DISTINCT) in one aggregate -- Spark expands to a "
    "single multi-distinct Expand plan.",
    DISTINCT_ORACLE,
    "aggregate", "distinct",
)
def agg_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return orders.agg(
        F.count_distinct("o_custkey").cast("bigint").alias("n_customers"),
        F.count_distinct("o_orderpriority").cast("bigint").alias("n_priorities"),
        F.count("*").cast("bigint").alias("n_orders"),
    )


@register(
    "agg_approx_count_distinct",
    "approx_count_distinct (HyperLogLog++) over o_custkey, verified by "
    "INVARIANT: the HLL estimate itself is engine-specific, so the query "
    "emits the exact distinct count plus a Spark-computed "
    "within_5pct = |approx - exact| / exact < 0.05 flag, and the oracle "
    "asserts the literal -- a sketch drifting past its rsd bound flips "
    "the flag and fails the hash. At 100 TB the sketch replaces an exact "
    "distinct's full shuffle with a fixed-size mergeable state.",
    """
    select cast(count(distinct o_custkey) as bigint) as n_customers_exact,
           cast(1 as bigint) as within_5pct
    from orders
    """,
    "aggregate", "approx",
)
def agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return orders.agg(
        F.approx_count_distinct("o_custkey", 0.02).alias("approx"),
        F.count_distinct("o_custkey").alias("exact"),
    ).select(
        F.col("exact").cast("bigint").alias("n_customers_exact"),
        # cross-multiplied form of |approx-exact|/exact < 0.05: the same
        # boolean for exact > 0, and no division to raise ANSI
        # DIVIDE_BY_ZERO on an empty corpus (tools/empty_sweep finding).
        # exact == 0 is handled explicitly: approx == 0 is then a perfect
        # estimate and must match the oracle's literal 1 (ADVICE r9).
        (
            ((F.col("exact") == 0) & (F.col("approx") == 0))
            | (
                F.abs(F.col("approx") - F.col("exact"))
                < F.lit(0.05) * F.col("exact")
            )
        )
        .cast("bigint")
        .alias("within_5pct"),
    )


@register(
    "agg_approx_percentile",
    "approx_percentile (GK sketch, accuracy 100) median of o_totalprice "
    "per order priority, verified by RANK INVARIANT: the sketch value is "
    "engine-specific, so the query counts how many rows fall strictly "
    "below / at-or-below the approximate median and asserts the rank "
    "sits inside the sketch's guaranteed eps = 1/accuracy band around "
    "n/2; the oracle asserts the literal. At 100 TB the mergeable "
    "fixed-size sketch replaces a full sort per group.",
    """
    select o_orderpriority,
           cast(count(*) as bigint) as n_orders,
           cast(1 as bigint) as rank_ok
    from orders group by o_orderpriority
    """,
    "aggregate", "approx", "percentile",
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    sketch = orders.groupBy("o_orderpriority").agg(
        F.percentile_approx("o_totalprice", 0.5, 100).alias("p50a")
    )
    ranked = orders.join(F.broadcast(sketch), "o_orderpriority").groupBy(
        "o_orderpriority"
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("o_totalprice") < F.col("p50a"), 1).otherwise(0)).alias(
            "n_lt"
        ),
        F.sum(F.when(F.col("o_totalprice") <= F.col("p50a"), 1).otherwise(0)).alias(
            "n_le"
        ),
    )
    # GK guarantee: rank(p50a) in [(0.5 - eps) n, (0.5 + eps) n], eps = 1/100
    ok = (F.col("n_lt") <= F.ceil(0.51 * F.col("n"))) & (
        F.col("n_le") >= F.floor(0.49 * F.col("n"))
    )
    return ranked.select(
        "o_orderpriority",
        F.col("n").cast("bigint").alias("n_orders"),
        ok.cast("bigint").alias("rank_ok"),
    )


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------

WINDOW_RANK_ORACLE = """
select * from (
  select c_mktsegment, c_custkey, cast(c_acctbal as double) as acctbal,
         cast(rank() over (partition by c_mktsegment
                           order by c_acctbal desc, c_custkey) as bigint) as bal_rank
  from customer
) where bal_rank <= 5
"""


@register(
    "window_rank_top_balances",
    "rank() per market segment, top-5 per group. Scale: one shuffle on the "
    "partition key; the rank<=5 filter runs inside the window stage.",
    WINDOW_RANK_ORACLE,
    "window", "topk",
)
def window_rank_top_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return (
        cust.select(
            "c_mktsegment",
            "c_custkey",
            F.col("c_acctbal").cast("double").alias("acctbal"),
            F.rank().over(w).cast("bigint").alias("bal_rank"),
        )
        .where(F.col("bal_rank") <= 5)
    )


WINDOW_ROLLING_ORACLE = """
select o_custkey, o_orderkey,
       cast(sum(cast(o_totalprice as decimal(12,2)))
            over (partition by o_custkey
                  order by o_orderdate, o_orderkey
                  rows between 2 preceding and current row) as double)
         as rolling_spend
from orders
"""


@register(
    "window_rolling_spend",
    "Rolling 3-order spend per customer (ROWS BETWEEN frame). Decimal sum "
    "inside the frame keeps the value exact and order-independent.",
    WINDOW_ROLLING_ORACLE,
    "window", "frame",
)
def window_rolling_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, 0)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.sum(dec("o_totalprice")).over(w).cast("double").alias("rolling_spend"),
    )


WINDOW_LAG_ORACLE = """
select o_custkey, o_orderkey,
       cast(datediff('day',
              cast(lag(o_orderdate) over (partition by o_custkey
                                          order by o_orderdate, o_orderkey) as date),
              cast(o_orderdate as date)) as bigint) as days_since_prev
from orders
"""


@register(
    "window_lag_reorder_gap",
    "lag(): days between consecutive orders per customer (NULL for the "
    "first order).",
    WINDOW_LAG_ORACLE,
    "window", "lag",
)
def window_lag_reorder_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag(F.col("o_orderdate")).over(w)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.datediff(F.col("o_orderdate").cast("date"), prev.cast("date"))
        .cast("bigint")
        .alias("days_since_prev"),
    )


# ---------------------------------------------------------------------------
# Sort / limit / set ops / scalar functions
# ---------------------------------------------------------------------------

SORT_LIMIT_ORACLE = """
select o_orderkey, cast(o_totalprice as double) as total_price, o_orderpriority
from orders
order by o_totalprice desc, o_orderkey
limit 20
"""


@register(
    "sort_limit_top_orders",
    "Global top-20 by price. Catalyst compiles orderBy+limit to "
    "TakeOrderedAndProject: per-partition heaps, no global sort materialized "
    "-- the scale-correct top-k plan.",
    SORT_LIMIT_ORACLE,
    "sort", "topk",
)
def sort_limit_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.select(
            "o_orderkey",
            F.col("o_totalprice").cast("double").alias("total_price"),
            "o_orderpriority",
        )
        .orderBy(F.col("total_price").desc(), F.col("o_orderkey"))
        .limit(20)
    )


SETOP_ORACLE = """
select c_custkey from customer where c_mktsegment = 'BUILDING'
intersect
select o_custkey as c_custkey from orders where o_totalprice > 300000
"""


@register(
    "setop_intersect_buyers",
    "INTERSECT: BUILDING-segment customers who also placed a >300k order. "
    "Compiles to a semi join after distinct.",
    SETOP_ORACLE,
    "setop",
)
def setop_intersect_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    building = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    big = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_totalprice") > 300000)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return building.intersect(big)


SETOP_EXCEPT_ORACLE = """
select distinct o_custkey from orders where o_orderpriority = '1-URGENT'
except
select distinct o_custkey from orders where o_orderpriority = '5-LOW'
"""


@register(
    "setop_except_urgent_only",
    "EXCEPT: customers with urgent orders but no low-priority ones.",
    SETOP_EXCEPT_ORACLE,
    "setop",
)
def setop_except_urgent_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT").select(
        "o_custkey"
    ).distinct()
    low = orders.where(F.col("o_orderpriority") == "5-LOW").select(
        "o_custkey"
    ).distinct()
    return urgent.exceptAll(low)


SUBQUERY_ORACLE = """
select o_orderkey, o_custkey, cast(o_totalprice as double) as total_price
from orders
where o_totalprice > (select avg(o_totalprice) * 1.5 from orders)
  and o_custkey in (select c_custkey from customer where c_mktsegment = 'MACHINERY')
"""


@register(
    "subquery_above_avg",
    "Scalar subquery (uncorrelated avg threshold) + IN-subquery -- "
    "Catalyst decorrelates to a one-row broadcast + a semi join. The avg "
    "comparison is threshold-only (never output), so float-sum ordering "
    "cannot flip rows unless a value sits within ~1e-10 of the cut.",
    SUBQUERY_ORACLE,
    "subquery", "join", "sql",
)
def subquery_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders").createOrReplaceTempView("_sq_orders")
    _t(spark, sf_dir, "customer").createOrReplaceTempView("_sq_customer")
    return spark.sql(
        """
        select o_orderkey, o_custkey,
               cast(o_totalprice as double) as total_price
        from _sq_orders
        where o_totalprice > (select avg(o_totalprice) * 1.5 from _sq_orders)
          and o_custkey in (select c_custkey from _sq_customer
                            where c_mktsegment = 'MACHINERY')
        """
    )


NTILE_ORACLE = """
select c_custkey, c_mktsegment,
       cast(ntile(4) over (partition by c_mktsegment
                           order by c_acctbal desc, c_custkey) as bigint)
         as balance_quartile,
       cast(round(percent_rank() over (partition by c_mktsegment
                           order by c_acctbal desc, c_custkey), 6) as double)
         as pct_rank
from customer
"""


@register(
    "window_ntile_quartiles",
    "ntile(4) + percent_rank per market segment: analytic ranking "
    "functions over one shuffle on the partition key.",
    NTILE_ORACLE,
    "window", "rank",
)
def window_ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return cust.select(
        "c_custkey",
        "c_mktsegment",
        F.ntile(4).over(w).cast("bigint").alias("balance_quartile"),
        F.round(F.percent_rank().over(w), 6).cast("double").alias("pct_rank"),
    )


DATE_FUNCS_ORACLE = """
select o_orderkey,
       cast(year(o_orderdate) as bigint)     as order_year,
       cast(month(o_orderdate) as bigint)    as order_month,
       cast(quarter(o_orderdate) as bigint)  as order_quarter,
       strftime(cast(o_orderdate as date) + interval 30 day, '%Y-%m-%d')
         as due_date,
       cast(datediff('day', cast(o_orderdate as date), date '2000-01-01')
            as bigint)                        as days_to_y2k
from orders
where o_orderdate < timestamp '1996-01-01 00:00:00'
"""


@register(
    "scalar_date_functions",
    "Date/time function coverage: extract year/month/quarter, date "
    "arithmetic, day differences (SURVEY §2.8 -- the reference stores "
    "timestamps but never manipulates them; the relational surface must).",
    DATE_FUNCS_ORACLE,
    "scalar", "date",
)
def scalar_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp")
    )
    d = F.col("o_orderdate").cast("date")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").cast("bigint").alias("order_year"),
        F.month("o_orderdate").cast("bigint").alias("order_month"),
        F.quarter("o_orderdate").cast("bigint").alias("order_quarter"),
        F.date_format(F.date_add(d, 30), "yyyy-MM-dd").alias("due_date"),
        F.datediff(F.lit("2000-01-01").cast("date"), d)
        .cast("bigint")
        .alias("days_to_y2k"),
    )


UNION_ALIGN_ORACLE = """
select o_orderkey as entity_key, 'order' as kind,
       cast(o_totalprice as double) as amount,
       o_orderpriority as priority
from orders where o_totalprice > 450000
union all by name
select c_custkey as entity_key, 'customer' as kind,
       cast(c_acctbal as double) as amount
from customer where c_acctbal > 9000
"""


@register(
    "setop_union_schema_aligned",
    "U1: union with schema alignment -- the side missing `priority` is "
    "null-padded via unionByName(allowMissingColumns=True), the Spark-3 "
    "replacement for the reference's hand-rolled fillNonExistingColumns "
    "(ref: SparkUtils.scala:104-109, MetadataQueryExecutor.scala:168-178).",
    UNION_ALIGN_ORACLE,
    "setop", "union", "engine",
)
def setop_union_schema_aligned(spark: SparkSession, sf_dir: str) -> DataFrame:
    big_orders = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_totalprice") > 450000)
        .select(
            F.col("o_orderkey").alias("entity_key"),
            F.lit("order").alias("kind"),
            F.col("o_totalprice").cast("double").alias("amount"),
            F.col("o_orderpriority").alias("priority"),
        )
    )
    rich_customers = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_acctbal") > 9000)
        .select(
            F.col("c_custkey").alias("entity_key"),
            F.lit("customer").alias("kind"),
            F.col("c_acctbal").cast("double").alias("amount"),
        )
    )
    return big_orders.unionByName(rich_customers, allowMissingColumns=True)


SCALAR_ORACLE = """
select
  p_partkey,
  upper(p_brand)                         as brand_upper,
  substr(p_name, 1, 8)                   as name_prefix,
  cast(length(p_name) as bigint)         as name_len,
  concat(p_brand, ':', p_type)           as brand_type,
  cast(abs(p_size - 25) as bigint)       as size_dist,
  cast(p_size % 7 as bigint)             as size_mod,
  cast(round(cast(p_retailprice as decimal(12,2)) * 110, 0) as bigint)
                                         as price_cents_x110,
  case when p_size > 25 then 'large' when p_size > 10 then 'medium'
       else 'small' end                  as size_class,
  md5(p_name)                            as name_md5
from part
where p_name like '%a%'
"""


@register(
    "scalar_function_showcase",
    "String/math/conditional/hash scalar functions in one projection over "
    "part (SURVEY §2.8). All JVM-side Column expressions -- whole-stage "
    "codegen, no Python in the loop.",
    SCALAR_ORACLE,
    "scalar", "projection",
)
def scalar_function_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    return part.where(F.col("p_name").like("%a%")).select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.length("p_name").cast("bigint").alias("name_len"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.abs(F.col("p_size") - 25).cast("bigint").alias("size_dist"),
        (F.col("p_size") % 7).cast("bigint").alias("size_mod"),
        F.round(dec("p_retailprice") * 110, 0).cast("bigint").alias("price_cents_x110"),
        F.when(F.col("p_size") > 25, "large")
        .when(F.col("p_size") > 10, "medium")
        .otherwise("small")
        .alias("size_class"),
        F.md5("p_name").alias("name_md5"),
    )


Q6_ORACLE = """
select cast(sum(cast(l_extendedprice as decimal(12,2))
               * cast(l_discount as decimal(12,2))) as double) as revenue
from lineitem
where l_shipdate >= timestamp '1996-01-01 00:00:00'
  and l_shipdate <  timestamp '1997-01-01 00:00:00'
  and l_discount between 0.05 and 0.07
  and l_quantity < 24
"""


@register(
    "q6_forecast_revenue",
    "TPC-H Q6 shape: pure scan-filter-aggregate, no join. The whole WHERE "
    "(two timestamp bounds, a double range, a numeric cut) must reach the "
    "parquet scan as PushedFilters -- at 100 TB this query is I/O-bound "
    "row-group skipping, nothing else.",
    Q6_ORACLE,
    "aggregate", "pushdown", "tpch",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(dec("l_extendedprice") * dec("l_discount"))
            .cast("double")
            .alias("revenue")
        )
    )


Q10_ORACLE = """
select c_custkey, c_name, n_name,
       cast(c_acctbal as double) as acctbal,
       cast(sum(cast(l_extendedprice as decimal(12,2))
                * cast(1 - l_discount as decimal(12,2))) as double) as revenue
from customer
join orders   on c_custkey = o_custkey
join lineitem on l_orderkey = o_orderkey
join nation   on c_nationkey = n_nationkey
where o_orderdate >= timestamp '1996-10-01 00:00:00'
  and o_orderdate <  timestamp '1997-01-01 00:00:00'
  and l_returnflag = 'R'
group by c_custkey, c_name, n_name, c_acctbal
order by revenue desc, c_custkey
limit 20
"""


@register(
    "q10_returned_items",
    "TPC-H Q10 shape: 3-way fact join + broadcast dim (nation), group by "
    "customer, top-20 by lost revenue. orders date-filter and lineitem "
    "returnflag filter both push below their joins; nation broadcasts; "
    "the only big shuffle is the customer-key aggregation.",
    Q10_ORACLE,
    "join", "aggregate", "topk", "tpch",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    nation = _t(spark, sf_dir, "nation")
    revenue = dec("l_extendedprice") * dec(F.lit(1) - F.col("l_discount"))
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            F.col("c_acctbal").cast("double").alias("acctbal"),
            "revenue",
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


Q13_ORACLE = """
with c_orders as (
  select c_custkey, count(o_orderkey) as c_count
  from customer left outer join orders
    on c_custkey = o_custkey and o_orderpriority <> '1-URGENT'
  group by c_custkey
)
select cast(c_count as bigint) as c_count,
       cast(count(*) as bigint) as custdist
from c_orders
group by c_count
order by custdist desc, c_count desc
"""


@register(
    "q13_order_count_distribution",
    "TPC-H Q13 shape: left outer join with an ON-clause filter (customers "
    "with zero qualifying orders survive as count 0), then a second "
    "aggregation over the first's result -- two chained shuffles, the "
    "second tiny. The ON-filter must NOT become a WHERE (that would turn "
    "the join inner and drop zero-order customers).",
    Q13_ORACLE,
    "join", "outer", "aggregate", "tpch",
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    c_orders = (
        cust.join(
            orders,
            (cust.c_custkey == orders.o_custkey)
            & (orders.o_orderpriority != "1-URGENT"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        c_orders.groupBy("c_count")
        .agg(F.count("*").cast("bigint").alias("custdist"))
        .select(F.col("c_count").cast("bigint").alias("c_count"), "custdist")
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


Q17_ORACLE = """
select cast(sum(cast(l_extendedprice as decimal(12,2))) as double) / 7.0
         as avg_yearly
from lineitem join part on p_partkey = l_partkey
where p_brand = 'Brand#23'
  and l_quantity < (select 0.5 * avg(l2.l_quantity)
                    from lineitem l2 where l2.l_partkey = p_partkey)
"""


@register(
    "q17_small_quantity_revenue",
    "TPC-H Q17 shape: correlated scalar subquery (per-part avg quantity "
    "threshold). Catalyst decorrelates it into an aggregate on l_partkey "
    "joined back to the filtered fact -- one extra keyed shuffle, never a "
    "per-row subquery execution. Threshold-only float avg (quantities are "
    "integer-valued doubles, so the avg is exact cross-engine).",
    Q17_ORACLE,
    "subquery", "correlated", "aggregate", "tpch",
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("_q17_lineitem")
    _t(spark, sf_dir, "part").createOrReplaceTempView("_q17_part")
    return spark.sql(
        """
        select cast(sum(cast(l_extendedprice as decimal(12,2))) as double) / 7.0
                 as avg_yearly
        from _q17_lineitem join _q17_part on p_partkey = l_partkey
        where p_brand = 'Brand#23'
          and l_quantity < (select 0.5 * avg(l2.l_quantity)
                            from _q17_lineitem l2
                            where l2.l_partkey = p_partkey)
        """
    )


Q19_ORACLE = """
select cast(sum(cast(l_extendedprice as decimal(12,2))
               * cast(1 - l_discount as decimal(12,2))) as double) as revenue
from lineitem join part on p_partkey = l_partkey
where (p_brand = 'Brand#12' and p_size between 1 and 5
       and l_quantity between 1 and 11)
   or (p_brand = 'Brand#23' and p_size between 1 and 10
       and l_quantity between 10 and 20)
   or (p_brand = 'Brand#34' and p_size between 1 and 15
       and l_quantity between 20 and 30)
"""


@register(
    "q19_disjunctive_revenue",
    "TPC-H Q19 shape: disjunction of conjunctive predicate groups "
    "spanning both join sides. Catalyst extracts the common join key, "
    "pushes the per-side OR residuals (brand/size to part, quantity "
    "stays post-join), and broadcasts part. The anti-pattern at 100 TB "
    "is evaluating the OR as a nested-loop filter -- the equi-key "
    "extraction is what this query pins.",
    Q19_ORACLE,
    "join", "predicate", "tpch",
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    cond = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 5)
        & F.col("l_quantity").between(1, 11)
    ) | (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(10, 20)
    ) | (
        (F.col("p_brand") == "Brand#34")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(20, 30)
    )
    revenue = dec("l_extendedprice") * dec(F.lit(1) - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .where(cond)
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )


FULL_OUTER_ORACLE = """
with c as (select c_nationkey as nk, count(*) as n_customers from customer
           group by c_nationkey),
     s as (select s_nationkey as nk, count(*) as n_suppliers from supplier
           group by s_nationkey)
select cast(coalesce(c.nk, s.nk) as bigint) as nationkey,
       cast(coalesce(n_customers, 0) as bigint) as n_customers,
       cast(coalesce(n_suppliers, 0) as bigint) as n_suppliers
from c full outer join s on c.nk = s.nk
"""


@register(
    "join_full_outer_nation_profile",
    "FULL OUTER join of two pre-aggregated sides (customer count vs "
    "supplier count per nation) with coalesce on both key and measures. "
    "Aggregating BEFORE the outer join keeps the join input at "
    "|nations| rows instead of |customers| -- the pre-agg pushup that "
    "matters at 100 TB.",
    FULL_OUTER_ORACLE,
    "join", "outer", "aggregate",
)
def join_full_outer_nation_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        _t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count("*").alias("n_customers"))
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("snk"))
        .agg(F.count("*").alias("n_suppliers"))
    )
    return c.join(s, c.nk == s.snk, "full_outer").select(
        F.coalesce("nk", "snk").cast("bigint").alias("nationkey"),
        F.coalesce("n_customers", F.lit(0)).cast("bigint").alias("n_customers"),
        F.coalesce("n_suppliers", F.lit(0)).cast("bigint").alias("n_suppliers"),
    )


EXISTS_ORACLE = """
select c_custkey, c_mktsegment
from customer
where exists (select 1 from orders
              where o_custkey = c_custkey
                and o_orderdate >= timestamp '1997-01-01 00:00:00')
  and not exists (select 1 from orders
                  where o_custkey = c_custkey
                    and o_orderpriority = '1-URGENT')
"""


@register(
    "subquery_exists_not_exists",
    "Correlated EXISTS + NOT EXISTS in one WHERE: Catalyst rewrites them "
    "to a left-semi and a left-anti join on o_custkey (ExistenceJoin "
    "decorrelation) -- two keyed shuffles against the same orders scan, "
    "no per-row subquery execution. The SQL-string twin of the "
    "DataFrame-API semi/anti queries.",
    EXISTS_ORACLE,
    "subquery", "correlated", "join", "sql",
)
def subquery_exists_not_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "customer").createOrReplaceTempView("_ex_customer")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("_ex_orders")
    return spark.sql(
        """
        select c_custkey, c_mktsegment
        from _ex_customer
        where exists (select 1 from _ex_orders
                      where o_custkey = c_custkey
                        and o_orderdate >= timestamp '1997-01-01 00:00:00')
          and not exists (select 1 from _ex_orders
                          where o_custkey = c_custkey
                            and o_orderpriority = '1-URGENT')
        """
    )


INTERSECT_ALL_ORACLE = """
select o_custkey from orders where o_orderpriority = '1-URGENT'
intersect all
select o_custkey from orders where o_orderpriority = '2-HIGH'
"""


@register(
    "setop_intersect_all_multiset",
    "INTERSECT ALL with true multiset semantics (no pre-distinct): each "
    "customer key survives min(#urgent, #high) times. Physically a "
    "count-bearing aggregate join, not the row-dedup the DISTINCT set "
    "ops compile to -- one keyed shuffle either way.",
    INTERSECT_ALL_ORACLE,
    "setop", "multiset",
)
def setop_intersect_all_multiset(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    high = orders.where(F.col("o_orderpriority") == "2-HIGH").select("o_custkey")
    return urgent.intersectAll(high)


AUDIT_ORACLE = """
select 'orphan_lineitems' as metric,
       cast((select count(*) from lineitem l left join orders o
             on l.l_orderkey = o.o_orderkey
             where o.o_orderkey is null) as bigint) as value
union all
select 'dup_orderkeys',
       cast((select count(*) from (select o_orderkey from orders
             group by o_orderkey having count(*) > 1)) as bigint)
union all
select 'empty_orders',
       cast((select count(*) from orders o left join lineitem l
             on o.o_orderkey = l.l_orderkey
             where l.l_orderkey is null) as bigint)
union all
select 'null_custkeys',
       cast((select count(*) from orders where o_custkey is null) as bigint)
union all
select 'range_violations',
       cast((select count(*) from lineitem
             where l_quantity <= 0 or l_discount < 0 or l_discount > 1)
            as bigint)
"""


@register(
    "pipeline_quality_audit",
    "Data-quality audit suite in long (metric, value) form: referential "
    "orphans both directions (anti joins), duplicate keys, null keys, "
    "domain-range violations. The validation pass a 100 TB pipeline runs "
    "before training -- each check is a keyed anti join or single-pass "
    "aggregate, unioned into one small report.",
    AUDIT_ORACLE,
    "pipeline", "quality", "audit",
)
def pipeline_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Single-pass shape (r9): the naive form -- one anti join or filter
    # per metric -- scanned lineitem 3x and orders 4x (7 FileScans, zero
    # reuse). All five checks are functions of the per-orderkey profile,
    # so: ONE scan + keyed pre-aggregate per table, one full-outer join
    # of the (already small) per-key profiles, one global aggregate,
    # stack() to the long (metric, value) report. At 100 TB that is the
    # difference between reading each table once and reading the fact
    # table three times; the pre-aggregates also shrink the join to
    # |distinct keys| rows per side. Values (and the DuckDB oracle) are
    # unchanged: orphans/empties count ROWS, so they sum the other
    # side's per-key row count where the join partner is absent.
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    lk = li.groupBy("l_orderkey").agg(
        F.count("*").alias("n_l"),
        F.sum(
            F.when(
                (F.col("l_quantity") <= 0)
                | (F.col("l_discount") < 0)
                | (F.col("l_discount") > 1),
                1,
            ).otherwise(0)
        ).alias("n_viol"),
    )
    ok = orders.groupBy("o_orderkey").agg(
        F.count("*").alias("n_o"),
        F.sum(
            F.when(F.col("o_custkey").isNull(), 1).otherwise(0)
        ).alias("n_nullcust"),
    )
    j = ok.join(lk, ok.o_orderkey == lk.l_orderkey, "full_outer")
    wide = j.agg(
        F.coalesce(
            F.sum(F.when(F.col("n_o").isNull(), F.col("n_l"))), F.lit(0)
        ).cast("bigint").alias("orphan_lineitems"),
        F.count(F.when(F.col("n_o") > 1, 1)).cast("bigint")
        .alias("dup_orderkeys"),
        F.coalesce(
            F.sum(F.when(F.col("n_l").isNull(), F.col("n_o"))), F.lit(0)
        ).cast("bigint").alias("empty_orders"),
        F.coalesce(F.sum("n_nullcust"), F.lit(0)).cast("bigint")
        .alias("null_custkeys"),
        F.coalesce(F.sum("n_viol"), F.lit(0)).cast("bigint")
        .alias("range_violations"),
    )
    return wide.select(
        F.expr(
            "stack(5,"
            " 'orphan_lineitems', orphan_lineitems,"
            " 'dup_orderkeys', dup_orderkeys,"
            " 'empty_orders', empty_orders,"
            " 'null_custkeys', null_custkeys,"
            " 'range_violations', range_violations) as (metric, value)"
        )
    )


UNPIVOT_ORACLE = """
with m as (
  select 'quantity' as measure, cast(l_quantity as decimal(12,2)) as amount
  from lineitem
  union all
  select 'extendedprice', cast(l_extendedprice as decimal(12,2)) from lineitem
  union all
  select 'discount', cast(l_discount as decimal(12,2)) from lineitem
  union all
  select 'tax', cast(l_tax as decimal(12,2)) from lineitem
)
select measure,
       cast(count(*) as bigint) as n,
       cast(sum(amount) as double) as total,
       cast(min(amount) as double) as min_amount,
       cast(max(amount) as double) as max_amount
from m
group by measure
"""


@register(
    "unpivot_lineitem_measures",
    "UNPIVOT (wide -> long): melt four lineitem measure columns into "
    "(measure, amount) rows, then profile each measure in one aggregate. "
    "Compiles to a single Expand pass over one scan -- 4x rows out of "
    "one read, NOT four scans (the same Expand machinery as rollup/"
    "cube). The inverse of the pivot query.",
    UNPIVOT_ORACLE,
    "unpivot", "aggregate",
)
def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        dec("l_quantity").alias("quantity"),
        dec("l_extendedprice").alias("extendedprice"),
        dec("l_discount").alias("discount"),
        dec("l_tax").alias("tax"),
    )
    melted = li.unpivot(
        [], ["quantity", "extendedprice", "discount", "tax"], "measure", "amount"
    )
    return melted.groupBy("measure").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("amount").cast("double").alias("total"),
        F.min("amount").cast("double").alias("min_amount"),
        F.max("amount").cast("double").alias("max_amount"),
    )


NULLSAFE_ORACLE = """
with x as (
  select nullif(o_orderpriority, '5-LOW') as p,
         nullif(o_orderstatus, 'P') as s
  from orders
)
select cast(count(*) as bigint) as n_rows,
       cast(count(p) as bigint) as n_p_nonnull,
       cast(sum(case when p is not distinct from s then 1 else 0 end)
            as bigint) as n_nullsafe_eq,
       cast(sum(case when p = s then 1 else 0 end) as bigint) as n_plain_eq,
       cast(count(coalesce(p, s)) as bigint) as n_either_nonnull
from x
"""


@register(
    "scalar_null_semantics",
    "SQL null semantics pinned: nullif to synthesize nulls, then "
    "null-safe equality (<=> / IS NOT DISTINCT FROM -- counts the "
    "both-null rows) vs plain = (three-valued: NULL comparisons never "
    "match), count(col) vs count(*), coalesce. The engine's ingest path "
    "relies on eqNullSafe for system-bucket filtering; this pins the "
    "cross-engine contract.",
    NULLSAFE_ORACLE,
    "scalar", "null",
)
def scalar_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    x = orders.select(
        F.nullif(F.col("o_orderpriority"), F.lit("5-LOW")).alias("p"),
        F.nullif(F.col("o_orderstatus"), F.lit("P")).alias("s"),
    )
    return x.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.count("p").cast("bigint").alias("n_p_nonnull"),
        F.sum(F.when(F.col("p").eqNullSafe(F.col("s")), 1).otherwise(0))
        .cast("bigint")
        .alias("n_nullsafe_eq"),
        F.sum(F.when(F.col("p") == F.col("s"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_plain_eq"),
        F.count(F.coalesce("p", "s")).cast("bigint").alias("n_either_nonnull"),
    )


HISTOGRAM_ORACLE = """
with b as (
  select cast(floor(o_totalprice / 50000) as bigint) as bucket,
         o_totalprice
  from orders
)
select bucket,
       cast(bucket * 50000 as double) as bucket_low,
       cast(count(*) as bigint) as n_orders,
       cast(min(o_totalprice) as double) as bucket_min,
       cast(max(o_totalprice) as double) as bucket_max
from b
group by bucket
"""


@register(
    "agg_price_histogram",
    "Histogram via arithmetic binning (floor-div bucket key -- "
    "width_bucket semantics expressed portably): one map-side-combining "
    "aggregation, 10 output rows regardless of input size. The "
    "distribution-profiling shape every 100 TB dataset audit starts "
    "with.",
    HISTOGRAM_ORACLE,
    "aggregate", "histogram",
)
def agg_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / 50000).cast("bigint")
    return (
        orders.select(bucket.alias("bucket"), "o_totalprice")
        .groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.min("o_totalprice").cast("double").alias("bucket_min"),
            F.max("o_totalprice").cast("double").alias("bucket_max"),
        )
        .select(
            "bucket",
            (F.col("bucket") * 50000).cast("double").alias("bucket_low"),
            "n_orders",
            "bucket_min",
            "bucket_max",
        )
    )


MEDIAN_ORACLE = """
with c as (
  select o_orderpriority,
         cast(round(o_totalprice * 100) as bigint) as cents,
         o_orderkey
  from orders
),
r as (
  select o_orderpriority, cents,
         row_number() over (partition by o_orderpriority
                            order by cents, o_orderkey) as rn,
         count(*) over (partition by o_orderpriority) as n
  from c
),
mid as (
  select o_orderpriority, cents, n
  from r
  where rn = (n + 1) // 2 or rn = (n + 2) // 2
)
select o_orderpriority,
       cast(max(n) as bigint) as n_orders,
       cast(sum(cents) as double) / count(*) / 100 as median_price
from mid
group by o_orderpriority
"""


@register(
    "agg_exact_median",
    "EXACT median of o_totalprice per priority via explicit rank "
    "selection: integer-cents sort keys, row_number + partition count, "
    "pick the one or two middle rows, average them in exact integer "
    "space. Engine-built interpolation (percentile / quantile_cont) "
    "differs in the last ulp across implementations; this construction "
    "is bit-identical anywhere. The plan is the true cost of an exact "
    "median at scale -- one full sort per group -- which is exactly why "
    "agg_approx_percentile's mergeable sketch exists; this pair "
    "documents the tradeoff.",
    MEDIAN_ORACLE,
    "aggregate", "percentile", "window",
)
def agg_exact_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    c = orders.select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        "o_orderkey",
    )
    w = Window.partitionBy("o_orderpriority").orderBy("cents", "o_orderkey")
    wn = Window.partitionBy("o_orderpriority")
    r = c.select(
        "o_orderpriority",
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    mid = r.where(
        (F.col("rn") == F.expr("(n + 1) div 2"))
        | (F.col("rn") == F.expr("(n + 2) div 2"))
    )
    return mid.groupBy("o_orderpriority").agg(
        F.max("n").cast("bigint").alias("n_orders"),
        (
            F.sum("cents").cast("double") / F.count("*") / 100
        ).alias("median_price"),
    )


# ---------------------------------------------------------------------------
# TPC-H completion tier: the remaining queries expressible over the
# trimmed testdata schema (q2/q9/q11/q16/q20 need the partsupp table,
# which the driver's testdata does not ship; q4/q21's commit/receipt
# dates are absent, so "late" is adapted to shipdate vs orderdate+N).
# Together with q1/q3/q5/q6/q7/q10/q12/q13/q14/q17/q18/q19 this covers
# every TPC-H query shape the schema can express.
# ---------------------------------------------------------------------------

Q4_ORACLE = """
select o_orderpriority, cast(count(*) as bigint) as order_count
from orders
where o_orderdate >= timestamp '1996-01-01 00:00:00'
  and o_orderdate <  timestamp '1996-04-01 00:00:00'
  and exists (
    select 1 from lineitem
    where l_orderkey = o_orderkey
      and l_shipdate > o_orderdate + interval 60 day
  )
group by o_orderpriority
"""


@register(
    "q4_priority_check",
    "TPC-H Q4 shape: EXISTS decorrelates to a LEFT SEMI join on the "
    "order key with the lateness predicate as a residual (late = "
    "shipped > 60 days after order date; the schema has no "
    "commit/receipt dates). One keyed shuffle, then a 5-group "
    "aggregate.",
    Q4_ORACLE,
    "join", "semi", "subquery", "tpch",
)
def q4_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            li,
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("interval 60 days")
            ),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").cast("bigint").alias("order_count"))
    )


Q8_ORACLE = """
with flat as (
  select extract(year from o_orderdate) as o_year,
         cast(l_extendedprice as decimal(12,2))
           * cast(1 - l_discount as decimal(12,2)) as volume,
         n2.n_name as supp_nation
  from part
    join lineitem on p_partkey = l_partkey
    join orders   on l_orderkey = o_orderkey
    join customer on o_custkey = c_custkey
    join nation n1 on c_nationkey = n1.n_nationkey
    join region    on n1.n_regionkey = r_regionkey
    join supplier on l_suppkey = s_suppkey
    join nation n2 on s_nationkey = n2.n_nationkey
  where r_name = 'ASIA' and p_type = 'PROMO'
    and o_orderdate >= timestamp '1996-01-01 00:00:00'
    and o_orderdate <  timestamp '1998-01-01 00:00:00'
)
select cast(o_year as bigint) as o_year,
       cast(cast(sum(case when supp_nation = 'NATION_1' then volume
                          else cast(0 as decimal(12,2)) end) as double)
            / cast(sum(volume) as double) as double) as mkt_share
from flat group by o_year
"""


@register(
    "q8_market_share",
    "TPC-H Q8: national market share -- an 8-way join where the nation "
    "dimension joins TWICE in different roles (customer's nation gates "
    "the region, supplier's nation is the measure). All dims broadcast; "
    "the fact chain shuffles on its keys once each. Market share is a "
    "ratio of exact decimal sums, divided once in double.",
    Q8_ORACLE,
    "join", "broadcast", "aggregate", "tpch",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = F.broadcast(
        _t(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    )
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    cust = _t(spark, sf_dir, "customer")
    n1 = F.broadcast(
        _t(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("c_nkey"),
            F.col("n_regionkey").alias("c_rkey"),
        )
    )
    region = F.broadcast(
        _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    )
    supp = F.broadcast(_t(spark, sf_dir, "supplier"))
    n2 = F.broadcast(
        _t(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("s_nkey"),
            F.col("n_name").alias("supp_nation"),
        )
    )
    volume = dec("l_extendedprice") * dec(F.lit(1) - F.col("l_discount"))
    flat = (
        part.join(li, F.col("p_partkey") == F.col("l_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(n1, F.col("c_nationkey") == F.col("c_nkey"))
        .join(region, F.col("c_rkey") == F.col("r_regionkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(n2, F.col("s_nationkey") == F.col("s_nkey"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            volume.alias("volume"),
            "supp_nation",
        )
    )
    zero = F.lit(0).cast("decimal(12,2)")
    return flat.groupBy("o_year").agg(
        (
            F.sum(
                F.when(F.col("supp_nation") == "NATION_1", F.col("volume"))
                .otherwise(zero)
            ).cast("double")
            / F.sum("volume").cast("double")
        ).alias("mkt_share")
    ).select(F.col("o_year").cast("bigint").alias("o_year"), "mkt_share")


Q15_ORACLE = """
with revenue as (
  select l_suppkey as supplier_no,
         sum(cast(l_extendedprice as decimal(12,2))
             * cast(1 - l_discount as decimal(12,2))) as total_revenue
  from lineitem
  where l_shipdate >= timestamp '1996-01-01 00:00:00'
    and l_shipdate <  timestamp '1996-04-01 00:00:00'
  group by l_suppkey
)
select s_suppkey, s_name, cast(total_revenue as double) as total_revenue
from supplier join revenue on s_suppkey = supplier_no
where total_revenue = (select max(total_revenue) from revenue)
"""


@register(
    "q15_top_supplier",
    "TPC-H Q15: top supplier by quarterly revenue -- the revenue 'view' "
    "computes once, its global max broadcasts back as a 1-row join, and "
    "equality selects the winner(s). Decimal sums make the max "
    "comparison exact (no float-tie ambiguity across engines).",
    Q15_ORACLE,
    "join", "subquery", "aggregate", "tpch",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(
            dec("l_extendedprice") * dec(F.lit(1) - F.col("l_discount"))
        ).alias("total_revenue")
    )
    # pinned: revenue feeds BOTH the global max and the winner join --
    # unpinned, each consumer re-scans the lineitem fact table (3 scans;
    # at 100 TB a 3x corpus read). The pinned frame is per-supplier
    # aggregate-sized, not corpus-sized.
    revenue = _persist_swap(spark, "q15_revenue", revenue)
    mx = revenue.agg(F.max("total_revenue").alias("mx"))
    supp = F.broadcast(_t(spark, sf_dir, "supplier"))
    return (
        revenue.join(F.broadcast(mx), F.col("total_revenue") == F.col("mx"))
        .join(supp, F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_revenue").cast("double").alias("total_revenue"),
        )
    )


Q21_ORACLE = """
with late as (
  select l_orderkey, l_suppkey from lineitem l1 join orders
    on l_orderkey = o_orderkey
  where o_orderstatus = 'F'
    and l_shipdate > o_orderdate + interval 100 day
)
select s_name, cast(count(*) as bigint) as numwait
from late l1 join supplier on l1.l_suppkey = s_suppkey
where exists (
    select 1 from lineitem l2
    where l2.l_orderkey = l1.l_orderkey and l2.l_suppkey <> l1.l_suppkey
  )
  and not exists (
    select 1 from late l3
    where l3.l_orderkey = l1.l_orderkey and l3.l_suppkey <> l1.l_suppkey
  )
group by s_name
order by numwait desc, s_name
limit 10
"""


@register(
    "q21_waiting_supplier",
    "TPC-H Q21 shape: the sole-blame pattern -- EXISTS another supplier "
    "on the order AND NOT EXISTS another LATE supplier (late adapted to "
    "shipped > 100 days after order date). Compiles to a semi join plus "
    "an anti join, both keyed on l_orderkey with the supplier "
    "inequality as residual -- never a per-row subquery. Top-10 via "
    "TakeOrderedAndProject with a total order.",
    Q21_ORACLE,
    "join", "semi", "anti", "subquery", "tpch",
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    late = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .where(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("interval 100 days")
        )
        .select("l_orderkey", "l_suppkey")
    )
    others = li.select(
        F.col("l_orderkey").alias("o_key"), F.col("l_suppkey").alias("o_supp")
    )
    late_others = late.select(
        F.col("l_orderkey").alias("o_key"), F.col("l_suppkey").alias("o_supp")
    )
    blamed = late.join(
        others,
        (F.col("l_orderkey") == F.col("o_key"))
        & (F.col("l_suppkey") != F.col("o_supp")),
        "left_semi",
    ).join(
        late_others,
        (F.col("l_orderkey") == F.col("o_key"))
        & (F.col("l_suppkey") != F.col("o_supp")),
        "left_anti",
    )
    supp = F.broadcast(_t(spark, sf_dir, "supplier"))
    return (
        blamed.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").cast("bigint").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(10)
    )


Q22_ORACLE = """
with sel as (
  select c_custkey, c_nationkey, cast(c_acctbal as decimal(12,2)) as bal
  from customer where c_nationkey in (1, 3, 5, 7, 9, 11, 13)
),
avgpos as (
  select sum(bal) as total, cast(count(*) as bigint) as cnt
  from sel where bal > 0
)
select cast(c_nationkey as bigint) as cntrycode,
       cast(count(*) as bigint) as numcust,
       cast(sum(bal) as double) as totacctbal
from sel cross join avgpos
where bal * cnt > total
  and not exists (
    select 1 from orders
    where o_custkey = c_custkey
      and o_orderdate >= timestamp '2000-01-01 00:00:00'
  )
group by c_nationkey
"""


@register(
    "q22_global_sales_opportunity",
    "TPC-H Q22 shape: customers from selected countries (country code "
    "adapted to c_nationkey -- the schema has no phone column) with "
    "above-average positive balance and no RECENT orders (the testdata "
    "gives every customer at least one historic order, so 'never "
    "ordered' is adapted to 'dormant since 2000'). The avg-balance "
    "scalar subquery broadcasts as one row, the threshold compares in "
    "EXACT arithmetic (bal * count > total, no float division), and "
    "NOT EXISTS compiles to a left anti join on the customer key.",
    Q22_ORACLE,
    "join", "anti", "subquery", "tpch",
)
def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    sel = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_nationkey").isin(1, 3, 5, 7, 9, 11, 13))
        .select("c_custkey", "c_nationkey", dec("c_acctbal").alias("bal"))
    )
    # pinned: sel feeds BOTH the balance-threshold scalar and the main
    # branch -- unpinned, the customer table is scanned twice. The
    # pinned frame is the 3-column selected-nation projection (filter +
    # pruning applied before the pin).
    sel = _persist_swap(spark, "q22_sel", sel)
    avgpos = sel.where(F.col("bal") > 0).agg(
        F.sum("bal").alias("total"), F.count("*").cast("bigint").alias("cnt")
    )
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    ).select("o_custkey")
    return (
        sel.crossJoin(F.broadcast(avgpos))
        .where(F.col("bal") * F.col("cnt") > F.col("total"))
        .join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").cast("bigint").alias("numcust"),
            F.sum("bal").cast("double").alias("totacctbal"),
        )
        .select(
            F.col("c_nationkey").cast("bigint").alias("cntrycode"),
            "numcust",
            "totacctbal",
        )
    )


# ---------------------------------------------------------------------------
# Iterative graph analytics: PageRank. Driver loop iterates the PLAN
# (3 fixed rounds), not the data; all arithmetic is scaled-integer
# (rank in 1e-12 units, floor division) so every round is bit-exact in
# any engine -- which is what lets DuckDB verify the whole iteration.
# ---------------------------------------------------------------------------

PR_SCALE = 1_000_000_000_000  # rank unit = 1e-12
PR_ROUNDS = 3
PR_TOP = 20
#: supplier node id offset in every customer-supplier graph. 1e12
#: (round-11 migration off the original 1e6): custkeys pass 1e6 at SF
#: ~7, so the old offset silently MERGED customer and supplier nodes at
#: exactly the scale this engine targets -- invisible to small-SF parity
#: because the oracle embeds the same encoding. 1e12 clears any
#: plausible custkey (150k x SF < 1e12 up to SF ~6.6M); tests/test_plans.py
#: pins the no-overlap invariant.
SUPP_BASE = 1_000_000_000_000


def cust_supp_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The symmetric customer-supplier co-purchase graph as distinct
    directed (u, v) rows, one per direction (edge = customer ordered
    from supplier; suppliers offset by SUPP_BASE). Not pinned: each
    caller persists it in its own slot, partitioned for its own probe
    key."""
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    e0 = (
        orders.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            F.col("o_custkey").alias("c"),
            (F.lit(SUPP_BASE) + F.col("l_suppkey")).alias("s"),
        )
        .distinct()
    )
    return e0.select(F.col("c").alias("u"), F.col("s").alias("v")).unionByName(
        e0.select(F.col("s").alias("u"), F.col("c").alias("v"))
    )


def _pr_round_sql(i: int) -> str:
    prev = "r0" if i == 1 else f"r{i - 1}"
    return f"""
i{i} as (
  select e.v as u, sum({prev}.r // deg.d) as inflow
  from edges e join {prev} on e.u = {prev}.u join deg on deg.u = e.u
  group by e.v
),
r{i} as (
  select i{i}.u,
         (15 * ({PR_SCALE} // n) + 85 * inflow) // 100 as r
  from i{i} cross join nn
)"""


PAGERANK_ORACLE = f"""
with e0 as (
  select distinct o_custkey as c, l_suppkey as s
  from orders join lineitem on o_orderkey = l_orderkey
),
edges as (
  select c as u, {SUPP_BASE} + s as v from e0
  union all
  select {SUPP_BASE} + s as u, c as v from e0
),
deg as (select u, count(*) as d from edges group by u),
nn as (select count(*) as n from deg),
r0 as (select u, ({PR_SCALE} // n) as r from deg cross join nn),
{",".join(_pr_round_sql(i).strip() for i in range(1, PR_ROUNDS + 1))}
select u as node,
       cast(case when u >= {SUPP_BASE} then 1 else 0 end as bigint)
         as is_supplier,
       cast(r as bigint) as rank
from r{PR_ROUNDS}
order by rank desc, node
limit {PR_TOP}
"""


@register(
    "graph_pagerank_copurchase",
    f"Iterative PageRank ({PR_ROUNDS} rounds, damping 0.85) over the "
    "symmetric customer-supplier co-purchase graph (edge = customer "
    "ordered from supplier). The driver loop builds {PR_ROUNDS} plan "
    "rounds -- each ONE keyed join + aggregate, never a collect; ranks "
    "are scaled integers (1e-12 units, floor division) so every round "
    "is bit-identical in any engine and the DuckDB oracle verifies the "
    "full iteration, not a float approximation. At scale: edges "
    "partition by source; each round is the same shuffle CC's label "
    "propagation pays, and rounds are fixed, not data-dependent.",
    PAGERANK_ORACLE,
    "graph", "iterative", "pagerank",
)
def graph_pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pinned PRE-PARTITIONED on u: the degree aggregate and the
    # edge-degree join run exchange-free on the cached partitioning,
    # and every rank round's probe join reuses it too -- without the
    # pin each round re-derived the whole edge subtree from the base
    # tables (6 parquet scans for 3 rounds)
    edges = _persist_swap(
        spark, "pr_edges", cust_supp_edges(spark, sf_dir).repartition("u")
    )
    deg = edges.groupBy("u").agg(F.count("*").alias("d"))
    nn = deg.agg(F.count("*").alias("n"))
    base = F.broadcast(nn)
    ranks = deg.crossJoin(base).select(
        "u", F.expr(f"{PR_SCALE} div n").alias("r")
    )
    # (u, v, d): u-partitioned on both sides, so the build join and the
    # per-round rank joins all reuse one stored partitioning; rebuilt
    # lazily from the cached edges each round (persisting the join
    # output itself measured slower -- cache-build cost exceeds the
    # exchange-free rebuild)
    ed = edges.join(deg, "u")
    for _ in range(PR_ROUNDS):
        inflow = (
            ed.join(ranks, "u")
            .select(F.col("v"), F.expr("r div d").alias("contrib"))
            .groupBy("v")
            .agg(F.sum("contrib").alias("inflow"))
        )
        ranks = inflow.crossJoin(base).select(
            F.col("v").alias("u"),
            F.expr(f"(15 * ({PR_SCALE} div n) + 85 * inflow) div 100").alias(
                "r"
            ),
        )
    return (
        ranks.select(
            F.col("u").alias("node"),
            F.when(F.col("u") >= SUPP_BASE, 1)
            .otherwise(0)
            .cast("bigint")
            .alias("is_supplier"),
            F.col("r").cast("bigint").alias("rank"),
        )
        .orderBy(F.col("rank").desc(), "node")
        .limit(PR_TOP)
    )


# ---------------------------------------------------------------------------
# Triangle counting over the part co-purchase graph (degree-ordered
# orientation -- the Suri-Vassilvitskii / Cohen MapReduce pattern).
# ---------------------------------------------------------------------------

PART_MIN_SUPPORT = 2  # parts must co-occur in >= 2 distinct orders


def part_pair_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The part co-purchase graph as (pa, pb) rows, pa < pb: two parts
    in >= PART_MIN_SUPPORT distinct common orders. Pair generation is
    ONE keyed shuffle: group parts per order (collect_set dedups within
    the order, making support = distinct co-orders) and expand the
    id-ordered pair combinations map-side -- the _bucket_pairs
    discipline. The orderkey self-join alternative scans the fact table
    twice and shuffles both branches; per-order fan-out here is bounded
    by the max basket size."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return (
        _bucket_pairs(li, ["l_orderkey"], "l_partkey", "pa", "pb")
        .groupBy("pa", "pb")
        .agg(F.count("*").alias("support"))
        .where(F.col("support") >= PART_MIN_SUPPORT)
        .select("pa", "pb")
    )


def closed_triangles(e0: DataFrame, deg: DataFrame) -> DataFrame:
    """Every triangle of the part graph ``e0`` (pa, pb) exactly once, as
    (u, wa, wb): u its (degree, id)-lowest corner, wa < wb the other
    two. Degree-ordered orientation -- every edge points from its
    (degree, id)-smaller endpoint, so each wedge is generated once at
    its lowest-degree apex and the wedge-join cost is sum(out_deg^2),
    bounded even under power-law degree skew. ``deg`` is (node, d)."""
    da = deg.select(F.col("node").alias("pa"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("pb"), F.col("d").alias("db"))
    lower = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("pa") < F.col("pb"))
    )
    # deg is one row per PART (a bounded dimension, not per edge):
    # broadcast both sides of the degree decoration
    orient = (
        e0.join(F.broadcast(da), "pa")
        .join(F.broadcast(db), "pb")
        .select(
            F.when(lower, F.col("pa")).otherwise(F.col("pb")).alias("u"),
            F.when(lower, F.col("pb")).otherwise(F.col("pa")).alias("v"),
        )
    )
    o2 = orient.select(F.col("u").alias("u2"), F.col("v").alias("v2"))
    return (
        orient.join(
            o2, (F.col("u") == F.col("u2")) & (F.col("v") < F.col("v2"))
        )
        .select(
            "u",
            F.least("v", "v2").alias("wa"),
            F.greatest("v", "v2").alias("wb"),
        )
        .join(
            e0,
            (F.col("wa") == F.col("pa")) & (F.col("wb") == F.col("pb")),
        )
        .select("u", "wa", "wb")
    )


TRIANGLE_ORACLE = f"""
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
  select case when (da.d, e0.pa) < (db.d, e0.pb) then e0.pa else e0.pb end as u,
         case when (da.d, e0.pa) < (db.d, e0.pb) then e0.pb else e0.pa end as v
  from e0 join deg da on da.node = e0.pa join deg db on db.node = e0.pb
),
tri as (
  select count(*) as n_triangles
  from orient o1
  join orient o2 on o1.u = o2.u and o1.v < o2.v
  join e0 on e0.pa = least(o1.v, o2.v) and e0.pb = greatest(o1.v, o2.v)
),
wedge as (select sum(d * (d - 1) // 2) as n_wedges from deg)
select cast((select count(*) from deg) as bigint) as n_vertices,
       cast((select count(*) from e0) as bigint) as n_edges,
       cast(n_wedges as bigint) as n_wedges,
       cast(n_triangles as bigint) as n_triangles,
       (3.0 * n_triangles) / n_wedges as clustering_coeff
from tri cross join wedge
"""


@register(
    "graph_triangle_count",
    "Exact triangle count + global clustering coefficient over the part "
    f"co-purchase graph (edge = two parts in >= {PART_MIN_SUPPORT} common "
    "orders; the support threshold is the market-basket trim that keeps "
    "the graph sparse as the corpus grows). Degree-ordered orientation: "
    "every edge points from its (degree, id)-smaller endpoint, so each "
    "wedge is generated exactly once at its lowest-degree apex and the "
    "wedge-join cost is sum(out_deg^2) -- bounded even under power-law "
    "degree skew, the standard distributed-triangle trick. Three "
    "equi-joins, zero cartesian products; all counts exact bigints.",
    TRIANGLE_ORACLE,
    "graph", "triangles",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    e0 = _persist_swap(spark, "triangle_e0", part_pair_edges(spark, sf_dir))
    deg = (
        e0.select(F.col("pa").alias("node"))
        .unionAll(e0.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    tri = closed_triangles(e0, deg).agg(F.count("*").alias("n_triangles"))
    stats = e0.select("pa", "pb").agg(F.count("*").alias("n_edges"))
    dstats = deg.agg(
        F.count("*").alias("n_vertices"),
        F.sum(F.expr("d * (d - 1) div 2")).alias("n_wedges"),
    )
    return (
        tri.crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(dstats))
        .select(
            F.col("n_vertices").cast("bigint").alias("n_vertices"),
            F.col("n_edges").cast("bigint").alias("n_edges"),
            F.col("n_wedges").cast("bigint").alias("n_wedges"),
            F.col("n_triangles").cast("bigint").alias("n_triangles"),
            (
                F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges")
            ).alias("clustering_coeff"),
        )
    )


# ---------------------------------------------------------------------------
# Datasketches HLL: partial sketches per group, merged with union_agg --
# the two-level (map-side sketch, reduce-side merge) distinct-count
# architecture, made visible as a query.
# ---------------------------------------------------------------------------

HLL_MERGE_ORACLE = """
select o_orderpriority as grp,
       cast(count(distinct o_custkey) as bigint) as n_exact,
       cast(1 as bigint) as within_5pct
from orders group by o_orderpriority
union all
select '__ALL__' as grp,
       cast(count(distinct o_custkey) as bigint) as n_exact,
       cast(1 as bigint) as within_5pct
from orders
"""


@register(
    "agg_hll_partial_merge",
    "Distributed distinct counting the way 100 TB actually does it: a "
    "Datasketches HLL sketch per group (hll_sketch_agg -- fixed-size "
    "mergeable state built map-side), then ONE hll_union_agg merges the "
    "per-group sketches into the global estimate without touching the "
    "data again. Per-group and merged estimates are checked against "
    "exact distinct counts with a within-5%% INVARIANT flag (the sketch "
    "bits are engine-specific; the bound is not), mirroring the "
    "agg_approx_count_distinct oracle pattern.",
    HLL_MERGE_ORACLE,
    "aggregate", "approx", "sketch",
)
def agg_hll_partial_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    per_group = orders.groupBy("o_orderpriority").agg(
        F.hll_sketch_agg("o_custkey").alias("sk"),
        F.count_distinct("o_custkey").cast("bigint").alias("n_exact"),
    )
    per_group = _persist_swap(spark, "hll_per_group", per_group)
    grp_rows = per_group.select(
        F.col("o_orderpriority").alias("grp"),
        "n_exact",
        # cross-multiplied (see agg_approx_count_distinct): no division,
        # no ANSI DIVIDE_BY_ZERO on degenerate corpora; exact == 0 with a
        # zero estimate is a perfect match, not a miss (ADVICE r9)
        (
            (
                (F.col("n_exact") == 0)
                & (F.hll_sketch_estimate("sk") == 0)
            )
            | (
                F.abs(F.hll_sketch_estimate("sk") - F.col("n_exact"))
                < F.lit(0.05) * F.col("n_exact")
            )
        )
        .cast("bigint")
        .alias("within_5pct"),
    )
    total_exact = orders.agg(
        F.count_distinct("o_custkey").cast("bigint").alias("n_exact")
    )
    merged = (
        per_group.agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
        )
        .crossJoin(F.broadcast(total_exact))
        .select(
            F.lit("__ALL__").alias("grp"),
            "n_exact",
            (
                ((F.col("n_exact") == 0) & (F.col("est") == 0))
                | (
                    F.abs(F.col("est") - F.col("n_exact"))
                    < F.lit(0.05) * F.col("n_exact")
                )
            )
            .cast("bigint")
            .alias("within_5pct"),
        )
    )
    return grp_rows.unionByName(merged)
