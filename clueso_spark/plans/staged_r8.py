"""Operators staged in round 7, PROMOTED in round 8 (live registry).

Same life-cycle as ``plans/staged_r6.py`` (which round 6 promoted):
these shipped in round 7 as library code with full pytest parity
coverage (tests/test_staged_r8.py runs the exact driver comparison --
row count + schema + order-insensitive value hash -- against their
DuckDB oracles at sf0.001 and sf0.01), staged because the round-7
driver window (50 slots, catalog.PRIORITY[:50]) was fully allocated by
the rotation policy. Round 8 executed the promotion: this module is in
catalog.QUERY_MODULES and registers at import, every name
heads the round-8 driver window, and all 13 are perf-tracked in
bench.py HEADLINE from the same commit.

Reference parity note: none of these exist in the reference engine
(its whole surface is the metadata merge/search path); they extend the
engine along the axes the build brief names first-class -- large-scale
curation (sharding, caps, bootstrap), dedup tuning, feature
engineering (PMI), incremental maintenance, and the semi-join
reduction every 100 TB star join needs.

Determinism contract: identical to plans/catalog.py -- exact bigint /
decimal arithmetic wherever a float sum would be order-sensitive;
scaled-log2-of-bigint (staged_r6._l2) for information measures; doubles
only as the final step of identical IEEE operation chains; every
computed column aliased identically on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clueso_spark.functions.text import tokens
from clueso_spark.plans.catalog import persist_swap, register
from clueso_spark.plans.staged_r6 import _l2
from clueso_spark.plans.text_queries import _SW
from clueso_spark.sources.tables import load_table, load_table_spread

# ---------------------------------------------------------------------------
# Per-domain document caps: bound any single source's share of the
# corpus (the standard pretraining guard against one domain dominating
# the mixture). Spark >= 3.5 plans the rank filter as WindowGroupLimit:
# each map task keeps only its local top-CAP per source BEFORE the
# window shuffle, so the exchange carries O(sources * CAP) rows per
# task, not the corpus.
# ---------------------------------------------------------------------------

_DOMAIN_CAP = 18


@register(
    "pipeline_domain_caps",
    f"Per-source document cap: keep the top {_DOMAIN_CAP} docs per "
    "source (by n_chars desc, doc_id tiebreak), report per-source "
    "kept/dropped doc and char volumes. Scale: the rank predicate "
    "compiles to WindowGroupLimit (partial top-k before the window "
    "exchange, pinned in tests/test_staged_r8.py), so a hot domain "
    "never funnels its full row set through one task's sort buffer.",
    f"""
    with r as (
      select source, n_chars,
             row_number() over (partition by source
                                order by n_chars desc, doc_id) as rk
      from documents
    )
    select source,
           cast(count(*) as bigint) as n_docs,
           cast(sum(case when rk <= {_DOMAIN_CAP} then 1 else 0 end)
                as bigint) as n_kept,
           cast(sum(n_chars) as bigint) as chars_total,
           cast(sum(case when rk <= {_DOMAIN_CAP} then n_chars else 0 end)
                as bigint) as chars_kept
    from r group by source
    """,
    "pipeline", "window", "topk",
)
def pipeline_domain_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # totals branch: plain map-side-partial agg, no window anywhere
    totals = docs.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("chars_total"),
    )
    # kept branch: rank FILTER directly over the window output, the
    # shape InferWindowGroupLimit rewrites to a partial per-source
    # top-CAP before the exchange (pinned in tests/test_staged_r8.py)
    w = Window.partitionBy("source").orderBy(
        F.col("n_chars").desc(), "doc_id"
    )
    kept = (
        docs.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _DOMAIN_CAP)
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_kept"),
            F.sum("n_chars").cast("bigint").alias("chars_kept"),
        )
    )
    # inner join is total: CAP >= 1 keeps >= 1 doc for every source
    return totals.join(kept, "source").select(
        "source", "n_docs", "n_kept", "chars_total", "chars_kept"
    )


# ---------------------------------------------------------------------------
# Bloom-filter semi-join reduction: the 100 TB star-join pattern. The
# dimension side's join keys are folded into an m-bit Bloom bitmap
# (ONE small aggregate), the bitmap rides into the fact scan as a
# constant-folded literal, and only surviving rows reach the join
# shuffle. False positives are eliminated by the exact join that
# follows, so the RESULT is exactly the plain join's (the oracle IS
# the plain join). Spark 3.3+ can inject this automatically
# (spark.sql.optimizer.runtime.bloomFilter.enabled); the explicit form
# keeps the architecture visible, verifiable, and sized to the data
# (m chosen per dim-side cardinality -- at 1e8 keys the bitmap is
# ~180 MB and the automatic runtime filter is the better ship).
# ---------------------------------------------------------------------------

_BLOOM_M = 1 << 16  # bits; ~3k urgent keys at sf0.1 -> fp ~ 0.1%
_BLOOM_K = 4  # hash family size (md5 seeds)


def _bloom_pos_sql(key_sql: str, seed: int) -> str:
    """SQL text for the bit position of ``key`` under hash ``seed``.

    xxhash64, not the catalog's md5 family: the Bloom structure never
    crosses engines (the oracle is the plain join -- false positives
    die in the exact join that follows), so the only requirement is
    determinism WITHIN Spark, and xxhash64 is codegen-fast where 4
    md5-of-string hashes per probe row measurably dominate the scan
    (1.4 s of the fact-side pass at sf0.1)."""
    return f"pmod(xxhash64({seed}, {key_sql}), {_BLOOM_M})"


@register(
    "join_bloom_pruned_revenue",
    "Semi-join reduction via an explicit Bloom filter: URGENT orders' "
    f"keys fold into a {_BLOOM_M}-bit bitmap ({_BLOOM_K} xxhash64 "
    "hashes) "
    "collected as 1024 longs and constant-folded into the lineitem "
    "scan's filter; survivors (true matches + ~0.1% false positives) "
    "join exactly against the urgent keys, so the monthly revenue "
    "result is bit-identical to the plain join the oracle runs. Scale: "
    "the fact side crosses the shuffle only where the bitmap passes -- "
    "the exchange shrinks by the urgent selectivity (~20%) before any "
    "join work.",
    """
    select strftime(date_trunc('month', l.l_shipdate), '%Y-%m-%d')
             as ship_month,
           cast(count(*) as bigint) as n_items,
           cast(sum(cast(l.l_extendedprice as decimal(12,2))
                    * (1 - cast(l.l_discount as decimal(12,2))))
                as double) as revenue
    from lineitem l
    join orders o on l.l_orderkey = o.o_orderkey
    where o.o_orderpriority = '1-URGENT'
    group by 1
    """,
    "join", "bloom", "scale-pattern",
)
def join_bloom_pruned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    urgent = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    # build the bitmap: ONE small aggregate over the dim side's keys
    # (k positions per key -> bit_or into 64-bit words), collected as
    # <= m/64 rows. This eager build is the same sanctioned
    # construction-time job the IVF centroid and CMS queries run.
    pos_exprs = [
        _bloom_pos_sql("o_orderkey", s)
        for s in range(_BLOOM_K)
    ]
    words_df = (
        urgent.select(
            F.explode(F.expr(f"array({', '.join(pos_exprs)})")).alias("pos")
        )
        .groupBy(F.expr("cast(pos div 64 as int)").alias("word"))
        .agg(
            F.expr(
                "bit_or(shiftleft(cast(1 as bigint),"
                " cast(pos % 64 as int)))"
            ).alias("bits")
        )
    )
    words = [0] * (_BLOOM_M // 64)
    for r in words_df.collect():
        words[r["word"]] = r["bits"]
    # constant-folded literal array: 1024 longs, folded to a single
    # Literal by Catalyst, shipped once per task with the plan. Built
    # as ONE SQL string (one py4j round-trip) -- F.array of 1024
    # F.lit columns costs thousands of driver Python<->JVM calls and
    # measurably dominates the query (seconds of pure plan build).
    bm_sql = "array(" + ", ".join(f"{w}L" for w in words) + ")"
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "__bm", F.expr(bm_sql)
    )
    tests = []
    for s in range(_BLOOM_K):
        # per-seed position is materialized once as a column, so each
        # probe row pays K md5s (not 2K)
        li = li.withColumn(
            f"__p{s}", F.expr(_bloom_pos_sql("l_orderkey", s))
        )
        tests.append(
            f"(element_at(__bm, cast(__p{s} div 64 as int) + 1)"
            f" & shiftleft(cast(1 as bigint), cast(__p{s} % 64 as int))) != 0"
        )
    pruned = li.where(F.expr(" and ".join(tests))).drop(
        "__bm", *[f"__p{s}" for s in range(_BLOOM_K)]
    )
    joined = pruned.join(
        F.broadcast(urgent), pruned["l_orderkey"] == urgent["o_orderkey"]
    )
    from clueso_spark.plans.catalog import dec

    return joined.groupBy(
        F.date_format(
            F.date_trunc("month", "l_shipdate"), "yyyy-MM-dd"
        ).alias("ship_month")
    ).agg(
        F.count("*").cast("bigint").alias("n_items"),
        F.sum(dec("l_extendedprice") * (1 - dec("l_discount")))
        .cast("double")
        .alias("revenue"),
    )


# ---------------------------------------------------------------------------
# Association rules over co-purchase baskets: support / confidence /
# lift for part pairs that share an order -- the directed sibling of
# graph_node_similarity's symmetric Jaccard. All counting is exact
# bigint; confidence and lift are single double divisions of exact
# integers (identical IEEE in both engines).
# ---------------------------------------------------------------------------

_RULE_MIN_PAIR = 3


@register(
    "graph_assoc_rules",
    "Market-basket association rules on the order->part bipartite "
    f"graph: part pairs co-purchased in >= {_RULE_MIN_PAIR} orders, "
    "emitted as directed rules with exact support counts, confidence "
    "= pair_n / antecedent_n and lift = pair_n * n_orders / "
    "(antecedent_n * consequent_n). Scale: ONE orderkey shuffle "
    "builds sorted per-order baskets; pairs explode MAP-SIDE bounded "
    "by basket size (TPC-H <= 13 items) -- never all-pairs across "
    "parts, and no second exchange of the incidence relation; the "
    "item-count join keys on part id.",
    f"""
    with b as (select distinct l_orderkey, l_partkey from lineitem),
    n as (select cast(count(distinct l_orderkey) as bigint) as n_orders
          from b),
    items as (select l_partkey, cast(count(*) as bigint) as item_n
              from b group by 1),
    pairs as (
      select a.l_partkey as part_a, b2.l_partkey as part_b,
             cast(count(*) as bigint) as pair_n
      from b a join b b2 on a.l_orderkey = b2.l_orderkey
                        and a.l_partkey < b2.l_partkey
      group by 1, 2
      having count(*) >= {_RULE_MIN_PAIR}
    ),
    directed as (
      select part_a as antecedent, part_b as consequent, pair_n from pairs
      union all
      select part_b, part_a, pair_n from pairs
    )
    select d.antecedent, d.consequent, d.pair_n,
           ia.item_n as antecedent_n, ic.item_n as consequent_n,
           cast(d.pair_n as double) / cast(ia.item_n as double)
             as confidence,
           cast(d.pair_n * n.n_orders as double)
             / cast(ia.item_n * ic.item_n as double) as lift
    from directed d
    join items ia on d.antecedent = ia.l_partkey
    join items ic on d.consequent = ic.l_partkey
    cross join n
    """,
    "graph", "aggregate", "join",
)
def graph_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # ONE orderkey shuffle builds the per-order sorted basket; pair
    # generation is then a MAP-SIDE explosion bounded by basket size
    # (TPC-H <= 13 -> <= 78 pairs/order). A self-join on l_orderkey
    # computes the same pairs but exchanges the incidence relation
    # twice -- measured 3.0 s vs 1.1 s at sf0.1. collect_set + sort
    # gives distinct parts in ascending order, so part_a < part_b by
    # construction.
    baskets = persist_swap(
        spark,
        "assoc_baskets",
        li.groupBy("l_orderkey").agg(
            F.sort_array(F.collect_set("l_partkey")).alias("parts")
        ),
    )
    n_orders = baskets.agg(
        F.count("*").cast("bigint").alias("n_orders")
    )
    items = (
        baskets.select(F.explode("parts").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count("*").cast("bigint").alias("item_n"))
    )
    pair_structs = (
        "flatten(transform(parts, (x, i) -> "
        "transform(slice(parts, i + 2, size(parts)), "
        "y -> struct(x as part_a, y as part_b))))"
    )
    pairs = (
        baskets.select(F.explode(F.expr(pair_structs)).alias("p"))
        .select("p.part_a", "p.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count("*").cast("bigint").alias("pair_n"))
        .where(F.col("pair_n") >= _RULE_MIN_PAIR)
    )
    directed = pairs.select(
        F.col("part_a").alias("antecedent"),
        F.col("part_b").alias("consequent"),
        "pair_n",
    ).unionByName(
        pairs.select(
            F.col("part_b").alias("antecedent"),
            F.col("part_a").alias("consequent"),
            "pair_n",
        )
    )
    ia = items.select(
        F.col("l_partkey").alias("antecedent"),
        F.col("item_n").alias("antecedent_n"),
    )
    ic = items.select(
        F.col("l_partkey").alias("consequent"),
        F.col("item_n").alias("consequent_n"),
    )
    return (
        directed.join(ia, "antecedent")
        .join(ic, "consequent")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "antecedent",
            "consequent",
            "pair_n",
            "antecedent_n",
            "consequent_n",
            (
                F.col("pair_n").cast("double")
                / F.col("antecedent_n").cast("double")
            ).alias("confidence"),
            (
                (F.col("pair_n") * F.col("n_orders")).cast("double")
                / (F.col("antecedent_n") * F.col("consequent_n")).cast(
                    "double"
                )
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic epoch shuffle + round-robin sharding: the dataloader
# layout op. A content-addressed md5 key gives every document a
# reproducible position in the epoch's global permutation (computed
# WITHOUT a single-partition window via functions/ordered's ranged
# rank), and round-robin over the position yields EXACTLY balanced
# shards (hash-mod sharding is only balanced in expectation).
# ---------------------------------------------------------------------------

_N_SHARDS = 8


@register(
    "pipeline_epoch_shuffle_shards",
    "Deterministic epoch-1 dataloader layout: global shuffle order = "
    "rank of md5('epoch1_' || doc_id) (exact global rank via "
    "functions/ordered.ranged_row_number -- range-partitioned prefix "
    f"counts, no single-partition WindowExec), shard = round-robin "
    f"position % {_N_SHARDS} (exact balance by construction). Every "
    "engine/worker recomputes the same layout with zero coordination "
    "state -- the content-addressed reproducibility pattern at 100 TB.",
    f"""
    with k as (select doc_id,
                      md5('epoch1_' || cast(doc_id as varchar)) as sk
               from documents),
    r as (select doc_id,
                 row_number() over (order by sk, doc_id) as position
          from k)
    select doc_id, cast(position as bigint) as position,
           cast((position - 1) % {_N_SHARDS} as bigint) as shard
    from r
    """,
    "pipeline", "shuffle", "ordered",
)
def pipeline_epoch_shuffle_shards(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from clueso_spark.functions.ordered import ranged_row_number

    keyed = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(
            F.concat(F.lit("epoch1_"), F.col("doc_id").cast("string"))
        ).alias("sk"),
    )
    ranked = ranged_row_number(keyed, ["sk", "doc_id"], "position")
    return ranked.select(
        "doc_id",
        "position",
        ((F.col("position") - 1) % _N_SHARDS).cast("bigint").alias("shard"),
    )


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance: merge a precomputed base rollup
# with a late-arrival delta instead of re-aggregating the world -- the
# materialized-view pattern every 100 TB metrics store runs. The
# oracle aggregates all events directly, so parity PROVES
# merge(base, delta) == direct for counts and decimal-exact sums.
# ---------------------------------------------------------------------------

_ROLLUP_SPLIT = "2024-03-01 00:00:00"


@register(
    "ev_rollup_incremental_merge",
    "Incremental view maintenance: the hourly (hour, event_type) "
    f"rollup of events before {_ROLLUP_SPLIT} (the stored base) "
    "full-outer-merged with the rollup of later events (the late "
    "delta), coalescing counts and decimal-exact value sums. The "
    "oracle re-aggregates everything directly -- the hash match IS "
    "the proof that the incremental merge equals recomputation. "
    "Scale: each side partial-aggregates map-side; the merge joins "
    "two already-tiny rollups on their grouping key, never touching "
    "raw events again.",
    """
    select strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') as hour,
           event_type,
           cast(count(*) as bigint) as n_events,
           cast(sum(cast(value as decimal(12,2))) as double) as value_total
    from events
    group by 1, 2
    """,
    "events", "aggregate", "incremental",
)
def ev_rollup_incremental_merge(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from clueso_spark.plans.catalog import dec

    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("hour", "ts").alias("h"),
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss")
        .alias("hour"),
        "event_type",
        dec("value").alias("v"),
    )
    split = F.lit(_ROLLUP_SPLIT).cast("timestamp")

    def rollup(df):
        return df.groupBy("hour", "event_type").agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("v").alias("s"),
        )

    base = rollup(ev.where(F.col("h") < split).drop("h"))
    delta = rollup(ev.where(F.col("h") >= split).drop("h"))
    merged = base.alias("b").join(
        delta.alias("d"), ["hour", "event_type"], "full_outer"
    )
    zero = F.lit(0).cast("decimal(12,2)")
    return merged.select(
        "hour",
        "event_type",
        (
            F.coalesce(F.col("b.n"), F.lit(0))
            + F.coalesce(F.col("d.n"), F.lit(0))
        )
        .cast("bigint")
        .alias("n_events"),
        (F.coalesce(F.col("b.s"), zero) + F.coalesce(F.col("d.s"), zero))
        .cast("double")
        .alias("value_total"),
    )


# ---------------------------------------------------------------------------
# Word co-occurrence PMI over the top-V vocabulary: the classic
# count-based feature-engineering table (word2vec-era embeddings,
# collocation mining). Information values use the repo's exact
# scaled-log2-of-bigint bridge, so the float-sum order problem never
# exists.
# ---------------------------------------------------------------------------

_PMI_VOCAB = 40
_PMI_MIN_PAIR = 5


@register(
    "txt_cooccurrence_pmi",
    f"Document-level co-occurrence PMI for the top-{_PMI_VOCAB} vocab "
    "words (by doc frequency): pair doc-frequencies from a self-join "
    "of the (doc, word) incidence relation restricted to the "
    "broadcast vocabulary, PMI = log2(pair_df * n_docs / (df1 * df2)) "
    "as an exact 1e-6-scaled bigint (staged_r6._l2). Scale: the vocab "
    "restriction bounds the self-join at V words per doc, and the "
    "incidence relation shuffles once on doc_id -- corpus-linear, "
    "output O(V^2).",
    f"""
    with dw as (
      select distinct doc_id, word from (
        select doc_id, unnest(string_split(text, ' ')) as word
        from documents)
    ),
    n as (select cast(count(*) as bigint) as n_docs from documents),
    voc as (
      select word, cast(count(*) as bigint) as df,
             row_number() over (order by count(*) desc, word) as vr
      from dw group by word
    ),
    v as (select word, df from voc where vr <= {_PMI_VOCAB}),
    dv as (select dw.doc_id, dw.word from dw join v using (word)),
    p as (
      select a.word as w1, b.word as w2, cast(count(*) as bigint) as pair_df
      from dv a join dv b on a.doc_id = b.doc_id and a.word < b.word
      group by 1, 2
      having count(*) >= {_PMI_MIN_PAIR}
    )
    select w1, w2, pair_df, v1.df as df1, v2.df as df2,
           cast({_l2("pair_df * n_docs")} - {_l2("v1.df * v2.df")} as bigint)
             as pmi_scaled,
           cast({_l2("pair_df * n_docs")} - {_l2("v1.df * v2.df")} as bigint)
             / 1000000.0 as pmi
    from p join v v1 on w1 = v1.word join v v2 on w2 = v2.word
    cross join n
    """,
    "text", "features", "join",
)
def txt_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    dw = docs.select(
        "doc_id", F.explode(F.array_distinct(tokens())).alias("word")
    )
    dw = persist_swap(spark, "pmi_incidence", dw)
    n_docs = docs.agg(F.count("*").cast("bigint").alias("n_docs"))
    # top-V vocab via orderBy+limit (TakeOrderedAndProject: per-task
    # heaps, driver merge) -- the former partition-less row_number
    # window pushed the ENTIRE corpus vocabulary through one task;
    # aggregate-sized today, but web-scale vocab is 1e8+ rows (the
    # graph_katz_centrality round-10 lesson applied here). The rank
    # column was filter-only, so no post-limit window is needed at all.
    voc = (
        dw.groupBy("word")
        .agg(F.count("*").cast("bigint").alias("df"))
        .orderBy(F.col("df").desc(), "word")
        .limit(_PMI_VOCAB)
    )
    dv = dw.join(F.broadcast(voc.select("word")), "word")
    a, b = dv.alias("a"), dv.alias("b")
    p = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.word") < F.col("b.word")),
        )
        .groupBy(
            F.col("a.word").alias("w1"), F.col("b.word").alias("w2")
        )
        .agg(F.count("*").cast("bigint").alias("pair_df"))
        .where(F.col("pair_df") >= _PMI_MIN_PAIR)
    )
    v1 = voc.select(
        F.col("word").alias("w1"), F.col("df").alias("df1")
    )
    v2 = voc.select(
        F.col("word").alias("w2"), F.col("df").alias("df2")
    )
    scaled = F.expr(
        f"cast({_l2('pair_df * n_docs')} - {_l2('df1 * df2')} as bigint)"
    )
    return (
        p.join(F.broadcast(v1), "w1")
        .join(F.broadcast(v2), "w2")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "w1",
            "w2",
            "pair_df",
            "df1",
            "df2",
            scaled.alias("pmi_scaled"),
            (scaled.cast("double") / F.lit(1000000.0)).alias("pmi"),
        )
    )


# ---------------------------------------------------------------------------
# Near-dedup threshold tuning curve: how many pairs (and how many
# documents) a Jaccard cutoff would merge, for the thresholds a
# curation run actually debates. One candidate generation serves the
# whole curve -- raising the threshold only filters the verified pair
# stream, never re-scans.
# ---------------------------------------------------------------------------

_CURVE_THRESHOLDS = (0.5, 0.6, 0.7, 0.8, 0.9)


def _curve_oracle() -> str:
    from clueso_spark.plans.dedup_queries import _MINHASH_ORACLE

    ts = ", ".join(str(t) for t in _CURVE_THRESHOLDS)
    return f"""
    with pairs as ({_MINHASH_ORACLE}),
    t as (select unnest([{ts}]) as threshold),
    at as (select t.threshold, p.doc_a, p.doc_b
           from t join pairs p on p.jaccard >= t.threshold),
    np as (select threshold, cast(count(*) as bigint) as n_pairs
           from at group by threshold),
    d as (select threshold, doc_a as d from at
          union
          select threshold, doc_b from at),
    nd as (select threshold, cast(count(distinct d) as bigint) as n_docs
           from d group by threshold)
    select np.threshold, np.n_pairs, nd.n_docs
    from np join nd using (threshold)
    """


@register(
    "dedup_threshold_curve",
    "MinHash near-dedup threshold tuning curve: verified candidate "
    f"pairs from the registered LSH machinery, counted at Jaccard >= "
    f"{_CURVE_THRESHOLDS} alongside the distinct documents involved. "
    "ONE (band,sig) candidate shuffle + ONE exact-Jaccard verification "
    "serves every curve point (the threshold is a filter on the "
    "verified stream). The audit every near-dedup rollout runs before "
    "picking its cutoff.",
    _curve_oracle(),  # composed from the registered minhash oracle
    "dedup", "minhash", "tuning",
)
def dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clueso_spark.plans.dedup_queries import minhash_pairs

    docs = (
        load_table_spread(spark, sf_dir, "documents")
        .withColumn("w", tokens())
    )
    pairs = persist_swap(
        spark,
        "thr_curve_pairs",
        minhash_pairs(spark, docs, slot="thr_curve_sets"),
    )
    thr = F.explode(
        F.array(*[F.lit(t) for t in _CURVE_THRESHOLDS])
    ).alias("threshold")
    at = pairs.select("doc_a", "doc_b", "jaccard", thr).where(
        F.col("jaccard") >= F.col("threshold")
    )
    n_pairs = at.groupBy("threshold").agg(
        F.count("*").cast("bigint").alias("n_pairs")
    )
    docs_in = (
        at.select("threshold", F.col("doc_a").alias("doc_id"))
        .unionByName(
            at.select("threshold", F.col("doc_b").alias("doc_id"))
        )
        .groupBy("threshold")
        .agg(F.countDistinct("doc_id").cast("bigint").alias("n_docs"))
    )
    return n_pairs.join(docs_in, "threshold")


# ---------------------------------------------------------------------------
# Decile lift / gains table over purchase value: the model-eval /
# marketing workhorse. Third caller of the de-globalized ranked
# machinery (after RFM and the epoch shuffle): the corpus-sized rank
# uses ranged_row_number; only the 10-row decile relation sees an
# ordered window.
# ---------------------------------------------------------------------------


@register(
    "ev_decile_lift",
    "Decile gains table over per-user purchase value: users ranked by "
    "decimal-exact monetary (desc, user_id tiebreak) WITHOUT a global "
    "window (functions/ordered.ranged_row_number on the negated "
    "decimal), decile via ntile_from_rank arithmetic; per decile "
    "n_users, monetary total, cumulative share and lift vs uniform. "
    "The cumulative window runs over the 10-row decile relation only "
    "-- O(k), not O(users).",
    """
    with p as (select user_id, cast(value as decimal(12,2)) as v
               from events where event_type = 'purchase'),
    u as (select user_id, sum(v) as monetary from p group by user_id),
    q as (select user_id, monetary,
                 ntile(10) over (order by monetary desc, user_id)
                   as decile
          from u),
    d as (select decile, cast(count(*) as bigint) as n_users,
                 sum(monetary) as m
          from q group by decile),
    t as (select sum(m) as tm, sum(n_users) as tn from d)
    select cast(decile as bigint) as decile, n_users,
           cast(m as double) as monetary_total,
           cast(sum(m) over (order by decile) as double) / cast(tm as double)
             as cum_share,
           (cast(m as double) * tn) / (cast(tm as double) * n_users)
             as lift
    from d cross join t
    """,
    "events", "aggregate", "ordered", "segmentation",
)
def ev_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clueso_spark.functions.ordered import (
        ntile_from_rank,
        ranged_row_number,
    )
    from clueso_spark.plans.catalog import dec

    u = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.sum(dec("value")).alias("monetary"))
        .withColumn("neg_m", F.expr("-monetary"))
    )
    ranked = ranged_row_number(u, ["neg_m", "user_id"], "rk")
    n = u.agg(F.count("*").cast("bigint").alias("n_total"))
    q = ranked.crossJoin(F.broadcast(n)).withColumn(
        "decile", ntile_from_rank("rk", "n_total", 10)
    )
    d = q.groupBy("decile").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("monetary").alias("m"),
    )
    # the decile relation is exactly <= 10 rows: ordered windows over it
    # are driver-trivial, not a scale hazard (contrast the per-user rank
    # above, which is ranged)
    wc = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wt = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return d.select(
        F.col("decile").cast("bigint").alias("decile"),
        "n_users",
        F.col("m").cast("double").alias("monetary_total"),
        (
            F.sum("m").over(wc).cast("double")
            / F.sum("m").over(wt).cast("double")
        ).alias("cum_share"),
        (
            (F.col("m").cast("double") * F.sum("n_users").over(wt))
            / (F.sum("m").over(wt).cast("double") * F.col("n_users"))
        ).alias("lift"),
    )


# ---------------------------------------------------------------------------
# Poisson bootstrap: THE distributed bootstrap (one pass, no global
# sampling state -- each (row, replica) draws its multiplicity from a
# content-addressed hash, approximating multinomial resampling with
# independent Poisson(1) counts). Deterministic here: the uniform is
# md5-derived and the Poisson inverse-CDF thresholds are integer
# literals both engines share.
# ---------------------------------------------------------------------------

_BOOT_B = 32
#: cumulative Poisson(1) inverse-CDF thresholds in 2^-32 units:
#: round(P(X <= k) * 2^32) for k = 0..4; u above the last -> 5
_BOOT_T = (1580030169, 3160060337, 3950075422, 4213413783, 4279248374)


def _boot_mult(u_expr: str) -> str:
    """SQL CASE mapping a 32-bit uniform to a Poisson(1) multiplicity
    (identical text for Spark and DuckDB)."""
    branches = " ".join(
        f"when {u_expr} < {t} then {k}" for k, t in enumerate(_BOOT_T)
    )
    return f"(case {branches} else 5 end)"


@register(
    "agg_poisson_bootstrap",
    f"Poisson bootstrap ({_BOOT_B} replicas) of mean document length: "
    "per (doc, replica) multiplicity = Poisson(1) inverse-CDF of a "
    "md5-derived 32-bit uniform (integer thresholds shared by both "
    "engines), replica mean = exact bigint sums with ONE final double "
    "division. One corpus pass fans out all replicas map-side "
    f"({_BOOT_B}x explode of 3 ints, not of documents); no sampling "
    "state, no seed coordination -- the scale bootstrap.",
    f"""
    with r as (select unnest(range({_BOOT_B})) as b),
    h as (
      select r.b, d.n_chars,
             cast(('0x' || substr(md5(cast(d.doc_id as varchar)
                  || '_b' || cast(r.b as varchar)), 1, 8)) as bigint) as u
      from documents d cross join r
    ),
    m as (select b, n_chars, {_boot_mult("u")} as mult from h)
    select cast(b as bigint) as replica,
           cast(sum(mult) as bigint) as n_eff,
           cast(sum(mult * n_chars) as bigint) as chars_eff,
           cast(sum(mult * n_chars) as double) / cast(sum(mult) as double)
             as mean_chars
    from m group by b
    """,
    "aggregate", "statistics", "sampling",
)
def agg_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fan = docs.select(
        "doc_id",
        "n_chars",
        F.explode(
            F.sequence(F.lit(0), F.lit(_BOOT_B - 1))
        ).alias("b"),
    )
    u = (
        "cast(conv(substring(md5(concat(cast(doc_id as string), '_b',"
        " cast(b as string))), 1, 8), 16, 10) as bigint)"
    )
    m = fan.withColumn("u", F.expr(u)).withColumn(
        "mult", F.expr(_boot_mult("u"))
    )
    return m.groupBy(F.col("b").cast("bigint").alias("replica")).agg(
        F.sum("mult").cast("bigint").alias("n_eff"),
        F.sum(F.col("mult") * F.col("n_chars"))
        .cast("bigint")
        .alias("chars_eff"),
        (
            F.sum(F.col("mult") * F.col("n_chars")).cast("double")
            / F.sum("mult").cast("double")
        ).alias("mean_chars"),
    )


# ---------------------------------------------------------------------------
# Streaming foreachBatch upsert: the idempotent merge pattern --
# each micro-batch merges its latest-per-key rows into a versioned
# keyed parquet state (read state, unionByName, re-argmax, write
# next version), the streaming sibling of the engine's batch
# merge-on-read. The final state equals the batch argmax, which the
# oracle computes directly.
# ---------------------------------------------------------------------------


@register(
    "st_foreach_batch_upsert",
    "Structured Streaming foreachBatch upsert: per micro-batch, the "
    "batch's latest row per user_id (ts desc, event_id tiebreak) "
    "merges into versioned parquet state via union + re-argmax -- "
    "exactly-once by construction (versioned writes are idempotent "
    "per batch id). availableNow over the static source drains every "
    "file, so the final state provably equals the batch latest-per-"
    "user the oracle computes. Scale: state I/O is keyed and "
    "partitioned; each merge touches state + one batch, never the "
    "history.",
    """
    with r as (
      select user_id, event_id, event_type,
             cast(value as double) as value,
             row_number() over (partition by user_id
                                order by ts desc, event_id desc) as rk
      from events
    )
    select user_id, event_id, event_type, value from r where rk = 1
    """,
    "streaming", "upsert", "state",
)
def st_foreach_batch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from clueso_spark.plans.streaming_queries import events_stream

    state_root = tempfile.mkdtemp(prefix="clueso_upsert_state_")
    merge, versions = upsert_state_sink(state_root)

    stream = events_stream(spark, sf_dir).select(
        "user_id", "event_id", "ts", "event_type",
        F.col("value").cast("double").alias("value"),
    )
    q = (
        stream.writeStream.foreachBatch(merge)
        .option("checkpointLocation", f"{state_root}/_chk")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # ts stays in the STATE (it is the merge's ordering key) but is
    # projected out of the result surface: event_id already identifies
    # the winning row exactly, and raw-timestamp columns stay off the
    # oracle-hash surface by catalog convention
    return spark.read.parquet(versions[-1]).select(
        "user_id", "event_id", "event_type", "value"
    )


def upsert_latest(df: DataFrame) -> DataFrame:
    """Latest row per user_id (ts desc, event_id tiebreak) -- the same
    argmax family as the engine's merge-on-read dedup
    (operators/merge.py:latest_rows), keyed on the event stream."""
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") == 1)
        .drop("__rk")
    )


def upsert_state_sink(state_root: str):
    """foreachBatch merge closure over a versioned keyed parquet state.

    Returns ``(merge_fn, versions)``: each micro-batch unions the prior
    state version with the batch's latest-per-key rows, re-argmaxes, and
    writes state version ``v<batch_id>`` -- idempotent per batch id, so
    a replayed batch rewrites the same version instead of double-
    applying. ``versions[-1]`` is the current state after the drain.
    Factored out of the catalog callable so scenario tests can drive a
    genuine multi-batch stream (maxFilesPerTrigger=1) through it."""
    versions: list[str] = []

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        cols = ["user_id", "event_id", "ts", "event_type", "value"]
        incoming = upsert_latest(batch_df.select(*cols))
        if versions:
            state = batch_df.sparkSession.read.parquet(versions[-1])
            incoming = upsert_latest(state.unionByName(incoming))
        out = f"{state_root}/v{batch_id}"
        incoming.write.mode("overwrite").parquet(out)
        versions.append(out)

    return merge, versions


# ---------------------------------------------------------------------------
# Byte-budget shard manifest: pack content-addressed records into
# fixed-size output shards (the WebDataset/tar-shard layout every
# multimodal training store writes). Shard id follows from the GLOBAL
# running byte total -- computed scale-safe with functions/ordered's
# ranged cumsum, the fourth consumer of that machinery.
# ---------------------------------------------------------------------------

_SHARD_BYTES = 16_384


@register(
    "mm_shard_manifest",
    "WebDataset-style shard manifest: records ordered by content "
    "address (md5 of doc_id), shard = floor(preceding byte total / "
    f"{_SHARD_BYTES}) from an exact global running sum of payload "
    "bytes (functions/ordered.ranged_cumsum -- range-partitioned "
    "prefix sums, no single-partition WindowExec). Per-shard record "
    "and byte counts; every shard lands within one payload of the "
    "byte budget by construction.",
    f"""
    with k as (select doc_id,
                      md5(cast(doc_id as varchar)) as sk,
                      cast(octet_length(encode(text)) as bigint) as n_bytes
               from documents),
    c as (select doc_id, n_bytes,
                 sum(n_bytes) over (order by sk, doc_id
                                    rows unbounded preceding) as cum
          from k)
    select cast((cum - n_bytes) // {_SHARD_BYTES} as bigint) as shard,
           cast(count(*) as bigint) as n_records,
           cast(sum(n_bytes) as bigint) as bytes_total
    from c group by 1
    """,
    "multimodal", "ordered", "layout",
)
def mm_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clueso_spark.functions.ordered import ranged_cumsum

    keyed = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(F.col("doc_id").cast("string")).alias("sk"),
        F.octet_length("text").cast("bigint").alias("n_bytes"),
    )
    c = ranged_cumsum(keyed, ["sk", "doc_id"], "n_bytes", "cum")
    return (
        c.select(
            F.expr(f"(cum - n_bytes) div {_SHARD_BYTES}")
            .cast("bigint")
            .alias("shard"),
            "n_bytes",
        )
        .groupBy("shard")
        .agg(
            F.count("*").cast("bigint").alias("n_records"),
            F.sum("n_bytes").cast("bigint").alias("bytes_total"),
        )
    )


# ---------------------------------------------------------------------------
# RAKE keyword extraction (Rose et al. 2010): phrases are maximal
# stopword-free token runs (gaps-and-islands over the token stream),
# a word's degree sums the lengths of every phrase containing it,
# score = degree / freq. Exact integer degree/freq; one double
# division at the end.
# ---------------------------------------------------------------------------

_RAKE_TOP = 20


@register(
    "txt_rake_keywords",
    f"RAKE keyword extraction, corpus top-{_RAKE_TOP}: stopword-"
    "delimited phrases via gaps-and-islands (phrase id = running "
    "stopword count, window PARTITIONED per doc -- parallel), word "
    "degree = sum of containing-phrase lengths, score = degree/freq. "
    "Scale: one doc-keyed window shuffle over the token stream + one "
    "word-keyed aggregate; the final rank runs over the vocabulary "
    "relation, not the corpus.",
    f"""
    with w as (
      select doc_id, i as pos, ws[i] as word,
             case when ws[i] in ({{_SW}}) then 1 else 0 end as is_stop
      from (select doc_id, string_split(text, ' ') ws from documents),
           unnest(range(1, len(ws) + 1)) as t(i)
    ),
    g as (select doc_id, pos, word, is_stop,
                 sum(is_stop) over (partition by doc_id order by pos
                                    rows unbounded preceding) as phrase_id
          from w),
    ph as (select doc_id, phrase_id,
                  cast(count(*) as bigint) as phrase_len
           from g where is_stop = 0 group by doc_id, phrase_id),
    occ as (select g.word, ph.phrase_len
            from g join ph on g.doc_id = ph.doc_id
                          and g.phrase_id = ph.phrase_id
            where g.is_stop = 0),
    stats as (select word, cast(count(*) as bigint) as freq,
                     cast(sum(phrase_len) as bigint) as degree
              from occ group by word),
    r as (select word, freq, degree,
                 cast(degree as double) / cast(freq as double) as score,
                 row_number() over (order by
                     cast(degree as double) / cast(freq as double) desc,
                     word) as rk
          from stats)
    select word, freq, degree, score, cast(rk as bigint) as rk
    from r where rk <= {_RAKE_TOP}
    """.replace("{_SW}", _SW),
    "text", "keywords", "window",
)
def txt_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clueso_spark.functions.text import STOPWORDS

    docs = (
        load_table_spread(spark, sf_dir, "documents")
        .withColumn("ws", tokens())
    )
    w = docs.select(
        "doc_id", F.posexplode("ws").alias("pos0", "word")
    ).select(
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
        "word",
        F.col("word").isin(*STOPWORDS).cast("int").alias("is_stop"),
    )
    wg = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, 0
    )
    g = persist_swap(
        spark,
        "rake_tokens",
        w.withColumn("phrase_id", F.sum("is_stop").over(wg)),
    )
    ph = (
        g.where(F.col("is_stop") == 0)
        .groupBy("doc_id", "phrase_id")
        .agg(F.count("*").cast("bigint").alias("phrase_len"))
    )
    occ = g.where(F.col("is_stop") == 0).join(
        ph, ["doc_id", "phrase_id"]
    )
    stats = occ.groupBy("word").agg(
        F.count("*").cast("bigint").alias("freq"),
        F.sum("phrase_len").cast("bigint").alias("degree"),
    )
    score = F.col("degree").cast("double") / F.col("freq").cast("double")
    # top-k FIRST via orderBy+limit (TakeOrderedAndProject), THEN rank
    # the k survivors -- the former partition-less row_number window
    # sorted the whole word-stats vocabulary through one task (the
    # graph_katz_centrality round-10 lesson; web-scale vocab is 1e8+
    # rows). The post-limit window is over exactly _RAKE_TOP rows.
    top = (
        stats.withColumn("score", score)
        .orderBy(F.col("score").desc(), "word")
        .limit(_RAKE_TOP)
    )
    rw = Window.orderBy(F.col("score").desc(), "word")
    return (
        top.withColumn("rk", F.row_number().over(rw).cast("bigint"))
        .select("word", "freq", "degree", "score", "rk")
    )


# ---------------------------------------------------------------------------
# Incremental corpus snapshot diff: the dataset-versioning audit --
# which documents a new snapshot adds, removes, or rewrites, per
# source. Snapshots are derived deterministically from the one corpus
# (hash buckets 0-8 = old, 1-9 = new; a second hash family marks the
# rewritten 5%), so the diff is exactly reproducible cross-engine.
# ---------------------------------------------------------------------------


@register(
    "pipeline_incremental_corpus_diff",
    "Corpus snapshot diff per source: old snapshot = md5 buckets 0-8, "
    "new = buckets 1-9, with 1-in-20 of the shared docs rewritten "
    "(second md5 family decides; rewritten text = reversed). Full-"
    "outer join on doc_id comparing content md5 -> exact "
    "added/removed/changed/unchanged counts. The planning audit every "
    "continuously-ingested corpus runs before re-training. Scale: one "
    "keyed full-outer join of two snapshot projections; content "
    "hashes compare without shipping text twice.",
    """
    with h as (
      select doc_id, source, text,
             cast(('0x' || substr(md5(cast(doc_id as varchar)), 1, 8))
                  as bigint) % 10 as b,
             cast(('0x' || substr(md5('chg' || cast(doc_id as varchar)),
                                  1, 8)) as bigint) % 20 as cb
      from documents
    ),
    old as (select doc_id, source,
                   md5(case when cb = 0 then reverse(text) else text end)
                     as h from h where b <= 8),
    new as (select doc_id, source, md5(text) as h from h where b >= 1),
    d as (
      select coalesce(o.source, n.source) as source,
             case when o.doc_id is null then 'added'
                  when n.doc_id is null then 'removed'
                  when o.h <> n.h then 'changed'
                  else 'unchanged' end as status
      from old o full outer join new n on o.doc_id = n.doc_id
    )
    select source,
           cast(sum(case when status = 'added' then 1 else 0 end)
                as bigint) as n_added,
           cast(sum(case when status = 'removed' then 1 else 0 end)
                as bigint) as n_removed,
           cast(sum(case when status = 'changed' then 1 else 0 end)
                as bigint) as n_changed,
           cast(sum(case when status = 'unchanged' then 1 else 0 end)
                as bigint) as n_unchanged
    from d group by source
    """,
    "pipeline", "versioning", "join",
)
def pipeline_incremental_corpus_diff(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
        ).cast("bigint")
        % 10
    )
    chg = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("chg"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 20
    )
    h = docs.select(
        "doc_id", "source", "text", bucket.alias("b"), chg.alias("cb")
    )
    old = h.where(F.col("b") <= 8).select(
        "doc_id",
        "source",
        F.md5(
            F.when(F.col("cb") == 0, F.reverse("text")).otherwise(
                F.col("text")
            )
        ).alias("h"),
    )
    new = h.where(F.col("b") >= 1).select(
        "doc_id", "source", F.md5("text").alias("h")
    )
    d = old.alias("o").join(
        new.alias("n"), F.col("o.doc_id") == F.col("n.doc_id"), "full_outer"
    )
    status = (
        F.when(F.col("o.doc_id").isNull(), "added")
        .when(F.col("n.doc_id").isNull(), "removed")
        .when(F.col("o.h") != F.col("n.h"), "changed")
        .otherwise("unchanged")
    )
    return (
        d.select(
            F.coalesce(F.col("o.source"), F.col("n.source")).alias("source"),
            status.alias("status"),
        )
        .groupBy("source")
        .agg(
            *[
                F.sum(F.when(F.col("status") == s, 1).otherwise(0))
                .cast("bigint")
                .alias(f"n_{s}")
                for s in ("added", "removed", "changed", "unchanged")
            ]
        )
    )

