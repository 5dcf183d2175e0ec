"""Operators staged in round 13, PROMOTED in round 15.

Same life-cycle as staged_r6 .. staged_r14 (all promoted): shipped in
round 13 as library code with full pytest parity coverage
(tests/test_staged_r15.py runs the exact driver comparison -- row
count + schema + order-insensitive value hash -- against DuckDB
oracles at sf0.001 and sf0.01) because rounds 13 and 14 had fully
allocated windows. Round 15's window arithmetic (tests/test_entry.py,
tools/rotation_plan.py): the 46-name r10 ROTATION_LEFTOVERS cohort is
mandatory, leaving exactly FOUR free slots -- this tier was sized to
that projection in round 13 and the arithmetic held, so all four
names promote without creating new deferral debt (registry
245 -> 249).

Four ops, all core training-data-pipeline shapes the catalog does not
yet carry:

  * word-level BPE merge training (`txt_bpe_merge_steps`) -- three
    plan-unrolled merge rounds: count adjacent token pairs, pick the
    most frequent (total order: count desc, pair asc), apply the
    merge corpus-wide with a greedy left-to-right fold, recount.
    Exactly the tokenizer-training loop (BPE / phrase mining) over a
    corpus, in pure DataFrame ops. The greedy fold (Spark
    ``aggregate``) is mirrored in the oracle by a doubled-space
    string replace whose left-to-right non-overlapping semantics are
    PROVEN equivalent on the adversarial consecutive-pair cases
    ("a a a a" -> two merges, "a a a" -> one) by planted tests and
    hypothesis randomization.
  * tokenizer vocab coverage (`txt_vocab_coverage_oov`) -- top-V
    corpus vocabulary, then per-source token counts, OOV counts, and
    permyriad OOV rate: the coverage audit run before committing a
    tokenizer to a corpus mix.
  * event-lateness audit (`ev_lateness_audit`) -- per-user
    out-of-order arrival profile in exact integer microseconds:
    arrival order = event_id (the ingestion sequence), lateness of an
    event = how far behind its user's running event-time high
    watermark it arrived. The measurement that sizes real streaming
    watermark delays.
  * deterministic random-walk corpus (`graph_randomwalk_corpus`) --
    node2vec-style trajectory generation over the customer-supplier
    co-purchase graph: one walk per start node, 3 plan-unrolled
    steps, the neighbor at each step selected by an md5 counter mod
    degree (deterministic, hash-verifiable "randomness"); output the
    full (walk, step, node) corpus.

100 TB notes per op live in the docstrings; the shared discipline:
per-step 1-row reductions broadcast, corpora touched by keyed
shuffles only, fixed plan-unrolled round counts, all comparisons in
exact integers or identical string arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clueso_spark.plans.catalog import persist_swap, register
from clueso_spark.plans.relational import SUPP_BASE, cust_supp_edges
from clueso_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# Word-level BPE merge training. Character-level BPE and word-level
# phrase mining share one loop: count adjacent symbol pairs, merge
# the most frequent pair everywhere, repeat. The corpus' tokens are
# space-separated words, so the op trains WORD-level merges (the
# phrase-mining configuration); the machinery is symbol-agnostic.
#
# Greedy left-to-right application (standard BPE): scanning tokens in
# order, a (L, R) adjacency merges iff the L was not itself just
# consumed by the previous merge -- "a a a a" merges twice, "a a a"
# once. Spark expresses that as ONE linear replace per document
# (the merged token is "L_R", a string no raw token equals, so the
# fold's last-element guard is exact). The oracle reproduces the same
# greedy semantics with a doubled-space string replace: doubling
# spaces makes consecutive disjoint occurrences stop sharing their
# delimiter, so DuckDB's left-to-right non-overlapping replace()
# consumes exactly the pairs the fold merges.
#
# 100 TB: each round = one map-side pair explode + ONE keyed count
# (partial-aggregated), a 1-row top-pair reduction broadcast back,
# and a map-only merge application; rounds are fixed (3) and
# plan-unrolled with the intermediate token frame persisted, the same
# discipline as the iterative graph ops. The pair-count shuffle keys
# on (left, right) -- vocabulary-sized, not corpus-sized.
# ---------------------------------------------------------------------------

_BPE_STEPS = 3


def _bpe_pairs(tok: DataFrame) -> DataFrame:
    """Adjacent (l, r) token pairs, exploded map-side.

    Length-guarded slices, NOT sequence(1, size-1): Spark's sequence()
    auto-steps DOWNWARD when start > stop, so a single-token doc would
    generate [1, 0] and index 0 out of bounds (hypothesis found it
    with texts=['a', 'a']); slice with a greatest(.., 0) length is
    empty for 0- and 1-token docs."""
    return tok.select(
        F.explode(
            F.expr(
                "zip_with("
                "slice(t, 1, greatest(size(t) - 1, 0)), "
                "slice(t, 2, greatest(size(t) - 1, 0)), "
                "(x, y) -> named_struct('l', x, 'r', y))"
            )
        ).alias("p")
    ).select("p.l", "p.r")


def _bpe_top_pair(pairs: DataFrame) -> DataFrame:
    """1-row (l, r, freq) frame: the most frequent pair, total order."""
    return (
        pairs.groupBy("l", "r")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.col("freq").desc(), "l", "r")
        .limit(1)
    )


_BPE_APPLY = """
filter(
  split(
    replace(concat(' ', replace(array_join(t, ' '), ' ', '  '), ' '),
            concat(' ', l, '  ', r, ' '),
            concat(' ', l, '_', r, ' ')),
    ' '),
  x -> x <> '')
"""
# The doubled-space replace IS the greedy left-to-right fold: doubling
# the delimiters makes consecutive disjoint (l, r) occurrences stop
# sharing a space, so a standard non-overlapping left-to-right
# replace() consumes exactly the adjacencies the fold merges ("a a a a"
# twice, "a a a" once) -- the identical construction (and equivalence
# argument, exercised on consecutive-pair adversaries by the hypothesis
# suite) the DuckDB oracle below has used since the op was staged. The
# previous formulation was a literal aggregate() fold with a
# last-element guard; semantically the same, but the per-token
# ``concat(acc, array(x))`` copies the accumulator each step -- an
# O(len^2) interpreted fold per document per merge round, which
# profiling showed dominated the query (r15-opt). The replace pipeline
# is O(len), whole-stage-codegen-friendly string work.


def _bpe_oracle() -> str:
    """Three unrolled merge steps; each = pair count -> top-1 ->
    doubled-space replace -> re-tokenize."""
    step_cte = """
p{i} as (
  select t[i.i] as l, t[i.i + 1] as r
  from t{prev}, unnest(range(1, len(t))) as i(i)
),
m{i} as (
  select l, r, count(*) as freq from p{i} group by l, r
  order by freq desc, l, r limit 1
),
t{i} as (
  select doc_id,
         list_filter(
           string_split(
             replace(' ' || replace(array_to_string(t, ' '), ' ', '  ')
                         || ' ',
                     ' ' || (select l from m{i}) || '  '
                         || (select r from m{i}) || ' ',
                     ' ' || (select l from m{i}) || '_'
                         || (select r from m{i}) || ' '),
             ' '),
           x -> x <> '') as t
  from t{prev}
)"""
    ctes = ",".join(
        step_cte.format(i=i, prev=i - 1) for i in range(1, _BPE_STEPS + 1)
    )
    selects = "\nunion all\n".join(
        f"""select {i} as step, (select l from m{i}) as pair_left,
       (select r from m{i}) as pair_right,
       cast((select freq from m{i}) as bigint) as freq,
       cast((select sum(len(t)) from t{i}) as bigint) as n_tokens_after"""
        for i in range(1, _BPE_STEPS + 1)
    )
    return f"""
    with t0 as (
      select doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') as t
      from documents
    ),
    {ctes}
    select * from ({selects}) order by step
    """


@register(
    "txt_bpe_merge_steps",
    f"Word-level BPE / phrase-mining training, {_BPE_STEPS} "
    "plan-unrolled merge rounds: per round, count adjacent token "
    "pairs (ONE vocabulary-keyed shuffle), take the most frequent "
    "pair (count desc, pair asc; 1-row broadcast), apply it "
    "corpus-wide with the greedy left-to-right merge as a linear "
    "doubled-space replace (map-only, proven equivalent to the "
    "per-token fold on consecutive-pair adversaries), recount. "
    "Output per round: the merged pair, its pre-merge frequency, and "
    "the corpus token count after application -- exact integers. "
    "Oracle uses the identical doubled-space construction.",
    _bpe_oracle(),
    "text", "bpe", "iterative", "tokenizer",
)
def txt_bpe_merge_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr("filter(split(text, ' '), x -> x <> '')").alias("t"),
    )
    out_rows = []
    for step in range(1, _BPE_STEPS + 1):
        tok = persist_swap(spark, f"bpe_tokens_{step}", tok)
        top = F.broadcast(_bpe_top_pair(_bpe_pairs(tok)))
        merged = tok.crossJoin(top).select(
            "doc_id", F.expr(_BPE_APPLY).alias("t"), "l", "r", "freq"
        )
        merged = persist_swap(spark, f"bpe_merged_{step}", merged)
        stats = merged.agg(
            F.lit(step).alias("step"),
            F.first("l").alias("pair_left"),
            F.first("r").alias("pair_right"),
            F.first("freq").cast("bigint").alias("freq"),
            F.sum(F.size("t")).cast("bigint").alias("n_tokens_after"),
        )
        out_rows.append(stats)
        tok = merged.select("doc_id", "t")
    out = out_rows[0]
    for frame in out_rows[1:]:
        out = out.unionByName(frame)
    return out.orderBy("step")


# ---------------------------------------------------------------------------
# Tokenizer vocabulary coverage / OOV audit. Before committing a
# tokenizer (or a fixed vocabulary) to a corpus mix, you measure what
# fraction of each source's tokens it covers; sources with high OOV
# either need vocab expansion or get down-weighted.
#
# 100 TB: the vocabulary is a top-V reduction over a
# vocabulary-keyed count (map-side partial, TakeOrdered V) and
# broadcasts; the corpus is then touched ONCE by a broadcast
# left-join + one source-keyed aggregate. Permyriad rates are integer
# division -- exact.
# ---------------------------------------------------------------------------

_VOCAB_TOP = 16


@register(
    "txt_vocab_coverage_oov",
    f"Tokenizer vocab coverage: build the top-{_VOCAB_TOP} corpus "
    "vocabulary (count desc, word asc), then per source report total "
    "tokens, OOV tokens, distinct OOV types, and the permyriad OOV "
    "rate (integer division). Vocabulary broadcasts; corpus touched "
    "once.",
    f"""
    with w as (
      select doc_id, source, unnest(string_split(text, ' ')) as w
      from documents
    ),
    tok as (select source, w from w where w <> ''),
    vocab as (
      select w from tok group by w
      order by count(*) desc, w limit {_VOCAB_TOP}
    )
    select source,
           cast(count(*) as bigint) as n_tokens,
           cast(sum(case when vocab.w is null then 1 else 0 end)
                as bigint) as n_oov,
           cast(count(distinct case when vocab.w is null then tok.w end)
                as bigint) as n_oov_types,
           cast(10000 * sum(case when vocab.w is null then 1 else 0 end)
                // count(*) as bigint) as oov_permyriad
    from tok left join vocab on tok.w = vocab.w
    group by source
    """,
    "text", "tokenizer", "coverage",
)
def txt_vocab_coverage_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = (
        load_table(spark, sf_dir, "documents")
        .select("source", F.explode(F.split("text", " ")).alias("w"))
        .where(F.col("w") != "")
    )
    vocab = F.broadcast(
        tok.groupBy("w")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), "w")
        .limit(_VOCAB_TOP)
        .select(F.col("w").alias("vw"))
    )
    joined = tok.join(vocab, F.col("w") == F.col("vw"), "left")
    oov = F.when(F.col("vw").isNull(), 1).otherwise(0)
    return joined.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.sum(oov).cast("bigint").alias("n_oov"),
        F.countDistinct(
            F.when(F.col("vw").isNull(), F.col("w"))
        ).cast("bigint").alias("n_oov_types"),
        F.expr("10000 * sum(case when vw is null then 1 else 0 end)"
               " div count(*)")
        .cast("bigint")
        .alias("oov_permyriad"),
    )


# ---------------------------------------------------------------------------
# Event-lateness audit. Streaming watermark delays (the 1 h used by
# every st_* op) are not guessed, they are MEASURED: for each event,
# how far behind its stream's event-time high watermark did it
# arrive? The testdata's event_id sequence is time-ordered, so the
# op models the arrival order a real consumer actually sees: events
# ingest through {_LATE_SHARDS} parallel shards (md5(event_id) mod
# {_LATE_SHARDS} -- Kafka partitions), and the consumer merges them
# round-robin (arrival key = position-within-shard, then shard).
# Cross-shard skew makes the merged order genuinely out-of-order
# (58% of sf0.001 events arrive late), which is exactly the
# phenomenon watermark delays exist to absorb.
#
# 100 TB: one shard-keyed window (position within shard) + one
# user-keyed window (running event-time max over arrival order) +
# one user-keyed aggregate -- every stage keyed, no global ordering
# anywhere. Exact integer microseconds end-to-end.
# ---------------------------------------------------------------------------

_LATE_SHARDS = 8


@register(
    "ev_lateness_audit",
    f"Per-user out-of-order arrival audit in exact integer "
    f"microseconds: events ingest via {_LATE_SHARDS} md5 shards and "
    "arrive round-robin (position-within-shard, shard); an event is "
    "LATE iff its event time is behind the running max event time of "
    "the user's earlier-arriving events; report per user the event "
    "count, late count, total and max lateness, and the permyriad "
    "late rate. The measurement that sizes streaming watermark "
    "delays.",
    f"""
    with s as (
      select user_id, event_id, epoch_us(ts) as t_us,
             cast(('0x' || substr(md5(cast(event_id as varchar)), 1, 8))
                  as bigint) % {_LATE_SHARDS} as shard
      from events
    ),
    o as (
      select *, row_number() over (partition by shard order by event_id)
                as pos
      from s
    ),
    scored as (
      select user_id,
             case when hw_us is not null and hw_us > t_us
                  then hw_us - t_us else 0 end as late_us
      from (
        select user_id, t_us,
               max(t_us) over (
                 partition by user_id order by pos, shard
                 rows between unbounded preceding and 1 preceding
               ) as hw_us
        from o
      )
    )
    select user_id,
           cast(count(*) as bigint) as n_events,
           cast(sum(case when late_us > 0 then 1 else 0 end) as bigint)
             as n_late,
           cast(sum(late_us) as bigint) as total_late_us,
           cast(max(late_us) as bigint) as max_late_us,
           cast(10000 * sum(case when late_us > 0 then 1 else 0 end)
                // count(*) as bigint) as late_permyriad
    from scored
    group by user_id
    """,
    "events", "window", "audit", "streaming-ops",
)
def ev_lateness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    shard = (
        F.conv(
            F.substring(F.md5(F.col("event_id").cast("string")), 1, 8),
            16,
            10,
        ).cast("bigint")
        % _LATE_SHARDS
    )
    sw = Window.partitionBy("shard").orderBy("event_id")
    uw = (
        Window.partitionBy("user_id")
        .orderBy("pos", "shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    o = (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id",
            "event_id",
            F.unix_micros("ts").alias("t_us"),
            shard.alias("shard"),
        )
        .withColumn("pos", F.row_number().over(sw))
    )
    ordered = o.select(
        "user_id", "t_us", F.max("t_us").over(uw).alias("hw_us")
    )
    late = F.when(
        F.col("hw_us").isNotNull() & (F.col("hw_us") > F.col("t_us")),
        F.col("hw_us") - F.col("t_us"),
    ).otherwise(F.lit(0))
    return (
        ordered.select("user_id", late.alias("late_us"))
        .groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(F.when(F.col("late_us") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_late"),
            F.sum("late_us").cast("bigint").alias("total_late_us"),
            F.max("late_us").cast("bigint").alias("max_late_us"),
            F.expr(
                "10000 * sum(case when late_us > 0 then 1 else 0 end)"
                " div count(*)"
            )
            .cast("bigint")
            .alias("late_permyriad"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic random-walk corpus generation. Graph-embedding
# pipelines (DeepWalk / node2vec) consume a corpus of random-walk
# trajectories; at scale the walks ARE the training data. The walk
# step "pick a uniform random neighbor" becomes hash-verifiable by
# drawing the choice from md5(walk_id, step) mod degree over the
# node's SORTED neighbor array -- deterministic across engines,
# uniform enough for corpus generation (same discipline as the
# catalog's other md5-derived pseudo-randomness).
#
# 100 TB: the neighbor index is ONE keyed window pass over the edge
# list (sorted position + degree computed together on the same
# partition key), persisted once; each of the 3 unrolled steps is one
# equi-join of the walk frontier against it on u alone, with the
# md5-pick applied as a residual join condition -- the same per-round
# shuffle the iterative graph ops pay, with no separate degree-lookup
# join. Walks never leave the frame driver-side.
# ---------------------------------------------------------------------------

_WALK_STEPS = 3


def _walk_step_sql(i: int) -> str:
    return f"""
w{i} as (
  select w.walk_id, {i} as step,
         nb.nbrs[1 + cast(('0x' || substr(md5(w.walk_id || '_' || {i}),
                                          1, 8)) as bigint)
                     % nb.deg] as node
  from w{i - 1} w join nb on nb.u = w.node
)"""


@register(
    "graph_randomwalk_corpus",
    f"Deterministic random-walk corpus (DeepWalk/node2vec input): one "
    f"walk per node of the symmetric customer-supplier co-purchase "
    f"graph, {_WALK_STEPS} plan-unrolled steps; step t moves to "
    "sorted-neighbors[md5(walk_id, t) mod degree]. Output the full "
    "(walk_id, step, node) trajectory corpus, exact and "
    "hash-verifiable.",
    f"""
    with e0 as (
      select distinct o_custkey as c, l_suppkey as s
      from orders join lineitem on o_orderkey = l_orderkey
    ),
    edges as (
      select c as u, {SUPP_BASE} + s as v from e0
      union all
      select {SUPP_BASE} + s as u, c as v from e0
    ),
    nb as (
      select u, list_sort(list(v)) as nbrs, count(*) as deg
      from edges group by u
    ),
    w0 as (select u as walk_id, 0 as step, u as node from nb),
    {",".join(_walk_step_sql(i).strip() for i in range(1, _WALK_STEPS + 1))}
    select walk_id, cast(step as bigint) as step, node
    from (select * from w0
          {" ".join(f"union all select * from w{i}"
                    for i in range(1, _WALK_STEPS + 1))})
    """,
    "graph", "randomwalk", "corpus", "iterative",
)
def graph_randomwalk_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = cust_supp_edges(spark, sf_dir)
    # indexed-edge layout instead of per-node neighbor ARRAYS: the
    # sorted-neighbor position becomes a row_number, so each walk step
    # is a scalar equi-join -- no wide array columns ever cross a
    # shuffle (at 100 TB a hot node's array would not even fit a row;
    # the indexed layout spreads it across rows). The edge row carries
    # BOTH endpoint degrees: deg(u) from a count over the same
    # partition key as the neighbor index (free), and deg(v) from one
    # extra v-keyed window at build time (ADVICE r15). Carrying deg(v)
    # lets each step's frontier row know the degree of the node it
    # stands on, so the md5-pick (idx = 1 + hash % deg) is computed on
    # the FRONTIER side and the step join is a true TWO-KEY equi-join
    # on (u, idx) -- an exact lookup. With the pick as a residual
    # condition instead (the r15 shape), Spark joined on u alone and
    # scanned every edge row in the key group per walker: O(deg(u))
    # work concentrated in one task at a hot node, the within-key skew
    # AQE cannot split. The (u, idx) hash spreads a hot node's edge
    # rows and its walkers across partitions -- one build-time exchange
    # buys per-step skew immunity.
    # the persisted index is repartitioned on the FULL step-join key
    # pair (u, idx) once at build: every step join then reuses the
    # stored partitioning for the edge side (partitioned on all join
    # keys), so only the walker-sized frontier shuffles per step --
    # never the edge index -- and a hot node's edge rows spread across
    # partitions by (u, idx) instead of landing in one task
    ew = Window.partitionBy("u").orderBy("v")
    ed = Window.partitionBy("u")
    evd = Window.partitionBy("v")
    eidx = edges.withColumn(
        "vdeg", F.count("*").over(evd).cast("bigint")
    ).select(
        "u",
        "v",
        F.row_number().over(ew).cast("bigint").alias("idx"),
        F.count("*").over(ed).cast("bigint").alias("deg"),
        "vdeg",
    ).repartition("u", "idx").sortWithinPartitions("u", "idx")
    eidx = persist_swap(spark, "walk_eidx", eidx)

    # one walk per node: the idx=1 edge row is exactly one row per u
    # (no aggregate needed to enumerate the node set); it also carries
    # the node's degree for the first pick
    frontier = eidx.where(F.col("idx") == 1).select(
        F.col("u").alias("walk_id"),
        F.lit(0).cast("bigint").alias("step"),
        F.col("u").alias("node"),
        F.col("deg").alias("ndeg"),
    )
    out = frontier.select("walk_id", "step", "node")
    for i in range(1, _WALK_STEPS + 1):
        step_edges = eidx.select(
            F.col("u").alias("eu"),
            F.col("v").alias("ev"),
            F.col("idx").alias("eidx"),
            F.col("vdeg").alias("evdeg"),
        )
        pick = (
            F.lit(1)
            + F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "_",
                            F.col("walk_id").cast("string"),
                            F.lit(i),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % F.col("ndeg")
        )
        nxt = (
            frontier.withColumn("pick", pick)
            .join(
                step_edges,
                (F.col("eu") == F.col("node"))
                & (F.col("eidx") == F.col("pick")),
            )
            .select(
                "walk_id",
                F.lit(i).cast("bigint").alias("step"),
                F.col("ev").alias("node"),
                F.col("evdeg").alias("ndeg"),
            )
        )
        nxt = persist_swap(spark, f"walk_step_{i}", nxt)
        out = out.unionByName(nxt.select("walk_id", "step", "node"))
        frontier = nxt
    return out

