"""Operators staged in round 13, PROMOTED in round 14.

Same life-cycle as staged_r6 .. staged_r13 (all promoted): shipped in
round 13 as library code with full pytest parity coverage
(tests/test_staged_r14.py runs the exact driver comparison -- row
count + schema + order-insensitive value hash -- against DuckDB
oracles at sf0.001 and sf0.01) because the round-13 driver window (50
slots) was fully allocated. Round 14's window arithmetic
(tests/test_entry.py, tools/rotation_plan.py): the 47-name r9
ROTATION_LEFTOVERS cohort is mandatory, leaving exactly THREE free
slots -- this tier was sized to that capacity, so all three names
promote without creating new deferral debt (registry 242 -> 245).

The three ops extend the two tiers the catalog is thinnest in relative
to a modern retrieval/training-data stack:

  * stream-stream LEFT OUTER join (`st_stream_stream_outer_join`) --
    the inner variant (st_stream_stream_join) plus watermark-gated
    null-match emission: unmatched clicks surface exactly when the
    join state watermark passes their match horizon. The eviction
    boundary was pinned EMPIRICALLY with planted boundary events
    (tests/test_staged_r14.py): watermark = floor-to-millisecond of
    the per-stream max event time minus the delay, global = min of
    the two streams, and a left row emits a null match iff
    c_ts + range <= watermark (microsecond-precision c_ts, NON-strict
    inequality). The oracle replicates that arithmetic in exact
    integer microseconds.
  * multi-vector late-interaction retrieval (`sim_colbert_maxsim`) --
    ColBERT-style MaxSim: each 64-d vector is treated as 8 token
    sub-vectors of 8 dims; score(q, d) = sum over query sub-vectors
    of the max dot product against any doc sub-vector. The whole
    MaxSim is ONE nested higher-order expression per (probe, doc)
    row -- transform/array_max/aggregate -- so the corpus is scanned
    once with zero intermediate shuffles; the left-fold double sum is
    bit-identical to DuckDB's list_reduce over the same per-element
    bit-identical dot products.
  * reciprocal-rank fusion (`sim_rrf_fusion`) -- hybrid retrieval:
    fuse a dense cosine top-R list (embeddings) with a lexical
    word-overlap top-R list (documents) via RRF in EXACT integers
    (1e9 div (60 + rank)); ids present in only one arm score with
    that arm alone, mirroring standard RRF over partial rankings.

100 TB notes per op live in the docstrings; the shared discipline:
probes broadcast, corpora touched once by broadcast joins + top-k
windows (TakeOrdered shapes), streaming state bounded by watermarks,
all comparisons in exact integers or bit-identical double arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clueso_spark.plans.catalog import register
from clueso_spark.plans.similarity_queries import N_PROBES

_HOUR_US = 3_600_000_000

# ---------------------------------------------------------------------------
# Stream-stream LEFT OUTER join. The inner variant
# (streaming_queries.st_stream_stream_join) proves bounded-state range
# joins; the OUTER variant adds the semantics production funnels
# actually need -- "which clicks never converted?" -- which is only
# expressible in streaming via watermark-gated null emission: an
# unmatched left row may surface ONLY once the watermark proves no
# future right row can match it.
#
# Emission contract (pinned empirically with planted boundary events,
# tests/test_staged_r14.py::test_outer_join_eviction_boundary):
#   wm_stream = floor_ms(max event time of that stream) - delay
#   wm        = min(wm_click, wm_purchase)          [both delays = 1 h]
#   a click with no match emits (click, NULL) iff c_ts + 1h <= wm,
#   with c_ts at FULL microsecond precision (only the watermark is
#   millisecond-truncated) and a NON-strict boundary.
# Clicks inside the trailing window stay in state forever on a finite
# source -- the honest streaming answer, and the oracle replicates it.
#
# 100 TB: state is bounded by watermark + range on both sides exactly
# as the inner variant; the extra null-emission pass rides the same
# state store eviction scan, so the op runs indefinitely at the same
# cost. The oracle needs the batch left join plus two scalar maxes.
# Caveat (documented, asserted in tests): parity holds when the
# source feeds availableNow in ONE batch (single-file testdata);
# multi-batch replays can evict right rows before a late left row
# arrives, which is inherent to streaming outer joins, not this plan.
# ---------------------------------------------------------------------------


@register(
    "st_stream_stream_outer_join",
    "Stream-stream LEFT OUTER join: clicks left-joined to purchases "
    "within 1 h after the click (event-time range, both sides "
    "watermarked 1 h). Matched rows emit like the inner join; "
    "unmatched clicks emit (click, NULL purchase) exactly when the "
    "watermark -- min over both streams of floor-to-ms(max event "
    "time) - 1 h -- passes c_ts + 1 h (non-strict, microsecond c_ts). "
    "Oracle: batch range join UNION ALL the anti-join rows under the "
    "same integer-microsecond eviction predicate.",
    f"""
    with c as (select event_id as click_id, user_id,
                      epoch_us(ts) as c_us
               from events where event_type = 'click'),
    p as (select event_id as purchase_id, user_id as p_user,
                 epoch_us(ts) as p_us
          from events where event_type = 'purchase'),
    wm as (select least((select (max(c_us) // 1000) * 1000 from c),
                        (select (max(p_us) // 1000) * 1000 from p))
                  - {_HOUR_US} as w),
    matched as (
      select c.click_id, p.purchase_id, c.user_id
      from c join p on c.user_id = p.p_user
       and p.p_us >= c.c_us and p.p_us < c.c_us + {_HOUR_US}),
    unmatched as (
      select c.click_id, cast(null as bigint) as purchase_id, c.user_id
      from c
      where not exists (select 1 from p where p.p_user = c.user_id
              and p.p_us >= c.c_us and p.p_us < c.c_us + {_HOUR_US})
        and c.c_us + {_HOUR_US} <= (select w from wm))
    select * from matched union all select * from unmatched
    """,
    "streaming", "join", "outer", "watermark",
)
def st_stream_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clueso_spark.plans.streaming_queries import (
        run_on_state_sized_session,
    )

    # state partitioning binds at query start; run on a cloned session
    # with an input-sized count so the override cannot leak to
    # concurrent queries (see run_on_state_sized_session)
    return run_on_state_sized_session(
        spark,
        sf_dir,
        lambda s: _outer_join_plan(s, sf_dir),
        "st_stream_stream_outer_join_sink",
    )


def _outer_join_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clueso_spark.plans.streaming_queries import events_stream

    clicks = (
        events_stream(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        events_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    return clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") < F.col("c_ts") + F.expr("interval 1 hour")),
        "left_outer",
    ).select("click_id", "purchase_id", "user_id")


# ---------------------------------------------------------------------------
# ColBERT-style MaxSim late interaction. Real multi-vector retrieval
# stores one embedding PER TOKEN and scores
# sum_i max_j <q_i, d_j> -- late interaction beats single-vector
# retrieval on fine-grained matches. The testdata carries one 64-d
# vector per doc, so the op treats it as 8 token sub-vectors of 8
# dims (the Matryoshka-style chunking the tier already uses for PQ
# codes); the Spark-side plumbing -- sub-vector layout, nested
# higher-order scoring, top-k -- is exactly what per-token embeddings
# need at scale.
#
# 100 TB: the 5 probe vectors broadcast; the corpus is scanned ONCE
# and the entire MaxSim (64 sub-dot products + 8 maxes + 1 left-fold
# sum) evaluates inside a single projection per (probe, doc) row --
# zero shuffles before the final per-probe top-k window
# (TakeOrdered-shaped: 5 x TOP_K rows). Determinism: each 8-dim dot
# is the same left-fold both engines proved bit-identical for the
# similarity tier (_DOT vs list_dot_product); array_max picks the
# same element; the outer sum left-folds doubles in sub-vector order
# (Spark aggregate === DuckDB list_reduce), so every score is
# bit-identical without decimal bridging.
# ---------------------------------------------------------------------------

_MV_SUB = 8  # sub-vectors per embedding
_MV_DIM = 8  # dims per sub-vector (8 x 8 = DIM 64)
_MV_TOPK = 10


def _maxsim_expr(pv: str, v: str) -> str:
    """sum_i max_j dot(pv[i], v[j]) as one nested Spark SQL expression."""
    dot = (
        f"aggregate(zip_with(slice({pv}, i * {_MV_DIM} + 1, {_MV_DIM}), "
        f"slice({v}, j * {_MV_DIM} + 1, {_MV_DIM}), "
        "(x, y) -> x * y), 0D, (acc, t) -> acc + t)"
    )
    maxes = (
        f"transform(sequence(0, {_MV_SUB - 1}), i -> "
        f"array_max(transform(sequence(0, {_MV_SUB - 1}), j -> {dot})))"
    )
    return f"aggregate({maxes}, 0D, (acc, m) -> acc + m)"


@register(
    "sim_colbert_maxsim",
    f"Multi-vector late-interaction (ColBERT MaxSim) top-{_MV_TOPK}: "
    f"each 64-d embedding = {_MV_SUB} token sub-vectors of {_MV_DIM} "
    f"dims; score(q, d) = sum over q sub-vectors of max dot against "
    f"any d sub-vector, for {N_PROBES} broadcast probes over one "
    "corpus scan -- the whole MaxSim is a single nested higher-order "
    "projection (zero pre-top-k shuffles). Scores bit-identical "
    "across engines: per-sub-dot left-folds match list_dot_product, "
    "and the outer sum left-folds in sub-vector order (aggregate === "
    "list_reduce).",
    f"""
    with e as (select vec_id,
                      list_transform(embedding, x -> cast(x as double)) v
               from embeddings),
    probes as (select vec_id as probe_id, v as pv from e
               where vec_id < {N_PROBES}),
    scored as (
      select probe_id, e.vec_id,
             list_reduce(
               list_transform(range({_MV_SUB}), i ->
                 list_max(list_transform(range({_MV_SUB}), j ->
                   list_dot_product(
                     list_slice(pv, i * {_MV_DIM} + 1, i * {_MV_DIM} + {_MV_DIM}),
                     list_slice(e.v, j * {_MV_DIM} + 1, j * {_MV_DIM} + {_MV_DIM}))))),
               (acc, m) -> acc + m) as score
      from probes join e on e.vec_id <> probe_id
    ),
    ranked as (
      select probe_id, vec_id, score,
             row_number() over (partition by probe_id
                                order by score desc, vec_id) as rk
      from scored
    )
    select probe_id, vec_id, round(score, 6) as maxsim,
           cast(rk as bigint) as rk
    from ranked where rk <= {_MV_TOPK}
    """,
    "similarity", "ann", "multivector", "broadcast",
)
def sim_colbert_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clueso_spark.plans.similarity_queries import _emb

    emb = _emb(spark, sf_dir).select("vec_id", "v")
    probes = F.broadcast(
        emb.where(F.col("vec_id") < N_PROBES).select(
            F.col("vec_id").alias("probe_id"), F.col("v").alias("pv")
        )
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("score").desc(), F.col("vec_id")
    )
    return (
        probes.join(emb, F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "vec_id",
            F.expr(_maxsim_expr("pv", "v")).alias("score"),
        )
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rk") <= _MV_TOPK)
        .select(
            "probe_id", "vec_id", F.round("score", 6).alias("maxsim"), "rk"
        )
    )


# ---------------------------------------------------------------------------
# Reciprocal-rank fusion. The standard way production search fuses a
# dense (vector) ranker with a lexical (keyword) ranker without score
# calibration: rrf(d) = sum over rankers of 1 / (60 + rank_d). Both
# component rankers already exist in the catalog in stronger forms
# (sim_bruteforce_topk, txt_bm25_topk); this op is the FUSION
# operator, in exact integers (1e9 div (60 + rank)) so the output
# hash-verifies.
#
# Probe p (vec_id < 5) fuses:
#   dense arm: cosine top-20 over embeddings (self excluded) --
#     broadcast probes, one corpus scan, per-probe top-k window;
#   lexical arm: distinct-word overlap top-20 over documents whose
#     overlap > 0 (self excluded) -- probe word lists explode to a
#     (word -> probe) broadcast join, ONE keyed aggregate counts
#     shared words, per-probe top-k window. Ids present in one arm
#     only score with that arm (standard RRF over partial rankings);
#     missing component ranks surface as 0.
#
# 100 TB: both arms are broadcast-probe + single-scan + top-k-heap
# shapes; the fusion joins two 5x20-row lists -- negligible. The
# lexical arm's word join keys on (word), whose fanout is bounded by
# the probe vocabulary (5 docs' distinct words), not the corpus
# vocabulary; a real deployment would swap in the BM25 postings
# already proven in txt_bm25_topk.
# ---------------------------------------------------------------------------

_RRF_K = 60
_RRF_ARM_TOPK = 20
_RRF_TOPK = 10
_RRF_SCALE = 1_000_000_000


@register(
    "sim_rrf_fusion",
    f"Hybrid retrieval via reciprocal-rank fusion: per probe "
    f"(vec_id < {N_PROBES}), fuse the dense cosine top-"
    f"{_RRF_ARM_TOPK} (embeddings) with the lexical distinct-word-"
    f"overlap top-{_RRF_ARM_TOPK} (documents) by "
    f"rrf = {_RRF_SCALE} div ({_RRF_K} + rank) summed over the arms "
    f"containing the id (exact integers); output the fused top-"
    f"{_RRF_TOPK} with both component ranks (0 = absent from that "
    "arm).",
    f"""
    with e as (select vec_id,
                      list_transform(embedding, x -> cast(x as double)) v
               from embeddings),
    n as (select vec_id, v, list_dot_product(v, v) sq from e),
    dprobes as (select vec_id as probe_id, v as pv, sq as psq from n
                where vec_id < {N_PROBES}),
    dense as (
      select probe_id, vec_id as id,
             row_number() over (partition by probe_id order by
               list_dot_product(pv, n.v) / (sqrt(psq) * sqrt(n.sq)) desc,
               vec_id) as drk
      from dprobes join n on n.vec_id <> probe_id
    ),
    dense_top as (select * from dense where drk <= {_RRF_ARM_TOPK}),
    words as (
      select distinct doc_id, w
      from (select doc_id, unnest(string_split(text, ' ')) as w
            from documents)
      where w <> ''
    ),
    lprobes as (select doc_id as probe_id, w from words
                where doc_id < {N_PROBES}),
    overlap as (
      select lprobes.probe_id, words.doc_id as id,
             count(*) as n_shared
      from lprobes join words on lprobes.w = words.w
       and words.doc_id <> lprobes.probe_id
      group by 1, 2
    ),
    lex as (
      select probe_id, id,
             row_number() over (partition by probe_id
                                order by n_shared desc, id) as lrk
      from overlap
    ),
    lex_top as (select * from lex where lrk <= {_RRF_ARM_TOPK}),
    fused as (
      select coalesce(d.probe_id, l.probe_id) as probe_id,
             coalesce(d.id, l.id) as id,
             coalesce(d.drk, 0) as dense_rk,
             coalesce(l.lrk, 0) as lex_rk,
             coalesce({_RRF_SCALE} // ({_RRF_K} + d.drk), 0)
               + coalesce({_RRF_SCALE} // ({_RRF_K} + l.lrk), 0) as rrf
      from dense_top d
      full outer join lex_top l
        on d.probe_id = l.probe_id and d.id = l.id
    ),
    ranked as (
      select probe_id, id, rrf, dense_rk, lex_rk,
             row_number() over (partition by probe_id
                                order by rrf desc, id) as rk
      from fused
    )
    select probe_id, id, cast(rrf as bigint) as rrf_score,
           cast(dense_rk as bigint) as dense_rk,
           cast(lex_rk as bigint) as lex_rk,
           cast(rk as bigint) as rk
    from ranked where rk <= {_RRF_TOPK}
    """,
    "similarity", "fusion", "hybrid", "broadcast",
)
def sim_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clueso_spark.plans.similarity_queries import _emb
    from clueso_spark.sources.tables import load_table

    # dense arm: cosine top-R, the tier's proven-identical arithmetic
    emb = _emb(spark, sf_dir)
    dprobes = F.broadcast(
        emb.where(F.col("vec_id") < N_PROBES).select(
            F.col("vec_id").alias("probe_id"),
            F.col("v").alias("pv"),
            F.col("sq").alias("psq"),
        )
    )
    dot = (
        "aggregate(zip_with(pv, v, (x, y) -> x * y), 0D, "
        "(acc, t) -> acc + t)"
    )
    cos = F.expr(dot) / (F.sqrt(F.col("psq")) * F.sqrt(F.col("sq")))
    dw = Window.partitionBy("probe_id").orderBy(
        F.col("cos").desc(), F.col("id")
    )
    dense_top = (
        dprobes.join(emb, F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", F.col("vec_id").alias("id"), cos.alias("cos"))
        .withColumn("drk", F.row_number().over(dw))
        .where(F.col("drk") <= _RRF_ARM_TOPK)
        .select("probe_id", "id", "drk")
    )

    # lexical arm: distinct-word overlap top-R
    words = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .where(F.col("w") != "")
        .distinct()
    )
    lprobes = F.broadcast(
        words.where(F.col("doc_id") < N_PROBES).select(
            F.col("doc_id").alias("probe_id"), "w"
        )
    )
    lw = Window.partitionBy("probe_id").orderBy(
        F.col("n_shared").desc(), F.col("id")
    )
    lex_top = (
        lprobes.join(words.withColumnRenamed("doc_id", "id"), "w")
        .where(F.col("id") != F.col("probe_id"))
        .groupBy("probe_id", "id")
        .agg(F.count("*").alias("n_shared"))
        .withColumn("lrk", F.row_number().over(lw))
        .where(F.col("lrk") <= _RRF_ARM_TOPK)
        .select("probe_id", "id", "lrk")
    )

    rrf = F.coalesce(
        F.expr(f"{_RRF_SCALE} div ({_RRF_K} + drk)"), F.lit(0)
    ) + F.coalesce(F.expr(f"{_RRF_SCALE} div ({_RRF_K} + lrk)"), F.lit(0))
    fw = Window.partitionBy("probe_id").orderBy(
        F.col("rrf_score").desc(), F.col("id")
    )
    return (
        dense_top.join(lex_top, ["probe_id", "id"], "full_outer")
        .select(
            "probe_id",
            "id",
            rrf.cast("bigint").alias("rrf_score"),
            F.coalesce("drk", F.lit(0)).cast("bigint").alias("dense_rk"),
            F.coalesce("lrk", F.lit(0)).cast("bigint").alias("lex_rk"),
        )
        .withColumn("rk", F.row_number().over(fw).cast("bigint"))
        .where(F.col("rk") <= _RRF_TOPK)
        .select("probe_id", "id", "rrf_score", "dense_rk", "lex_rk", "rk")
    )

