"""Operators staged in round 5, PROMOTED into the live catalog in round 6.

These shipped in round 5 as library code with full pytest parity
coverage (tests/test_staged_r6.py runs the exact driver comparison --
row count + schema + order-insensitive value hash -- against their
DuckDB oracles at sf0.001 and sf0.01) because the round-5 driver window
was fully allocated by the rotation policy. Round 6 executed the
promotion: this module is in catalog.QUERY_MODULES, registers at
import, and every name sits inside the round-6 driver verification
window (catalog.PRIORITY[:50] == ROUND6_WINDOW below).

Reference parity note: like the rest of the LLM-pipeline tier these have
no analog in the reference engine (its surface is the metadata
query/merge path, ``MetadataIngestionPipeline.scala`` /
``SearchMetadataSpec``); they extend the engine along the
training-data-curation axis the build brief demands, composed from the
same verified primitives (tokens(), lsh_bucket(), exact integer
arithmetic bridges).

Determinism contract: identical to plans/catalog.py -- exact bigint /
integer-division arithmetic wherever a float sum would be
order-sensitive; doubles only as the final step of identical IEEE
operation chains both engines execute bit-equally; every computed column
aliased identically on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clueso_spark.functions.text import stopword_count, tokens
from clueso_spark.plans.catalog import register
from clueso_spark.plans.text_queries import _SW
from clueso_spark.sources.tables import load_table, load_table_spread

#: The EXECUTED round-6 driver window (50 slots), now HISTORY: frozen
#: and asserted equal to the CORRECTNESS_r06.json key set by
#: tests/test_staged_r6.py (catalog.PRIORITY[:50] is the round-7
#: window and has moved on). Honesty correction (VERDICT.md r6): the
#: four "changed-code" names at the head re-verified fine, but only
#: pipeline_sequence_packing's code had actually changed in round 6 --
#: the other three claimed fixes landed in round 7.
ROUND6_WINDOW = [
    # changed-code cohort: re-verify first
    "sim_mmr_rerank",
    "pipeline_sequence_packing",
    "ev_rfm_segmentation",
    "pipeline_pretraining_funnel",
    # staged tier (verification-first: never driver-verified)
    "txt_gopher_quality_rules",
    "pipeline_ccnet_buckets",
    "sim_knn_join",
    "pipeline_token_budget_mix",
    "txt_zipf_slope",
    "pipeline_length_filter_curve",
    "txt_quality_classifier_proxy",
    "dedup_containment",
    "txt_char_entropy",
    "txt_lexical_diversity",
    "pipeline_dedup_keep_best",
    "sim_range_search",
    "st_windowed_topk",
    "graph_node_similarity",
    "dedup_incremental_minhash",
    "txt_bigram_perplexity",
    "pipeline_dedup_cluster_stats",
    # r2 leftovers (oldest greens anywhere)
    "profile_lineitem",
    "sort_limit_top_orders",
    # r3 cohort: 27 of 37 (9 trivial/stable rows deferred to round 7,
    # see ROUND6_LEFTOVERS)
    "sim_ivf_cells",
    "sim_kmeans_lloyd",
    "sim_pq_codes",
    "sim_residual_norms",
    "sim_ann_recall_at_k",
    "sim_ivf_kmeans_ann",
    "txt_tf_df_top_terms",
    "txt_token_stats",
    "txt_lang_stats",
    "txt_top_bigrams",
    "txt_quality_score",
    "txt_langid_heuristic",
    "pipeline_train_test_split",
    "pipeline_doc_chunking",
    "st_dedup_replay",
    "st_session_windows",
    "st_stream_stream_join",
    "st_windowed_counts",
    "ev_latest_state",
    "ev_funnel_conversion",
    "ev_retention_cohorts",
    "ev_skew_salted_agg",
    "ev_sessionize",
    "ev_asof_last_purchase",
    "ev_gap_fill_forward",
    "mm_frame_sample",
    "mm_fixed_shape_features",
]

#: the 9 green rows the round-6 window could not fit (history; they
#: entered round 7's window as promised -- catalog.PRIORITY section 2)
ROUND6_LEFTOVERS = (
    "ev_message_flatten",
    "ev_result_projection",
    "ev_version_filter",
    "ev_isin_subpartitions",
    "dedup_exact_summary",
    "agg_approx_count_distinct",
    "agg_approx_percentile",
    "mm_modality_stats",
    "window_time_range_frame",
)


# ---------------------------------------------------------------------------
# Gopher-style document quality rules (Rae et al. 2021, Appendix A):
# word-count band, mean-word-length band, minimum stopword evidence.
# Thresholds are adapted to the synthetic corpus (single-space word
# salad: no symbols, all-alphabetic tokens -- the symbol-ratio and
# alpha-fraction rules would be constant here and are documented out).
# ---------------------------------------------------------------------------

_G_WC_LO, _G_WC_HI = 20, 90
_G_MWL_LO, _G_MWL_HI = 3.0, 4.6
_G_MIN_SW = 2


@register(
    "txt_gopher_quality_rules",
    "Gopher-style quality-rule audit per source: word-count band "
    f"[{_G_WC_LO},{_G_WC_HI}], mean-word-length band "
    f"[{_G_MWL_LO},{_G_MWL_HI}], >= {_G_MIN_SW} stopword hits; exact "
    "per-rule failure counts and the surviving-document count. Scale: "
    "map-only per-doc flags, one partial-aggregated groupBy on source "
    "-- the same shape txt_lang_stats runs.",
    f"""
    with t as (select source, n_chars, length(text) as lc,
                      string_split(text, ' ') w from documents),
    f as (select source,
                 len(w) between {_G_WC_LO} and {_G_WC_HI} as ok_wc,
                 (lc - len(w) + 1)::double / len(w)
                   between {_G_MWL_LO} and {_G_MWL_HI} as ok_mwl,
                 len(list_filter(w, x -> x in ({_SW}))) >= {_G_MIN_SW}
                   as ok_sw
          from t)
    select source,
           cast(count(*) as bigint) as n_docs,
           cast(sum(case when ok_wc then 0 else 1 end) as bigint)
             as fail_word_count,
           cast(sum(case when ok_mwl then 0 else 1 end) as bigint)
             as fail_word_len,
           cast(sum(case when ok_sw then 0 else 1 end) as bigint)
             as fail_stopword,
           cast(sum(case when ok_wc and ok_mwl and ok_sw then 1 else 0 end)
                as bigint) as n_pass
    from f group by source
    """,
    "text", "quality", "pipeline",
)
def txt_gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").withColumn("w", tokens())
    n_tok = F.size("w")
    mwl = (F.length("text") - n_tok + 1).cast("double") / n_tok
    ok_wc = n_tok.between(_G_WC_LO, _G_WC_HI)
    ok_mwl = mwl.between(_G_MWL_LO, _G_MWL_HI)
    ok_sw = stopword_count("w") >= _G_MIN_SW
    flags = docs.select(
        "source",
        ok_wc.alias("ok_wc"),
        ok_mwl.alias("ok_mwl"),
        ok_sw.alias("ok_sw"),
    )
    as_fail = lambda c: F.sum(F.when(F.col(c), 0).otherwise(1)).cast("bigint")
    return flags.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        as_fail("ok_wc").alias("fail_word_count"),
        as_fail("ok_mwl").alias("fail_word_len"),
        as_fail("ok_sw").alias("fail_stopword"),
        F.sum(
            F.when(F.col("ok_wc") & F.col("ok_mwl") & F.col("ok_sw"), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("n_pass"),
    )


# ---------------------------------------------------------------------------
# CCNet-style perplexity bucketing: score every document against the
# corpus unigram LM (the construction txt_perplexity_proxy verifies
# cross-engine) and band into head/middle/tail at FIXED precomputed
# cutoffs -- the way CCNet ships trained-LM thresholds -- instead of
# global quantiles, so no global sort exists at any corpus size.
# ---------------------------------------------------------------------------

_CCNET_T1, _CCNET_T2 = 4.905, 4.910


@register(
    "pipeline_ccnet_buckets",
    "CCNet-style head/middle/tail perplexity banding at fixed cutoffs "
    f"({_CCNET_T1}/{_CCNET_T2} bits): per-band doc count, exact char "
    "sum, and an exact integer-division xent checksum. Scale: the "
    "term->logprob map joins plainly on term (AQE picks broadcast vs "
    "shuffle from the actual vocab size, same discipline as "
    "txt_perplexity_proxy); banding is a map-side CASE, no global "
    "quantile sort anywhere.",
    f"""
    with base as (select doc_id, n_chars, string_split(text, ' ') w
                  from documents),
    tok as (select doc_id, unnest(w) as term from base),
    tf as (select term, count(*) as c from tok group by term),
    tot as (select cast(round(log2(sum(c)) * 1000000) as bigint) as l_total
            from tf),
    lpt as (select term, cast(round(log2(c) * 1000000) as bigint) as lp
            from tf),
    px as (
      select doc_id, (n * l_total - s) / (n * 1000000.0) as xent,
             (n * l_total - s) // n as xent_scaled
      from (select doc_id, count(*) as n, sum(lp) as s
            from tok join lpt using (term) group by doc_id)
      cross join tot
    ),
    b as (
      select case when xent < {_CCNET_T1} then 'head'
                  when xent < {_CCNET_T2} then 'middle'
                  else 'tail' end as band,
             n_chars, xent_scaled
      from px join base using (doc_id)
    )
    select band,
           cast(count(*) as bigint) as n_docs,
           cast(sum(n_chars) as bigint) as n_chars,
           cast(sum(xent_scaled) as bigint) as xent_checksum
    from b group by band
    """,
    "text", "pipeline", "language-model", "quality",
)
def pipeline_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").withColumn("w", tokens())
    base = docs.select("doc_id", "n_chars", "w")
    tok = base.select("doc_id", F.explode("w").alias("term"))
    tf = tok.groupBy("term").agg(F.count("*").alias("c"))
    tot = tf.agg(
        F.round(F.log2(F.sum("c")) * 1e6).cast("bigint").alias("l_total")
    )
    lpt = tf.select(
        "term", F.round(F.log2("c") * 1e6).cast("bigint").alias("lp")
    )
    num = F.col("n") * F.col("l_total") - F.col("s")
    px = (
        tok.join(lpt, "term")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"), F.sum("lp").alias("s"))
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            (num / (F.col("n") * F.lit(1000000.0))).alias("xent"),
            F.expr(
                "(n * l_total - s) div n"
            ).alias("xent_scaled"),
        )
    )
    band = (
        F.when(F.col("xent") < _CCNET_T1, "head")
        .when(F.col("xent") < _CCNET_T2, "middle")
        .otherwise("tail")
    )
    return (
        px.join(base.select("doc_id", "n_chars"), "doc_id")
        .select(band.alias("band"), "n_chars", "xent_scaled")
        .groupBy("band")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
            F.sum("xent_scaled").cast("bigint").alias("xent_checksum"),
        )
    )


# ---------------------------------------------------------------------------
# k-NN self-join: every vector's top-k neighbors through the banded
# hyperplane LSH index (the dedup_embedding_cosine construction), not
# just the probe set -- the all-corpus neighbor-graph build that feeds
# SemDeDup / dataset-cartography pipelines.
# ---------------------------------------------------------------------------

KNN_K = 3


def _knn_oracle(planes: int | None = None) -> str:
    """Banded-LSH k-NN oracle; ``planes`` defaults to the
    EMB_PLANES_PER_BAND floor (the registered string the driver gate
    compares at sf0.01). The sf-adaptive builder below calls it at the
    plane count the Spark side derives for an arbitrary corpus. No
    bucket-cap branch: the knn/range callers pass no cap by contract
    (every in-radius pair among candidates), matching the Spark side."""
    from clueso_spark.plans.dedup_queries import (
        EMB_PLANES_PER_BAND,
        _emb_bands_sql,
    )

    bands_sql = _emb_bands_sql(
        EMB_PLANES_PER_BAND if planes is None else planes
    )
    return f"""
    with e as (select vec_id,
                      list_transform(embedding, x -> cast(x as double)) v
               from embeddings),
    n as (select vec_id, v, list_dot_product(v, v) as sq from e),
    bands as (
      {bands_sql}
    ),
    cand as (
      select distinct a.vec_id as vec_id, b.vec_id as neighbor_id
      from bands a join bands b
        on a.band = b.band and a.bucket = b.bucket
           and a.vec_id <> b.vec_id
    ),
    scored as (
      select cand.vec_id, cand.neighbor_id,
             list_dot_product(x.v, y.v) / (sqrt(x.sq) * sqrt(y.sq)) as cos
      from cand join n x on cand.vec_id = x.vec_id
                join n y on cand.neighbor_id = y.vec_id
    ),
    ranked as (
      select vec_id, neighbor_id, cos,
             row_number() over (partition by vec_id
                                order by cos desc, neighbor_id) as rk
      from scored
    )
    select vec_id, neighbor_id, round(cos, 6) as cosine,
           cast(rk as bigint) as rk
    from ranked where rk <= {KNN_K}
    """


def _knn_oracle_valid(sf_dir: str) -> bool:
    from clueso_spark.plans.dedup_queries import (
        EMB_PLANES_PER_BAND,
        _emb_planes,
        table_row_count,
    )

    return (
        _emb_planes(table_row_count(sf_dir, "embeddings"))
        == EMB_PLANES_PER_BAND
    )


def _adaptive_planes(sf_dir: str) -> int:
    from clueso_spark.plans.dedup_queries import (
        _emb_planes,
        table_row_count,
    )

    return _emb_planes(table_row_count(sf_dir, "embeddings"))


def _knn_adaptive_oracle(sf_dir: str) -> str | None:
    """sf-adaptive k-NN oracle (round 15): the same SQL at the plane
    count the Spark side derives for THIS corpus, so the adaptive LSH
    branch hash-verifies above the floor instead of rows-only."""
    return _knn_oracle(planes=_adaptive_planes(sf_dir))


def _range_adaptive_oracle(sf_dir: str) -> str | None:
    return _range_oracle(planes=_adaptive_planes(sf_dir))


@register(
    "sim_knn_join",
    f"k-NN self-join: every vector's top-{KNN_K} neighbors through the "
    "banded random-hyperplane LSH index (4 bands x adaptive "
    "log2(N/bucket) planes -- dedup_embedding_cosine's verified "
    "construction), exact cosine rerank inside candidate buckets, "
    "per-vector row_number top-k. The all-corpus neighbor-graph build "
    "behind SemDeDup/cartography. Scale: ONE keyed shuffle on "
    "(band,bucket) generates candidates (no all-pairs anywhere); "
    "vectors re-attach by two plain equi-joins the planner sizes.",
    _knn_oracle(),
    "similarity", "ann", "lsh", "join",
    oracle_valid=_knn_oracle_valid,
    oracle_adaptive=_knn_adaptive_oracle,
)
def sim_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clueso_spark.functions.vectors import (
        lsh_bucket,
        to_double_array,
    )
    from clueso_spark.plans.dedup_queries import (
        EMB_BANDS,
        _bucket_pairs,
        _emb_planes,
        table_row_count,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", to_double_array("embedding").alias("v")
    )
    planes = _emb_planes(table_row_count(sf_dir, "embeddings"))
    bands = [
        lsh_bucket("embedding", planes, 64, first_plane=k * planes).alias(
            f"bk{k}"
        )
        for k in range(EMB_BANDS)
    ]
    stack_args = ", ".join(f"{k}, bk{k}" for k in range(EMB_BANDS))
    long = emb.select("vec_id", *bands).select(
        "vec_id",
        F.expr(f"stack({EMB_BANDS}, {stack_args}) as (band, bucket)"),
    )
    half = _bucket_pairs(
        long, ["band", "bucket"], "vec_id", "vec_a", "vec_b"
    ).distinct()
    # score each UNDIRECTED pair once (cos is symmetric), then emit both
    # arcs of the directed neighbor graph from the scored rows -- halves
    # the vector-attach join volume vs symmetrizing before scoring
    scored = _score_half_pairs(emb, half)
    directed = scored.select(
        F.col("vec_a").alias("vec_id"),
        F.col("vec_b").alias("neighbor_id"),
        "cos",
    ).unionByName(
        scored.select(
            F.col("vec_b").alias("vec_id"),
            F.col("vec_a").alias("neighbor_id"),
            "cos",
        )
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        directed.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rk") <= KNN_K)
        .select(
            "vec_id", "neighbor_id", F.round("cos", 6).alias("cosine"), "rk"
        )
    )


def _score_half_pairs(emb: DataFrame, half: DataFrame) -> DataFrame:
    """Exact cosine for each undirected candidate pair ``(vec_a, vec_b)``
    via two planner-sized equi-joins re-attaching the vectors."""
    from clueso_spark.functions.vectors import squared_norm

    n = emb.withColumn("sq", squared_norm("v")).select("vec_id", "v", "sq")
    x = n.select(
        F.col("vec_id").alias("vec_a"),
        F.col("v").alias("vx"),
        F.col("sq").alias("sqx"),
    )
    y = n.select(
        F.col("vec_id").alias("vec_b"),
        F.col("v").alias("vy"),
        F.col("sq").alias("sqy"),
    )
    cos = F.expr(
        "aggregate(zip_with(vx, vy, (a, b) -> a * b), 0D,"
        " (acc, t) -> acc + t)"
    ) / (F.sqrt(F.col("sqx")) * F.sqrt(F.col("sqy")))
    return (
        half.join(x, "vec_a").join(y, "vec_b").select(
            "vec_a", "vec_b", cos.alias("cos")
        )
    )


# ---------------------------------------------------------------------------
# Token-budget mixture planning: given a total training-token budget,
# allocate per-source token targets proportional to quality-weighted
# natural size, cap at a max epoch count, report resulting epochs --
# the static mixture-planning step before a pretraining run.
# ---------------------------------------------------------------------------

_MIX_MAX_EPOCHS = 4


@register(
    "pipeline_token_budget_mix",
    "Static mixture planning under a token budget (budget = half the "
    "corpus tokens): per-source allocation proportional to "
    "quality-weighted natural size (weight = 1 + source_num % 3, a "
    "deterministic stand-in for a quality tier), capped at "
    f"{_MIX_MAX_EPOCHS} epochs; reports exact token counts and the "
    "resulting epoch multiplier. All integer arithmetic (bigint "
    "products + integer division) so the plan is bit-reproducible; at "
    "petascale the same plan runs in decimal(38,0). Scale: one "
    "partial-aggregated groupBy(source) plus a 1-row broadcast of the "
    "corpus totals.",
    f"""
    with t as (select source,
                      cast(substr(source, 4) as bigint) % 3 + 1 as weight,
                      len(string_split(text, ' ')) as n_tok
               from documents),
    s as (select source, weight, cast(sum(n_tok) as bigint) as tok_s
          from t group by source, weight),
    tot as (select cast(sum(tok_s) as bigint) // 2 as budget,
                   cast(sum(weight * tok_s) as bigint) as wtot
            from s)
    select source, tok_s, weight,
           cast(budget * weight * tok_s // wtot as bigint) as alloc_tokens,
           cast(least(budget * weight * tok_s // wtot,
                      {_MIX_MAX_EPOCHS} * tok_s) as bigint) as capped_tokens,
           round(cast(least(budget * weight * tok_s // wtot,
                            {_MIX_MAX_EPOCHS} * tok_s) as double) / tok_s, 6)
             as epochs
    from s cross join tot
    """,
    "pipeline", "sampling", "aggregate",
)
def pipeline_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "source",
        (F.substring("source", 4, 10).cast("bigint") % 3 + 1).alias("weight"),
        F.size(tokens()).alias("n_tok"),
    )
    s = t.groupBy("source", "weight").agg(
        F.sum("n_tok").cast("bigint").alias("tok_s")
    )
    tot = s.agg(
        F.expr("cast(sum(tok_s) as bigint) div 2").alias("budget"),
        F.sum(F.col("weight") * F.col("tok_s")).cast("bigint").alias("wtot"),
    )
    alloc = F.expr("budget * weight * tok_s div wtot")
    capped = F.least(alloc, F.lit(_MIX_MAX_EPOCHS) * F.col("tok_s"))
    return s.crossJoin(F.broadcast(tot)).select(
        "source",
        "tok_s",
        "weight",
        alloc.cast("bigint").alias("alloc_tokens"),
        capped.cast("bigint").alias("capped_tokens"),
        F.round(capped.cast("double") / F.col("tok_s"), 6).alias("epochs"),
    )


# ---------------------------------------------------------------------------
# Zipf rank-frequency fit: least-squares slope of log2(freq) on
# log2(rank) over the top terms -- the standard corpus-health statistic
# (natural text ~ -1; synthetic/templated corpora drift off it).
# ---------------------------------------------------------------------------

_ZIPF_TOP = 256


@register(
    "txt_zipf_slope",
    f"Zipf rank-frequency fit over the top-{_ZIPF_TOP} terms: "
    "least-squares slope/intercept of log2(freq) on log2(rank), "
    "computed from exact bigint sums of 1e-6-scaled log values (the "
    "float-sum order problem never exists), final division in double "
    "as one identical IEEE chain. Scale: term counts partial-aggregate "
    "map-side; the fit runs on a TakeOrderedAndProject top-k, never a "
    "global sort.",
    f"""
    with tok as (select unnest(string_split(text, ' ')) as term
                 from documents),
    tf as (select term, cast(count(*) as bigint) as c from tok
           group by term),
    top as (select term, c from tf order by c desc, term limit {_ZIPF_TOP}),
    ranked as (select c, row_number() over (order by c desc, term) as rank
               from top),
    xy as (select cast(round(log2(rank) * 1000000) as bigint) as x,
                  cast(round(log2(c) * 1000000) as bigint) as y
           from ranked),
    s as (select cast(count(*) as bigint) as n,
                 cast(sum(x) as bigint) as sx,
                 cast(sum(y) as bigint) as sy,
                 cast(sum(x * y) as bigint) as sxy,
                 cast(sum(x * x) as bigint) as sxx
          from xy)
    select n as n_terms,
           round((n::double * sxy - sx::double * sy)
                 / (n::double * sxx - sx::double * sx), 6) as slope,
           round((sy::double - ((n::double * sxy - sx::double * sy)
                                / (n::double * sxx - sx::double * sx)) * sx)
                 / (n::double * 1000000.0), 6) as intercept_log2
    from s
    """,
    "text", "aggregate", "profiling",
)
def txt_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").withColumn("w", tokens())
    tf = (
        docs.select(F.explode("w").alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    top = tf.orderBy(F.col("c").desc(), "term").limit(_ZIPF_TOP)
    rk = Window.orderBy(F.col("c").desc(), "term")
    xy = top.select(
        F.round(F.log2(F.row_number().over(rk)) * 1e6)
        .cast("bigint")
        .alias("x"),
        F.round(F.log2("c") * 1e6).cast("bigint").alias("y"),
    )
    s = xy.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    nd = F.col("n").cast("double")
    slope = (nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")) / (
        nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    )
    intercept = (
        F.col("sy").cast("double") - slope * F.col("sx")
    ) / (nd * F.lit(1000000.0))
    return s.select(
        F.col("n").alias("n_terms"),
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept_log2"),
    )


# ---------------------------------------------------------------------------
# Length-filter tuning curve: survivor count/chars/retention at a ladder
# of minimum-length thresholds, in ONE corpus scan -- the
# threshold-sweep pattern used to tune any scalar document filter.
# ---------------------------------------------------------------------------

_LEN_THRESHOLDS = (0, 50, 100, 150, 200, 250, 300)


@register(
    "pipeline_length_filter_curve",
    "Filter tuning curve: document/char survivor counts and exact "
    f"retention at min-length thresholds {_LEN_THRESHOLDS}, one corpus "
    "scan fanned out against a 7-row broadcast literal ladder (the "
    "threshold sweep never rescans). Retention is an exact "
    "integer-pair division.",
    f"""
    with thr as (select unnest([{', '.join(map(str, _LEN_THRESHOLDS))}])
                   as threshold),
    tot as (select cast(count(*) as bigint) as total_docs from documents),
    c as (
      select threshold,
             cast(sum(case when n_chars >= threshold then 1 else 0 end)
                  as bigint) as n_docs,
             cast(sum(case when n_chars >= threshold then n_chars else 0 end)
                  as bigint) as n_chars
      from documents cross join thr group by threshold
    )
    select cast(threshold as bigint) as threshold, n_docs, n_chars,
           round(n_docs::double / total_docs, 6) as retention
    from c cross join tot
    """,
    "pipeline", "quality", "aggregate",
)
def pipeline_length_filter_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("n_chars")
    thr = spark.createDataFrame(
        [(t,) for t in _LEN_THRESHOLDS], "threshold bigint"
    )
    tot = docs.agg(F.count("*").cast("bigint").alias("total_docs"))
    keep = F.col("n_chars") >= F.col("threshold")
    c = (
        docs.crossJoin(F.broadcast(thr))
        .groupBy("threshold")
        .agg(
            F.sum(F.when(keep, 1).otherwise(0)).cast("bigint").alias("n_docs"),
            F.sum(F.when(keep, F.col("n_chars")).otherwise(0))
            .cast("bigint")
            .alias("n_chars"),
        )
    )
    return c.crossJoin(F.broadcast(tot)).select(
        "threshold",
        "n_docs",
        "n_chars",
        F.round(F.col("n_docs").cast("double") / F.col("total_docs"), 6)
        .alias("retention"),
    )


# ---------------------------------------------------------------------------
# Linear quality-classifier proxy: a fixed-weight scoring head over the
# cheap per-doc features (the DCLM/fastText-classifier pipeline stage,
# with the trained weights replaced by fixed public ones so the score
# is deterministic and cross-engine verifiable).
# ---------------------------------------------------------------------------

_QC_KEEP_MIN = 350000  # keep if scaled score >= 0.35

#: the fixed-weight linear score as a shared SQL fragment (DuckDB side);
#: pipeline_dedup_keep_best's oracle embeds the same formula
_QC_SCORE_SQL = (
    "cast(round((2.0 * (len(list_filter(w, x -> x in ({sw})))::double"
    " / len(w)) + 1.5 * (len(list_distinct(w))::double / len(w))"
    " - 0.25 * ((lc - len(w) + 1)::double / len(w) - 4.5))"
    " * 1000000) as bigint)"
).format(sw=_SW)


def _qc_score_scaled() -> "F.Column":
    """The fixed-weight linear quality score (1e-6-scaled bigint) over a
    tokenized documents relation with column ``w`` -- THE one definition
    both txt_quality_classifier_proxy and pipeline_dedup_keep_best's
    canonical selection use (a weight tweak must move both together)."""
    n_tok = F.size("w")
    sw_ratio = stopword_count("w").cast("double") / n_tok
    uniq_ratio = F.size(F.array_distinct("w")).cast("double") / n_tok
    mwl = (F.length("text") - n_tok + 1).cast("double") / n_tok
    return F.round(
        (
            F.lit(2.0) * sw_ratio
            + F.lit(1.5) * uniq_ratio
            - F.lit(0.25) * (mwl - F.lit(4.5))
        )
        * F.lit(1000000.0)
    ).cast("bigint")


@register(
    "txt_quality_classifier_proxy",
    "Fixed-weight linear quality classifier over cheap per-doc features "
    "(stopword ratio, distinct-token ratio, mean-word-length centering) "
    "-- the classifier-scoring pipeline stage with deterministic "
    "weights; emits the 1e-6-scaled score and keep flag per document. "
    "Scale: map-only projection, zero shuffles.",
    f"""
    with t as (select doc_id, length(text) as lc,
                      string_split(text, ' ') w from documents),
    f as (select doc_id,
                 len(list_filter(w, x -> x in ({_SW})))::double / len(w)
                   as sw_ratio,
                 len(list_distinct(w))::double / len(w) as uniq_ratio,
                 (lc - len(w) + 1)::double / len(w) as mwl
          from t)
    select doc_id,
           cast(round((2.0 * sw_ratio + 1.5 * uniq_ratio
                       - 0.25 * (mwl - 4.5)) * 1000000) as bigint)
             as score_scaled,
           cast(case when round((2.0 * sw_ratio + 1.5 * uniq_ratio
                                 - 0.25 * (mwl - 4.5)) * 1000000)
                          >= {_QC_KEEP_MIN}
                     then 1 else 0 end as bigint) as keep
    from f
    """,
    "text", "quality", "projection",
)
def txt_quality_classifier_proxy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").withColumn("w", tokens())
    score = _qc_score_scaled()
    return docs.select(
        "doc_id",
        score.alias("score_scaled"),
        (score >= _QC_KEEP_MIN).cast("bigint").alias("keep"),
    )


# ---------------------------------------------------------------------------
# Containment near-dedup: asymmetric overlap |A∩B|/min(|A|,|B|) over the
# verified adaptive simhash block -- the quote-inclusion / subset-dup
# signal symmetric Jaccard dilutes.
#
# Design note (negative result, caught by the scaling harness): the
# first cut used AllPairs/PPJoin prefix filtering (Bayardo et al. 2007,
# df-ordered prefixes, provably lossless candidates). On THIS corpus
# family it is degenerate: the synthetic vocabulary is ~31 terms with
# df ~ N/1.3, so "rarest-term" prefixes collapse into a handful of
# corpus-sized buckets and the pair expansion goes quadratic (the x10
# curve run effectively hung single-task). Prefix filtering's cost
# bound REQUIRES a rarity tail (Zipfian df); the sketch block's bucket
# count scales with N by construction (_ngram_bits), so containment
# scoring rides the same block dedup_ngram_jaccard already verifies.
# ---------------------------------------------------------------------------

_CONT_TAU = 0.9  #: containment threshold


def _containment_oracle(
    capped: bool = False, bits: int | None = None
) -> str:
    """``capped=False`` is the registered fixed-floor string (plain
    self-join candidates, domain-guarded by the shared ngram guard);
    ``capped=True`` replicates the Spark side's bucket-cap star
    expansion, and ``bits`` builds the sketch at the adaptive width,
    so the adaptive builder stays valid at any bucket population and
    corpus size (round 15)."""
    from clueso_spark.plans.dedup_queries import (
        LSH_BUCKET_CAP,
        _SIMHASH_SKETCH_SQL,
        _capped_pairs_sql,
        _simhash_sketch_sql,
    )

    if capped:
        cand = _capped_pairs_sql(
            "sk", "simhash", "doc_id", "doc_a", "doc_b", LSH_BUCKET_CAP
        )
    else:
        cand = """cand as (
      select a.doc_id as doc_a, b.doc_id as doc_b
      from sk a join sk b on a.simhash = b.simhash and a.doc_id < b.doc_id
    )"""
    sketch = (
        _SIMHASH_SKETCH_SQL if bits is None else _simhash_sketch_sql(bits)
    )
    return f"""
    with {sketch},
    {cand},
    s as (select doc_id, list_distinct(string_split(text, ' ')) as ws
          from documents),
    scored as (
      select doc_a, doc_b,
             len(list_intersect(x.ws, y.ws))::double
               / least(len(x.ws), len(y.ws)) as containment,
             len(list_intersect(x.ws, y.ws))::double
               / len(list_distinct(x.ws || y.ws)) as jaccard
      from cand join s x on doc_a = x.doc_id
                join s y on doc_b = y.doc_id
    )
    select doc_a, doc_b, round(containment, 6) as containment,
           round(jaccard, 6) as jaccard
    from scored where containment >= {_CONT_TAU}
    """


def _containment_oracle_valid(sf_dir: str) -> bool:
    """Oracle replicates the 16-bit floor sketch (same domain guard as
    dedup_ngram_jaccard)."""
    from clueso_spark.plans.dedup_queries import _ngram_oracle_valid

    return _ngram_oracle_valid(sf_dir)


def _containment_adaptive_oracle(sf_dir: str) -> str | None:
    """Cap-replicating, width-adaptive containment oracle (round 15):
    same domain as the ngram adaptive builders -- any bucket
    population, any corpus-derived sketch width."""
    from clueso_spark.plans.dedup_queries import _ngram_adaptive_bits

    return _containment_oracle(
        capped=True, bits=_ngram_adaptive_bits(sf_dir)
    )


@register(
    "dedup_containment",
    "Containment near-dup pairs: adaptive-width word-set simhash block "
    "(the dedup_ngram_jaccard construction) -> exact asymmetric overlap "
    f"|A∩B|/min >= {_CONT_TAU} inside each bucket, jaccard carried for "
    "comparison -- catches subset/quote-inclusion dups whose symmetric "
    "Jaccard stays low. Scale: ONE keyed shuffle on the sketch whose "
    "bucket count grows with N (_ngram_bits); two planner-sized "
    "equi-joins re-attach word sets. See the module design note for why "
    "prefix filtering was rejected on this corpus family.",
    _containment_oracle(),
    "dedup", "containment", "simhash",
    oracle_valid=_containment_oracle_valid,
    oracle_adaptive=_containment_adaptive_oracle,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOTE (round-6 consolidation): the block construction below
    # mirrors dedup_queries._ngram_pairs (sets persist -> sketch ->
    # _bucket_pairs -> two-sided attach) with only the metric/threshold
    # differing. It is NOT factored into dedup_queries THIS round
    # because that would change dedup_ngram_jaccard's code outside its
    # verification window (rotation invariant); fold both onto one
    # parameterized scorer when the ngram tier rotates in (round 6).
    from clueso_spark.plans.catalog import persist_swap
    from clueso_spark.plans.dedup_queries import (
        LSH_BUCKET_CAP,
        _bucket_pairs,
        _ngram_bits,
        _simhash_sketches,
    )
    from clueso_spark.sources.tables import table_row_count

    bits = _ngram_bits(table_row_count(sf_dir, "documents"))
    docs = (
        load_table_spread(spark, sf_dir, "documents")
        .withColumn("w", tokens())
    )
    # three consumers (sketch branch, both verify sides) read the
    # distinct word sets; persist so tokenization runs once
    sets = persist_swap(
        spark,
        "containment_sets",
        docs.select("doc_id", F.array_distinct("w").alias("ws")),
    )
    sk = _simhash_sketches(
        sets.select("doc_id", F.col("ws").alias("w")), bits
    )
    cand = _bucket_pairs(
        sk, ["simhash"], "doc_id", "doc_a", "doc_b", cap=LSH_BUCKET_CAP
    )
    a = sets.select(F.col("doc_id").alias("doc_a"), F.col("ws").alias("ws_a"))
    b = sets.select(F.col("doc_id").alias("doc_b"), F.col("ws").alias("ws_b"))
    inter = F.size(F.array_intersect("ws_a", "ws_b")).cast("double")
    cont = inter / F.least(F.size("ws_a"), F.size("ws_b"))
    jac = inter / F.size(F.array_union("ws_a", "ws_b"))
    # filter on the UNROUNDED score (the oracle does), round only in
    # the output projection -- a true containment in [tau-5e-7, tau)
    # would otherwise round up past the threshold on one engine only
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", cont.alias("c"), jac.alias("j"))
        .where(F.col("c") >= _CONT_TAU)
        .select(
            "doc_a",
            "doc_b",
            F.round("c", 6).alias("containment"),
            F.round("j", 6).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Character-entropy quality signal: per-doc Shannon entropy over the
# [a-z], space, other alphabet -- the cheap gibberish/boilerplate
# detector. Zero shuffles: the histogram comes from 27 replace-count
# passes over the text (map-only), never a per-character explode (which
# would push the corpus's entire character stream through an exchange).
# ---------------------------------------------------------------------------

_ENT_SCALE = 1_000_000


def _l2(expr: str) -> str:
    """1e-6-scaled log2 as exact bigint (engine-shared formula)."""
    return f"cast(round(log2({expr}) * {_ENT_SCALE}) as bigint)"


@register(
    "txt_char_entropy",
    "Per-document character-level Shannon entropy over the [a-z]/space/"
    "other alphabet, as an exact 1e-6-scaled bigint: E = (n*L(n) - "
    "sum c_i*L(c_i)) div n with L = round(log2*1e6) -- the float-sum "
    "order problem never exists. Scale: map-only (27 replace-count "
    "passes build the histogram; no per-char explode), zero shuffles.",
    f"""
    with c as (
      select doc_id, length(text) as n,
             list_transform(range(97, 123),
                            i -> length(text)
                                 - length(replace(text, chr(i::int), '')))
               as cl,
             length(text) - length(replace(text, ' ', '')) as sp
      from documents
    ),
    f as (select doc_id, n,
                 list_concat(cl, [sp, n - cast(list_sum(cl) as int) - sp])
                   as allc
          from c where n > 0),
    e as (select doc_id, n,
                 list_sum(list_transform(list_filter(allc, x -> x > 0),
                                         x -> x * {_l2("x")})) as s
          from f)
    select doc_id, cast(n as bigint) as n_chars_total,
           cast((n * {_l2("n")} - s) // n as bigint) as entropy_scaled,
           cast((n * {_l2("n")} - s) // n as bigint) / {_ENT_SCALE}.0
             as entropy
    from e
    """,
    "text", "quality", "projection",
)
def txt_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cl = (
        "transform(sequence(97, 122), "
        "i -> length(text) - length(replace(text, char(i), '')))"
    )
    sp = "(length(text) - length(replace(text, ' ', '')))"
    allc = (
        f"concat({cl}, array({sp}, "
        f"length(text) - aggregate({cl}, 0, (a, b) -> a + b) - {sp}))"
    )
    base = docs.selectExpr(
        "doc_id", "length(text) as n", f"{allc} as allc"
    ).where("n > 0")
    s = (
        "aggregate(filter(allc, x -> x > 0), 0L, "
        f"(acc, x) -> acc + x * {_l2('x')})"
    )
    ent = f"cast((n * {_l2('n')} - {s}) div n as bigint)"
    return base.selectExpr(
        "doc_id",
        "cast(n as bigint) as n_chars_total",
        f"{ent} as entropy_scaled",
        f"cast({ent} as double) / cast({_ENT_SCALE} as double) as entropy",
    )


# ---------------------------------------------------------------------------
# Lexical diversity per source: corpus-level type/token ratio (distinct
# terms over total tokens) plus the exact-scaled mean of per-doc TTRs --
# the vocabulary-collapse detector for generated/templated corpora.
# ---------------------------------------------------------------------------


@register(
    "txt_lexical_diversity",
    "Per-source lexical diversity: corpus type-token ratio (distinct "
    "terms / total tokens) and the exact 1e-6-scaled mean of per-doc "
    "TTRs (bigint sum + integer division -- order-insensitive). Scale: "
    "per-doc ratios are map-only; types need ONE (source, term) "
    "distinct shuffle; everything else partial-aggregates on source.",
    """
    with t as (select source, string_split(text, ' ') as w from documents),
    d as (select source, len(w) as nt,
                 cast(round(len(list_distinct(w)) * 1000000.0 / len(w))
                      as bigint) as ttr_s
          from t),
    a as (select source, cast(count(*) as bigint) as n_docs,
                 cast(sum(nt) as bigint) as n_tokens,
                 cast(sum(ttr_s) as bigint) as ttr_sum
          from d group by source),
    ty as (select source, cast(count(*) as bigint) as n_types from (
             select distinct source, unnest(w) as term from t)
           group by source)
    select source, n_docs, n_tokens, n_types,
           round(n_types::double / n_tokens, 6) as corpus_ttr,
           cast(ttr_sum // n_docs as bigint) as mean_doc_ttr_scaled
    from a join ty using (source)
    """,
    "text", "profiling", "aggregate",
)
def txt_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").withColumn("w", tokens())
    nt = F.size("w")
    ttr_s = F.round(
        F.size(F.array_distinct("w")) * F.lit(1000000.0) / nt
    ).cast("bigint")
    a = (
        docs.select("source", nt.alias("nt"), ttr_s.alias("ttr_s"))
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("nt").cast("bigint").alias("n_tokens"),
            F.sum("ttr_s").cast("bigint").alias("ttr_sum"),
        )
    )
    ty = (
        docs.select("source", F.explode(F.array_distinct("w")).alias("term"))
        .distinct()
        .groupBy("source")
        .agg(F.count("*").cast("bigint").alias("n_types"))
    )
    return a.join(ty, "source").select(
        "source",
        "n_docs",
        "n_tokens",
        "n_types",
        F.round(F.col("n_types").cast("double") / F.col("n_tokens"), 6)
        .alias("corpus_ttr"),
        F.expr("ttr_sum div n_docs").cast("bigint")
        .alias("mean_doc_ttr_scaled"),
    )


# ---------------------------------------------------------------------------
# Keep-best-in-cluster dedup: exact normalized-text clusters keep their
# highest-quality member (the quality-classifier score, doc_id
# tie-break) -- the canonical-selection stage every dedup pipeline runs
# after clustering, reported per source.
# ---------------------------------------------------------------------------


@register(
    "pipeline_dedup_keep_best",
    "Canonical selection: md5(lower(trim(text))) exact clusters keep "
    "the highest-quality member (txt_quality_classifier_proxy's "
    "1e-6-scaled linear score, min doc_id tie-break); per-source kept/"
    "dropped document and char counts. Scale: one fingerprint-keyed "
    "window whose partitions are duplicate clusters (bounded), then a "
    "partial-aggregated groupBy(source).",
    f"""
    with t as (select doc_id, source, n_chars, length(text) as lc,
                      md5(lower(trim(text))) as fp,
                      string_split(text, ' ') as w
               from documents),
    f as (select doc_id, source, n_chars, fp,
                 {_QC_SCORE_SQL} as score
          from t),
    r as (select doc_id, source, n_chars, score,
                 row_number() over (partition by fp
                                    order by score desc, doc_id) as rk
          from f)
    select source,
           cast(count(*) as bigint) as n_docs,
           cast(sum(case when rk = 1 then 1 else 0 end) as bigint) as n_kept,
           cast(sum(case when rk = 1 then 0 else 1 end) as bigint)
             as n_dropped,
           cast(sum(case when rk = 1 then 0 else n_chars end) as bigint)
             as chars_dropped
    from r group by source
    """,
    "dedup", "pipeline", "quality",
)
def pipeline_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").withColumn("w", tokens())
    score = _qc_score_scaled()
    fp = F.md5(F.lower(F.trim(F.col("text"))))
    w = Window.partitionBy("fp").orderBy(F.col("score").desc(), "doc_id")
    r = docs.select(
        "doc_id", "source", "n_chars", fp.alias("fp"), score.alias("score")
    ).withColumn("rk", F.row_number().over(w))
    kept = F.col("rk") == 1
    return r.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.when(kept, 1).otherwise(0)).cast("bigint").alias("n_kept"),
        F.sum(F.when(kept, 0).otherwise(1)).cast("bigint").alias("n_dropped"),
        F.sum(F.when(kept, 0).otherwise(F.col("n_chars")))
        .cast("bigint")
        .alias("chars_dropped"),
    )


# ---------------------------------------------------------------------------
# Cosine range search: every vector's neighbor count within a cosine
# radius through the banded hyperplane LSH index -- the
# radius-neighbor-graph build (DBSCAN-style density, near-dup fanout
# audits), complementing sim_knn_join's fixed-k variant.
# ---------------------------------------------------------------------------

_RANGE_TAU = 0.4  # cosine radius; matches dedup_embedding_cosine's bar


def _range_oracle(planes: int | None = None) -> str:
    """Banded-LSH range-search oracle; same parameterization contract
    as :func:`_knn_oracle`."""
    from clueso_spark.plans.dedup_queries import (
        EMB_PLANES_PER_BAND,
        _emb_bands_sql,
    )

    bands_sql = _emb_bands_sql(
        EMB_PLANES_PER_BAND if planes is None else planes
    )
    return f"""
    with e as (select vec_id,
                      list_transform(embedding, x -> cast(x as double)) v
               from embeddings),
    n as (select vec_id, v, list_dot_product(v, v) as sq from e),
    bands as (
      {bands_sql}
    ),
    cand as (
      select distinct a.vec_id as vec_id, b.vec_id as neighbor_id
      from bands a join bands b
        on a.band = b.band and a.bucket = b.bucket
           and a.vec_id <> b.vec_id
    ),
    scored as (
      select cand.vec_id,
             list_dot_product(x.v, y.v) / (sqrt(x.sq) * sqrt(y.sq)) as cos
      from cand join n x on cand.vec_id = x.vec_id
                join n y on cand.neighbor_id = y.vec_id
    )
    select vec_id,
           cast(count(*) as bigint) as n_neighbors,
           round(max(cos), 6) as max_cosine
    from scored where cos >= {_RANGE_TAU}
    group by vec_id
    """


@register(
    "sim_range_search",
    f"Cosine range search: per-vector neighbor count within cos >= "
    f"{_RANGE_TAU} through the banded random-hyperplane LSH index "
    "(dedup_embedding_cosine's verified construction) -- the radius-"
    "neighbor-graph / density-audit build complementing sim_knn_join's "
    "fixed-k variant. Scale: ONE keyed shuffle on (band,bucket) for "
    "candidates, two planner-sized equi-joins to re-attach vectors, "
    "partial-aggregated count per vector.",
    _range_oracle(),
    "similarity", "ann", "lsh", "aggregate",
    oracle_valid=_knn_oracle_valid,
    oracle_adaptive=_range_adaptive_oracle,
)
def sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clueso_spark.functions.vectors import (
        lsh_bucket,
        to_double_array,
    )
    from clueso_spark.plans.dedup_queries import (
        EMB_BANDS,
        _bucket_pairs,
        _emb_planes,
    )
    from clueso_spark.sources.tables import table_row_count

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", to_double_array("embedding").alias("v")
    )
    planes = _emb_planes(table_row_count(sf_dir, "embeddings"))
    bands = [
        lsh_bucket("embedding", planes, 64, first_plane=k * planes).alias(
            f"bk{k}"
        )
        for k in range(EMB_BANDS)
    ]
    stack_args = ", ".join(f"{k}, bk{k}" for k in range(EMB_BANDS))
    long = emb.select("vec_id", *bands).select(
        "vec_id",
        F.expr(f"stack({EMB_BANDS}, {stack_args}) as (band, bucket)"),
    )
    half = _bucket_pairs(
        long, ["band", "bucket"], "vec_id", "vec_a", "vec_b"
    ).distinct()
    # score each undirected pair once, FILTER at the threshold, then
    # emit both arcs from the (much smaller) surviving set -- the
    # pre-scoring symmetrization would double the join volume and defer
    # the radius filter past it
    scored = _score_half_pairs(emb, half).where(F.col("cos") >= _RANGE_TAU)
    directed = scored.select(
        F.col("vec_a").alias("vec_id"), "cos"
    ).unionByName(scored.select(F.col("vec_b").alias("vec_id"), "cos"))
    return directed.groupBy("vec_id").agg(
        F.count("*").cast("bigint").alias("n_neighbors"),
        F.round(F.max("cos"), 6).alias("max_cosine"),
    )


# ---------------------------------------------------------------------------
# Streaming windowed top-k: per 1-hour event-time window, the 3 most
# active users -- the live-leaderboard shape. The streaming stage is the
# windowed count (partial-aggregated, watermark-boundable); the top-k
# rank runs post-drain in two stages (salted local top-k, then a final
# rank over <= 64*k survivors per window) so no single task ever ranks
# a whole window's user population.
# ---------------------------------------------------------------------------

_TOPK_K = 3
_TOPK_SALT = 64


@register(
    "st_windowed_topk",
    "Structured Streaming leaderboard: readStream -> 1-hour tumbling "
    f"window x user count -> complete-mode memory sink; top-{_TOPK_K} "
    "users per window ranked post-drain in two stages (salted local "
    f"top-k over {_TOPK_SALT} buckets, final rank over the bounded "
    "survivor set) -- no task ranks a full window population. Oracle: "
    "availableNow over a static file source makes the streamed counts "
    "equal the batch counts by construction.",
    f"""
    with c as (
      select strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
               as window_start,
             user_id, cast(count(*) as bigint) as n_events
      from events group by 1, 2
    ),
    r as (select *, row_number() over (partition by window_start
                                       order by n_events desc, user_id)
                      as rk
          from c)
    select window_start, user_id, n_events, cast(rk as bigint) as rk
    from r where rk <= {_TOPK_K}
    """,
    "streaming", "window", "topk",
)
def st_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clueso_spark.plans.streaming_queries import (
        events_stream,
        run_on_state_sized_session,
    )

    # windowed-count state binds to the shuffle partition count at query
    # start; input-sized via the cloned session: 3.3 s -> 2.6 s at sf0.1,
    # identical rows (ROUND14_NOTES). The post-drain two-stage ranking
    # runs on the state-bounded survivor set, so it inherits the small
    # conf harmlessly.
    def plan(s: SparkSession) -> DataFrame:
        return (
            events_stream(s, sf_dir)
            .groupBy(F.window("ts", "1 hour"), "user_id")
            .agg(F.count("*").cast("bigint").alias("n_events"))
        )

    sunk = run_on_state_sized_session(
        spark, sf_dir, plan, "st_windowed_topk_sink",
        output_mode="complete",
    )
    counts = sunk.select(
        F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
            "window_start"
        ),
        "user_id",
        "n_events",
    )
    # stage 1: local top-k inside (window, salt) -- each rank partition
    # sees ~1/SALT of the window's users
    ws = Window.partitionBy("window_start", "_salt").orderBy(
        F.col("n_events").desc(), "user_id"
    )
    survivors = (
        counts.withColumn("_salt", F.pmod("user_id", F.lit(_TOPK_SALT)))
        .withColumn("_rk", F.row_number().over(ws))
        .where(F.col("_rk") <= _TOPK_K)
        .drop("_salt", "_rk")
    )
    # stage 2: exact rank over <= SALT*k survivors per window
    w = Window.partitionBy("window_start").orderBy(
        F.col("n_events").desc(), "user_id"
    )
    return survivors.withColumn(
        "rk", F.row_number().over(w).cast("bigint")
    ).where(F.col("rk") <= _TOPK_K)


# ---------------------------------------------------------------------------
# RFM segmentation: per-user recency/frequency/monetary quintiles over
# purchase events, reported as segment cells -- the classic marketing/
# engagement cube, here as the exact-verifiable ntile form.
# ---------------------------------------------------------------------------


@register(
    "ev_rfm_segmentation",
    "RFM segmentation over purchase events: per-user recency (exact "
    "day diff vs the corpus max date), frequency, decimal-exact "
    "monetary; ntile(5) quintiles per axis (deterministic tie order), "
    "segment-cell counts + monetary totals. The quintiles are computed "
    "WITHOUT a global window: each axis gets an exact global rank via "
    "functions/ordered.ranged_row_number (range-partitioned prefix "
    "counts -- every stage parallel) and the ntile bucket follows "
    "arithmetically from (rank, total) via ntile_from_rank, identical "
    "values to SQL ntile(5) with no single-partition WindowExec.",
    """
    with p as (select user_id, ts, cast(value as decimal(12,2)) as v
               from events where event_type = 'purchase'),
    mx as (select max(cast(ts as date)) as dmax from p),
    u as (select user_id,
                 date_diff('day', max(cast(ts as date)), (select dmax from mx))
                   as recency_days,
                 cast(count(*) as bigint) as frequency,
                 sum(v) as monetary
          from p group by user_id),
    q as (select user_id,
                 ntile(5) over (order by recency_days, user_id) as r_q,
                 ntile(5) over (order by frequency desc, user_id) as f_q,
                 ntile(5) over (order by monetary desc, user_id) as m_q,
                 monetary
          from u)
    select cast(r_q as bigint) as r_q, cast(f_q as bigint) as f_q,
           cast(m_q as bigint) as m_q,
           cast(count(*) as bigint) as n_users,
           cast(sum(monetary) as double) as monetary_total
    from q group by 1, 2, 3
    """,
    "events", "aggregate", "window", "segmentation",
)
def ev_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clueso_spark.functions.ordered import (
        ntile_from_rank,
        ranged_row_number,
    )
    from clueso_spark.plans.catalog import dec, persist_swap

    ev = load_table(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", dec("value").alias("v")
    )
    u = p.groupBy("user_id").agg(
        F.max(F.to_date("ts")).alias("dlast"),
        F.count("*").cast("bigint").alias("frequency"),
        F.sum("v").alias("monetary"),
    )
    mx = u.agg(
        F.max("dlast").alias("dmax"),
        F.count("*").cast("bigint").alias("n_total"),
    )
    u = u.crossJoin(F.broadcast(mx)).select(
        "user_id",
        F.datediff("dmax", "dlast").alias("recency_days"),
        "frequency",
        "monetary",
        "n_total",
        # desc axes become asc by exact negation (bigint / decimal), so
        # one ascending ranged_row_number idiom serves all three
        (-F.col("frequency")).alias("neg_f"),
        (-F.col("monetary")).alias("neg_m"),
    )
    # three ranged passes read the per-user relation: persist it once
    u = persist_swap(spark, "rfm_users", u)
    q = ranged_row_number(u, ["recency_days", "user_id"], "rk_r")
    q = ranged_row_number(q, ["neg_f", "user_id"], "rk_f")
    q = ranged_row_number(q, ["neg_m", "user_id"], "rk_m")
    q = q.select(
        "monetary",
        ntile_from_rank("rk_r", "n_total", 5).alias("r_q"),
        ntile_from_rank("rk_f", "n_total", 5).alias("f_q"),
        ntile_from_rank("rk_m", "n_total", 5).alias("m_q"),
    )
    return q.groupBy("r_q", "f_q", "m_q").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("monetary").cast("double").alias("monetary_total"),
    )


# ---------------------------------------------------------------------------
# Co-occurrence node similarity: part-part Jaccard over order baskets --
# the item-item collaborative-similarity build. Basket sizes are bounded
# (a TPC-H order holds <= 7 lines), so the per-basket pair expansion is
# O(basket^2) with a small constant, the same contract as the LSH bucket
# fan-outs.
# ---------------------------------------------------------------------------

_NODE_SIM_TOP = 20


@register(
    "graph_node_similarity",
    "Item-item co-occurrence similarity: distinct (order, part) baskets "
    "-> in-basket pair expansion (ONE keyed shuffle on order, bounded "
    "basket fan-out) -> pair co-counts joined to part degrees -> exact "
    f"Jaccard co/(da+db-co), global top-{_NODE_SIM_TOP} via "
    "TakeOrderedAndProject (never a full sort). Deterministic total "
    "order (jaccard desc, part_a, part_b).",
    f"""
    with b as (select distinct l_orderkey, l_partkey from lineitem),
    d as (select l_partkey, cast(count(*) as bigint) as deg from b
          group by 1),
    p as (select a.l_partkey as pa, c.l_partkey as pb,
                 cast(count(*) as bigint) as co
          from b a join b c
            on a.l_orderkey = c.l_orderkey and a.l_partkey < c.l_partkey
          group by 1, 2),
    j as (select pa, pb, co, x.deg as da, y.deg as db,
                 co::double / (x.deg + y.deg - co) as jac
          from p join d x on pa = x.l_partkey
                join d y on pb = y.l_partkey)
    select pa as part_a, pb as part_b, co as n_co_orders,
           da as deg_a, db as deg_b, round(jac, 6) as jaccard
    from j order by jac desc, pa, pb limit {_NODE_SIM_TOP}
    """,
    "graph", "similarity", "join", "topk",
)
def graph_node_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clueso_spark.plans.dedup_queries import _bucket_pairs

    b = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    pairs = _bucket_pairs(
        b, ["l_orderkey"], "l_partkey", "part_a", "part_b"
    ).groupBy("part_a", "part_b").agg(
        F.count("*").cast("bigint").alias("n_co_orders")
    )
    deg = b.groupBy("l_partkey").agg(
        F.count("*").cast("bigint").alias("deg")
    )
    da = deg.select(
        F.col("l_partkey").alias("part_a"), F.col("deg").alias("deg_a")
    )
    db = deg.select(
        F.col("l_partkey").alias("part_b"), F.col("deg").alias("deg_b")
    )
    jac = F.col("n_co_orders").cast("double") / (
        F.col("deg_a") + F.col("deg_b") - F.col("n_co_orders")
    )
    return (
        pairs.join(da, "part_a")
        .join(db, "part_b")
        .select(
            "part_a",
            "part_b",
            "n_co_orders",
            "deg_a",
            "deg_b",
            jac.alias("j"),
        )
        # rank/limit on the UNROUNDED similarity (as the oracle does);
        # round only in the final projection
        .orderBy(F.col("j").desc(), "part_a", "part_b")
        .limit(_NODE_SIM_TOP)
        .select(
            "part_a",
            "part_b",
            "n_co_orders",
            "deg_a",
            "deg_b",
            F.round("j", 6).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental (index-probe) near-dedup: dedup a NEW ingest batch against
# an existing corpus index -- the continuous-ingestion production shape,
# where the index side's banded minhash signatures are precomputed and
# stored, and each ingest computes signatures only for the new batch.
# Here the 80/20 split is derived from the doc_id hash (the same
# deterministic split pipeline_contamination_check verifies); the
# signature family is minhash_band_sigs, byte-identical to the one the
# registered dedup_minhash_lsh oracle replicates.
# ---------------------------------------------------------------------------

_INCR_TAU = 0.5  #: same verification bar as dedup_minhash_lsh


def _incremental_oracle() -> str:
    from clueso_spark.plans.dedup_queries import N_BANDS

    return f"""
    with t as (select doc_id,
                      cast(('0x' || substr(md5(cast(doc_id as varchar)), 1, 8))
                           as bigint) % 100 as pct,
                      string_split(text, ' ') as w
               from documents),
    sh as (
      select distinct doc_id, pct,
             unnest(list_transform(range(1, len(w) - 1),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) as shingle
      from t where len(w) >= 3
    ),
    bands as (
      select doc_id, pct, b.range as band,
             min(substr(md5(shingle) || md5('~' || shingle)
                        || md5('#' || shingle) || md5('@' || shingle),
                        cast(b.range * 16 + 1 as int), 8))
             || min(substr(md5(shingle) || md5('~' || shingle)
                           || md5('#' || shingle) || md5('@' || shingle),
                           cast(b.range * 16 + 9 as int), 8)) as sig
      from sh cross join range({N_BANDS}) b
      group by doc_id, pct, b.range
    ),
    cand as (
      select distinct n.doc_id as new_id, i.doc_id as index_id
      from bands n join bands i on n.band = i.band and n.sig = i.sig
      where n.pct >= 80 and i.pct < 80
    ),
    sets as (select doc_id, list(shingle) as ss from sh group by doc_id),
    sc as (
      select new_id, index_id,
             len(list_intersect(x.ss, y.ss))::double
               / len(list_distinct(x.ss || y.ss)) as jaccard
      from cand join sets x on new_id = x.doc_id
                join sets y on index_id = y.doc_id
    ),
    v as (select * from sc where jaccard >= {_INCR_TAU}),
    r as (select new_id, index_id, jaccard,
                 row_number() over (partition by new_id
                                    order by jaccard desc, index_id) as rk
          from v),
    agg as (select new_id, cast(count(*) as bigint) as n_index_matches
            from v group by new_id)
    select agg.new_id as doc_id, n_index_matches,
           r.index_id as best_match_id,
           round(r.jaccard, 6) as best_jaccard
    from agg join r on agg.new_id = r.new_id and r.rk = 1
    """


@register(
    "dedup_incremental_minhash",
    "Incremental index-probe near-dedup: the new-batch side (hash-split "
    "20%) probes the existing corpus index (80%) on (band, sig) using "
    "the EXACT banded-minhash family dedup_minhash_lsh verifies "
    f"(minhash_band_sigs); exact Jaccard >= {_INCR_TAU} confirms; per "
    "new doc: match count, best index match, best Jaccard. Scale: the "
    "continuous-ingestion shape -- at 100 TB the index signatures are "
    "precomputed and stored, each ingest computes signatures for the "
    "new batch only, the probe join is keyed on (band, sig), and "
    "verification fetches only candidate index docs' shingle sets by "
    "key (the corpus is never rescanned).",
    _incremental_oracle(),
    "dedup", "minhash", "lsh", "incremental",
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clueso_spark.plans.catalog import persist_swap
    from clueso_spark.plans.dedup_queries import minhash_band_sigs

    from clueso_spark.functions.text import word_shingles

    docs = (
        load_table_spread(spark, sf_dir, "documents")
        .withColumn("w", tokens())
    )
    pct = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 100
    )
    sets = persist_swap(
        spark,
        "incremental_sets",
        docs.where(F.size("w") >= 3).select(
            "doc_id",
            pct.alias("pct"),
            F.array_distinct(word_shingles("w", 3)).alias("ss"),
        ),
    )
    long = sets.select(
        "doc_id", "pct", minhash_band_sigs().alias("sigs")
    ).select("doc_id", "pct", F.posexplode("sigs").alias("band", "sig"))
    idx = long.where(F.col("pct") < 80).select(
        F.col("doc_id").alias("index_id"), "band", "sig"
    )
    new = long.where(F.col("pct") >= 80).select(
        F.col("doc_id").alias("new_id"), "band", "sig"
    )
    cand = new.join(idx, ["band", "sig"]).select("new_id", "index_id").distinct()
    x = sets.select(F.col("doc_id").alias("new_id"), F.col("ss").alias("ss_n"))
    y = sets.select(
        F.col("doc_id").alias("index_id"), F.col("ss").alias("ss_i")
    )
    jac = F.size(F.array_intersect("ss_n", "ss_i")).cast("double") / F.size(
        F.array_union("ss_n", "ss_i")
    )
    v = (
        cand.join(x, "new_id")
        .join(y, "index_id")
        .select("new_id", "index_id", jac.alias("jaccard"))
        .where(F.col("jaccard") >= _INCR_TAU)
    )
    w = Window.partitionBy("new_id").orderBy(
        F.col("jaccard").desc(), "index_id"
    )
    r = v.withColumn("rk", F.row_number().over(w)).where(F.col("rk") == 1)
    agg = v.groupBy("new_id").agg(
        F.count("*").cast("bigint").alias("n_index_matches")
    )
    return agg.join(r, "new_id").select(
        F.col("new_id").alias("doc_id"),
        "n_index_matches",
        F.col("index_id").alias("best_match_id"),
        F.round("jaccard", 6).alias("best_jaccard"),
    )


# ---------------------------------------------------------------------------
# Interpolated BIGRAM perplexity: one modeling step from the unigram
# proxy toward CCNet's KenLM -- P(w2|w1) = 3/4 * c12/c1 + 1/4 * c2/N,
# which as a single fraction is (3*c12*N + c2*c1) / (4*c1*N): numerator
# and denominator are exact bigints, so the per-token log2 stays in the
# established L(int) = round(log2*1e6) discipline and the float-sum
# order problem never exists. Self-scored (counts from the same corpus),
# so every scored bigram has c12 >= 1 -- no zero-probability smoothing
# case. At petascale the bigint products (c12*N ~ 1e26) move to
# decimal(38,0), the same note as pipeline_token_budget_mix.
# ---------------------------------------------------------------------------


@register(
    "txt_bigram_perplexity",
    "Interpolated bigram LM cross-entropy per document (lambda=3/4 "
    "bigram, 1/4 unigram backoff), all-integer scaled-log2 arithmetic: "
    "per-token contribution L(4*c1*N) - L(3*c12*N + c2*c1), exact "
    "bigint sums, one integer division per doc. Scale: bigram/unigram "
    "count tables partial-aggregate map-side and join plainly on their "
    "keys (AQE sizes them; the vocab-broadcast lesson from round 4 "
    "applied from the start); the scoring stream is the corpus's bigram "
    "stream, linear in tokens.",
    """
    with base as (select doc_id, string_split(text, ' ') as w
                  from documents),
    bg as (select doc_id, w[i] as w1, w[i+1] as w2
           from (select doc_id, w, unnest(range(1, len(w))) as i from base)
           where len(w) >= 2),
    c12 as (select w1, w2, cast(count(*) as bigint) as c12 from bg
            group by w1, w2),
    c1 as (select w1, cast(count(*) as bigint) as c1 from bg group by w1),
    c2 as (select w2, cast(count(*) as bigint) as c2 from bg group by w2),
    tot as (select cast(count(*) as bigint) as n from bg),
    scored as (
      select doc_id,
             cast(round(log2(4 * c1 * n) * 1000000) as bigint)
             - cast(round(log2(3 * c12 * n + c2 * c1) * 1000000) as bigint)
               as lp
      from bg join c12 using (w1, w2) join c1 using (w1) join c2 using (w2)
      cross join tot
    ),
    px as (select doc_id, cast(count(*) as bigint) as n_bigrams,
                  cast(sum(lp) as bigint) as s
           from scored group by doc_id)
    select doc_id, n_bigrams,
           cast(s // n_bigrams as bigint) as xent_scaled,
           cast(s // n_bigrams as bigint) / cast(1000000 as double) as xent
    from px
    """,
    "text", "language-model", "quality",
)
def txt_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clueso_spark.plans.catalog import persist_swap

    docs = (
        load_table_spread(spark, sf_dir, "documents")
        .withColumn("w", tokens())
    )
    bg = (
        docs.where(F.size("w") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "zip_with(slice(w, 1, size(w) - 1), "
                    "slice(w, 2, size(w) - 1), "
                    "(a, b) -> struct(a as w1, b as w2))"
                )
            ).alias("p"),
        )
        .select("doc_id", "p.w1", "p.w2")
    )
    # FIVE consumers read the bigram stream (three count branches, the
    # total, the scoring join's probe side) -- persist so the corpus is
    # tokenized and zipped into bigrams once, not five times
    bg = persist_swap(spark, "bigram_stream", bg)
    c12 = bg.groupBy("w1", "w2").agg(F.count("*").cast("bigint").alias("c12"))
    c1 = bg.groupBy("w1").agg(F.count("*").cast("bigint").alias("c1"))
    c2 = bg.groupBy("w2").agg(F.count("*").cast("bigint").alias("c2"))
    tot = bg.agg(F.count("*").cast("bigint").alias("n"))
    lp = F.expr(f"{_l2('4 * c1 * n')} - {_l2('3 * c12 * n + c2 * c1')}")
    px = (
        bg.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        .join(c2, "w2")
        .crossJoin(F.broadcast(tot))
        .select("doc_id", lp.alias("lp"))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.sum("lp").cast("bigint").alias("s"),
        )
    )
    xs = F.expr("s div n_bigrams").cast("bigint")
    return px.select(
        "doc_id",
        "n_bigrams",
        xs.alias("xent_scaled"),
        (xs.cast("double") / F.lit(1000000.0)).alias("xent"),
    )


# ---------------------------------------------------------------------------
# Near-dup cluster-size statistics: the corpus-health histogram every
# dedup run reports -- how many families of each size, how many docs
# they tie up -- composed from the verified minhash pair machinery and
# the same connected-components the group-level dedup queries use.
# ---------------------------------------------------------------------------


def _cluster_stats_oracle() -> str:
    from clueso_spark.plans.dedup_queries import _MINHASH_ORACLE

    return f"""
    with recursive pairs as ({_MINHASH_ORACLE}),
    edges as (
      select doc_a as u, doc_b as v from pairs
      union
      select doc_b as u, doc_a as v from pairs
    ),
    verts as (select distinct u from edges),
    reach as (
      select u, u as v from verts
      union
      select r.u, e.v from reach r join edges e on r.v = e.u
    ),
    comp as (select u as doc_id, min(v) as component from reach group by u),
    sizes as (select component, cast(count(*) as bigint) as cluster_size
              from comp group by component)
    select cluster_size,
           cast(count(*) as bigint) as n_clusters,
           cast(sum(cluster_size) as bigint) as n_docs_total
    from sizes group by cluster_size
    """


@register(
    "pipeline_dedup_cluster_stats",
    "Near-dup cluster-size histogram: verified MinHash+LSH pairs -> "
    "connected components -> families per size and docs tied up -- the "
    "dedup-run health report. Scale: composition of two verified "
    "primitives (minhash_pairs' one banded shuffle; the byte-guarded "
    "hybrid connected components), then a partial-aggregated histogram "
    "over the per-component sizes.",
    _cluster_stats_oracle(),
    "dedup", "pipeline", "aggregate", "minhash",
)
def pipeline_dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clueso_spark.plans.dedup_queries import (
        _component_groups,
        minhash_pairs,
    )

    docs = (
        load_table_spread(spark, sf_dir, "documents")
        .withColumn("w", tokens())
    )
    pairs = minhash_pairs(spark, docs, slot="cluster_stats_sets").select(
        "doc_a", "doc_b"
    )
    groups = _component_groups(pairs)
    return groups.groupBy(
        F.col("n_docs").alias("cluster_size")
    ).agg(
        F.count("*").cast("bigint").alias("n_clusters"),
        F.sum("n_docs").cast("bigint").alias("n_docs_total"),
    )

