#!/usr/bin/env python3
"""Scaling-curve harness: replicate the sf0.1 tables K-fold into /tmp
(with per-copy perturbations so workloads scale instead of degenerating
-- words are copy-prefixed so near-dup clusters never merge across
copies; user/event/vec ids shift into disjoint ranges) and time the
headline pipeline-tier queries at each K. A scale-safe plan's time grows
~linearly in K; a quadratic pair space or an unkeyed join shows up as a
superlinear bend long before 100 TB would.

Usage: python tools/scaling_curve.py [--ks 1,4,10] [--queries a,b,c]
Prints one JSON line with per-query times at each K.

Skew mode (--skew K): build a xK events table where ONE user owns 50%
of all rows and measure the skew-sensitive shapes head-to-head:
window-dedup plain vs salted two-stage, single-pass max_by dedup,
hot-key merge join with AQE skew-join on vs off, and plain vs salted
algebraic aggregation (the honest negative: map-side partial
aggregation already neutralizes hot keys for count/sum, so salting
only pays where no partial reduction exists -- windows, joins,
assembly aggs). Results land in one JSON line for SCALE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

DEFAULT_QUERIES = [
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "sim_lsh_ann",
    "txt_tf_df_top_terms",
    "ev_latest_state",
    "ev_sessionize",
]
BASE = "/root/testdata/sf0.1"


def _write_events_single_file(k: int, out_dir: str) -> None:
    """xK events replica as a single parquet file (disjoint id shifts),
    ts column copied with its physical type untouched."""
    import os

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    t = pq.read_table(f"{BASE}/events.parquet")
    parts = []
    for i in range(k):
        t2 = t.set_column(
            t.schema.get_field_index("event_id"),
            "event_id",
            pc.add(t["event_id"], i * 1_000_000_000),
        )
        t2 = t2.set_column(
            t2.schema.get_field_index("user_id"),
            "user_id",
            pc.add(t2["user_id"], i * 1_000_000),
        )
        parts.append(t2)
    pq.write_table(pa.concat_tables(parts), f"{out_dir}/events.parquet")


def build_scaled(spark, k: int, out_dir: str) -> None:
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{BASE}/documents.parquet")
    emb = spark.read.parquet(f"{BASE}/embeddings.parquet")
    orders = spark.read.parquet(f"{BASE}/orders.parquet")
    li = spark.read.parquet(f"{BASE}/lineitem.parquet")
    cust = spark.read.parquet(f"{BASE}/customer.parquet")
    supp = spark.read.parquet(f"{BASE}/supplier.parquet")
    part = spark.read.parquet(f"{BASE}/part.parquet")

    doc_parts, emb_parts = [], []
    ord_parts, li_parts = [], []
    cust_parts, supp_parts, part_parts = [], [], []
    for i in range(k):
        # copy-prefix every word -> zero cross-copy token overlap, so each
        # copy carries its own duplicate clusters (workload ~ linear in K)
        doc_parts.append(
            docs.select(
                (F.col("doc_id") + i * 10_000_000).alias("doc_id"),
                "lang",
                "source",
                "n_chars",
                F.concat_ws(
                    " ",
                    F.expr(
                        f"transform(split(text, ' '), w -> concat('c{i}', w))"
                    ),
                ).alias("text"),
            )
        )
        # circular-shift each copy's dims so copies are near-orthogonal:
        # a scalar dim-0 nudge leaves cross-copy cosines >= the near-dup
        # threshold, which makes the TRUE pair count (and any correct
        # engine's output) grow quadratically in K -- the embedding
        # analog of the text side's copy-prefixed words
        shift = i % 64
        emb_parts.append(
            emb.select(
                (F.col("vec_id") + i * 10_000_000).alias("vec_id"),
                "label",
                (
                    F.expr(
                        f"concat(slice(embedding, {shift + 1}, {64 - shift}),"
                        f" slice(embedding, 1, {shift}))"
                    )
                    if shift
                    else F.col("embedding")
                ).alias("embedding"),
            )
        )
        # disjoint key shifts keep every copy's co-purchase graph (and
        # per-order baskets) separate, so graph workloads grow linearly
        # in K instead of densifying one merged graph
        ord_parts.append(
            orders.withColumn(
                "o_orderkey", F.col("o_orderkey") + i * 100_000_000
            ).withColumn("o_custkey", F.col("o_custkey") + i * 10_000_000)
        )
        li_parts.append(
            li.withColumn(
                "l_orderkey", F.col("l_orderkey") + i * 100_000_000
            )
            .withColumn("l_partkey", F.col("l_partkey") + i * 10_000_000)
            .withColumn("l_suppkey", F.col("l_suppkey") + i * 1_000_000)
        )

        # dims scale with the fact tables: shift keys into the ranges
        # the scaled orders/lineitem reference (nation/region are FIXED
        # dimensions -- 25/5 rows at any corpus size -- copied verbatim)
        cust_parts.append(
            cust.withColumn(
                "c_custkey", F.col("c_custkey") + i * 10_000_000
            )
        )
        supp_parts.append(
            supp.withColumn(
                "s_suppkey", F.col("s_suppkey") + i * 1_000_000
            )
        )
        part_parts.append(
            part.withColumn(
                "p_partkey", F.col("p_partkey") + i * 10_000_000
            )
        )

    def union_all(parts):
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    union_all(doc_parts).write.mode("overwrite").parquet(
        f"{out_dir}/documents.parquet"
    )
    union_all(emb_parts).write.mode("overwrite").parquet(
        f"{out_dir}/embeddings.parquet"
    )
    # events goes out as ONE parquet file via pyarrow (not a Spark
    # directory): the streaming source (events_stream) sniffs the
    # footer of a single file exactly like the driver-generated
    # testdata, which makes the st_* tier curve-eligible; the original
    # ts physical type (nanos or us) is preserved byte-for-byte
    _write_events_single_file(k, out_dir)
    union_all(ord_parts).write.mode("overwrite").parquet(
        f"{out_dir}/orders.parquet"
    )
    union_all(li_parts).write.mode("overwrite").parquet(
        f"{out_dir}/lineitem.parquet"
    )
    union_all(cust_parts).write.mode("overwrite").parquet(
        f"{out_dir}/customer.parquet"
    )
    union_all(supp_parts).write.mode("overwrite").parquet(
        f"{out_dir}/supplier.parquet"
    )
    union_all(part_parts).write.mode("overwrite").parquet(
        f"{out_dir}/part.parquet"
    )
    for fixed in ("nation", "region"):
        spark.read.parquet(f"{BASE}/{fixed}.parquet").write.mode(
            "overwrite"
        ).parquet(f"{out_dir}/{fixed}.parquet")


def build_skewed(spark, k: int, out_dir: str) -> None:
    """xK events replica with a manufactured hot key: every even
    event_id lands on user 0, so one user owns 50% of ALL rows at every
    K -- the adversarial shape a uniform scaling curve never creates."""
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet(f"{BASE}/events.parquet").select(
        "event_id", "user_id", "event_type", "value"
    )
    parts = []
    for i in range(k):
        parts.append(
            ev.select(
                (F.col("event_id") + i * 1_000_000_000).alias("event_id"),
                F.when(F.pmod("event_id", F.lit(2)) == 0, F.lit(0))
                .otherwise(F.col("user_id") + i * 1_000_000 + 1)
                .alias("user_id"),
                "event_type",
                "value",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.write.mode("overwrite").parquet(f"{out_dir}/events.parquet")
    # materialized per-user dim table: reading the dim from disk (instead
    # of deriving it from the fact inline) is both the realistic join
    # shape AND the one AQE's skew split can act on -- a fused
    # distinct/aggregate between the dim's shuffle and the join defeats
    # the OptimizeSkewedJoin pattern match (see tests/test_skew.py)
    (
        out.select("user_id")
        .distinct()
        .withColumn("seg", F.pmod("user_id", F.lit(10)))
        .write.mode("overwrite")
        .parquet(f"{out_dir}/users.parquet")
    )


def run_skew(spark, sf_dir: str) -> dict[str, float]:
    """Time the skew-sensitive plan shapes on the hot-key table; every
    dedup variant is checked to produce the same row count."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")

    def t(df) -> float:
        # best-of-2: the first run pays page-cache/codegen warm-up, which
        # would otherwise bias whichever variant runs first
        def once() -> float:
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

        return round(min(once(), once()), 2)

    timings: dict[str, float] = {}

    # merge-on-read dedup, the engine's hottest shape. Plain window: the
    # hot user's 50% of the corpus sorts in ONE task.
    w = Window.partitionBy("user_id").orderBy(F.col("event_id").desc())
    plain = (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    timings["window_dedup_plain"] = t(plain)
    # salted two-stage: stage 1 ranks within (user, salt) -- 32-way
    # parallel over the hot key -- stage 2 ranks the <=32 survivors
    ws = Window.partitionBy("user_id", "_salt").orderBy(F.col("event_id").desc())
    salted = (
        ev.withColumn("_salt", F.pmod("event_id", F.lit(32)))
        .withColumn("rn", F.row_number().over(ws))
        .where(F.col("rn") == 1)
        .withColumn("rn2", F.row_number().over(w))
        .where(F.col("rn2") == 1)
        .drop("_salt", "rn", "rn2")
    )
    timings["window_dedup_salted"] = t(salted)
    # sort-free max_by: hash agg with MAP-SIDE partial reduction -- each
    # input split contributes one row per user, so the hot key never
    # concentrates; the skew-robust default at scale
    maxby = ev.groupBy("user_id").agg(
        F.max("event_id").alias("event_id"),
        F.max_by("event_type", "event_id").alias("event_type"),
        F.max_by("value", "event_id").alias("value"),
    )
    timings["maxby_dedup"] = t(maxby)
    n = plain.count()
    assert maxby.count() == n and salted.count() == n, "dedup variants disagree"

    # hot-key join: fact x per-user dim, broadcast disabled so the join
    # actually shuffles on the hot key; AQE skew-join split on vs off.
    # The dim is READ FROM DISK: deriving it inline from ev would fuse a
    # distinct-aggregate between the dim shuffle and the join, and
    # OptimizeSkewedJoin only matches an SMJ whose both sides read their
    # ShuffleQueryStage directly (tests/test_skew.py pins this)
    dim = spark.read.parquet(f"{sf_dir}/users.parquet")
    joined = ev.join(dim.hint("merge"), "user_id").groupBy("seg").agg(
        F.count("*").alias("n")
    )
    # AQE's skew trigger (skewedPartitionThresholdInBytes) defaults to
    # 256 MB -- sized for real clusters; scale it to this harness's data
    # so the split mechanism actually engages on the hot partition
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16m"
    )
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
    for skew_flag in ("true", "false"):
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", skew_flag)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        key = f"join_aqe_skew_{'on' if skew_flag == 'true' else 'off'}"
        timings[key] = t(joined)
    # stage-final variant: the raw join with NO fused consumer above it.
    # This is the shape AQE actually splits on this Spark version
    # (SortMergeJoin(skew=true) + AQEShuffleRead skewed, pinned by
    # tests/test_skew.py); the fused join->groupBy above is the shape it
    # declines, which is why the row above shows no split.
    raw_join = ev.join(dim.hint("merge"), "user_id")
    for skew_flag in ("true", "false"):
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", skew_flag)
        key = f"join_aqe_stage_final_{'on' if skew_flag == 'true' else 'off'}"
        timings[key] = t(raw_join)
    # the deterministic manual cure: split the join on the known hot key
    # -- broadcast the hot key's dim rows against its fact slice, plain
    # keyed join for the rest, union. (The production pattern when hot
    # keys are knowable: AQE's automatic split is the fallback when they
    # are not.)
    hot_dim = dim.where(F.col("user_id") == 0)
    rest = (
        ev.where(F.col("user_id") != 0)
        .join(dim.where(F.col("user_id") != 0).hint("merge"), "user_id")
        .select("seg")
    )
    hot = (
        ev.where(F.col("user_id") == 0)
        .join(F.broadcast(hot_dim), "user_id")
        .select("seg")
    )
    split = rest.unionByName(hot).groupBy("seg").agg(
        F.count("*").alias("n")
    )
    timings["join_hot_key_split"] = t(split)
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.unset(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
    )
    spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")

    # algebraic agg, plain vs salted: partial (map-side) aggregation
    # already collapses the hot key to one row per split, so these two
    # should tie -- the honest control showing WHERE salting pays
    agg_plain = ev.groupBy("user_id").agg(
        F.count("*").alias("n"), F.sum("value").alias("s")
    )
    timings["agg_plain"] = t(agg_plain)
    agg_salted = (
        ev.withColumn("_salt", F.pmod("event_id", F.lit(16)))
        .groupBy("user_id", "_salt")
        .agg(F.count("*").alias("_n"), F.sum("value").alias("_s"))
        .groupBy("user_id")
        .agg(F.sum("_n").alias("n"), F.sum("_s").alias("s"))
    )
    timings["agg_salted"] = t(agg_salted)

    # per-entity lead window (the SCD-2 / TWAP shape): the plain window
    # funnels the hot user's 50% through ONE task (AQE cannot split a
    # window partition); ranged_lead range-chunks it. Locally the plain
    # window usually still wins -- one task sorting the whale's slice is
    # cheap below the sort wall -- so read these two as a MECHANISM
    # check (straggler present vs absent), not a local speedup claim
    # (SCALE.md round-8 hot-entity section).
    from clueso_spark.functions.ordered import ranged_lead

    proj = ev.select("user_id", "event_type", "event_id")
    wl = Window.partitionBy("user_id").orderBy("event_id")
    lead_plain = proj.withColumn("nxt", F.lead("event_id").over(wl))
    timings["lead_plain_window"] = t(lead_plain)
    lead_ranged = ranged_lead(
        proj, ["user_id"], ["event_id"], "event_id", "nxt"
    )
    timings["lead_ranged"] = t(lead_ranged)
    n_closed = lead_plain.where(F.col("nxt").isNotNull()).count()
    assert (
        lead_ranged.where(F.col("nxt").isNotNull()).count() == n_closed
    ), "lead variants disagree"
    return timings


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--ks", default="1,4,10")
    ap.add_argument("--queries", default=",".join(DEFAULT_QUERIES))
    ap.add_argument(
        "--skew",
        type=int,
        default=0,
        metavar="K",
        help="run the hot-key skew suite at xK instead of the curve",
    )
    args = ap.parse_args()
    ks = [int(x) for x in args.ks.split(",")]
    names = args.queries.split(",")

    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    from clueso_spark.plans.catalog import all_queries, staged_queries
    from clueso_spark.session import get_spark

    spark = get_spark("scaling-curve")
    spark.sparkContext.setLogLevel("ERROR")

    if args.skew:
        root = tempfile.mkdtemp(prefix="clueso_skew_")
        try:
            sf_dir = f"{root}/x{args.skew}"
            t0 = time.perf_counter()
            build_skewed(spark, args.skew, sf_dir)
            print(
                f"built skewed x{args.skew} in {time.perf_counter() - t0:.1f}s",
                flush=True,
            )
            timings = run_skew(spark, sf_dir)
            for name, dt in timings.items():
                print(f"  {name:24s} {dt:7.2f}s", flush=True)
        finally:
            shutil.rmtree(root, ignore_errors=True)
        print(
            json.dumps(
                {"metric": "skew_suite", "k": args.skew, "results": timings}
            )
        )
        return 0

    # staged operators are curve-eligible before promotion
    registry = {**all_queries(), **staged_queries()}
    results: dict[str, dict[str, float]] = {n: {} for n in names}
    root = tempfile.mkdtemp(prefix="clueso_curve_")
    try:
        for k in ks:
            sf_dir = f"{root}/x{k}"
            t0 = time.perf_counter()
            build_scaled(spark, k, sf_dir)
            print(f"built x{k} in {time.perf_counter() - t0:.1f}s", flush=True)
            for n in names:
                # best-of-2 (same philosophy as bench.py): the first run
                # against a freshly-written replica pays page-cache and
                # JIT warm-up, which for build-heavy plans (graph edge
                # expansion) dominated the single-run number and read as
                # fake superlinearity -- measured 70.7/38.6/13.4 s across
                # three identical khop runs at x10
                runs = []
                for _ in range(2):
                    t0 = time.perf_counter()
                    registry[n].spark(spark, sf_dir).write.format(
                        "noop"
                    ).mode("overwrite").save()
                    runs.append(time.perf_counter() - t0)
                dt = round(min(runs), 2)
                results[n][f"x{k}"] = dt
                print(f"  {n:28s} x{k}: {dt:7.2f}s", flush=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps({"metric": "scaling_curve", "base": BASE, "results": results}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
