"""Scale-safe global ordered computations.

A ``Window.orderBy(...)`` with no ``partitionBy`` funnels the ENTIRE
relation through one task (Spark warns ``WindowExec: No Partition
Defined``) -- the classic 100 TB serialization trap. The helpers here
compute the same exact results with every stage partitioned:

  1. range-repartition on the order key (Spark's RangePartitioner gives
     contiguous, sorted key ranges per partition);
  2. per-partition running sums via a window PARTITIONED BY the physical
     partition id (parallel: each group is one range);
  3. per-partition totals (tiny: one row per partition) exploded into
     prefix contributions -- partition p's total feeds every partition
     after it -- aggregated into per-partition offsets and broadcast
     back.

The result is independent of WHERE the range boundaries fall (offsets
are computed from the actual per-partition sums), so the
RangePartitioner's sampled, run-varying boundaries never affect values
-- only the physical split. Requires a total order: ``order_cols`` must
be duplicate-free across rows (use a unique tie-breaker column), so no
tie group can straddle a boundary.

Cost at scale: two full exchanges of the relation (range + pid hash)
plus one broadcast of a #partitions-row offset table -- every stage
parallel, vs. the single-partition window's one-task sort of the world.
"""

from __future__ import annotations

import weakref

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

#: per-session registry of persisted intermediate DataFrames, keyed
#: (SparkSession, slot): the next call on the SAME session+slot
#: unpersists the previous one, so repeated runs (bench best-of-N, the
#: parity gate) never accumulate cache entries -- while two interleaved
#: SparkSessions cannot unpersist each other's intermediates. WeakKey: a
#: garbage-collected session drops its entries (its cache died with it).
#: Lives in the functions layer so the helpers below and every plan
#: module (via plans.catalog) share ONE registry; the helpers' slots are
#: prefixed ``ranged:`` / ``rlead:``, which no plan slot uses.
_PERSISTED: "weakref.WeakKeyDictionary[SparkSession, dict[str, DataFrame]]" = (
    weakref.WeakKeyDictionary()
)


def persist_swap(spark: SparkSession, slot: str, df: DataFrame) -> DataFrame:
    """Persist ``df`` (MEMORY_AND_DISK: at 100 TB intermediates spill
    rather than OOM, and recomputation -- a full corpus re-scan -- is
    the costlier alternative), releasing whatever the previous call on
    this session's ``slot`` pinned."""
    slots = _PERSISTED.setdefault(spark, {})
    prev = slots.pop(slot, None)
    if prev is not None:
        prev.unpersist()
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    slots[slot] = df
    return df


def ranged_cumsum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact running sum of ``value_col`` (non-null) over the total
    order given by ``order_cols`` (must be unique per row), inclusive of
    the current row -- semantically identical to
    ``sum(value_col) over (order by order_cols rows unbounded preceding)``
    but with no single-partition stage."""
    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    # The totals branch and the cumsum branch below MUST observe the
    # same range boundaries / partition ids. Without intervention
    # Catalyst plans them as two separate RangePartitioning exchanges
    # whose SAMPLED boundaries are not guaranteed identical across
    # materializations. persist() closes this soundly AND lazily: at
    # physical-planning time the cache lookup rewrites both identical
    # subtrees to the SAME InMemoryRelation node -- one underlying RDD,
    # one range shuffle, one spark_partition_id assignment by
    # construction (the guarantee holds even if the cache entry is
    # later evicted: the shared plan node recomputes once from one
    # lineage). localCheckpoint was tried first and rejected: even
    # eager=False converts to an RDD at CONSTRUCTION time, running
    # every upstream stage before the query is ever executed.
    ranged = persist_swap(
        spark,
        f"ranged:{'|'.join(order_cols)}->{out_col}",
        df.repartitionByRange(n, *order_cols).withColumn(
            "__rc_pid", F.spark_partition_id()
        ),
    )
    w = (
        Window.partitionBy("__rc_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = ranged.withColumn("__rc_local", F.sum(value_col).over(w))
    totals = local.groupBy("__rc_pid").agg(
        F.sum(value_col).alias("__rc_tot")
    )
    # partition p contributes its total to every LATER partition: an
    # equi-joinable explode (p+1 .. n-1), never a non-equi BNLJ; the
    # contribution table is <= P^2/2 rows for P partitions
    contrib = totals.select(
        F.explode(
            F.when(
                F.col("__rc_pid") + 1 <= F.lit(n - 1),
                F.sequence(F.col("__rc_pid") + 1, F.lit(n - 1)),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("__rc_tpid"),
        "__rc_tot",
    )
    offsets = contrib.groupBy("__rc_tpid").agg(
        F.sum("__rc_tot").alias("__rc_off")
    )
    return (
        local.join(
            F.broadcast(offsets),
            local["__rc_pid"] == offsets["__rc_tpid"],
            "left",
        )
        .withColumn(
            out_col,
            F.col("__rc_local")
            + F.coalesce(F.col("__rc_off"), F.lit(0)),
        )
        .drop("__rc_pid", "__rc_local", "__rc_tpid", "__rc_off")
    )


def ranged_row_number(
    df: DataFrame,
    order_cols: list[str],
    out_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact global 1-based row number over the total order given by
    ``order_cols`` (must be unique per row) -- semantically
    ``row_number() over (order by order_cols)`` without the
    single-partition window."""
    out = ranged_cumsum(
        df.withColumn("__rc_one", F.lit(1)),
        order_cols,
        "__rc_one",
        out_col,
        num_partitions,
    )
    return out.withColumn(out_col, F.col(out_col).cast("bigint")).drop(
        "__rc_one"
    )


def ntile_from_rank(rank_col: str, n_col: str, k: int):
    """Column expression: exact ``ntile(k)`` bucket from a 1-based
    global rank and the relation's total row count -- SQL ntile
    semantics (first ``n mod k`` buckets take the extra row), computed
    by comparison instead of a global window. With q = n div k and
    r = n mod k: ranks 1..r*(q+1) land in buckets of size q+1; the rest
    in buckets of size q (when q = 0 every rank is in the first branch,
    so the q-divisor is never hit on n < k)."""
    q = f"({n_col} div {k})"
    r = f"({n_col} % {k})"
    big = f"({r} * ({q} + 1))"  # rows covered by the (q+1)-sized buckets
    return F.expr(
        f"cast(case when {rank_col} <= {big} "
        f"then ({rank_col} - 1) div ({q} + 1) + 1 "
        f"else {r} + (({rank_col} - 1 - {big}) div {q}) + 1 "
        f"end as bigint)"
    )


def ranged_lead(
    df: DataFrame,
    part_cols: list[str],
    order_cols: list[str],
    value_col: str,
    out_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """``lead(value_col) over (partition by part_cols order by
    order_cols)`` with no per-entity single-task sort -- the hot-entity
    escape hatch for SCD-2 / time-weighted interval builds.

    The plain per-entity window is the right DEFAULT: entity histories
    are normally bounded, and this helper costs an extra range exchange
    plus a chunk-boundary join. But ONE whale entity (a bot user owning
    a material fraction of the event log) serializes its whole history
    through a single task under the plain window -- AQE cannot split a
    window partition -- and the skew probe measured the straggler at
    1.7x on local data (SCALE.md round-8 section), a ratio that grows
    linearly with the whale's share. Here the whale's history is split
    across range partitions like everyone else's:

      1. range-repartition on (part_cols + order_cols) -- contiguous
         sorted runs, a whale spans MANY partitions;
      2. lead within each (partition-id, entity) chunk -- parallel;
      3. only each chunk's LAST row per entity lacks its lead; patch it
         with the successor chunk's first value, computed on the
         chunk-level relation (<= #partitions rows per entity, bounded
         by cluster width, never by data) and joined back on
         (partition-id, entity) -- a key the window output is already
         partitioned by, so Catalyst adds no new exchange on the big
         side.

    Requirements: (part_cols + order_cols) duplicate-free across rows,
    and ``value_col`` non-null (a null value is indistinguishable from
    "no successor" during boundary patching).
    """
    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    keys = [*part_cols, *order_cols]
    # persist for the same reason as ranged_cumsum: the chunk-firsts
    # branch and the local-lead branch must observe identical range
    # boundaries / partition ids (see the block comment there)
    ranged = persist_swap(
        spark,
        f"rlead:{'|'.join(keys)}->{out_col}",
        df.repartitionByRange(n, *keys).withColumn(
            "__rl_pid", F.spark_partition_id()
        ),
    )
    w = Window.partitionBy("__rl_pid", *part_cols).orderBy(*order_cols)
    local = ranged.withColumn("__rl_local", F.lead(value_col).over(w))
    firsts = ranged.groupBy("__rl_pid", *part_cols).agg(
        F.min_by(value_col, F.struct(*order_cols)).alias("__rl_first")
    )
    # successor chunk's first value: a lead over the per-entity CHUNK
    # list -- bounded by the partition count, so this window is safe
    # even for the whale
    wnext = Window.partitionBy(*part_cols).orderBy("__rl_pid")
    succ = firsts.withColumn(
        "__rl_succ", F.lead("__rl_first").over(wnext)
    ).drop("__rl_first")
    return (
        local.join(succ, ["__rl_pid", *part_cols], "left")
        .withColumn(out_col, F.coalesce("__rl_local", "__rl_succ"))
        # the join hoists its keys to the front; restore the caller's
        # column order (+ out_col last), like the other ranged helpers
        .select(*df.columns, out_col)
    )
