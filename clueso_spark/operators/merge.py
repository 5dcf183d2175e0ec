"""Merge-on-read: reconstruct latest object state from landing + staging.

The analytical heart of the engine (ref: MetadataQueryExecutor.scala:160-224):
union both tiers, keep per ``key`` only the row with the highest ``opIndex``
(last-writer-wins), suppress keys whose winning row is a delete tombstone,
then flatten ``message.*`` to top level.

Spark-first upgrades over the reference:
  * ``unionByName(allowMissingColumns=True)`` replaces the hand-rolled
    null-padding union (ref: SparkUtils.scala:104-109).
  * No manual ``coalesce(numExecutors)`` -- AQE coalesces post-shuffle
    partitions at runtime (ref: MetadataQueryExecutor.scala:207-209 probes
    executor count by hand).

Scale: the ``row_number`` window shuffles on ``key``. Object keys are
near-unique, so the shuffle is naturally well-spread (no skew salting
needed); with hot keys one would pre-aggregate ``max(opIndex)`` per key and
semi-join, but per-key cardinality here is tiny (versions of one object).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from clueso_spark.schemas import MESSAGE_SCHEMA

#: message fields flattened to top level; the struct's own bucket/key copies
#: are shadowed by the envelope's (ref: MetadataQueryExecutor.scala:181-205
#: flattens an explicit 22-column list).
_FLATTEN_FIELDS = [f.name for f in MESSAGE_SCHEMA.fields if f.name not in ("bucket", "key")]

def latest_window():
    """Per-key recency window: highest opIndex wins
    (ref: MetadataQueryExecutor.scala:173)."""
    return Window.partitionBy("key").orderBy(F.col("opIndex").desc())


def latest_rows(
    df: DataFrame,
    *,
    dense: bool = False,
    keep_tombstones: bool = False,
) -> DataFrame:
    """Keep the winning row per ``key``.

    ``dense=False`` -> ``row_number`` (query path, one row per key even on
    tied opIndex, ref: MetadataQueryExecutor.scala:177-180); ``dense=True``
    -> ``dense_rank`` (compaction path, preserves ties,
    ref: TableFilesCompactor.scala:162-167). The difference is deliberate in
    the reference; we replicate it rather than silently normalize.
    """
    rank_fn = F.dense_rank() if dense else F.row_number()
    out = (
        df.withColumn("_rank", rank_fn.over(latest_window()))
        .filter(F.col("_rank") == 1)
        .drop("_rank")
    )
    if not keep_tombstones:
        out = out.filter(F.col("type") != "delete")
    return out


def flatten_message(df: DataFrame) -> DataFrame:
    """Project ``message.*`` to top level, keeping the envelope's
    bucket/key/opIndex/type (ref: MetadataQueryExecutor.scala:181-205)."""
    cols = [F.col("bucket"), F.col("key"), F.col("opIndex"), F.col("type")]
    cols += [F.col("message").getField(name).alias(name) for name in _FLATTEN_FIELDS]
    return df.select(*cols)


def merged_latest_state(landing: DataFrame, staging: DataFrame) -> DataFrame:
    """landing ∪ staging -> latest visible state per key, flattened.

    Tolerates schema drift between tiers via ``allowMissingColumns``
    (ref: MetadataQueryExecutor.scala:168-178 + SparkUtils.scala:104-109).
    Delete tombstones in either tier shadow older puts in the other
    (pinned by CluesoMergingAndQueryingSpec:110-172).
    """
    unioned = landing.unionByName(staging, allowMissingColumns=True)
    return flatten_message(latest_rows(unioned))
