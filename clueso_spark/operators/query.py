"""Search API: SQL-WHERE predicate search with keyset pagination.

Re-expresses MetadataQueryExecutor (ref: query/MetadataQueryExecutor.scala):
the *query language* is any Spark SQL boolean expression over the flattened
metadata columns -- including map access ``userMd.`x-amz-meta-color` = 'blue'``
and LIKE -- which Catalyst parses for free via ``F.expr(str)``
(ref: MetadataQueryExecutor.scala:69-72).

Pagination is keyset-style: results are globally ordered by ``key`` (the S3
list-objects contract), each page is ``key > start_key ... LIMIT n``
(ref: MetadataQuery.scala:3, MetadataQueryExecutor.scala:74-86; pinned by
CluesoMergingAndQueryingSpec:174-255). Catalyst rewrites orderBy+limit into
TakeOrderedAndProject (top-k) -- no global sort is materialized, which is the
scale-correct plan: each task keeps an n-row heap, the driver merges.
"""

from __future__ import annotations

import operator
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clueso_spark.operators.cache import BucketCacheManager
from clueso_spark.operators.merge import merged_latest_state
from clueso_spark.schemas import RESULT_COLS, VERSION_KEY_CHAR
from clueso_spark.sources.store import MetadataStore


@dataclass
class MetadataQuery:
    """Query descriptor (ref: query/MetadataQuery.scala:3)."""

    bucket_name: str
    sql_where_expr: str = ""
    start_key: str | None = None
    limit: int = 1000


class MetadataQueryExecutor:
    """Executes metadata searches over one MetadataStore."""

    def __init__(
        self,
        spark: SparkSession,
        store: MetadataStore,
        cache: BucketCacheManager | None = None,
        print_explain: bool = False,
        metrics=None,
    ):
        self.spark = spark
        self.store = store
        self.cache = cache
        #: optional clueso_spark.metrics.SearchMetrics
        #: (ref: SearchMetricsSource.scala registers the same per-bucket
        #: search timings)
        self.metrics = metrics
        #: mirror of spark_sql_print_explain
        #: (ref: MetadataQueryExecutor.scala:88-92): when set, each
        #: execute() captures the extended plan into ``last_explain``
        #: and prints it.
        self.print_explain = print_explain
        self.last_explain: str | None = None

    # Note on S7 (temp view + refreshTable): the reference registers staging
    # as a temp view and calls spark.catalog.refreshTable to force file
    # re-listing because it re-reads one long-lived view as files churn
    # (ref: MetadataQueryExecutor.scala:125-130). We re-plan from paths on
    # every execute() -- each spark.read.parquet lists afresh -- so there is
    # no stale file-listing to refresh and no refreshTable call is needed.

    def bucket_dataframe(self, bucket: str) -> DataFrame:
        """Merged latest-state view of one bucket, optionally cached
        (ref: MetadataQueryExecutor.scala:42-50,160-224)."""

        def build() -> DataFrame:
            return merged_latest_state(
                self.store.read_landing(bucket),
                self.store.read_staging(bucket),
            )

        if self.cache is not None:
            return self.cache.get(bucket, build)
        return build()

    def execute(self, query: MetadataQuery) -> DataFrame:
        """Build the search plan (ref: MetadataQueryExecutor.scala:62-95).
        Returns a DataFrame; materialization is the caller's choice."""
        conds = []
        if query.sql_where_expr:
            conds.append(F.expr(query.sql_where_expr))  # user predicate (P9)
        if query.start_key is not None:
            conds.append(F.col("key") > F.lit(query.start_key))  # keyset (P10)
        # master-only listing: drop version keys (NUL in key)
        # (ref: MetadataQueryExecutor.scala:82-84)
        conds.append(~F.col("key").contains(VERSION_KEY_CHAR))
        # one where for all three: every DataFrame call re-analyses the
        # whole merge lineage, so each call saved is planning time saved
        df = (
            self.bucket_dataframe(query.bucket_name)
            .where(reduce(operator.and_, conds))
            .select([F.col(f"`{c}`") for c in RESULT_COLS])
            .orderBy("key")
            .limit(query.limit)
        )
        if self.print_explain:
            import contextlib
            import io

            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain(extended=True)
            self.last_explain = buf.getvalue()
            print(self.last_explain)
        return df

    def execute_json(self, query: MetadataQuery) -> str:
        """Materialize a page as a JSON array string -- the reference's
        stdout/Livy contract (ref: SparkUtils.scala:79-97)."""
        if self.metrics is not None:
            with self.metrics.search_timed(query.bucket_name):
                rows = self.execute(query).toJSON().take(query.limit)
        else:
            rows = self.execute(query).toJSON().take(query.limit)
        return "[" + ",".join(rows) + "]"

    def execute_collected(self, query: MetadataQuery) -> list:
        """Materialize a page as collected Rows, under the same
        per-bucket metrics instrumentation execute_json gets -- the one
        place the 'if metrics: search_timed' dance lives for
        collect()-style callers (the HTTP XML path re-implemented it
        once and new callers would silently miss metrics again)."""
        if self.metrics is not None:
            with self.metrics.search_timed(query.bucket_name):
                return self.execute(query).collect()
        return self.execute(query).collect()

    def pages(self, query: MetadataQuery):
        """Iterate all pages via keyset pagination (each page re-queries with
        start_key = last key of the previous page)."""
        start = query.start_key
        while True:
            page = MetadataQuery(
                query.bucket_name, query.sql_where_expr, start, query.limit
            )
            rows = self.execute(page).collect()
            if not rows:
                return
            yield rows
            if len(rows) < query.limit:
                return
            start = rows[-1]["key"]
