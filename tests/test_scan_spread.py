"""load_table_spread: the corpus-scan spread must be input-adaptive.

The documents-tier queries need the interpreted HOF projections spread
across every core when the corpus arrives as one tiny parquet file, but
the spread must NOT cost a full-corpus shuffle once the scan itself is
wide (at 100 TB the scan is always wide; an unconditional
repartition(defaultParallelism) there is an extra shuffle of raw text
-- OPTIMIZATION_r15.md, guide §2.1/§2.5).
"""

from __future__ import annotations

import pytest

from clueso_spark.sources.tables import (
    _size_suffix_bytes,
    load_table_spread,
    table_bytes,
)

SF_DIR = "/root/testdata/sf0.001"


def _has_repartition(df) -> bool:
    return "RoundRobinPartitioning" in df._jdf.queryExecution().toString()


def test_size_suffix_parsing():
    assert _size_suffix_bytes("1m") == 1 << 20
    assert _size_suffix_bytes("128MB") == 128 << 20
    assert _size_suffix_bytes("134217728") == 134217728
    assert _size_suffix_bytes("16k") == 16 << 10


def test_table_bytes_single_file():
    assert table_bytes(SF_DIR, "documents") > 0


def test_table_bytes_file_uri_is_local(tmp_path):
    (tmp_path / "documents.parquet").write_bytes(b"x" * 123)
    assert table_bytes(f"file://{tmp_path}", "documents") == 123
    assert table_bytes(f"file://{tmp_path}/", "documents") == 123


def test_table_bytes_unknown_is_none():
    # unknown != 0: a 0 would read as "tiny input" and re-insert the
    # corpus shuffle at the exact deployment the helper targets
    # (VERDICT r15 perf-weak item)
    assert table_bytes("/nonexistent", "documents") is None
    assert table_bytes("s3a://corpus-bucket/sf100tb", "documents") is None
    assert table_bytes("hdfs://nn:8020/warehouse/sf1", "documents") is None


def test_object_store_path_skips_the_shuffle(spark, monkeypatch):
    # the 100 TB deployment shape: a non-local sf_dir the local-FS size
    # probe cannot stat must take the WIDE branch (no round-robin
    # repartition), never fall back to the always-shuffle behavior.
    # load_table is patched to serve local data so only the sizing
    # policy is under test.
    import clueso_spark.sources.tables as t

    monkeypatch.setattr(
        t, "load_table", lambda s, d, n: s.read.parquet(
            f"{SF_DIR}/documents.parquet"
        )
    )
    df = t.load_table_spread(spark, "s3a://corpus-bucket/sf100tb", "documents")
    assert not _has_repartition(df)


@pytest.fixture()
def _restore_split_conf(spark):
    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key, None)
    yield
    if prev is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, prev)


def test_narrow_scan_gets_spread(spark, _restore_split_conf):
    # one ~100 KB file under a 128 MB split size scans as ONE task:
    # the spread must insert the round-robin repartition
    spark.conf.set("spark.sql.files.maxPartitionBytes", "134217728")
    assert _has_repartition(load_table_spread(spark, SF_DIR, "documents"))


def test_wide_scan_skips_the_shuffle(spark, _restore_split_conf):
    # force splits >= defaultParallelism (the 100 TB shape): the
    # repartition -- a full shuffle of raw corpus text -- must vanish
    nbytes = table_bytes(SF_DIR, "documents")
    par = spark.sparkContext.defaultParallelism
    spark.conf.set(
        "spark.sql.files.maxPartitionBytes", str(max(1, nbytes // (par + 1)))
    )
    assert not _has_repartition(load_table_spread(spark, SF_DIR, "documents"))


def test_both_paths_same_rows(spark, _restore_split_conf):
    spark.conf.set("spark.sql.files.maxPartitionBytes", "134217728")
    narrow = sorted(
        r["doc_id"]
        for r in load_table_spread(spark, SF_DIR, "documents")
        .select("doc_id")
        .collect()
    )
    nbytes = table_bytes(SF_DIR, "documents")
    par = spark.sparkContext.defaultParallelism
    spark.conf.set(
        "spark.sql.files.maxPartitionBytes", str(max(1, nbytes // (par + 1)))
    )
    wide = sorted(
        r["doc_id"]
        for r in load_table_spread(spark, SF_DIR, "documents")
        .select("doc_id")
        .collect()
    )
    assert narrow == wide and narrow
