"""Shared fixtures: one local SparkSession per test session, event builders.

Mirrors the reference's scenario-test harness style (SparkContextSetup,
ref: src/test/scala/com/scality/clueso/TestHelperFunctions.scala:13-80) but
against local tmp dirs instead of a dockerized S3.
"""

from __future__ import annotations

import importlib
import json

import pytest

from clueso_spark.plans.catalog import REGISTRY, CatalogQuery
from clueso_spark.session import get_spark
from clueso_spark.sources.store import MetadataStore


@pytest.fixture(scope="session")
def spark():
    sess = get_spark(
        "clueso-tests",
        **{
            "spark.sql.shuffle.partitions": "8",
            "spark.default.parallelism": "8",
        },
    )
    yield sess


def registered_by(module: str) -> dict[str, CatalogQuery]:
    """The catalog entries ``module`` defines, in registration order."""
    importlib.import_module(module)
    return {n: cq for n, cq in REGISTRY.items() if cq.spark.__module__ == module}


@pytest.fixture()
def store(spark, tmp_path):
    return MetadataStore(spark, str(tmp_path / "mdstore"))


def wire_event(
    op_index: str,
    type_: str,
    bucket: str,
    key: str,
    doc: dict | str | None = None,
) -> str:
    """Build one Kafka-wire envelope line; the inner document is
    string-encoded (double-encoded JSON), as on the real topic."""
    if doc is None:
        doc = {}
    inner = doc if isinstance(doc, str) else json.dumps(doc)
    return json.dumps(
        {
            "opIndex": op_index,
            "type": type_,
            "bucket": bucket,
            "key": key,
            "value": inner,
        }
    )


def put_doc(key: str, bucket: str, user_md: dict | None = None, **fields) -> dict:
    """Inner metadata document with x-amz-meta-* at top level (the wire
    form the ingestion transform must normalize into userMd)."""
    doc = {
        "bucket": bucket,
        "key": key,
        "owner-id": "owner1",
        "owner-display-name": "Owner One",
        "content-length": 100,
        "content-md5": "d41d8cd98f00b204e9800998ecf8427e",
        "last-modified": "2026-01-01T00:00:00.000Z",
        "x-amz-storage-class": "STANDARD",
        "md-model-version": 3,
        "location": [
            {
                "key": "loc1",
                "size": 100,
                "start": 0,
                "dataStoreName": "ds1",
                "dataStoreETag": "etag1",
            }
        ],
        "tags": {},
    }
    doc.update(fields)
    for k, v in (user_md or {}).items():
        doc[k if k.startswith("x-amz-meta-") else f"x-amz-meta-{k}"] = v
    return doc


def op(n: int, seq: int = 0) -> str:
    """opIndex in the reference's %012d_%d format
    (ref: LandingMetadataPopulatorTool.scala:88)."""
    return f"{n:012d}_{seq}"


def raw_df(spark, lines: list[str]):
    return spark.createDataFrame([(line,) for line in lines], "value string")


def write_events_parquet(dirpath, rows: "list[dict]") -> str:
    """Shared planted-events fixture builder: write `rows` (dicts with
    the six events columns) as <dirpath>/events.parquet and return the
    directory as an sf_dir. One definition -- the r11/r12 edge suites
    and the r13 suite all plant events tables; keeping four private
    copies of the schema is how they silently diverge (memory note:
    check existing before adding)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("us")),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    )
    pq.write_table(
        pa.Table.from_pylist(rows, schema=schema),
        str(dirpath / "events.parquet"),
    )
    return str(dirpath)
