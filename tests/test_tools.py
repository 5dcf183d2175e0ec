"""Tool tests (model: LandingPopulatorSpec.scala:12-21 -- populator writes
the expected parquet file/record counts)."""

from __future__ import annotations

from clueso_spark.tools.info import parquet_stats
from clueso_spark.tools.populate import populate


def test_populator_writes_expected_counts(spark, store):
    n = populate(
        spark, store, "popbucket", 100, 4, compaction_record_interval=1000
    )
    assert n == 100
    df = store.read_landing("popbucket")
    assert df.count() == 100
    # every row is a well-formed put with userMd populated
    row = df.limit(1).collect()[0]
    assert row["type"] == "put"
    assert row["message"]["userMd"]["x-amz-meta-food"] in ("pizza", "pasta")
    # interval math holds: all opIndex record numbers round up into one band
    assert set(
        r["maxOpIndex"] for r in df.select("maxOpIndex").distinct().collect()
    ) == {1000}


def test_populator_is_deterministic(spark, store):
    populate(spark, store, "popdet", 50, 2, compaction_record_interval=1000)
    first = sorted(r["key"] for r in store.read_landing("popdet").collect())
    populate(spark, store, "popdet", 50, 2, compaction_record_interval=1000)
    second = sorted(r["key"] for r in store.read_landing("popdet").collect())
    assert first == second


def test_info_stats(spark, store):
    populate(spark, store, "infob", 60, 3, compaction_record_interval=1000)
    stats = parquet_stats(store, spark, "landing", "infob")
    assert stats.record_count == 60
    assert stats.file_count == 3
    assert stats.total_bytes > 0
    empty = parquet_stats(store, spark, "staging", "infob")
    assert empty.file_count == 0 and empty.record_count == 0


def test_dedup_cli_prints_report(spark, capsys, monkeypatch):
    import json
    import sys

    from clueso_spark.tools import dedup_cli

    monkeypatch.setattr(
        sys, "argv",
        ["dedup_cli", "/root/testdata/sf0.001", "--max-pairs", "2"],
    )
    assert dedup_cli.main() == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["n_docs"] > 0
    assert report["n_dup_groups"] <= report["n_near_dup_pairs"] * 2
    assert len(report["top_pairs"]) <= 2


def test_perfbench_ab_gain_rule():
    """tools/perfbench_ab.py claims a gain only with >= 9/10 pair wins AND
    a median gap wider than the parent's inter-quartile spread; an
    end-to-end metric past its bound in the wrong direction is WORSE."""
    from tools.perfbench_ab import judge

    parent = [100, 102, 98, 101, 99, 103, 97, 100, 101, 99]  # IQR 2
    assert judge(parent, [p - 20 for p in parent], "lower", 0.25) == (10, "GAIN")
    # 8 of 10 wins is not enough, however wide the gap
    eight = [p - 20 for p in parent[:8]] + [p + 1 for p in parent[8:]]
    assert judge(parent, eight, "lower", 0.25) == (8, "")
    # every pair won, by less than the parent's own spread
    assert judge(parent, [p - 1 for p in parent], "lower", 0.25) == (10, "")
    assert judge(parent, [p * 0.7 for p in parent], "higher", 0.25) == (0, "WORSE")
    assert judge(parent, [p * 0.7 for p in parent], "higher", None) == (0, "")


def test_tools_put_no_absolute_path_on_sys_path():
    """A tool run from a second checkout (say, a parent-commit copy for
    an A/B) must import that checkout's engine, so tools derive the
    repo root from __file__ instead of naming a fixed path."""
    import ast
    from pathlib import Path

    tools = Path(__file__).resolve().parents[1] / "tools"
    bad = []
    for path in sorted(tools.glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and ast.unparse(node.func.value) == "sys.path"
                and any(
                    isinstance(a, ast.Constant)
                    and isinstance(a.value, str)
                    and Path(a.value).is_absolute()
                    for a in node.args
                )
            ):
                bad.append(f"{path.name}:{node.lineno}")
    assert bad == []
