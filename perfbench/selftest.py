"""Self-test of the benchmark. Run from the root of a checkout:

    python3 perfbench/selftest.py

1. The same seed gives byte-identical inputs and another seed different
   ones, for every workload.
2. A tiny version of every workload in ``BENCHMARK.json`` runs untraced and
   traced; each prints exactly the result keys, every metric that
   ``BENCHMARK.json`` names with its unit, and no failure.
3. In a directory holding only ``BENCHMARK.json`` and the benchmark's
   files, the benchmark exits non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from gen import digest  # noqa: E402
from run import WORKLOADS, make_inputs  # noqa: E402


def check_inputs() -> None:
    for w in WORKLOADS:
        a = digest(make_inputs(w, 7).texts())
        if a != digest(make_inputs(w, 7).texts()):
            raise SystemExit(f"{w}: seed 7 gave different inputs twice")
        if a == digest(make_inputs(w, 8).texts()):
            raise SystemExit(f"{w}: seeds 7 and 8 gave the same inputs")
    print("inputs: deterministic per seed, distinct across seeds")


def run(cmd: list[str], cwd: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        cmd, cwd=cwd, capture_output=True, text=True, timeout=600
    )


def check_workloads(bench: dict) -> None:
    for w in bench["workloads"]:
        for trace, section in ((0, "end_to_end"), (1, "per_layer")):
            cmd = bench["command"] + [
                "--workload", w["name"], "--seed", "1", "--seconds", "2",
                "--trace", str(trace), "--tiny",
            ]
            p = run(cmd, os.getcwd())
            if p.returncode != 0:
                raise SystemExit(f"{cmd} exited {p.returncode}:\n{p.stderr[-3000:]}")
            result = json.loads(p.stdout.strip().splitlines()[-1])
            if set(result) != {"correct", "attempted", "failed", "metrics"}:
                raise SystemExit(f"{w['name']}: result keys {sorted(result)}")
            if not result["correct"] or result["failed"] or result["attempted"] < 1:
                raise SystemExit(f"{w['name']} trace={trace}: {p.stdout[-2000:]}")
            want = {m["name"]: m["unit"] for m in bench[section]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if got != want:
                raise SystemExit(
                    f"{w['name']} trace={trace}: metrics differ from "
                    f"BENCHMARK.json: missing {sorted(set(want) - set(got))}, "
                    f"extra {sorted(set(got) - set(want))}, units "
                    f"{ {k: (got[k], want[k]) for k in got if k in want and got[k] != want[k]} }"
                )
            print(f"{w['name']} trace={trace}: {len(got)} metrics, "
                  f"{result['attempted']} operations, all correct")


def check_refuses_without_engine(bench: dict) -> None:
    with tempfile.TemporaryDirectory(dir=os.getcwd(), prefix=".perfbench_bare_") as d:
        shutil.copy("BENCHMARK.json", d)
        for path in bench["paths"]:
            shutil.copytree(path, os.path.join(d, path),
                            ignore=shutil.ignore_patterns("__pycache__"))
        cmd = bench["command"] + [
            "--workload", bench["workloads"][0]["name"], "--seed", "1",
            "--seconds", "1", "--trace", "0",
        ]
        p = run(cmd, d)
        if p.returncode == 0 or p.stdout.strip():
            raise SystemExit(f"bare directory: exit {p.returncode}, stdout {p.stdout!r}")
    print("bare directory: refused with exit", p.returncode)


def main() -> int:
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    check_inputs()
    check_refuses_without_engine(bench)
    check_workloads(bench)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
