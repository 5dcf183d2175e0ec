#!/usr/bin/env python3
"""Interleaved parent/change A/B of the repo benchmark (``perfbench/run.py``).

    python tools/perfbench_ab.py --parent ../parent --change . \\
        --workload search_hot --pairs 10 --seed 21 --log ab.jsonl
    python tools/perfbench_ab.py --report ab.jsonl

Each pair runs ``perfbench/run.py`` once in each checkout (for example two
clones of the repository at the parent commit and at the change), with the
same workload, seed, window and trace setting; the side that runs first
alternates from pair to pair, so a drift in the host's speed falls on both
sides. Seeds are ``--seed``, ``--seed + 1``, ... one per pair. Every run's
result line is appended to ``--log`` as it finishes.

For each workload and metric the report prints both sides' medians and
quartiles, the change's wins (ties count for neither side) and the median
gap. A metric is a ``GAIN`` only under the rule of the choosing-metrics
guide (section 8): the change wins at least nine tenths of the pairs, and
the medians differ, in the better direction, by more than the parent's own
inter-quartile spread. An end-to-end metric whose change median is worse
than the parent's by more than its bound in ``BENCHMARK.json`` reads
``WORSE``. Directions and bounds come from the change's ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

SIDES = ("parent", "change")


def run_once(checkout: str, workload: str, seed: int, seconds: float,
             trace: int, timeout_s: float) -> dict:
    """One benchmark run in ``checkout``; its parsed result line, or an
    ``error`` record when the run failed or printed no result."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    t0 = time.perf_counter()
    try:
        proc = subprocess.run(cmd, cwd=checkout, capture_output=True,
                              text=True, timeout=timeout_s)
    except subprocess.TimeoutExpired:
        return {"error": f"timed out after {timeout_s:.0f} s"}
    wall = time.perf_counter() - t0
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    records = [json.loads(ln) for ln in lines]
    result = next((r for r in reversed(records) if "metrics" in r), None)
    if proc.returncode != 0 or result is None:
        tail = (proc.stderr.strip().splitlines() or ["no output"])[-1]
        return {"error": f"exit {proc.returncode}: {tail}", "wall_s": wall}
    info = next((r for r in records if "workload" in r), {})
    return dict(result, wall_s=wall, steal=info.get("steal"))


def run_pairs(args) -> list[dict]:
    dirs = {"parent": os.path.abspath(args.parent),
            "change": os.path.abspath(args.change)}
    out = []
    for workload in args.workload:
        for i in range(args.pairs):
            seed = args.seed + i
            order = SIDES if i % 2 == 0 else SIDES[::-1]
            for side in order:
                rec = run_once(dirs[side], workload, seed, args.seconds,
                               args.trace, args.timeout)
                rec.update(workload=workload, pair=i, seed=seed, side=side,
                           first=order[0], trace=args.trace)
                out.append(rec)
                if args.log:
                    with open(args.log, "a") as fh:
                        fh.write(json.dumps(rec) + "\n")
                status = rec.get("error") or (
                    f"failed {rec['failed']}/{rec['attempted']}")
                print(f"# {workload} pair {i} seed {seed} {side}: "
                      f"{rec.get('wall_s', 0):.0f} s, {status}",
                      file=sys.stderr, flush=True)
    return out


def metric_specs(checkout: str) -> dict[str, dict]:
    """name -> {better, bound or None, end_to_end} from BENCHMARK.json."""
    with open(os.path.join(checkout, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    specs = {}
    for kind in ("end_to_end", "per_layer"):
        for m in bench.get(kind, []):
            specs[m["name"]] = dict(better=m["better"], bound=m.get("bound"),
                                    end_to_end=kind == "end_to_end")
    return specs


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return (xs[0],) * 3
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def judge(parent: list[float], change: list[float], better: str,
          bound: float | None) -> tuple[int, str]:
    """The change's pair wins and the verdict for one metric. ``parent``
    and ``change`` are aligned by pair."""
    sign = 1 if better == "higher" else -1
    wins = sum(sign * (c - p) > 0 for p, c in zip(parent, change))
    p_q1, p_med, p_q3 = quartiles(parent)
    gap = statistics.median(change) - p_med
    if wins >= 0.9 * len(parent) and sign * gap > p_q3 - p_q1:
        return wins, "GAIN"
    if bound is not None and p_med and -sign * gap / abs(p_med) > bound:
        return wins, "WORSE"
    return wins, ""


def report(records: list[dict], specs: dict[str, dict]) -> None:
    for workload, trace in sorted({(r["workload"], r["trace"]) for r in records}):
        rows = [r for r in records
                if (r["workload"], r["trace"]) == (workload, trace)]
        by_pair: dict[int, dict] = {}
        for r in rows:
            by_pair.setdefault(r["seed"], {})[r["side"]] = r
        pairs = [p for _, p in sorted(by_pair.items())
                 if all(s in p and "metrics" in p[s] for s in SIDES)]
        errors = [r for r in rows if "error" in r]
        print(f"\n== {workload} --trace {trace}: {len(pairs)} complete pairs "
              f"(seeds {', '.join(str(p['parent']['seed']) for p in pairs)})")
        for side in SIDES:
            done = [p[side] for p in pairs]
            failed = sum(r["failed"] for r in done)
            attempted = sum(r["attempted"] for r in done)
            print(f"   {side}: failed/attempted {failed}/{attempted}")
        for r in errors:
            print(f"   error: pair {r['pair']} {r['side']}: {r['error']}")
        if not pairs:
            continue
        names = [n for n in specs if n in pairs[0]["parent"]["metrics"]]
        print(f"   {'metric':38s} {'parent q1/med/q3':>30s} "
              f"{'change q1/med/q3':>30s} {'gap':>7s} {'wins':>6s}")
        for name in names:
            spec = specs[name]
            vals = {s: [p[s]["metrics"][name]["value"] for p in pairs]
                    for s in SIDES}
            wins, verdict = judge(vals["parent"], vals["change"],
                                  spec["better"],
                                  spec["bound"] if spec["end_to_end"] else None)
            pq, cq = quartiles(vals["parent"]), quartiles(vals["change"])
            rel = (cq[1] - pq[1]) / abs(pq[1]) if pq[1] else 0.0
            print(f"   {name:38s} {_fmt(pq):>30s} {_fmt(cq):>30s} "
                  f"{rel:+7.1%} {wins:>3d}/{len(pairs):<2d} {verdict}")


def _fmt(q: tuple[float, float, float]) -> str:
    return "/".join(f"{v:.4g}" for v in q)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", help="checkout of the parent commit")
    ap.add_argument("--change", help="checkout of the change")
    ap.add_argument("--workload", action="append",
                    help="workload to run (repeatable)")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1, help="first pair's seed")
    ap.add_argument("--seconds", type=float, default=10.0,
                    help="measured window, the same on both sides")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--timeout", type=float, default=900.0,
                    help="seconds before one run is abandoned")
    ap.add_argument("--log", help="append every run's record to this JSONL")
    ap.add_argument("--report", metavar="LOG",
                    help="only summarise the runs recorded in LOG")
    args = ap.parse_args(argv)

    if args.report:
        with open(args.report) as fh:
            records = [json.loads(ln) for ln in fh if ln.strip()]
        specs = metric_specs(args.change or os.getcwd())
    else:
        if not (args.parent and args.change and args.workload):
            ap.error("--parent, --change and --workload are required "
                     "unless --report is given")
        records = run_pairs(args)
        specs = metric_specs(args.change)
    report(records, specs)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
