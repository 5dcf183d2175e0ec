"""bench.py stdout-line contract (no Spark needed).

The round driver captures only the last ~2000 chars of bench.py's
stdout, so the one JSON line must stay under that window while losing
as little per-query information as possible:

  * short maps ship complete;
  * a map that would cross the window degrades to the SLOWEST queries
    that fit (``queries_top`` + ``n_dropped``) -- the expensive tail is
    what a reader of the capture window needs -- with the complete map
    still in BENCH_DETAIL.json;
  * child mode (``--no-detail``, used by ``--isolate``) never truncates
    and keeps full float precision: its stdout is parsed by the parent
    process, not captured by the driver.
"""

from __future__ import annotations

import importlib.util
import io
import json
import sys

import pytest


@pytest.fixture()
def bench(tmp_path, monkeypatch):
    from tests.conftest import REPO_ROOT

    spec = importlib.util.spec_from_file_location(
        "bench_under_test", str(REPO_ROOT / "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    # BENCH_DETAIL.json goes next to bench.py (dirname of __file__);
    # point the module's __file__ at tmp_path so the artifact lands
    # there -- patching the module attribute confines the redirect,
    # where patching the shared os.path.dirname would hijack every
    # dirname call in the process for the test's duration
    monkeypatch.setattr(mod, "__file__", str(tmp_path / "bench.py"))
    return mod


def _emit_line(bench, timings, detail, child=False):
    buf = io.StringIO()
    old = sys.stdout
    sys.stdout = buf
    try:
        bench._emit(
            timings, {k: 0.01 for k in timings}, [], 0.1, detail=detail,
            child=child,
        )
    finally:
        sys.stdout = old
    return buf.getvalue()


LONG_MAP = {
    f"query_name_number_{i:02d}_padded_extra_long_suffix": 0.1 * i + 0.123
    for i in range(70)
}


def test_short_map_ships_complete(bench):
    line = json.loads(_emit_line(bench, {"q1": 1.5, "q2": 0.5}, detail=True))
    assert line["queries"] == {"q1": 1.5, "q2": 0.5}
    assert "queries_top" not in line
    assert "stddev" not in line  # driver line never carries the stddev map


def test_long_map_degrades_to_slowest_that_fit(bench):
    raw = _emit_line(bench, LONG_MAP, detail=True)
    assert len(raw) <= 1901  # 1900 + newline
    line = json.loads(raw)
    assert "queries" not in line
    top = line["queries_top"]
    assert line["n_dropped"] == len(LONG_MAP) - len(top)
    assert line["n_dropped"] > 0
    vals = list(top.values())
    assert vals == sorted(vals, reverse=True)  # slowest first
    slowest = max(LONG_MAP, key=LONG_MAP.get)
    assert slowest in top


def test_total_survives_degradation(bench):
    line = json.loads(_emit_line(bench, LONG_MAP, detail=True))
    assert line["value"] == round(sum(LONG_MAP.values()), 3)


def test_child_mode_never_truncates(bench):
    line = json.loads(_emit_line(bench, LONG_MAP, detail=False, child=True))
    # full map, full precision -- the --isolate parent reads exact values
    assert line["queries"] == LONG_MAP
    assert "queries_top" not in line
    assert "stddev" in line


def test_bare_no_detail_still_truncates(bench):
    # ADVICE r8: a direct `bench.py --all --no-detail` line can land in
    # the driver's ~2000-char capture window -- the truncation exemption
    # belongs to --child, not --no-detail
    raw = _emit_line(bench, LONG_MAP, detail=False, child=False)
    assert len(raw) <= 1901
    line = json.loads(raw)
    assert "queries" not in line
    assert line["n_dropped"] > 0


def test_parse_args_rejects_unknown_flag(bench):
    assert bench._parse_args(["--isolte"]) is None  # the ADVICE r8 typo
    assert bench._parse_args(["--all", "extra"]) is None


def test_parse_args_only_refuses_flag_token(bench):
    assert bench._parse_args(["--only", "--isolate"]) is None
    assert bench._parse_args(["--only"]) is None


def test_parse_args_accepts_driver_and_isolate_contracts(bench):
    assert bench._parse_args([]) == {
        "all": False, "only": None, "isolate": False, "detail": True,
        "child": False,
    }
    opts = bench._parse_args(["--only", "q1,q2", "--child"])
    assert opts["only"] == ["q1", "q2"]
    assert opts["child"] is True and opts["detail"] is False
    assert bench._parse_args(["--only=q1"])["only"] == ["q1"]


def test_detail_artifact_always_complete(bench, tmp_path):
    _emit_line(bench, LONG_MAP, detail=True)
    detail = json.loads((tmp_path / "BENCH_DETAIL.json").read_text())
    assert detail["queries"] == LONG_MAP
    assert set(detail["stddev"]) == set(LONG_MAP)


def test_detail_carries_cold_map_and_archives(bench, tmp_path):
    """Round-10 bookkeeping (r9 verdict item 4): the detail payload
    records per-query first-attempt (cold) times alongside best-of-N,
    and every detail run also lands a timestamped BENCH_HISTORY archive
    so sub-top-N history survives the next overwrite. The driver stdout
    line stays cold-free (budget)."""
    timings = {"qa": 1.5, "qb": 0.4}
    buf = io.StringIO()
    old = sys.stdout
    sys.stdout = buf
    try:
        bench._emit(
            timings, {k: 0.01 for k in timings}, [], 0.1, detail=True,
            cold={"qa": 2.9, "qb": 0.6},
        )
    finally:
        sys.stdout = old
    detail = json.loads((tmp_path / "BENCH_DETAIL.json").read_text())
    assert detail["cold"] == {"qa": 2.9, "qb": 0.6}
    archives = list((tmp_path / "BENCH_HISTORY").glob("DETAIL_*.json"))
    assert len(archives) == 1
    assert json.loads(archives[0].read_text()) == detail
    line = json.loads(buf.getvalue())
    assert "cold" not in line and "stddev" not in line


def test_line_and_detail_carry_load_metadata(bench, tmp_path):
    """r14 verdict item 5: the driver-run bench number inflates under
    host load and each round's read had to re-litigate that against
    archived history. The run now records 1-min loadavg at start/end
    (plus ncpu) in BOTH the detail artifact and the driver stdout line,
    so a hot run is self-explaining. Omitted load degrades to {} rather
    than breaking older callers."""
    timings = {"qa": 1.5, "qb": 0.4}
    load = {"start": 3.1, "end": 28.4, "ncpu": 32}
    buf = io.StringIO()
    old = sys.stdout
    sys.stdout = buf
    try:
        bench._emit(
            timings, {k: 0.01 for k in timings}, [], 0.1, detail=True,
            load=load,
        )
    finally:
        sys.stdout = old
    detail = json.loads((tmp_path / "BENCH_DETAIL.json").read_text())
    assert detail["load"] == load
    line = json.loads(buf.getvalue())
    assert line["load"] == load
    # load survives the long-map degradation path too (the driver's
    # capture window is where the provenance matters most)
    buf2 = io.StringIO()
    sys.stdout = buf2
    try:
        bench._emit(
            LONG_MAP, {k: 0.01 for k in LONG_MAP}, [], 0.1, detail=False,
            load=load,
        )
    finally:
        sys.stdout = old
    long_line = json.loads(buf2.getvalue())
    assert long_line["load"] == load
    assert "queries_top" in long_line
    # no-load callers (old signature) still emit a valid line
    assert json.loads(_emit_line(bench, timings, detail=False))["load"] == {}


def test_outlier_selection_flags_spikes_against_history_floor(bench):
    """r15: the end-of-run re-measure targets exactly the intra-run
    transients -- a reading > 1.5x the query's committed history floor
    (its proven achievable cost). Worst-ratio-first, capped at k;
    fresh promotions (no history) and zero floors are never flagged."""
    hist = {
        "spiky": [2.0, 2.5, 8.0],      # floor 2.0; reading 8.5 -> 4.25x
        "mild": [1.0, 1.2],            # floor 1.0; reading 1.8  -> 1.8x
        "steady": [1.0, 1.1],          # floor 1.0; reading 1.2  -> in band
        "zero_floor": [0.0, 0.4],      # degenerate floor: never flagged
    }
    timings = {
        "spiky": 8.5,
        "mild": 1.8,
        "steady": 1.2,
        "zero_floor": 9.9,
        "fresh_promotion": 50.0,       # no history: its reading IS history
    }
    got = bench._outliers(timings, hist)
    assert got == ["spiky", "mild"]
    # the cap keeps the re-measure bounded
    assert bench._outliers(timings, hist, k=1) == ["spiky"]
    assert bench._outliers(timings, hist, factor=5.0) == []


def test_payload_carries_remeasured_names(bench, tmp_path):
    """The corrected-transient provenance: a reader of the artifact
    must be able to tell a re-measured value from a first-pass one."""
    buf = io.StringIO()
    old = sys.stdout
    sys.stdout = buf
    try:
        bench._emit(
            {"qa": 1.5, "qb": 0.4}, {"qa": 0.01, "qb": 0.01}, [], 0.1,
            detail=True, remeasured=["qa"],
        )
    finally:
        sys.stdout = old
    detail = json.loads((tmp_path / "BENCH_DETAIL.json").read_text())
    assert detail["remeasured"] == ["qa"]
    assert json.loads(buf.getvalue())["remeasured"] == ["qa"]
    # omitted -> [] (older callers)
    assert json.loads(_emit_line(bench, {"qa": 1.0}, detail=False))[
        "remeasured"
    ] == []


def test_child_line_carries_cold_for_isolate_parent(bench, tmp_path):
    """--child stdout is parsed by the --isolate parent, which
    propagates per-query cold times into the aggregated artifact."""
    buf = io.StringIO()
    old = sys.stdout
    sys.stdout = buf
    try:
        bench._emit(
            {"qa": 1.5}, {"qa": 0.01}, [], 0.1, detail=False, child=True,
            cold={"qa": 2.9},
        )
    finally:
        sys.stdout = old
    line = json.loads(buf.getvalue())
    assert line["cold"] == {"qa": 2.9}


def test_isolate_parent_skips_missing_cold_keys(bench, tmp_path, monkeypatch):
    """A child that omits a query's cold time (the warm-up query does,
    deliberately) must NOT be recorded as cold=0.0 in the aggregated
    artifact -- exactly the 'recorded as a lie' the non-isolated path
    avoids (ADVICE r10)."""
    import subprocess
    import types

    payloads = {
        "q_warm": {"queries": {"q_warm": 1.0}, "stddev": {}, "cold": {}},
        "q_b": {"queries": {"q_b": 2.0}, "stddev": {},
                "cold": {"q_b": 3.5}},
    }

    def fake_run(cmd, capture_output, text):
        name = cmd[cmd.index("--only") + 1]
        return types.SimpleNamespace(
            returncode=0, stdout=json.dumps(payloads[name]) + "\n",
            stderr="",
        )

    monkeypatch.setattr(subprocess, "run", fake_run)
    buf = io.StringIO()
    old = sys.stdout
    sys.stdout = buf
    try:
        # cold lives in the detail artifact only (the driver line is
        # byte-budgeted), so emit with detail and read it back
        bench._isolated(["q_warm", "q_b"], 0.1, detail=True)
    finally:
        sys.stdout = old
    detail = json.loads((tmp_path / "BENCH_DETAIL.json").read_text())
    assert detail["cold"] == {"q_b": 3.5}
    assert "q_warm" not in detail["cold"]


def test_targeted_run_never_clobbers_canonical_detail(bench, tmp_path):
    """A --only run passes canonical=False: it must archive to
    BENCH_HISTORY but leave BENCH_DETAIL.json alone -- a targeted
    8-query re-measure once silently replaced the 117-query headline
    artifact."""
    # seed a canonical artifact
    _emit_line(bench, {"full_a": 1.0, "full_b": 2.0}, detail=True)
    before = (tmp_path / "BENCH_DETAIL.json").read_text()
    buf = io.StringIO()
    old = sys.stdout
    sys.stdout = buf
    try:
        bench._emit(
            {"subset": 0.5}, {"subset": 0.01}, [], 0.1, detail=True,
            canonical=False,
        )
    finally:
        sys.stdout = old
    assert (tmp_path / "BENCH_DETAIL.json").read_text() == before
    archives = list((tmp_path / "BENCH_HISTORY").glob("DETAIL_*.json"))
    payloads = [json.loads(a.read_text()) for a in archives]
    assert any(p["queries"] == {"subset": 0.5} for p in payloads)
