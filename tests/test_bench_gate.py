"""The bench total-time regression gate (VERDICT r7 task 7): bench.py
compares each full sf0.1 run against the last tracked line in
BENCH_LOCAL.json and flags >1.3x growth that carries no cause annotation.
These tests pin the history-selection rules the gate depends on — no Spark
session needed."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench


def _write_history(path, lines):
    with open(path, "w") as fh:
        for obj in lines:
            fh.write(json.dumps(obj) + "\n")


def _line(value, sf=0.1, runs=5, n_queries=None):
    n = len(bench.BENCH_QUERIES) if n_queries is None else n_queries
    return {
        "value": value,
        "sf": sf,
        "runs": runs,
        "queries": {f"q{i}": 1.0 for i in range(n)},
    }


def test_prev_total_picks_newest_full_sf01_line(tmp_path):
    p = tmp_path / "BENCH_LOCAL.json"
    _write_history(p, [_line(80.0), _line(75.0), _line(72.5)])
    assert bench._prev_tracked_total(str(p)) == 72.5


def test_prev_total_skips_other_sfs_and_partial_runs(tmp_path):
    p = tmp_path / "BENCH_LOCAL.json"
    _write_history(
        p,
        [
            _line(70.0),                      # comparable
            _line(9.0, sf=0.01),              # different SF
            _line(30.0, runs=1),              # not min-of-5
            _line(12.0, n_queries=3),         # partial query set
        ],
    )
    assert bench._prev_tracked_total(str(p)) == 70.0


def test_prev_total_missing_or_malformed_history(tmp_path):
    assert bench._prev_tracked_total(str(tmp_path / "nope.json")) is None
    p = tmp_path / "BENCH_LOCAL.json"
    p.write_text("not json\n")
    assert bench._prev_tracked_total(str(p)) is None


def test_tracked_history_has_a_comparable_line():
    # the real history file must yield a baseline for the gate — otherwise
    # the gate silently never fires on real runs
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(repo, "BENCH_LOCAL.json")
    if not os.path.exists(path):
        import pytest

        pytest.skip("no tracked bench history yet")
    assert bench._prev_tracked_total(path) is not None


def test_gate_threshold_is_pinned():
    assert bench.REGRESSION_GATE_RATIO == 1.3


def _full_result(n_queries=75, with_gate=True, with_spots=True):
    queries = {f"some_long_query_name_{i:02d}": 0.5 + i * 0.01 for i in range(n_queries)}
    r = {
        "metric": "total_bench_seconds",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "sf": 0.1,
        "runs": 5,
        "loadavg_before": [1.0, 1.0, 1.0],
        "loadavg_after": [2.0, 2.0, 2.0],
        "quiet_wait_s": 0.0,
        "sf1_spot": (
            {
                "qa": {"sf0.1_s": 1.0, "sf1_s": 3.0, "ratio": 3.0,
                       "verdict": "linear-ish", "cause": "x" * 300},
                "qb": {"sf0.1_s": 1.0, "sf1_s": 4.9, "ratio": 4.9,
                       "verdict": "SUPERLINEAR: investigate"},
            }
            if with_spots
            else {}
        ),
    }
    if with_gate:
        r["regression_gate"] = {
            "prev_total_s": 70.0, "ratio_vs_prev": 1.05,
            "threshold": 1.3, "ok": True,
        }
    return r


def test_compact_summary_fits_tail_window_and_keeps_contract_shape():
    # the driver keeps only the last TAIL_WINDOW_CHARS of stdout — the
    # compact trailing line must carry the headline metric, the gate
    # verdict, and the worst sf1 spot inside that budget
    r = _full_result()
    assert len(json.dumps(r)) >= bench.TAIL_WINDOW_CHARS  # full line overflows
    c = bench._compact_summary(r)
    assert len(json.dumps(c)) < bench.TAIL_WINDOW_CHARS
    assert c["metric"] == "total_bench_seconds" and c["unit"] == "sec"
    assert c["value"] == r["value"] and c["sf"] == 0.1
    assert c["n_queries"] == 75 and len(c["queries"]) == 5
    # top-5 slowest, not first-5
    assert "some_long_query_name_74" in c["queries"]
    assert c["regression_gate"] == {"ratio_vs_prev": 1.05, "ok": True}
    assert c["sf1_spot_worst"] == {"query": "qb", "ratio": 4.9}


def test_compact_summary_carries_cpus():
    cpus = {"nproc": 4, "spark_graft_cpus": "4", "default_parallelism": 4}
    r = _full_result()
    r["cpus"] = cpus
    assert bench._compact_summary(r)["cpus"] == cpus


def test_compact_summary_without_gate_or_spots():
    c = bench._compact_summary(_full_result(with_gate=False, with_spots=False))
    assert "regression_gate" not in c and "sf1_spot_worst" not in c


def test_compact_summary_skips_spot_error_entries():
    r = _full_result(with_spots=False)
    r["sf1_spot"] = {"error": "RuntimeError: boom"}
    assert "sf1_spot_worst" not in bench._compact_summary(r)


def test_quiet_gate_strict_default_and_failloud_contract(monkeypatch):
    # VERDICT r10 task 2: the quiet criterion is strict (1-min < 1.5,
    # 5-min < 3.0, no foreign pytest/Spark pids) and an expired budget
    # returns quiet_ok=False so main() fails loud instead of recording a
    # noise-corrupted line
    monkeypatch.setattr(bench.os, "getloadavg", lambda: (0.2, 0.4, 0.5))
    monkeypatch.setattr(bench, "_foreign_work_pids", lambda: [])
    waited, ok = bench._wait_for_quiet(1.5, 0.0)
    assert ok and waited == 0.0

    # load over the gate with a zero budget -> expired, not proceeded
    monkeypatch.setattr(bench.os, "getloadavg", lambda: (3.7, 1.0, 1.0))
    waited, ok = bench._wait_for_quiet(1.5, 0.0)
    assert not ok

    # quiet load but a straggler pytest/Spark process -> still not quiet
    monkeypatch.setattr(bench.os, "getloadavg", lambda: (0.2, 0.4, 0.5))
    monkeypatch.setattr(bench, "_foreign_work_pids", lambda: ["12345"])
    waited, ok = bench._wait_for_quiet(1.5, 0.0)
    assert not ok


def test_foreign_work_pids_excludes_self():
    assert str(os.getpid()) not in bench._foreign_work_pids()
