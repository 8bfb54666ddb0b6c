"""Tests of the benchmark harness itself (not of the engine).

Run from the root of a checkout::

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import filecmp
import json
import os

import pytest

from perfbench import gen
from perfbench.run import _failures, _summary
from perfbench.stats import percentile, tail_percentile
from perfbench.workloads import OpResult, Workload, check_backlog, check_stream

SMALL = {"counter_backlog": 3_000, "handler_invoke": 2}


def _files(d: str) -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(dp, f), d)
        for dp, _, fs in os.walk(d) for f in fs
    )


@pytest.mark.parametrize("workload", sorted(SMALL))
def test_generators_are_deterministic_per_seed(workload, tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    gen.generate(workload, 7, SMALL[workload], a)
    gen.generate(workload, 7, SMALL[workload], b)
    gen.generate(workload, 8, SMALL[workload], c)
    names = _files(a)
    assert names == _files(b) and "expected.json" in names
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert not mismatch and not errors
    # another seed gives other inputs (counters.yaml is fixed per workload)
    inputs = [n for n in names if n not in ("counters.yaml", "meta.json")]
    _, differ, _ = filecmp.cmpfiles(a, c, inputs, shallow=False)
    assert differ


def test_backlog_expected_answer_skips_malformed_records(tmp_path):
    out = str(tmp_path / "bl")
    meta = gen.generate("counter_backlog", 3, 20_000, out)
    with open(os.path.join(out, "expected.json")) as f:
        windows = json.load(f)["windows"]
    assert meta["malformed"] > 0
    assert sum(w["count"] for w in windows.values()) == meta["records"] - meta["malformed"]
    assert all(int(ws) % gen.MINUTE_MS == 0 for ws in windows)


def test_tail_percentile_needs_ten_samples_beyond():
    xs = list(range(1, 101))  # p90 = 90, with 91..100 beyond it
    assert percentile(xs, 90) == 90
    assert tail_percentile(xs, 90) == 90
    assert tail_percentile(xs[:99], 90) is None  # 9 beyond
    assert tail_percentile([5.0] * 500, 90) is None  # ties are not beyond
    assert tail_percentile([], 90) is None


class _Raising(Workload):
    def __init__(self):  # no inputs needed
        pass

    def op(self, i):
        res, _ = self.timed(lambda: 1 / 0, records=10)
        return res


def test_failed_ops_count_against_attempted_ops():
    raised = _Raising().op(0)
    assert raised.raised and raised.failure.startswith("error:ZeroDivisionError")
    ops = [
        OpResult(100.0, 10),
        OpResult(200.0, 10, failure="known:handler-row-overwrite"),
        OpResult(300.0, 10, failure="wrong:requests@0"),
        raised,
    ]
    correct, failed, tags = _failures(ops)
    assert failed == 3 and len(ops) == 4
    assert not correct  # a failure that is not a recorded defect
    assert _failures(ops[:2])[:2] == (True, 1)
    s = _summary(ops)
    # a raising op is attempted but has no latency to report
    assert s["ops"] == 4 and s["completed"] == 3 and s["op_ms_p50"] == 200.0


def _backlog_lines(windows, extra=()):
    arn = "arn:aws:kinesis:us-east-1:000000000000:stream/cli-input"
    lines = []
    for ws, st in windows.items():
        ws = int(ws)
        for cid, v in (("requests", st["count"]), ("clicks", st["clicks"]),
                       ("uniq_users", st["distinct_users"])):
            lines.append({"event_source_arn": arn, "window_start": ws,
                          "window_end": ws + 60_000, "counter_id": cid, "value": v})
        lines.append({"time": ws, "name": "bench.requests", "value": st["count"]})
    lines.extend(extra)
    return "\n".join(json.dumps(x) for x in lines)


def test_backlog_check_tells_the_known_defect_from_other_errors():
    expected = {"windows": {"60000": {"count": 5, "clicks": 2, "distinct_users": 100}}}
    assert check_backlog(_backlog_lines(expected["windows"]), expected, 3) is None
    arn = "arn:aws:kinesis:us-east-1:000000000000:stream/cli-input"
    epoch0 = [{"event_source_arn": arn, "window_start": 0, "window_end": 60_000,
               "counter_id": "requests", "value": 3},
              {"time": 0, "name": "bench.requests", "value": 3}]
    text = _backlog_lines(expected["windows"], epoch0)
    assert check_backlog(text, expected, 3) == "known:cli-malformed-epoch0"
    assert check_backlog(text, expected, 4).startswith("wrong:")
    off = {"windows": {"60000": {"count": 5, "clicks": 1, "distinct_users": 100}}}
    assert check_backlog(_backlog_lines(off["windows"], epoch0), expected, 3) == "wrong:clicks@60000"
    hll = {"windows": {"60000": {"count": 5, "clicks": 2, "distinct_users": 106}}}
    assert check_backlog(_backlog_lines(hll["windows"]), expected, 3).startswith("wrong:uniq_users")


def test_stream_check_wants_every_window_once_within_eps():
    expected = {"windows": {"0": {"distinct_users": 100}, "60000": {"distinct_users": 50}}}

    def call(*rows):
        return {"stream": "bench-output", "records": [
            {"partition_key": "u", "data": json.dumps(
                {"window_start": ws, "window_end": ws + 60_000, "counter_id": "u",
                 "counter_type": "approx_count_distinct", "value": v}) + "\n"}
            for ws, v in rows]}

    assert check_stream([call((0, 103)), call((60_000, 50))], expected, "u") is None
    assert check_stream([call((0, 106), (60_000, 50))], expected, "u").startswith("wrong:distinct")
    assert check_stream([call((0, 100))], expected, "u").startswith("wrong:windows")
    dup = [call((0, 100), (60_000, 50)), call((0, 100))]
    assert check_stream(dup, expected, "u").startswith("wrong:duplicate")


@pytest.fixture(scope="module")
def spark():
    from kinesis_data_counter_spark.session import get_spark

    s = get_spark(master="local[2]", shuffle_partitions=2)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_engine_counts_repeat_exactly(spark):
    from kinesis_data_counter_spark.config import CounterSpec
    from kinesis_data_counter_spark.operators.counter import build_counter
    from pyspark.sql import functions as F

    from perfbench.engine import EngineCounter

    events = spark.range(5_000).select(
        F.timestamp_seconds(F.col("id") * 7).alias("ts"),
        (F.col("id") % 97).cast("string").alias("user_id"),
    )
    spec = CounterSpec(id="u", counter_type="approx_count_distinct",
                       target_column="user_id", window="1 minute").validate()
    counter = EngineCounter(spark)

    def measured():
        before = counter.mark()
        build_counter(events, spec).collect()
        events.groupBy("user_id").count().collect()
        return counter.between(before, counter.mark())

    first, second = measured(), measured()
    assert first == second
    assert first["jobs"] >= 2 and first["tasks"] >= first["stages"] >= 2
    assert first["failed_tasks"] == 0
