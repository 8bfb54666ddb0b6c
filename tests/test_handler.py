"""Lambda time-window handler tests — the reference's own test flow
(counter_test.go:43-108): state threading across invocations, ε-tolerant
distinct estimates, bad-record reporting, jq reshape, and the two-level
aggregate-stream replay."""

from __future__ import annotations

import base64
import json

import pytest

from kinesis_data_counter_spark.config import Config
from kinesis_data_counter_spark.streaming.handler import (
    HandlerResponse,
    TimeWindowEvent,
    handle_time_window_event,
    make_intermediate_event,
)

ARN = "arn:aws:kinesis:ap-northeast-1:111122223333:stream/input-stream"
AGG_ARN = "arn:aws:kinesis:ap-northeast-1:111122223333:stream/agg-stream"
WS, WE = 1638357540000, 1638357600000  # 2021-12-01T11:19:00Z + 1m


def _records(objs, start_seq=0):
    return [
        {
            "sequence_number": str(start_seq + i),
            "data": base64.b64encode(json.dumps(o).encode()).decode(),
        }
        for i, o in enumerate(objs)
    ]


def _cfg(**over):
    base = {
        "id": "request_count",
        "counter_type": "count",
        "target_column": "request_id",
        "input_stream_arn": ARN,
    }
    base.update(over)
    return Config.from_dict({"counters": [base]})


def _event(objs, state=None, final=False, shard="shard-0", arn=ARN, seq0=0):
    return TimeWindowEvent(
        records=_records(objs, seq0),
        window_start_ms=WS,
        window_end_ms=WE,
        event_source_arn=arn,
        shard_id=shard,
        state=state or {},
        is_final_invoke_for_window=final,
    )


def test_count_state_threading(spark):
    # two invocations of the same window; state from the first feeds the
    # second (counter_test.go:47-52), final invoke emits the total
    cfg = _cfg()
    objs1 = [{"request_id": i, "user_id": i % 5} for i in range(40)]
    objs2 = [{"request_id": 100 + i, "user_id": i % 5} for i in range(60)]
    r1 = handle_time_window_event(spark, cfg, _event(objs1))
    assert r1.outputs == [] and r1.batch_item_failures == []
    r2 = handle_time_window_event(
        spark, cfg, _event(objs2, state=r1.state, final=True, seq0=1000)
    )
    assert len(r2.outputs) == 1
    out = r2.outputs[0]
    assert out == {
        "event_source_arn": ARN,
        "window_start": WS,
        "window_end": WE,
        "counter_id": "request_count",
        "counter_type": "count",
        "shard_id": "shard-0",
        "value": 100,
    }


def test_distinct_state_threading(spark):
    cfg = _cfg(id="uu", counter_type="approx_count_distinct", target_column="user_id")
    m = 50
    objs1 = [{"user_id": 1000 + (i % m)} for i in range(200)]
    objs2 = [{"user_id": 1000 + (i % m)} for i in range(200)]
    r1 = handle_time_window_event(spark, cfg, _event(objs1))
    r2 = handle_time_window_event(spark, cfg, _event(objs2, state=r1.state, final=True))
    assert r2.outputs[0]["value"] == pytest.approx(m, rel=0.05)


def test_bad_records_reported_not_fatal(spark):
    cfg = _cfg()
    recs = _records([{"request_id": 1}, {"request_id": 2}])
    recs.append({"sequence_number": "bad-1", "data": base64.b64encode(b"not json").decode()})
    recs.append({"sequence_number": "bad-2", "data": base64.b64encode(b"[1,2]").decode()})
    ev = TimeWindowEvent(
        records=recs, window_start_ms=WS, window_end_ms=WE,
        event_source_arn=ARN, shard_id="s", is_final_invoke_for_window=True,
    )
    r = handle_time_window_event(spark, cfg, ev)
    assert sorted(r.batch_item_failures) == ["bad-1", "bad-2"]
    assert r.outputs[0]["value"] == 2


def test_jq_reshape_output(spark):
    cfg = _cfg(
        jq_expr='{"time": .window_start, "name": "access_log.request_count", "value": .value}'
    )
    r = handle_time_window_event(
        spark, cfg, _event([{"request_id": i} for i in range(7)], final=True)
    )
    assert r.outputs == [
        {"time": WS, "name": "access_log.request_count", "value": 7}
    ]


def test_expr_counter_nil_false_rule(spark):
    cfg = _cfg(
        id="mypage", target_column=None,
        target_expr='string_contains(path, "my_page")',
    )
    objs = [{"path": "/my_page", "request_id": i} for i in range(3)] + [
        {"path": "/", "request_id": 9}
    ]
    r = handle_time_window_event(spark, cfg, _event(objs, final=True))
    assert r.outputs[0]["value"] == 3


@pytest.mark.parametrize("ctype,expected", [("count", 300), ("approx_count_distinct", 60)])
def test_two_level_aggregate_replay(spark, ctype, expected):
    # stage 1: 3 shards publish intermediate records instead of finalizing;
    # stage 2: replay them through the same handler from the aggregate
    # stream → one global output (counter_test.go:69-108)
    target = "request_id" if ctype == "count" else "user_id"
    cfg = _cfg(
        id="global", counter_type=ctype, target_column=target,
        aggregate_stream_arn=AGG_ARN,
    )
    intermediates = []
    for shard in range(3):
        objs = [
            {"request_id": shard * 1000 + i, "user_id": (shard * 20) + (i % 20)}
            for i in range(100)
        ]
        r = handle_time_window_event(
            spark, cfg, _event(objs, final=True, shard=f"shard-{shard}")
        )
        assert r.outputs == []  # two-level: no finalize at level 1
        intermediates.extend(r.intermediate_records)
    assert len(intermediates) == 3

    ev2 = make_intermediate_event(intermediates, AGG_ARN, WS, WE)
    r2 = handle_time_window_event(spark, cfg, ev2)
    assert len(r2.outputs) == 1
    out = r2.outputs[0]
    assert "shard_id" not in out  # global value: shard omitted
    if ctype == "count":
        assert out["value"] == expected
    else:
        assert out["value"] == pytest.approx(expected, rel=0.05)


def test_arn_routing_ignores_other_streams(spark):
    cfg = _cfg()
    other = "arn:aws:kinesis:ap-northeast-1:111122223333:stream/other"
    r = handle_time_window_event(
        spark, cfg, _event([{"request_id": 1}], final=True, arn=other)
    )
    assert r.outputs == [] and r.state == {}


# ---------------------------------------------------------------------------
# several counters per event, the JVM-side event parse, and the job budget
# ---------------------------------------------------------------------------


def _multi_cfg(aggregate_stream_arn=None):
    extra = {"aggregate_stream_arn": aggregate_stream_arn} if aggregate_stream_arn else {}
    return Config.from_dict({"counters": [
        {"id": "requests", "counter_type": "count", "target_column": "*",
         "input_stream_arn": ARN},
        {"id": "big_purchases", "counter_type": "count", "input_stream_arn": ARN,
         "target_expr": 'event_type == "purchase" && amount > 100'},
        {"id": "uniq_users", "counter_type": "approx_count_distinct",
         "target_column": "user_id", "input_stream_arn": ARN, **extra},
    ]})


def _purchases(n, seed):
    return [
        {"user_id": (seed * 7919 + i * 31) % 400,
         "event_type": "purchase" if i % 3 == 0 else "view",
         "amount": (i * 37) % 250}
        for i in range(n)
    ]


def test_three_counters_through_final_invoke(spark):
    # the final invoke must settle every counter, not just the first
    # (a regression test for KeyError: 'c1' on the second counter)
    cfg = _multi_cfg()
    batches = [_purchases(120, s) for s in range(4)]
    state = {}
    for k, objs in enumerate(batches):
        final = k == len(batches) - 1
        r = handle_time_window_event(
            spark, cfg, _event(objs, state=state, final=final, seq0=1000 * k)
        )
        assert r.batch_item_failures == []
        assert (r.outputs == []) is not final
        state = r.state
    objs = [o for b in batches for o in b]
    got = {o["counter_id"]: o["value"] for o in r.outputs}
    assert got["requests"] == len(objs)
    assert got["big_purchases"] == sum(
        o["event_type"] == "purchase" and o["amount"] > 100 for o in objs
    )
    assert got["uniq_users"] == pytest.approx(
        len({o["user_id"] for o in objs}), rel=0.05
    )
    assert all(o["shard_id"] == "shard-0" for o in r.outputs)


# Record sets whose JVM-side parse must equal spark.read.json's: inferred
# type conflicts, empty and null-only records, nesting, numbers beyond the
# long range, non-numeric numbers, duplicate keys, layout whitespace, lone
# surrogates and keys differing only in case.
PARSE_CASES = {
    "int_float": ['{"v": 1}', '{"v": 2.5}', '{"v": 3}'],
    "int_string": ['{"v": 1}', '{"v": "x"}', '{"v": 1}'],
    "null_only": ['{"n": null, "a": 1}', '{"n": null, "a": 2}'],
    "empty_object": ["{}", "{}", '{"a": 1}'],
    "only_empty": ["{}", "{}"],
    "nested_keys": ['{"s": {"a": 1}}', '{"s": {"b": "x"}}',
                    '{"s": {"a": 2, "c": {"d": true}}}'],
    "mixed_arrays": ['{"arr": [1, "a", null]}', '{"arr": [1, 2]}',
                     '{"arr": [{"x": 1}, {"y": 2}]}', '{"arr": []}'],
    "beyond_long": ['{"big": 123456789012345678901234567890}', '{"big": 1}',
                    '{"big": -99999999999999999999}'],
    "bool_int": ['{"f": true}', '{"f": 1}', '{"f": false}'],
    "object_scalar": ['{"o": {"k": 1}}', '{"o": 5}', '{"o": "s"}'],
    "non_numeric": ['{"x": NaN}', '{"x": Infinity}', '{"x": -Infinity}',
                    '{"x": 1.5}'],
    "duplicate_keys": ['{"a": 1, "a": 2}', '{"a": 3}'],
    "pretty_printed": ['{\n  "a": 1,\n  "b": {\n    "c": [1, 2]\n  }\n}',
                       '{"a": 2, "b": {"c": []}}'],
    "lone_surrogate": ['{"s": "\\ud800"}', '{"s": "ok"}'],
    "case_keys": ['{"a": 1}', '{"A": 2}', '{"a": 3, "B": true}'],
    "leading_ws": ['   {"a": 1}', '\t\n{"a": 2}', '{"a": 3}  '],
}


def _column_summary(df):
    """count(*), then per column (addressed by position, so case-only key
    differences stay unambiguous) its non-null count and HLL estimate."""
    from pyspark.sql import functions as F

    df = df.toDF(*[f"_{i}" for i in range(len(df.columns))])
    aggs = [F.count(F.lit(1))]
    for c in df.columns:
        aggs += [
            F.count(c),
            F.hll_sketch_estimate(F.hll_sketch_agg(F.col(c).cast("string"))),
        ]
    return tuple(df.agg(*aggs).collect()[0])


@pytest.mark.parametrize("name", sorted(PARSE_CASES))
def test_event_frame_matches_read_json(spark, name):
    from kinesis_data_counter_spark.streaming.handler import _event_frame

    clean = PARSE_CASES[name]
    assert all(isinstance(json.loads(s), dict) for s in clean)
    old = spark.read.json(spark.sparkContext.parallelize(clean, 1))
    new = _event_frame(spark, clean)
    assert new.schema == old.schema
    assert _column_summary(new) == _column_summary(old)


def test_record_spark_rejects_raises_not_zero(spark):
    # Python's json takes a 1,001-digit integer; Spark's parser does not.
    # The array parse is all-or-nothing, so the event must fail loudly
    # rather than count nothing.
    huge = '{"request_id": 1' + "0" * 1000 + "}"
    ev = TimeWindowEvent(
        records=[{"sequence_number": "0",
                  "data": base64.b64encode(huge.encode()).decode()}]
        + _records([{"request_id": 1}], 1),
        window_start_ms=WS, window_end_ms=WE, event_source_arn=ARN,
        shard_id="s", is_final_invoke_for_window=True,
    )
    from pyspark.errors import AnalysisException

    with pytest.raises((AnalysisException, ValueError)):
        handle_time_window_event(spark, _cfg(), ev)


def test_lost_records_raise(spark, monkeypatch):
    # a parse that yields fewer rows than decoded records (from_json
    # nulling the array) must raise instead of under-counting
    from kinesis_data_counter_spark.streaming import handler

    real = handler._event_frame
    monkeypatch.setattr(handler, "_event_frame", lambda s, clean: real(s, clean[:1]))
    with pytest.raises(ValueError, match="1 of 3"):
        handle_time_window_event(
            spark, _cfg(), _event([{"request_id": i} for i in range(3)])
        )


def test_job_budget_per_invoke(spark, spark_jobs):
    cfg = _multi_cfg(aggregate_stream_arn=AGG_ARN)
    first = handle_time_window_event(spark, cfg, _event(_purchases(200, 1)))
    # non-final input invoke folding carried HLL state into its aggregate
    jobs, mid = spark_jobs(lambda: handle_time_window_event(
        spark, cfg, _event(_purchases(200, 2), state=first.state, seq0=500)))
    assert len(jobs) == 1
    # final input invoke: same single job, now also publishing
    jobs, fin = spark_jobs(lambda: handle_time_window_event(
        spark, cfg, _event(_purchases(200, 3), state=mid.state, final=True)))
    assert len(jobs) == 1 and len(fin.intermediate_records) == 1
    # level-2 merge of two sketches plus the estimate: at most one job
    other = handle_time_window_event(
        spark, cfg, _event(_purchases(200, 4), final=True, shard="shard-1"))
    inters = fin.intermediate_records + other.intermediate_records
    jobs, agg = spark_jobs(lambda: handle_time_window_event(
        spark, cfg, make_intermediate_event(inters, AGG_ARN, WS, WE)))
    assert len(jobs) <= 1 and len(agg.outputs) == 1
    # a count-only level-2 merge is pure driver arithmetic
    count_cfg = _cfg(id="global", aggregate_stream_arn=AGG_ARN)
    lvl1 = handle_time_window_event(
        spark, count_cfg, _event([{"request_id": i} for i in range(9)], final=True))
    jobs, out = spark_jobs(lambda: handle_time_window_event(
        spark, count_cfg, make_intermediate_event(lvl1.intermediate_records,
                                                  AGG_ARN, WS, WE)))
    assert not jobs and out.outputs[0]["value"] == 9
