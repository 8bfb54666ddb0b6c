"""CLI entry point (python -m kinesis_data_counter_spark)."""

from __future__ import annotations

import io
import json

import pytest

from kinesis_data_counter_spark.__main__ import main, parse_window, window_minutes


def test_parse_window_go_durations():
    assert parse_window("1m") == "1 minutes"
    assert parse_window("30s") == "30 seconds"
    assert parse_window("2h") == "2 hours"
    assert parse_window("1 hour") == "1 hour"
    assert window_minutes("30 seconds") == 0.5
    assert window_minutes("2 hours") == 120


def test_cli_batch_count(spark, sf_dir):
    buf = io.StringIO()
    rc = main(
        ["--path", f"{sf_dir}/events.parquet", "--window", "1h",
         "--counter-id", "req"],
        out=buf,
    )
    assert rc == 0
    lines = [json.loads(l) for l in buf.getvalue().strip().splitlines()]
    assert len(lines) > 0
    assert lines[0]["counter_id"] == "req"
    assert lines[0]["counter_type"] == "count"
    assert sum(l["value"] for l in lines) == spark.read.parquet(
        f"{sf_dir}/events.parquet"
    ).count()


def test_cli_follow_streaming_matches_batch(spark, sf_dir):
    b1, b2 = io.StringIO(), io.StringIO()
    assert main(["--path", f"{sf_dir}/events.parquet", "--window", "10m"], out=b1) == 0
    assert main(
        ["--path", f"{sf_dir}/events.parquet", "--window", "10m", "--follow"], out=b2
    ) == 0
    batch = {(j["window_start"], j["value"]) for j in map(json.loads, b1.getvalue().strip().splitlines())}
    stream = {(j["window_start"], j["value"]) for j in map(json.loads, b2.getvalue().strip().splitlines())}
    assert batch == stream


def test_cli_follow_rejects_reference_window_limit(sf_dir, tmp_path):
    # reference CLI validation (main.go:113-116): streaming windows < 15m
    assert main(
        ["--path", f"{sf_dir}/events.parquet", "--window", "15m", "--follow"],
        out=io.StringIO(),
    ) == 2
    # on every routed config counter's window too, not only on --window
    cfg = tmp_path / "c.yaml"
    cfg.write_text(
        "counters:\n"
        "  - id: req_count\n    counter_type: count\n    target_column: '*'\n"
        "    window: 1 minute\n"
        "  - id: hourly\n    counter_type: count\n    target_column: '*'\n"
        "    window: 1 hour\n"
    )
    assert main(
        ["--path", f"{sf_dir}/events.parquet", "--config", str(cfg), "--follow"],
        out=io.StringIO(),
    ) == 2


def test_cli_expr_counter(spark, sf_dir):
    buf = io.StringIO()
    rc = main(
        ["--path", f"{sf_dir}/events.parquet", "--window", "1d",
         "--target-expr", 'string_contains(event_type, "click")',
         "--counter-id", "clicks"],
        out=buf,
    )
    assert rc == 0
    total = sum(json.loads(l)["value"] for l in buf.getvalue().strip().splitlines())
    assert total == spark.read.parquet(f"{sf_dir}/events.parquet").where(
        "event_type LIKE '%click%'"
    ).count()


@pytest.mark.parametrize("source", ["parquet", "shards"])
def test_cli_config_multi_counter_fanout(spark, sf_dir, tmp_path, source):
    if source == "parquet":
        path = f"{sf_dir}/events.parquet"
        n_records = spark.read.parquet(path).count()
    else:
        path, n_records = _make_stream_dir(tmp_path), 200
    cfg = tmp_path / "counters.yaml"
    cfg.write_text(
        """
counters:
  - id: req_count
    counter_type: count
    target_column: "*"
    window: 1 hour
    input_stream_arn: "*"
  - id: click_count
    counter_type: count
    target_expr: 'string_contains(event_type, "click")'
    window: 1 hour
    input_stream_arn: "*"
  - id: other_stream_only
    counter_type: count
    target_column: "*"
    window: 1 hour
    input_stream_arn: "arn:aws:kinesis:eu-west-1:9:stream/not-this-one"
"""
    )
    buf = io.StringIO()
    rc = main(["--path", path, "--config", str(cfg)], out=buf)
    assert rc == 0
    lines = [json.loads(l) for l in buf.getvalue().strip().splitlines()]
    ids = {l["counter_id"] for l in lines}
    # ARN routing: the '*' counters run, the eu-west-1-only one does not
    assert ids == {"req_count", "click_count"}
    req_total = sum(l["value"] for l in lines if l["counter_id"] == "req_count")
    assert req_total == n_records


@pytest.mark.parametrize("go, interval", [("1m", "1 minute"), ("1h", "1 hour")])
def test_cli_config_window_accepts_go_durations(sf_dir, tmp_path, go, interval):
    # a YAML window takes the same Go durations as --window: Spark plans
    # `1m` only after it is normalized to an interval string
    outs = []
    for window in (go, interval):
        cfg = tmp_path / f"{window.replace(' ', '_')}.yaml"
        cfg.write_text(
            "counters:\n"
            "  - id: req_count\n    counter_type: count\n    target_column: '*'\n"
            f"    window: {window}\n"
            "  - id: uniq_users\n    counter_type: approx_count_distinct\n"
            f"    target_column: user_id\n    window: {window}\n"
        )
        buf = io.StringIO()
        assert main(
            ["--path", f"{sf_dir}/events.parquet", "--config", str(cfg)], out=buf
        ) == 0
        outs.append(buf.getvalue())
    assert outs[0] == outs[1]
    assert len(outs[0].splitlines()) > 2


def test_cli_config_follow_runs_multi_counter_stream(spark, sf_dir, tmp_path):
    # streaming fan-out parity: every routed counter drains the stream and
    # the unioned output matches the batch config run
    cfg = tmp_path / "c.yaml"
    cfg.write_text(
        "counters:\n"
        "  - id: req_count\n    counter_type: count\n    target_column: '*'\n"
        "    window: 10 minutes\n"
        "  - id: uniq_users\n    counter_type: approx_count_distinct\n"
        "    target_column: user_id\n    window: 10 minutes\n"
    )
    b1, b2 = io.StringIO(), io.StringIO()
    args = ["--path", f"{sf_dir}/events.parquet", "--config", str(cfg)]
    assert main(args, out=b1) == 0
    assert main(args + ["--follow"], out=b2) == 0
    batch = {(j["counter_id"], j["window_start"], j["value"])
             for j in map(json.loads, b1.getvalue().strip().splitlines())}
    stream = {(j["counter_id"], j["window_start"], j["value"])
              for j in map(json.loads, b2.getvalue().strip().splitlines())}
    assert batch == stream
    assert {c for c, _, _ in batch} == {"req_count", "uniq_users"}


def test_cli_window_parse_errors_are_clean(sf_dir):
    # multi-unit intervals are valid and summed
    assert window_minutes("1 hour 30 minutes") == 90
    for bad in ("1 week", "90", "soon"):
        with pytest.raises(ValueError):
            window_minutes(bad)
    # and --follow routes them to exit code 2, not a traceback
    assert main(
        ["--path", f"{sf_dir}/events.parquet", "--window", "1 week", "--follow"],
        out=io.StringIO(),
    ) == 2


def _make_stream_dir(tmp_path):
    import datetime as dt

    from kinesis_data_counter_spark.sources.replay_source import write_shard_files

    d = str(tmp_path / "stream")
    base = int(dt.datetime(2021, 12, 1, 11, 0, tzinfo=dt.timezone.utc).timestamp() * 1000)
    recs = [
        (
            f"u{i % 7}",
            json.dumps(
                {"__pk": f"u{i % 7}", "__arrival_ms": base + i * 1500,
                 "user_id": i % 7, "event_type": "click" if i % 3 else "view"}
            ),
        )
        for i in range(200)
    ]
    write_shard_files(iter(recs), d, num_shards=3)
    return d


def test_cli_counts_a_shard_stream_dir(spark, tmp_path):
    # the reference CLI points at a STREAM; ours accepts a shard dir and
    # windows on arrival time (run.go:107 semantics) without --ts-col games
    d = _make_stream_dir(tmp_path)
    buf = io.StringIO()
    rc = main(["--path", d, "--window", "1m", "--counter-id", "req",
               "--ts-col", "approximate_arrival"], out=buf)
    assert rc == 0
    lines = [json.loads(l) for l in buf.getvalue().strip().splitlines()]
    assert sum(l["value"] for l in lines) == 200
    assert len(lines) == 5  # 200 records * 1.5s spacing = 300s = 5 windows


def test_cli_follow_on_shard_stream_matches_batch(spark, tmp_path):
    d = _make_stream_dir(tmp_path)
    b1, b2 = io.StringIO(), io.StringIO()
    args = ["--path", d, "--window", "1m", "--ts-col", "approximate_arrival"]
    assert main(args, out=b1) == 0
    assert main(args + ["--follow"], out=b2) == 0
    batch = {(j["window_start"], j["value"]) for j in map(json.loads, b1.getvalue().strip().splitlines())}
    stream = {(j["window_start"], j["value"]) for j in map(json.loads, b2.getvalue().strip().splitlines())}
    assert batch == stream and len(batch) == 5


def test_cli_target_column_from_stream_json_body(spark, tmp_path):
    # body fields lifted to columns: target_expr filters on event_type
    d = _make_stream_dir(tmp_path)
    buf = io.StringIO()
    rc = main(["--path", d, "--window", "10m", "--counter-id", "clicks",
               "--target-expr", 'string_contains(event_type, "click")',
               "--ts-col", "approximate_arrival"], out=buf)
    assert rc == 0
    lines = [json.loads(l) for l in buf.getvalue().strip().splitlines()]
    # 2 of every 3 records are clicks
    assert sum(l["value"] for l in lines) == sum(1 for i in range(200) if i % 3)


def test_cli_env_flag_fallback(spark, sf_dir, monkeypatch):
    # envToFlag parity (main.go:129-134): flags fall back to
    # KINESIS_DATA_COUNTER_<NAME>, explicit argv still wins
    monkeypatch.setenv("KINESIS_DATA_COUNTER_PATH", f"{sf_dir}/events.parquet")
    monkeypatch.setenv("KINESIS_DATA_COUNTER_WINDOW", "1h")
    monkeypatch.setenv("KINESIS_DATA_COUNTER_COUNTER_ID", "from_env")
    buf = io.StringIO()
    assert main([], out=buf) == 0
    lines = [json.loads(l) for l in buf.getvalue().strip().splitlines()]
    assert lines and lines[0]["counter_id"] == "from_env"
    buf2 = io.StringIO()
    assert main(["--counter-id", "cli_wins"], out=buf2) == 0
    assert json.loads(buf2.getvalue().splitlines()[0])["counter_id"] == "cli_wins"


def test_cli_config_version_gate(spark, sf_dir, tmp_path):
    cfg = tmp_path / "c.yaml"
    cfg.write_text(
        "required_version: '>=99.0.0'\n"
        "counters:\n  - id: x\n    counter_type: count\n    target_column: '*'\n"
        "    window: 1 hour\n"
    )
    assert main(["--path", f"{sf_dir}/events.parquet", "--config", str(cfg)],
                out=io.StringIO()) == 2


_FANOUT_CONFIG = """
counters:
  - id: requests
    counter_type: count
    target_column: "*"
    window: 1 minute
  - id: clicks
    counter_type: count
    target_expr: 'event_type == "click"'
    window: 1 minute
  - id: uniq_users
    counter_type: approx_count_distinct
    target_column: user_id
    window: 1 minute
  - id: reshaped
    counter_type: count
    target_column: "*"
    window: 1 minute
    jq_expr: '{"time": .window_start, "name": "reshaped", "value": .value}'
"""


def test_cli_drops_a_truncated_shard_line(spark, tmp_path):
    # a line cut off in transit has no arrival time: it is dropped, as the
    # reference drops an undecodable record (counter.go:241-252), instead
    # of being counted into a window starting at epoch 0
    d = _make_stream_dir(tmp_path)
    with open(f"{d}/shard-001.jsonl", "a") as f:
        f.write('{"__pk": "u1", "__arrival_ms": 16383\n')
    cfg = tmp_path / "c.yaml"
    cfg.write_text(_FANOUT_CONFIG)
    buf = io.StringIO()
    assert main(["--path", d, "--config", str(cfg)], out=buf) == 0
    lines = [json.loads(l) for l in buf.getvalue().strip().splitlines()]
    assert all(l.get("window_start") != 0 and l.get("time") != 0 for l in lines)
    by_id = {}
    for l in lines:
        by_id.setdefault(l.get("counter_id") or l["name"], []).append(l["value"])
    assert sum(by_id["requests"]) == sum(by_id["reshaped"]) == 200
    assert sum(by_id["clicks"]) == sum(1 for i in range(200) if i % 3)
    assert len(by_id["uniq_users"]) == 5 and max(by_id["uniq_users"]) == 7


def test_cli_batch_matches_follow_over_edge_lines(spark, tmp_path):
    # every odd line a shard can carry: the batch text scan and the
    # --follow replay source decode them alike, and none is counted into a
    # window starting at epoch 0
    import datetime as dt

    from kinesis_data_counter_spark.sources.replay_source import (
        KinesisReplayDataSource,
        open_shard_records,
    )
    from kinesis_data_counter_spark.streaming.runner import drain

    base = int(dt.datetime(2021, 12, 1, 11, 0, tzinfo=dt.timezone.utc).timestamp() * 1000)

    def rec(i, **extra):
        return json.dumps({"__pk": f"u{i}", "__arrival_ms": base + i * 20_000,
                           "user_id": i % 4,
                           "event_type": "click" if i % 2 else "view", **extra})

    first = json.loads(rec(0))
    del first["__pk"]
    first["data"] = "a body field named like the wire column"
    shards = {
        "shard-000.jsonl": [
            json.dumps(first),  # the schema sample has no __pk
            '{"__pk": "u1", "__arrival_ms": 16383',  # truncated in transit
            "",
            "[1,2]",
            "not json",
            json.dumps({"__pk": "u9", "user_id": 9, "event_type": "click"}),
            json.dumps({"__pk": "u2", "__arrival_ms": base + 40_000.75,
                        "user_id": 2, "event_type": "click"}),  # float arrival
            rec(3, ts=12),  # its own ts is no sampled field: arrival windows it
        ],
        "shard-001.jsonl": [rec(i) for i in range(4, 12)] + [
            json.dumps({"__pk": "u12", "__arrival_ms": str(base + 240_000),
                        "user_id": 0, "event_type": "view"}),  # string arrival
        ],
    }
    d = tmp_path / "edge"
    d.mkdir()
    for name, lines in shards.items():
        (d / name).write_text("\n".join(lines) + "\n")
    cfg = tmp_path / "c.yaml"
    cfg.write_text(_FANOUT_CONFIG)

    args = ["--path", str(d), "--config", str(cfg)]
    b1, b2 = io.StringIO(), io.StringIO()
    assert main(args, out=b1) == 0
    assert main(args + ["--follow"], out=b2) == 0
    batch = sorted(b1.getvalue().splitlines())
    assert batch == sorted(b2.getvalue().splitlines())
    rows = [json.loads(l) for l in batch]
    assert all(r.get("window_start") != 0 and r.get("time") != 0 for r in rows)
    # each line is its own counter's object: no other counter's keys
    plain = {"event_source_arn", "window_start", "window_end", "counter_id",
             "counter_type", "value"}
    assert all(set(r) == ({"time", "name", "value"} if "name" in r else plain)
               for r in rows)
    assert sum("name" in r for r in rows) == 5
    # 12 records have an arrival time: ids 0, 2, 3, 4-11 and the string one
    requests = {r["window_start"]: r["value"] for r in rows
                if r.get("counter_id") == "requests"}
    assert requests == {base: 2, base + 60_000: 3, base + 120_000: 3,
                        base + 180_000: 3, base + 240_000: 1}

    # record for record too, bad lines included; only the stream numbers them
    records = open_shard_records(spark, str(d))
    plan = records._jdf.queryExecution().executedPlan().toString()
    assert "BatchScan" not in plan and "FileScan text" in plan
    streamed: list = []
    drain(
        open_shard_records(spark, str(d), streaming=True)
        .drop("sequence_number")
        .writeStream.foreachBatch(lambda b, _e: streamed.extend(b.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
    )
    got = sorted(map(str, records.collect()))
    assert got == sorted(map(str, streamed)) and len(got) == 16
    # the public source lifts the envelope by the decode's own rule
    spark.dataSource.register(KinesisReplayDataSource)
    envelope = ["shard_id", "partition_key", "approximate_arrival"]
    lifted = spark.read.format("kinesis_replay").option("path", str(d)).load()
    assert (sorted(map(str, lifted.select(envelope).collect()))
            == sorted(map(str, records.select(envelope).collect())))


def _source_tasks(spark, jobs) -> int:
    """Tasks of ``jobs`` that ran a stage reading the shard files' text scan."""
    sc = spark.sparkContext
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    graph = sc._jvm.org.apache.spark.ui.scope.RDDOperationGraph
    n = 0
    for j in jobs:
        for s in tracker.getJobInfo(j).stageIds:
            dot = graph.makeDotFile(store.operationGraphForStage(s))
            if "Scan text" in dot:
                n += tracker.getStageInfo(s).numCompletedTasks
    return n


def test_cli_fanout_scans_the_source_once(spark, tmp_path, spark_jobs, monkeypatch):
    # 4 routed counters on one window share one aggregate over one scan.
    # assemble_counters' per-counter frames union over its checkpoint; the
    # CLI's one statement needs none and runs 2 jobs (the aggregate's map
    # stage over the scan, and the result stage serializing and sorting
    # its one partition), not 7
    from kinesis_data_counter_spark.__main__ import build_parser
    from kinesis_data_counter_spark.config import Config
    from kinesis_data_counter_spark.operators.counter import (
        assemble_counters,
        union_counter_results,
    )
    from kinesis_data_counter_spark.sources.replay_source import open_shard_records

    d = _make_stream_dir(tmp_path)
    cfg = tmp_path / "c.yaml"
    cfg.write_text(_FANOUT_CONFIG)
    frames = assemble_counters(
        open_shard_records(spark, d), Config.load(str(cfg)),
        build_parser().get_default("stream_arn"),
    )
    plan = union_counter_results(frames)._jdf.queryExecution().executedPlan()
    assert "FileScan" not in plan.toString()

    def no_checkpoint(self, *args, **kwargs):
        raise AssertionError("the CLI batch path checkpoints")

    monkeypatch.setattr(type(frames["requests"]), "localCheckpoint", no_checkpoint)
    buf = io.StringIO()
    jobs, rc = spark_jobs(lambda: main(["--path", d, "--config", str(cfg)], out=buf))
    assert rc == 0 and len(buf.getvalue().splitlines()) == 4 * 5
    assert len(jobs) == 2
    assert 0 < _source_tasks(spark, jobs) <= 3  # at most one task per shard


def test_cli_batch_op_py4j_budget(spark, tmp_path):
    # the batch op is one statement: its py4j round-trips stay a small
    # fixed number, not one per DataFrame step and counter
    from py4j.clientserver import ClientServerConnection

    d = _make_stream_dir(tmp_path)
    cfg = tmp_path / "c.yaml"
    cfg.write_text(_FANOUT_CONFIG)
    args = ["--path", d, "--config", str(cfg)]
    calls = []
    send = ClientServerConnection.send_command

    def counted(self, *a, **k):
        calls.append(1)
        return send(self, *a, **k)

    ClientServerConnection.send_command = counted
    try:
        assert main(args, out=io.StringIO()) == 0
    finally:
        ClientServerConnection.send_command = send
    assert 0 < len(calls) <= 300


def test_cli_literals_come_out_verbatim(spark, tmp_path):
    # every literal is a bound parameter, never SQL text: quotes and
    # braces in a counter id, the ARN and a jq string pass through as is
    d = _make_stream_dir(tmp_path)
    odd = """it's "odd" {x} }{"""
    arn = "arn:aws:kinesis:us-east-1:000000000000:stream/it's-\"odd\"-{x}"
    cfg = tmp_path / "c.yaml"
    cfg.write_text(json.dumps({"counters": [
        {"id": odd, "counter_type": "count", "target_column": "*",
         "window": "1 hour"},
        {"id": "reshaped", "counter_type": "count", "target_column": "*",
         "window": "1 hour", "jq_expr": '{"name": ' + json.dumps(odd)
         + ', "label": "\\(.counter_id)-{\'}", "value": .value}'},
    ]}))
    buf = io.StringIO()
    assert main(["--path", d, "--config", str(cfg), "--stream-arn", arn],
                out=buf) == 0
    rows = [json.loads(l) for l in buf.getvalue().splitlines()]
    ids = {(r["counter_id"], r["event_source_arn"]) for r in rows if "counter_id" in r}
    assert ids == {(odd, arn)}
    assert {(r["name"], r["label"]) for r in rows if "name" in r} == {(odd, "reshaped-{'}")}
    assert sum(r["value"] for r in rows if "counter_id" in r) == 200


def test_cli_skips_a_bad_first_line(spark, tmp_path):
    # the schema sample is the first line that is a JSON object: a first
    # line that is not one is dropped per record, like any other
    d = _make_stream_dir(tmp_path)
    shard = f"{d}/shard-000.jsonl"
    with open(shard) as f:
        lines = f.read()
    with open(shard, "w") as f:
        f.write("not json\n" + lines)
    args = ["--path", d, "--window", "1m", "--ts-col", "approximate_arrival"]
    for extra in ([], ["--follow"]):
        buf = io.StringIO()
        assert main(args + extra, out=buf) == 0
        assert sum(json.loads(l)["value"] for l in buf.getvalue().splitlines()) == 200
