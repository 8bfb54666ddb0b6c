"""Counter end-to-end tests reproducing the reference's synthetic grid
(counter_test.go:113-199, generator 201-290; see FIXTURES.md §A).

Deterministic stand-in for the reference's random-walk generator: m distinct
user ids, n records spread evenly over the fixed 1-minute window
2021-12-01T11:19:00Z → 11:20:00Z, path="/my_page" for the lower half of
users. Oracles: exact n for counts, m (±5%) for distinct, m/2 (±5%) for the
expr-filtered distinct — the same ε the reference accepts
(counter_test.go:62-66)."""

from __future__ import annotations

import base64
import datetime as dt
import json

import pytest
from pyspark.sql import functions as F

from kinesis_data_counter_spark.config import CounterSpec
from kinesis_data_counter_spark.operators.counter import (
    build_counter,
    merge_partials,
    partial_counter,
)

WINDOW_START = dt.datetime(2021, 12, 1, 11, 19, 0, tzinfo=dt.timezone.utc)
ARN = "arn:aws:kinesis:ap-northeast-1:111122223333:stream/input-stream"


def access_log(spark, m: int, n: int, shards: int = 1):
    users = [1000 + 3 * i for i in range(m)]  # deterministic walk, step 3
    herf = users[m // 2]
    rows = []
    for i in range(n):
        uid = users[i % m]
        rows.append(
            (
                WINDOW_START + dt.timedelta(seconds=i * 60.0 / n),
                1000 + i,
                uid,
                "/my_page" if uid < herf else "/",
                i % shards,
            )
        )
    return spark.createDataFrame(
        rows, "time timestamp, request_id long, user_id long, path string, shard int"
    )


GRID = [(10, 1000), (100, 2000), (200, 4000)]


@pytest.mark.parametrize("m,n", GRID)
def test_count(spark, m, n):
    df = access_log(spark, m, n)
    spec = CounterSpec(id="request_count", counter_type="count",
                       target_column="request_id", input_stream_arn=ARN).validate()
    rows = build_counter(df, spec, ts_col="time").collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.value == n
    assert r.window_start == int(WINDOW_START.timestamp() * 1000)
    assert r.window_end == int(WINDOW_START.timestamp() * 1000) + 60_000
    assert r.counter_id == "request_count"
    assert r.counter_type == "count"
    assert r.event_source_arn == ARN


@pytest.mark.parametrize("m,n", GRID)
def test_approx_distinct(spark, m, n):
    df = access_log(spark, m, n)
    spec = CounterSpec(id="unique_user_count", counter_type="approx_count_distinct",
                       target_column="user_id", input_stream_arn=ARN).validate()
    rows = build_counter(df, spec, ts_col="time").collect()
    assert len(rows) == 1
    assert rows[0].value == pytest.approx(m, rel=0.05)


@pytest.mark.parametrize("m,n", [(100, 2000)])
def test_expr_filtered_distinct(spark, m, n):
    # testdata/target_expr.yaml: distinct of if(string_contains(path,"my_page"), user_id, nil)
    df = access_log(spark, m, n)
    spec = CounterSpec(
        id="unique_user_count", counter_type="approx_count_distinct",
        target_expr='if(string_contains(path,"my_page"), user_id, nil)',
        input_stream_arn=ARN,
    ).validate()
    rows = build_counter(df, spec, ts_col="time").collect()
    assert rows[0].value == pytest.approx(m // 2, rel=0.05)


def test_expr_count_nil_false_rule(spark):
    # count mode: false excluded, 0/"" count (SURVEY.md §2.6.1)
    df = spark.createDataFrame(
        [(WINDOW_START, True), (WINDOW_START, False), (WINDOW_START, None)],
        "time timestamp, flag boolean",
    )
    spec = CounterSpec(id="c", counter_type="count", target_expr="flag",
                       input_stream_arn=ARN).validate()
    assert build_counter(df, spec, ts_col="time").collect()[0].value == 1

    df2 = spark.createDataFrame(
        [(WINDOW_START, 0), (WINDOW_START, 7), (WINDOW_START, None)],
        "time timestamp, v int",
    )
    spec2 = CounterSpec(id="c", counter_type="count", target_expr="v",
                        input_stream_arn=ARN).validate()
    assert build_counter(df2, spec2, ts_col="time").collect()[0].value == 2


def test_jq_output_shape(spark):
    # testdata/jq_expr.yaml reshape
    df = access_log(spark, 10, 100)
    spec = CounterSpec(
        id="unique_user_count", counter_type="approx_count_distinct",
        target_column="user_id", input_stream_arn=ARN,
        jq_expr='{"time":.window_start, "name": "access_log.user_count", "value": .value}',
    ).validate()
    rows = build_counter(df, spec, ts_col="time").collect()
    assert rows[0].asDict() == {
        "time": int(WINDOW_START.timestamp() * 1000),
        "name": "access_log.user_count",
        "value": pytest.approx(10, rel=0.05),
    }


@pytest.mark.parametrize("m,n", [(200, 4000)])
def test_two_level_matches_single_level(spark, m, n):
    # aggregate topology (counter_test.go:69-108): per-shard partials merged
    # across 3 shards must equal the single-level global result
    df = access_log(spark, m, n, shards=3)
    spec = CounterSpec(id="u", counter_type="approx_count_distinct",
                       target_column="user_id", input_stream_arn=ARN).validate()
    partials = partial_counter(df, spec, ts_col="time", shard_col="shard")
    assert partials.count() == 3  # one state row per shard per window
    merged = merge_partials(partials, spec).collect()
    assert len(merged) == 1
    assert merged[0].value == pytest.approx(m, rel=0.05)

    spec_count = CounterSpec(id="r", counter_type="count",
                             target_column="request_id", input_stream_arn=ARN).validate()
    p2 = partial_counter(df, spec_count, ts_col="time", shard_col="shard")
    merged2 = merge_partials(p2, spec_count).collect()
    assert merged2[0].value == n


def test_merge_filters_foreign_counters(spark):
    # F7: mismatched (counter_id, counter_type) rows are dropped on merge
    df = access_log(spark, 10, 100, shards=2)
    spec_a = CounterSpec(id="a", counter_type="count", target_column="request_id",
                         input_stream_arn=ARN).validate()
    spec_b = CounterSpec(id="b", counter_type="count", target_column="request_id",
                         input_stream_arn=ARN).validate()
    mixed = partial_counter(df, spec_a, ts_col="time", shard_col="shard").unionByName(
        partial_counter(df, spec_b, ts_col="time", shard_col="shard")
    )
    assert merge_partials(mixed, spec_a).collect()[0].value == 100


def test_shard_id_column_presence(spark):
    df = access_log(spark, 10, 100, shards=2)
    spec = CounterSpec(id="c", counter_type="count", target_column="request_id",
                       input_stream_arn=ARN).validate()
    with_shard = build_counter(df, spec, ts_col="time", shard_col="shard")
    assert "shard_id" in with_shard.columns and with_shard.count() == 2
    without = build_counter(df, spec, ts_col="time")
    assert "shard_id" not in without.columns  # omitted when empty (§2.6.4)


def test_window_alignment_matches_truncation(spark):
    # run.go:148-159: windowStart = t.Truncate(W) — epoch-aligned
    ts = dt.datetime(2021, 12, 1, 11, 19, 37, tzinfo=dt.timezone.utc)
    df = spark.createDataFrame([(ts, 1)], "time timestamp, request_id long")
    spec = CounterSpec(id="c", counter_type="count", target_column="request_id",
                       input_stream_arn=ARN).validate()
    r = build_counter(df, spec, ts_col="time").collect()[0]
    trunc = ts.replace(second=0, microsecond=0)
    assert r.window_start == int(trunc.timestamp() * 1000)


def _fanout_frame(spark, tmp_path, source: str, n: int = 3000):
    """n events over 20 minutes as a parquet frame or, with one truncated
    line more, as a kinesis_replay shard dir; shard column name too."""
    from kinesis_data_counter_spark.sources.replay_source import (
        open_shard_records,
        write_shard_files,
    )

    t0 = int(WINDOW_START.timestamp() * 1000)
    events = [
        {"user_id": (i * 7) % 150, "event_type": ("click", "view", "buy")[i % 3],
         "amount": None if i % 11 == 5 else i % 40, "ms": t0 + i * 400}
        for i in range(n)
    ]
    if source == "parquet":
        rows = [
            (dt.datetime.fromtimestamp(e["ms"] / 1000, dt.timezone.utc), e["user_id"],
             e["event_type"], e["amount"], f"s{e['user_id'] % 3}")
            for e in events
        ]
        path = str(tmp_path / "events.parquet")
        spark.createDataFrame(
            rows, "ts timestamp, user_id long, event_type string, amount long, shard string"
        ).write.parquet(path)
        return spark.read.parquet(path), "shard"
    d = str(tmp_path / "stream")
    recs = [
        (f"u{e['user_id']}", json.dumps(
            {"__pk": f"u{e['user_id']}", "__arrival_ms": e["ms"], **e}))
        for e in events
    ]
    recs.append(("u1", '{"__pk": "u1", "__arrival_ms": 16'))  # cut in transit
    write_shard_files(iter(recs), d, num_shards=3)
    return open_shard_records(spark, d), "shard_id"


@pytest.mark.parametrize("source", ["parquet", "shards"])
@pytest.mark.parametrize("with_shard", [False, True])
def test_assemble_counters_matches_per_spec_build(spark, tmp_path, source, with_shard):
    """The shared per-window aggregate of ``assemble_counters`` equals the
    union of one ``build_counter`` per spec, row for row, HLL estimates
    included — over count *, a boolean expr, a nullable column, HLL and a
    jq reshape on two windows."""
    from kinesis_data_counter_spark.config import Config
    from kinesis_data_counter_spark.operators.counter import (
        assemble_counters,
        union_counter_results,
    )

    df, shard = _fanout_frame(spark, tmp_path, source)
    shard_col = shard if with_shard else None
    specs = [
        CounterSpec(id="all", counter_type="count", target_column="*",
                    window="1 minute", input_stream_arn=ARN),
        CounterSpec(id="clicks", counter_type="count",
                    target_expr='event_type == "click"', window="1 minute",
                    input_stream_arn=ARN),
        CounterSpec(id="amounts", counter_type="count", target_column="amount",
                    window="5 minutes", input_stream_arn=ARN),
        CounterSpec(id="users", counter_type="approx_count_distinct",
                    target_column="user_id", window="1 minute", input_stream_arn=ARN),
        CounterSpec(id="reshaped", counter_type="count", target_column="*",
                    window="5 minutes", input_stream_arn=ARN,
                    jq_expr='{"time": .window_start, "name": "r", "value": .value}'),
    ]
    cfg = Config(counters=[s.validate() for s in specs])
    fanned = union_counter_results(
        assemble_counters(df, cfg, ARN, ts_col="ts", shard_col=shard_col))
    single = union_counter_results({
        s.id: build_counter(df, s, ts_col="ts", shard_col=shard_col,
                            event_source_arn=ARN)
        for s in cfg.counters
    })
    assert fanned.schema == single.schema

    def lines(frame):
        return sorted(json.dumps(r.asDict(), sort_keys=True) for r in frame.collect())

    got = lines(fanned)
    assert got == lines(single)
    rows = [json.loads(l) for l in got]
    total = {c: sum(r["value"] for r in rows if r["counter_id"] == c)
             for c in ("all", "clicks", "amounts")}
    assert total == {"all": 3000, "clicks": 1000,
                     "amounts": 3000 - sum(1 for i in range(3000) if i % 11 == 5)}
    assert sum(r["value"] for r in rows if r.get("name") == "r") == 3000
    assert {r["window_start"] for r in rows if r["counter_id"] == "users"} == {
        r["window_start"] for r in rows if r["counter_id"] == "all"}


# ---------------------------------------------------------------------------
# the counter-state algebra: every path builds, merges and finalizes the
# same state, whatever the target's type
# ---------------------------------------------------------------------------

def _typed_objs():
    """Records over one window: a path that is set, unset or absent, and a
    float amount (NULL every 7th record) with 40 distinct values."""
    return [
        {"path": ("/my_page", "/", None)[i % 3], "request_id": i,
         "amount": None if i % 7 == 3 else (i % 40) / 4}
        for i in range(300)
    ]


@pytest.mark.parametrize("ctype,target,exact", [
    # boolean target_expr: {true, false}; NULL path → NULL, skipped
    ("approx_count_distinct", {"target_expr": 'string_contains(path, "my_page")'}, 2),
    # DOUBLE column: 40 distinct non-NULL values
    ("approx_count_distinct", {"target_column": "amount"}, 40),
    ("count", {"target_column": "amount"}, sum(i % 7 != 3 for i in range(300))),
])
def test_state_algebra_over_any_target_type(spark, ctype, target, exact):
    """A counter over a BOOLEAN or DOUBLE target gives one value through
    ``build_counter``, ``partial_counter`` → ``merge_partials`` over three
    shards, and a single-shard final invoke of the Lambda handler."""
    from kinesis_data_counter_spark.config import Config
    from kinesis_data_counter_spark.streaming.handler import (
        TimeWindowEvent,
        handle_time_window_event,
    )

    objs = _typed_objs()
    df = spark.createDataFrame(
        [(WINDOW_START, o["path"], o["request_id"], o["amount"], o["request_id"] % 3)
         for o in objs],
        "time timestamp, path string, request_id long, amount double, shard int",
    )
    conf = {"id": "c", "counter_type": ctype, "input_stream_arn": ARN, **target}
    spec = Config.from_dict({"counters": [conf]}).counters[0]

    batch = build_counter(df, spec, ts_col="time").collect()
    partials = partial_counter(df, spec, ts_col="time", shard_col="shard")
    two_level = merge_partials(partials, spec).collect()
    ws = int(WINDOW_START.timestamp() * 1000)
    event = TimeWindowEvent(
        records=[{"sequence_number": str(i), "data": base64.b64encode(
            json.dumps({k: v for k, v in o.items() if v is not None}).encode()
        ).decode()} for i, o in enumerate(objs)],
        window_start_ms=ws, window_end_ms=ws + 60_000, event_source_arn=ARN,
        shard_id="shard-0", is_final_invoke_for_window=True,
    )
    handled = handle_time_window_event(spark, Config(counters=[spec]), event)

    assert [r.value for r in batch] == [r.value for r in two_level] == [
        o["value"] for o in handled.outputs] == [exact]


def test_two_level_applies_jq_like_build_counter(spark, tmp_path):
    """``stream_two_level`` (``partial_counter`` → exchange →
    ``merge_partials``) reshapes its rows with the spec's ``jq_expr``
    exactly like ``build_counter``: same rows, same columns."""
    from kinesis_data_counter_spark.streaming.runner import stream_two_level

    df = access_log(spark, 50, 3000, shards=3).withColumn(
        "time", F.col("time") + F.expr("make_interval(0, 0, 0, 0, 0, request_id % 7 % 4)"))
    src = str(tmp_path / "log")
    df.repartition(3).write.parquet(src)
    spec = CounterSpec(
        id="r", counter_type="count", target_column="*", input_stream_arn=ARN,
        jq_expr='select(.value > 700) | {"time": .window_start, "name": "r", "value": .value}',
    ).validate()
    got = stream_two_level(spark, src, spec, str(tmp_path / "exchange"),
                           ts_col="time", shard_col="shard")
    want = build_counter(df, spec, ts_col="time")
    assert got.columns == want.columns == ["time", "name", "value"]
    rows = sorted(tuple(r) for r in want.collect())
    assert sorted(tuple(r) for r in got.collect()) == rows and len(rows) == 3


def test_state_rule_lives_only_in_the_counter_algebra():
    """The count-vs-HLL state rule is written once, in
    ``operators/counter.py``: the streaming layers and the CLI build,
    merge and finalize counter state only through it."""
    import pathlib

    import kinesis_data_counter_spark as kdc

    root = pathlib.Path(kdc.__file__).parent
    spelled = {
        f"{rel}: {tok}"
        for rel in ("streaming/handler.py", "streaming/runner.py",
                    "streaming/stateful.py", "__main__.py")
        for tok in ("hll_sketch_agg(", "hll_sketch_estimate(", "hll_union_agg(",
                    "count_if(")
        if tok in (root / rel).read_text()
    }
    assert spelled == set()
