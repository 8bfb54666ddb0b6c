"""Tests for the kinesis_replay custom Python data source (S1 contract:
per-shard partitions, sequence-number offsets, latest/trim_horizon starts,
resharding)."""

from __future__ import annotations

import json
import os

import pytest

from kinesis_data_counter_spark.sources.replay_source import (
    KinesisReplayDataSource,
    write_shard_files,
)
from kinesis_data_counter_spark.streaming.runner import drain


@pytest.fixture()
def shard_dir(tmp_path):
    d = str(tmp_path / "stream")
    recs = [
        (f"user-{i % 5}", json.dumps({"__pk": f"user-{i % 5}", "__arrival_ms": 1000 * i, "v": i}))
        for i in range(30)
    ]
    write_shard_files(iter(recs), d, num_shards=3)
    return d


def _register(spark):
    spark.dataSource.register(KinesisReplayDataSource)


def test_batch_read_one_partition_per_shard(spark, shard_dir):
    _register(spark)
    df = spark.read.format("kinesis_replay").option("path", shard_dir).load()
    assert df.count() == 30
    assert df.rdd.getNumPartitions() == 3
    rows = df.collect()
    assert {r.shard_id for r in rows} == {"shard-000", "shard-001", "shard-002"}
    # sequence numbers are dense per shard, arrival and pk lifted from the line
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r.shard_id, []).append(r.sequence_number)
    for seqs in by_shard.values():
        assert sorted(seqs) == list(range(len(seqs)))
    one = rows[0]
    assert one.partition_key.startswith("user-")
    assert json.loads(one.data)["v"] >= 0


def test_stream_trim_horizon_drains_then_tails_appends(spark, shard_dir, tmp_path):
    _register(spark)
    sdf = (
        spark.readStream.format("kinesis_replay")
        .option("path", shard_dir)
        .load()
    )
    ckpt = str(tmp_path / "ckpt")
    seen: list = []

    def run_once():
        # foreachBatch (not the memory sink) so the checkpoint is recoverable
        # across restarts — the cross-run offset continuity IS the test
        drain(
            sdf.writeStream.foreachBatch(
                lambda b, _e: seen.extend(b.collect())
            )
            .option("checkpointLocation", ckpt)
        )

    run_once()
    assert len(seen) == 30  # trim_horizon replays everything

    # append records + a NEW shard (resharding): only the delta arrives
    with open(os.path.join(shard_dir, "shard-001.jsonl"), "a") as f:
        f.write(json.dumps({"__pk": "user-1", "v": 100}) + "\n")
    with open(os.path.join(shard_dir, "shard-003.jsonl"), "w") as f:
        f.write(json.dumps({"__pk": "user-9", "v": 101}) + "\n")
    run_once()
    assert len(seen) == 32
    got = {json.loads(r.data)["v"] for r in seen}
    assert {100, 101} <= got
    reshard = [r for r in seen if r.shard_id == "shard-003"]
    assert len(reshard) == 1 and reshard[0].sequence_number == 0


def test_stream_latest_skips_history(spark, shard_dir, tmp_path):
    _register(spark)
    sdf = (
        spark.readStream.format("kinesis_replay")
        .option("path", shard_dir)
        .option("startingPosition", "latest")
        .load()
    )
    drain(
        sdf.writeStream.format("memory")
        .queryName("replay_latest")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
    )
    assert spark.table("replay_latest").count() == 0


def test_source_feeds_counter_pipeline(spark, shard_dir):
    # the source's data column flows through the engine's own JSON decode +
    # counter aggregation — S1 → S4 → A1 end to end
    from pyspark.sql import functions as F

    _register(spark)
    df = spark.read.format("kinesis_replay").option("path", shard_dir).load()
    parsed = df.select(
        "shard_id",
        F.get_json_object("data", "$.v").cast("long").alias("v"),
        "approximate_arrival",
    )
    agg = parsed.groupBy("shard_id").agg(F.count("v").alias("n")).collect()
    assert sum(r.n for r in agg) == 30


def test_batch_writer_routes_by_partition_key(spark, tmp_path):
    _register(spark)
    out = str(tmp_path / "sink")
    df = spark.createDataFrame(
        [(f"u{i % 4}", json.dumps({"__pk": f"u{i % 4}", "v": i})) for i in range(20)],
        "partition_key string, data string",
    )
    df.write.format("kinesis_replay").option("path", out).option("numShards", "2").mode("append").save()
    back = spark.read.format("kinesis_replay").option("path", out).load()
    assert back.count() == 20
    # same pk always lands in the same shard (PutRecord routing rule)
    rows = back.collect()
    pk_shards = {}
    for r in rows:
        pk_shards.setdefault(r.partition_key, set()).add(r.shard_id)
    assert all(len(s) == 1 for s in pk_shards.values())
    assert not os.listdir(os.path.join(out, "_staging"))  # staging cleaned


def test_stream_writer_roundtrip_counter_results(spark, shard_dir, tmp_path):
    # counter output → streaming PutRecord sink → read back: K2 parity on
    # the same wire the source reads
    from pyspark.sql import functions as F

    _register(spark)
    out = str(tmp_path / "results_stream")
    src = (
        spark.readStream.format("kinesis_replay")
        .option("path", shard_dir)
        .load()
        .select(
            F.col("partition_key"),
            F.to_json(
                F.struct("partition_key", F.get_json_object("data", "$.v").alias("v"))
            ).alias("data"),
        )
    )
    drain(
        src.writeStream.format("kinesis_replay")
        .option("path", out)
        .option("numShards", "2")
        .option("checkpointLocation", str(tmp_path / "ckpt_w"))
    )
    back = spark.read.format("kinesis_replay").option("path", out).load()
    assert back.count() == 30
    assert {os.path.basename(p) for p in os.listdir(out) if p.startswith("shard-")} == {
        "shard-000.jsonl",
        "shard-001.jsonl",
    }


def test_stream_demo_example_runs(tmp_path):
    import subprocess
    import sys as _sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [_sys.executable, os.path.join(repo, "examples", "stream_demo.py"), "2"],
        capture_output=True, text=True, timeout=600, cwd=repo,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = [json.loads(l) for l in out.stdout.splitlines() if l.startswith("{")]
    assert lines and all(l["counter_id"] == "unique_user" for l in lines)
    assert {l["value"] for l in lines} == {10}  # 10 distinct users per poll


def test_kpl_blobs_on_the_replay_wire(spark, tmp_path):
    # S1 + S3 composition: KPL-aggregated payloads ride the shard wire as
    # base64 lines; the replay source delivers them per shard and the KPL
    # deaggregator unpacks the user records losslessly
    import base64

    from pyspark.sql import functions as F

    from kinesis_data_counter_spark.sources.kpl import aggregate_records, deaggregate

    _register(spark)
    d = str(tmp_path / "kpl_stream")
    user_records = [(f"u{i % 4}", json.dumps({"i": i}).encode()) for i in range(50)]
    blobs = [
        aggregate_records(user_records[k : k + 10]) for k in range(0, 50, 10)
    ]
    write_shard_files(
        iter(
            (f"agg{j}", json.dumps({"__pk": f"agg{j}",
                                    "blob": base64.b64encode(b).decode()}))
            for j, b in enumerate(blobs)
        ),
        d,
        num_shards=2,
    )
    wire = spark.read.format("kinesis_replay").option("path", d).load()
    payloads = wire.select(
        "shard_id",
        F.unbase64(F.get_json_object("data", "$.blob")).alias("data"),
    )
    recs = deaggregate(payloads, keep_cols=("shard_id",))
    got = sorted(
        (r.partition_key, bytes(r.data).decode()) for r in recs.collect()
    )
    want = sorted((pk, body.decode()) for pk, body in user_records)
    assert got == want  # every user record, exactly once, pk preserved


def test_watermark_append_semantics_on_replay_stream(spark, tmp_path):
    # production emission semantics on the custom source: append mode +
    # watermark across checkpointed restarts — the watermark survives the
    # restart and late records are dropped, not re-aggregated (the
    # engine-managed IsFinalInvokeForWindow)
    from pyspark.sql import functions as F

    _register(spark)
    d, ckpt = str(tmp_path / "wm_stream"), str(tmp_path / "wm_ckpt")

    def put(ts: str):
        ms = int(
            dt.datetime.fromisoformat(ts).replace(tzinfo=dt.timezone.utc).timestamp()
            * 1000
        )
        write_shard_files(
            iter([("k", json.dumps({"__pk": "k", "__arrival_ms": ms}))]), d, 1
        )

    import datetime as dt

    emitted: list = []

    def run_once():
        src = spark.readStream.format("kinesis_replay").option("path", d).load()
        agg = (
            src.withWatermark("approximate_arrival", "0 seconds")
            .groupBy(F.window("approximate_arrival", "1 hour").alias("w"))
            .count()
            .select(F.unix_millis("w.start").alias("ws"), "count")
        )
        drain(
            agg.writeStream.foreachBatch(lambda b, _e: emitted.extend(b.collect()))
            .outputMode("append")
            .option("checkpointLocation", ckpt)
        )

    put("2024-01-01 10:00:00"); put("2024-01-01 11:30:00")
    run_once()
    put("2024-01-01 12:30:00")
    run_once()                   # watermark 11:30 → closes the 10:00 window
    put("2024-01-01 10:15:00")   # 2h+ late
    run_once()                   # watermark 12:30 → late row dropped

    counts = {r.ws: r["count"] for r in emitted}
    h10 = int(dt.datetime(2024, 1, 1, 10, tzinfo=dt.timezone.utc).timestamp() * 1000)
    assert counts.get(h10) == 1  # closed once, late arrival NOT re-counted
    assert len(emitted) == len(set(r.ws for r in emitted))  # no re-emission


def test_arrow_schema_matches_spark_derivation(spark):
    """The hand-pinned _ARROW_SCHEMA must equal what Spark's worker derives
    from SCHEMA — the worker validates column names only, so a type drift
    would fail deep in the JVM Arrow reader instead of here."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    from kinesis_data_counter_spark.sources.replay_source import (
        SCHEMA,
        _ARROW_SCHEMA,
    )

    assert _ARROW_SCHEMA == to_arrow_schema(_parse_datatype_string(SCHEMA))


def test_record_batches_slice_and_flush(tmp_path):
    """[start, end) slicing, blank-line skip, corrupt-line pass-through, and
    the _BATCH_ROWS flush boundary — all on the raw batch generator."""
    import pyarrow as pa

    from kinesis_data_counter_spark.sources import replay_source as rs

    p = str(tmp_path / "shard-000.jsonl")
    lines = [json.dumps({"__pk": f"u{i}", "__arrival_ms": 1000 * i, "v": i}) for i in range(10)]
    lines[4] = "not json at all"  # corrupt record: flows through, null pk/arrival
    lines[5] = json.dumps({"__pk": "u5", "v": 5})  # no arrival time
    lines[7] = ""  # blank: skipped entirely (no sequence emitted)
    with open(p, "w") as f:
        f.write("\n".join(lines) + "\n")

    batches = list(rs._record_batches("shard-000", p, 2, 9))
    assert all(isinstance(b, pa.RecordBatch) for b in batches)
    assert all(b.schema == rs._ARROW_SCHEMA for b in batches)
    tbl = pa.Table.from_batches(batches)
    seqs = tbl.column("sequence_number").to_pylist()
    assert seqs == [2, 3, 4, 5, 6, 8]  # [2,9) minus the blank line 7
    pks = tbl.column("partition_key").to_pylist()
    assert pks[2] is None and pks[0] == "u2"  # corrupt line keeps flowing
    assert tbl.column("data").to_pylist()[2] == "not json at all"
    arr = tbl.column("approximate_arrival").to_pylist()
    assert arr[1].timestamp() == 3.0  # __arrival_ms=3000 -> epoch 3s
    assert arr[2] is None  # corrupt line: no arrival, so windowing drops it
    assert arr[3] is None and pks[3] == "u5"  # no __arrival_ms: not epoch 0

    # flush boundary: >_BATCH_ROWS records split into multiple batches
    old = rs._BATCH_ROWS
    rs._BATCH_ROWS = 4
    try:
        sizes = [b.num_rows for b in rs._record_batches("shard-000", p, 0, None)]
    finally:
        rs._BATCH_ROWS = old
    assert sizes == [4, 4, 1] and sum(sizes) == 9


def test_writer_abort_removes_staging_keeps_shards(tmp_path):
    """Crash path: abort() must delete staged temp files and leave the
    committed shard files untouched — driving the Arrow writer class
    directly with hand-built RecordBatches (no Spark session)."""
    import pyarrow as pa

    from kinesis_data_counter_spark.sources.replay_source import (
        _ReplayBatchWriter,
    )

    out = str(tmp_path / "stream")
    w = _ReplayBatchWriter({"path": out, "numShards": "2"})
    batch = pa.RecordBatch.from_pydict(
        {
            "partition_key": ["u1", "u2", None],
            "data": ['{"v": 1}', '{"v": 2}', '{"v": 3}'],
        }
    )
    # first epoch commits normally
    msg = w.write(iter([batch]))
    assert msg.n == 3
    w.commit([msg])
    committed = {
        f: open(os.path.join(out, f)).read()
        for f in sorted(os.listdir(out))
        if f.endswith(".jsonl")
    }
    assert sum(v.count("\n") for v in committed.values()) == 3
    # second epoch stages then ABORTS: staging emptied, shards unchanged
    msg2 = w.write(iter([batch]))
    staged = list(os.listdir(os.path.join(out, "_staging")))
    assert staged, "write must stage before commit"
    w.abort([msg2, None])  # None = a task that never produced a message
    assert os.listdir(os.path.join(out, "_staging")) == []
    after = {
        f: open(os.path.join(out, f)).read()
        for f in sorted(os.listdir(out))
        if f.endswith(".jsonl")
    }
    assert after == committed


def test_writer_whole_row_fallback_per_null_data_cell(tmp_path):
    """A batch WITH a data column but a NULL cell falls back to the
    whole-row JSON body for that row only (the asDict-era semantics)."""
    import pyarrow as pa

    from kinesis_data_counter_spark.sources.replay_source import (
        _ReplayBatchWriter,
    )

    out = str(tmp_path / "stream")
    w = _ReplayBatchWriter({"path": out, "numShards": "1"})
    batch = pa.RecordBatch.from_pydict(
        {
            "partition_key": ["u1", "u1"],
            "data": ['{"v": 1}', None],
            "extra": [10, 20],
        }
    )
    w.commit([w.write(iter([batch]))])
    lines = [
        json.loads(l)
        for l in open(os.path.join(out, "shard-000.jsonl"))
        if l.strip()
    ]
    assert lines[0] == {"v": 1, "__pk": "u1"}
    # NULL data cell: whole row minus partition_key becomes the body
    assert lines[1] == {"data": None, "extra": 20, "__pk": "u1"}
