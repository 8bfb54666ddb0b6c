"""Streaming parity + sink dispatch + JSON source tests."""

from __future__ import annotations

import io
import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kinesis_data_counter_spark.config import CounterSpec
from kinesis_data_counter_spark.operators.counter import build_counter
from kinesis_data_counter_spark.session import load_tables
from kinesis_data_counter_spark.sources import parse_json_records, split_corrupt_records
from kinesis_data_counter_spark.streaming.runner import drain, run_counter_stream_once
from kinesis_data_counter_spark.streaming.sinks import console_writer, writer_for_arn

ARN = "arn:aws:kinesis:us-east-1:111122223333:stream/events"


def test_stream_equals_batch(spark, sf_dir):
    spec = CounterSpec(id="req", counter_type="count", target_column="*",
                       window="1 hour", input_stream_arn=ARN).validate()
    streamed = run_counter_stream_once(spark, f"{sf_dir}/events.parquet", spec)
    batch = build_counter(load_tables(spark, sf_dir, ("events",))["events"], spec, ts_col="ts")
    s = {(r.window_start, r.value) for r in streamed.collect()}
    b = {(r.window_start, r.value) for r in batch.collect()}
    assert s == b and len(s) > 0


def test_console_writer_json_lines(spark):
    df = spark.createDataFrame(
        [(ARN, 0, 60000, "c", "count", None, 5)],
        "event_source_arn string, window_start long, window_end long, "
        "counter_id string, counter_type string, shard_id string, value long",
    )
    buf = io.StringIO()
    console_writer(buf)(df, 0)
    line = buf.getvalue().strip()
    # shard_id omitted when empty (counter.go:423-425)
    assert '"shard_id"' not in line
    assert '"value":5' in line and '"counter_id":"c"' in line


def test_writer_dispatch():
    assert writer_for_arn(None).__qualname__.startswith("console_writer")
    assert writer_for_arn("arn:aws:kinesis:r:1:stream/s", dry_run=True).__qualname__.startswith(
        "console_writer"
    )
    k = writer_for_arn("arn:aws:kinesis:r:1:stream/s")
    f = writer_for_arn("arn:aws:firehose:r:1:deliverystream/d")
    assert k.__qualname__.startswith("kinesis_writer")
    assert f.__qualname__.startswith("firehose_writer")
    with pytest.raises(Exception):
        writer_for_arn("arn:aws:s3:::bucket/x")


def _spool_client_factory(spool_dir):
    """Build a picklable factory for a boto3-client stand-in: every put call
    writes one JSON file to ``spool_dir`` so tests can assert the
    partition-side batching without AWS. The returned closure (and the class
    inside it) is cloudpickled BY VALUE, so executor workers need no import
    of this test module."""

    def factory():
        import json as _json
        import os
        import uuid

        class SpoolClient:
            def _spool(self, stream, records):
                os.makedirs(spool_dir, exist_ok=True)
                p = f"{spool_dir}/{uuid.uuid4().hex}.json"
                with open(p, "w", encoding="utf-8") as f:
                    f.write(_json.dumps({
                        "stream": stream,
                        "records": [
                            {k: (v.decode() if isinstance(v, bytes) else v)
                             for k, v in r.items()}
                            for r in records
                        ],
                    }))

            def put_records(self, StreamName, Records):
                self._spool(StreamName, Records)

            def put_record_batch(self, DeliveryStreamName, Records):
                self._spool(DeliveryStreamName, Records)

        return SpoolClient()

    return factory


def _read_spool(spool_dir):
    import glob
    import json as _json

    calls = []
    for p in sorted(glob.glob(f"{spool_dir}/*.json")):
        with open(p, encoding="utf-8") as f:
            calls.append(_json.loads(f.read()))
    return calls


def test_kinesis_writer_partition_side_puts(spark, tmp_path):
    # the put path runs on executors: per-partition client, ≤500-record
    # chunks, pk = counter_id, data = the full serialized record
    from kinesis_data_counter_spark.streaming.sinks import kinesis_writer

    spool = str(tmp_path / "spool_k")
    n = 1203  # forces a 500/500/203 chunking somewhere across partitions
    df = spark.createDataFrame(
        [(f"c{i % 7}", i) for i in range(n)], "counter_id string, value long"
    ).repartition(3)
    w = kinesis_writer(
        "arn:aws:kinesis:us-east-1:1:stream/out",
        client_factory=_spool_client_factory(spool),
    )
    w(df, epoch_id=0)
    calls = _read_spool(spool)
    assert all(c["stream"] == "out" for c in calls)
    assert all(1 <= len(c["records"]) <= 500 for c in calls)
    recs = [r for c in calls for r in c["records"]]
    assert len(recs) == n
    bodies = [json.loads(r["Data"]) for r in recs]
    assert {b["value"] for b in bodies} == set(range(n))
    # pk rides OUTSIDE the body (routing), body keeps its own counter_id
    assert all(r["PartitionKey"] == b["counter_id"]
               for r, b in zip(recs, bodies))
    assert all("pk" not in b for b in bodies)


def test_firehose_writer_partition_side_puts(spark, tmp_path):
    from kinesis_data_counter_spark.streaming.sinks import firehose_writer

    spool = str(tmp_path / "spool_f")
    df = spark.createDataFrame(
        [("c", None, i) for i in range(40)],
        "counter_id string, shard_id string, value long",
    ).repartition(4)
    w = firehose_writer(
        "arn:aws:firehose:us-east-1:1:deliverystream/d",
        client_factory=_spool_client_factory(spool),
    )
    w(df, epoch_id=0)
    calls = _read_spool(spool)
    assert all(c["stream"] == "d" for c in calls)
    recs = [r for c in calls for r in c["records"]]
    assert len(recs) == 40
    # omitempty applied on the executor-serialized wire lines too
    assert all("shard_id" not in json.loads(r["Data"]) for r in recs)


def test_kinesis_writer_exact_chunk_sequence(spark, tmp_path):
    # single partition → deterministic chunking: 1203 rows must ship as
    # exactly [500, 500, 203] (counter.go:525-537's put loop cap)
    from kinesis_data_counter_spark.streaming.sinks import kinesis_writer

    spool = str(tmp_path / "spool_seq")
    df = spark.createDataFrame(
        [("c", i) for i in range(1203)], "counter_id string, value long"
    ).coalesce(1)
    kinesis_writer(
        "arn:aws:kinesis:us-east-1:1:stream/out",
        client_factory=_spool_client_factory(spool),
    )(df, epoch_id=0)
    sizes = sorted(len(c["records"]) for c in _read_spool(spool))
    assert sizes == [203, 500, 500]


def test_put_writers_reject_wrong_service_arn():
    import pytest

    from kinesis_data_counter_spark.streaming.sinks import (
        firehose_writer,
        kinesis_writer,
    )

    with pytest.raises(ValueError, match="not a kinesis stream"):
        kinesis_writer("arn:aws:firehose:r:1:deliverystream/d")
    with pytest.raises(ValueError, match="not a firehose"):
        firehose_writer("arn:aws:kinesis:r:1:stream/s")


def test_put_writers_gate_cleanly_without_boto3(spark):
    # boto3 is absent in this container BY DESIGN: without an injected
    # client the writers must fail loudly at WRITE time (not import time),
    # before any executor work is scheduled
    import pytest

    from kinesis_data_counter_spark.streaming import sinks

    if sinks._HAS_BOTO3:  # pragma: no cover - container has no boto3
        pytest.skip("boto3 present; gate branch unreachable")
    df = spark.createDataFrame([("c", 1)], "counter_id string, value long")
    with pytest.raises(NotImplementedError, match="boto3"):
        sinks.kinesis_writer("arn:aws:kinesis:r:1:stream/s")(df, 0)
    with pytest.raises(NotImplementedError, match="boto3"):
        sinks.firehose_writer("arn:aws:firehose:r:1:deliverystream/d")(df, 0)


def test_dry_run_routes_to_console_end_to_end(spark):
    # the ignorePutRecord contract (counter.go:58-60): dry_run with a REAL
    # kinesis ARN must print the records instead of putting them
    import io

    buf = io.StringIO()
    w = writer_for_arn(
        "arn:aws:kinesis:us-east-1:1:stream/out", dry_run=True, stream=buf
    )
    df = spark.createDataFrame([("c1", 7)], "counter_id string, value long")
    w(df, 0)
    (line,) = [ln for ln in buf.getvalue().splitlines() if ln]
    assert json.loads(line) == {"counter_id": "c1", "value": 7}


def test_batch_keyed_writes_are_replay_idempotent(spark, tmp_path):
    # a crash between the foreachBatch write and the checkpoint commit
    # replays the batch: the re-write must REPLACE the epoch's output, not
    # duplicate it (ADVICE r2: pairs/bands/docs and the exchange parquet)
    from kinesis_data_counter_spark.streaming.runner import (
        _read_batch_keyed,
        _write_batch_keyed,
    )

    root = str(tmp_path / "tbl")
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    _write_batch_keyed(df1, root, epoch=0)
    _write_batch_keyed(df1, root, epoch=0)  # replay of the same epoch
    _write_batch_keyed(
        spark.createDataFrame([(3, "c")], "id long, v string"), root, epoch=1
    )
    got = sorted((r.id, r.v) for r in _read_batch_keyed(spark, root).collect())
    assert got == [(1, "a"), (2, "b"), (3, "c")]
    assert "batch" not in _read_batch_keyed(spark, root).columns


def test_json_parse_corrupt_routing(spark):
    df = spark.createDataFrame(
        [("1", '{"user_id": 7, "path": "/"}'),
         ("2", "not json at all"),
         ("3", '{"user_id": 9}')],
        "seq string, value string",
    )
    schema = T.StructType(
        [T.StructField("user_id", T.LongType()), T.StructField("path", T.StringType())]
    )
    parsed = parse_json_records(df, schema, keep_cols=("seq",))
    clean, failures = split_corrupt_records(parsed)
    assert {r.seq for r in clean.collect()} == {"1", "3"}
    fail_rows = failures.collect()
    assert [r.seq for r in fail_rows] == ["2"]  # ≈ batchItemFailures
    assert fail_rows[0]._corrupt_record == "not json at all"


def test_two_level_sketch_roundtrip_via_binary(spark):
    # A6 as a cross-job hand-off: sketches survive a write/read boundary
    df = spark.createDataFrame(
        [(i, i % 50) for i in range(1000)], "event_id long, user_id long"
    ).withColumn("ts", F.timestamp_seconds(F.lit(1_700_000_000)))
    partial = df.groupBy(F.window("ts", "1 minute")).agg(
        F.hll_sketch_agg("user_id", F.lit(16)).alias("sk")
    )
    merged = partial.groupBy("window").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    )
    assert merged.collect()[0].est == pytest.approx(50, rel=0.05)


def test_append_mode_drops_late_data(spark, tmp_path):
    # the watermark IS the reference's IsFinalInvokeForWindow: once it has
    # passed a window's end, append mode emits the row and later (late)
    # events for that window are dropped, not re-aggregated. Three files →
    # three micro-batches (maxFilesPerTrigger=1). Note the one-batch lag:
    # the watermark computed from batch N's data governs late-row filtering
    # in batch N+2 (filter uses the start-of-batch value, which itself
    # trails the data by one batch) — so the late row rides in batch 3.
    import os
    import time
    import uuid

    d = tmp_path / "late_src"
    d.mkdir()

    def write_batch(name, rows, mtime):
        df = spark.createDataFrame(rows, "ts string").select(
            F.col("ts").cast("timestamp").alias("ts")
        )
        p = str(d / name)
        df.coalesce(1).write.mode("overwrite").parquet(p)
        for root, _dirs, files in os.walk(p):
            for f in files:
                os.utime(os.path.join(root, f), (mtime, mtime))
        os.utime(p, (mtime, mtime))

    t0 = time.time() - 100
    write_batch("b1", [("2024-01-01 10:00:00",), ("2024-01-01 11:30:00",)], t0)
    write_batch("b2", [("2024-01-01 12:30:00",)], t0 + 30)
    write_batch("b3", [("2024-01-01 10:15:00",)], t0 + 60)  # 2h15m late

    schema = spark.read.parquet(str(d / "b1")).schema
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d) + "/*")
    )
    agg = (
        sdf.withWatermark("ts", "0 seconds")
        .groupBy(F.window("ts", "1 hour"))
        .count()
    )
    name = f"late_{uuid.uuid4().hex[:8]}"
    drain(
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
    )
    got = {
        (str(r.window.start), str(r.window.end)): r["count"]
        for r in spark.table(name).collect()
    }
    # [10,11) closed with ONE event; the 10:15 arrival in batch 3 is late
    # against the 12:30 watermark and dropped. [11,12) closes at 12:30.
    # [12,13) stays open: append mode withholds it past the final batch
    # (the documented batch/stream emission difference, SURVEY.md §7d).
    assert got == {
        ("2024-01-01 10:00:00", "2024-01-01 11:00:00"): 1,
        ("2024-01-01 11:00:00", "2024-01-01 12:00:00"): 1,
    }


def test_checkpoint_restart_processes_each_file_once(spark, tmp_path):
    # the exactly-once upgrade over the reference (SURVEY.md §2.5: CLI
    # restarts lose in-flight windows; LATEST iterator re-reads nothing,
    # drops everything). With a checkpoint, a restarted query resumes from
    # committed offsets: files processed before the stop are not re-emitted,
    # new files are picked up.
    import uuid

    src = tmp_path / "src"
    src.mkdir()
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def add_file(name, n0, n1):
        spark.range(n0, n1).selectExpr("id AS v").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / name))

    def run_once():
        sdf = (
            spark.readStream.schema("v long")
            .parquet(str(src) + "/*")
            .withColumn("doubled", F.col("v") * 2)
        )
        drain(
            sdf.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
        )

    add_file("b1", 0, 100)
    run_once()
    first = spark.read.parquet(sink)
    assert first.count() == 100

    add_file("b2", 100, 150)
    run_once()  # restart with the same checkpoint
    out = spark.read.parquet(sink)
    # b1 NOT duplicated, b2 picked up, transform applied to both
    assert out.count() == 150
    assert out.agg(F.sum("v")).collect()[0][0] == sum(range(150))
    assert out.filter(F.col("doubled") != F.col("v") * 2).count() == 0


class _FakeValueState:
    def __init__(self):
        self._v = None

    def exists(self):
        return self._v is not None

    def get(self):
        return self._v

    def update(self, v):
        self._v = v


class _FakeMapState:
    def __init__(self):
        self._m = {}

    def containsKey(self, k):
        return k in self._m

    def getValue(self, k):
        return self._m[k]

    def updateValue(self, k, v):
        self._m[k] = v

    def keys(self):
        return iter(self._m)


class _FakeHandle:
    def __init__(self):
        self.states = {}

    def getValueState(self, name, schema, ttlDurationMs=None):
        return self.states.setdefault(name, _FakeValueState())

    def getMapState(self, name, kschema, vschema, ttlDurationMs=None):
        return self.states.setdefault(name, _FakeMapState())


def test_tws_processor_accumulates_across_batches():
    # the transformWithState runtime needs protobuf (absent here); the
    # processor's accumulation logic is still exercised via a fake handle
    import pandas as pd

    from kinesis_data_counter_spark.streaming.stateful import RunningAggregateProcessor

    p = RunningAggregateProcessor()
    p.init(_FakeHandle())
    b1 = pd.DataFrame({"event_type": ["click", "click", "view"]})
    b2 = pd.DataFrame({"event_type": ["purchase", "click"]})
    out1 = list(p.handleInputRows((7,), iter([b1]), None))[0]
    out2 = list(p.handleInputRows((7,), iter([b2]), None))[0]
    assert out1.to_dict("records") == [{"key": 7, "n_events": 3, "n_types": 2}]
    assert out2.to_dict("records") == [{"key": 7, "n_events": 5, "n_types": 3}]
    # per-type map state carries exact counts across batches
    assert p.types.getValue(("click",)) == (3,)


def test_tws_wrapper_raises_without_protobuf(spark):
    import pytest

    from kinesis_data_counter_spark.streaming import stateful as ST

    if ST.HAS_TWS_RUNTIME:  # pragma: no cover - container has no protobuf
        pytest.skip("protobuf present; gate not applicable")
    df = spark.createDataFrame([(1,)], "user_id long")
    with pytest.raises(NotImplementedError, match="protobuf"):
        ST.stateful_running_counts_tws(df)


def test_stream_dedup_drops_redelivered_records(spark, sf_dir, tmp_path):
    # simulate at-least-once delivery: the same events land twice (two
    # parquet files with identical event_ids); the dedup-counter must
    # produce the counts of the CLEAN input
    import shutil

    from kinesis_data_counter_spark.streaming.runner import run_dedup_counter_once

    src = f"{sf_dir}/events.parquet"
    d = tmp_path / "redelivered"
    d.mkdir()
    shutil.copy(src, d / "a.parquet")
    shutil.copy(src, d / "b.parquet")

    spec = CounterSpec(id="req", counter_type="count", target_column="*",
                       window="1 hour", input_stream_arn=ARN).validate()
    clean = build_counter(
        load_tables(spark, sf_dir, ("events",))["events"], spec, ts_col="ts"
    )
    want = {(r.window_start, r.value) for r in clean.collect()}
    # within one micro-batch AND across micro-batches (maxFilesPerTrigger=1
    # forces the redelivery into a later batch, exercising the state store)
    for mfpt in (None, 1):
        deduped = run_dedup_counter_once(
            spark, str(d), spec, max_files_per_trigger=mfpt
        )
        got = {(r.window_start, r.value) for r in deduped.collect()}
        assert got == want and len(got) > 0, f"maxFilesPerTrigger={mfpt}"


def test_stream_distinct_counter_equals_batch(spark, sf_dir):
    # the reference's OTHER counter mode: approx_count_distinct must stream
    # identically to batch (same HLL sketch algorithm on both paths, so the
    # estimates are bit-identical, not just within tolerance)
    spec = CounterSpec(id="du", counter_type="approx_count_distinct",
                       target_column="user_id", window="1 hour",
                       input_stream_arn=ARN).validate()
    streamed = run_counter_stream_once(spark, f"{sf_dir}/events.parquet", spec)
    batch = build_counter(load_tables(spark, sf_dir, ("events",))["events"], spec, ts_col="ts")
    s = {(r.window_start, r.value) for r in streamed.collect()}
    b = {(r.window_start, r.value) for r in batch.collect()}
    assert s == b and len(s) > 0


def test_stream_stream_interval_join_equals_batch(spark, sf_dir):
    # click→purchase attribution as a watermarked stream-stream join; the
    # bounded condition lets state expire. availableNow drain must produce
    # exactly the batch join's row set
    import uuid

    from kinesis_data_counter_spark.streaming.runner import (
        stream_stream_interval_join,
    )

    out = stream_stream_interval_join(spark, f"{sf_dir}/events.parquet")
    name = f"ssj_{uuid.uuid4().hex[:8]}"
    drain(
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
    )
    streamed = {
        (r.l_id, r.r_id) for r in spark.table(name).collect()
    }

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    l = ev.where(F.col("event_type") == "click").selectExpr(
        "user_id", "ts AS l_ts", "event_id AS l_id"
    )
    r = ev.where(F.col("event_type") == "purchase").selectExpr(
        "user_id AS r_user_id", "ts AS r_ts", "event_id AS r_id"
    )
    batch = l.join(
        r,
        F.expr(
            "user_id = r_user_id AND r_ts >= l_ts "
            "AND r_ts <= l_ts + INTERVAL 2 HOURS"
        ),
    )
    expected = {(row.l_id, row.r_id) for row in batch.collect()}
    assert streamed == expected and len(expected) > 0


def test_stream_static_enrichment_equals_batch(spark, sf_dir):
    # stream-static join: per-event dimension lookup with no streaming
    # state; result must equal the batch join
    import uuid

    from kinesis_data_counter_spark.streaming.runner import stream_enrich

    dim = spark.createDataFrame(
        [(i, "seg_" + str(i % 3)) for i in range(200)], "user_id long, segment string"
    )
    out = stream_enrich(spark, f"{sf_dir}/events.parquet", dim, on=("user_id",))
    agg = out.groupBy("segment").count()
    name = f"enrich_{uuid.uuid4().hex[:8]}"
    drain(
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
    )
    streamed = {(r.segment, r["count"]) for r in spark.table(name).collect()}

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    want = {
        (r.segment, r["count"])
        for r in ev.join(dim, "user_id").groupBy("segment").count().collect()
    }
    assert streamed == want and len(want) > 0


def test_stream_sessionize_matches_batch(spark, sf_dir):
    # the batch session_count operator run under readStream must produce
    # the identical session set (batch-core design stance: same function,
    # engine-managed state instead of a shuffle-wide sort)
    from kinesis_data_counter_spark.operators.windows import session_count
    from kinesis_data_counter_spark.session import load_tables
    from kinesis_data_counter_spark.streaming.runner import (
        run_sessionize_stream_once,
    )

    path = f"{sf_dir}/events.parquet"
    streamed = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in run_sessionize_stream_once(spark, path, gap="30 minutes").collect()
    }
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    batch = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in session_count(ev, gap="30 minutes").collect()
    }
    assert streamed == batch and len(batch) > 0


def test_stream_two_level_count_and_distinct_match_batch(spark, sf_dir, tmp_path):
    from kinesis_data_counter_spark.streaming.runner import stream_two_level

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    # several input files → several micro-batches → several partial rows
    # per window on the exchange, so the merge is exercised for real
    src = str(tmp_path / "events_split")
    ev.repartition(4).write.parquet(src)

    spec = CounterSpec(id="req", counter_type="count", target_column="*",
                       window="1 hour", input_stream_arn=ARN).validate()
    merged = stream_two_level(spark, src, spec, str(tmp_path / "exchange_c"))
    got = {(r.window_start, r.value) for r in merged.collect()}
    want = {
        (r.window_start, r.value)
        for r in build_counter(ev, spec, ts_col="ts").collect()
    }
    assert got == want and len(got) > 0

    dspec = CounterSpec(id="uniq", counter_type="approx_count_distinct",
                        target_column="user_id", window="1 hour",
                        input_stream_arn=ARN).validate()
    dmerged = stream_two_level(spark, src, dspec, str(tmp_path / "exchange_d"))
    # p=16 sketches are exact at fixture cardinality: cross-batch union of
    # partial sketches must equal the exact per-window distinct
    exact = {
        (r.window_start, r.exact)
        for r in ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count_distinct("user_id").alias("exact"))
        .select(F.unix_millis("w.start").alias("window_start"), "exact")
        .collect()
    }
    assert {(r.window_start, r.value) for r in dmerged.collect()} == exact


def test_stream_neardup_index_matches_oneshot(spark, sf_dir, tmp_path):
    # incremental curation as a stream: multi-batch probe-and-append over
    # the persisted band index finds the same pair set as a one-shot LSH
    # run over the full corpus (every pair lands in SOME batch: within an
    # early batch, or batch-vs-history once the second doc arrives)
    from kinesis_data_counter_spark.operators.dedup import minhash_lsh_pairs
    from kinesis_data_counter_spark.streaming.runner import stream_neardup_index

    docs = load_tables(spark, sf_dir, ("documents",))["documents"].select(
        "doc_id", "text"
    )
    src = str(tmp_path / "docs_src")
    docs.repartition(3).write.parquet(src)

    got = stream_neardup_index(spark, src, str(tmp_path / "curation"))
    got_pairs = {(r.a_id, r.b_id) for r in got.collect()}
    want = {
        (r.a_id, r.b_id)
        for r in minhash_lsh_pairs(docs, threshold=0.8, num_hashes=96,
                                   bands=24, n=5).collect()
    }
    assert got_pairs == want and len(want) > 0
    # the persisted artifacts a deployment keeps: index, corpus store, audit
    import os
    assert spark.read.parquet(str(tmp_path / "curation" / "bands")).count() \
        == docs.count() * 24
    assert spark.read.parquet(str(tmp_path / "curation" / "docs")).count() \
        == docs.count()


def test_stream_quantile_rollup_within_rank_tolerance(spark, sf_dir, tmp_path):
    # KLL states as the exchange payload: several micro-batches append
    # partial sketches, a second job merges them — estimates must sit
    # within the k=200 rank tolerance of the exact batch percentiles
    from kinesis_data_counter_spark.streaming.runner import stream_quantile_rollup

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    src = str(tmp_path / "events_q")
    ev.repartition(4).write.parquet(src)

    est = {
        (r["group"], r["q"]): r["est"]
        for r in stream_quantile_rollup(
            spark, src, str(tmp_path / "exchange_q"), quantiles=(0.5, 0.95)
        ).collect()
    }
    vals: dict[str, list[float]] = {}
    for r in ev.select("event_type", "value").collect():
        vals.setdefault(r["event_type"], []).append(float(r["value"]))
    assert set(g for g, _ in est) == set(vals)
    for g, vs in vals.items():
        vs.sort()
        m = len(vs)
        for q in (0.5, 0.95):
            lo = vs[max(0, int((q - 0.04) * m) - 1)]
            hi = vs[min(m - 1, int((q + 0.04) * m))]
            assert lo <= est[(g, q)] <= hi, (g, q)


def test_stream_cms_rollup_matches_batch_sketch(spark, sf_dir, tmp_path):
    # CMS cells as the exchange payload: micro-batch partials (batch id as
    # the shard) merge cellwise to EXACTLY the sketch one batch job builds,
    # and point estimates never undercount the true frequencies
    from kinesis_data_counter_spark.operators import sketches as SK
    from kinesis_data_counter_spark.streaming.runner import stream_cms_rollup

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    src = str(tmp_path / "events_cms")
    ev.repartition(4).write.parquet(src)

    merged = stream_cms_rollup(spark, src, str(tmp_path / "exchange_cms"))
    streamed = {(r["d"], r["bucket"]): r["cnt"] for r in merged.collect()}
    batch = {
        (r["d"], r["bucket"]): r["cnt"]
        for r in SK.cms_merge(SK.cms_partials(ev, "event_type")).collect()
    }
    assert streamed == batch
    est = {
        r["item"]: r["est"]
        for r in SK.cms_point_estimates(merged, ev, "event_type").collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    for k, n in exact.items():
        assert est[k] >= n, k


def test_stream_topk_rollup_matches_batch_topk(spark, sf_dir, tmp_path):
    # top-k states as the exchange payload: per-batch accumulates combine
    # to the same deterministic top-k the one-shot two-level path computes
    from kinesis_data_counter_spark.operators import sketches as SK
    from kinesis_data_counter_spark.streaming.runner import stream_topk_rollup

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    src = str(tmp_path / "events_topk")
    ev.repartition(4).write.parquet(src)

    streamed = [
        (r["rank"], r["item"], r["cnt"])
        for r in stream_topk_rollup(
            spark, src, str(tmp_path / "exchange_topk"), k=5
        ).collect()
    ]
    batch = [
        (r["rank"], r["item"], r["cnt"])
        for r in SK.topk_two_level(ev, "event_type", k=5).collect()
    ]
    assert streamed == batch


def test_stream_segment_dedup_first_seen_survives_across_batches(spark, tmp_path):
    # three doc batches arrive in doc_id order (mtime-controlled,
    # maxFilesPerTrigger=1): the streamed output must equal the batch
    # segment_dedup over the full corpus, whose tie-break is (doc_id, pos)
    import os
    import time

    from kinesis_data_counter_spark.operators.corpus import segment_dedup
    from kinesis_data_counter_spark.streaming.runner import stream_segment_dedup

    docs = [
        (0, "a b c d"),       # owns [a b] [c d]
        (1, "a b e f"),       # [a b] dup of doc 0 → keeps [e f]
        (2, "g h c d"),       # [c d] dup of doc 0 → keeps [g h]
        (3, "e f g h"),       # both chunks already owned → empty
        (4, "a b a b"),       # all dup → empty
        (5, "x y"),           # fresh
    ]
    src = tmp_path / "seg_src"
    src.mkdir()
    t0 = time.time() - 100
    for bi, lo in enumerate([(0, 2), (2, 4), (4, 6)]):
        df = spark.createDataFrame(docs[lo[0]:lo[1]], "doc_id long, text string")
        p = str(src / f"b{bi}")
        df.coalesce(1).write.mode("overwrite").parquet(p)
        for root, _dirs, files in os.walk(p):
            for f in files:
                os.utime(os.path.join(root, f), (t0 + 30 * bi, t0 + 30 * bi))
        os.utime(p, (t0 + 30 * bi, t0 + 30 * bi))

    streamed = {
        r["doc_id"]: (r["text_out"], r["n_kept"], r["n_dropped"])
        for r in stream_segment_dedup(
            spark, str(src) + "/*", str(tmp_path / "seg_work"), chunk_words=2
        ).collect()
    }
    batch = {
        r["doc_id"]: (r["text_out"], r["n_kept"], r["n_dropped"])
        for r in segment_dedup(
            spark.createDataFrame(docs, "doc_id long, text string"), chunk_words=2
        ).collect()
    }
    assert streamed == batch
    # invariant: every surviving chunk is globally unique across the stream
    all_kept = [
        c
        for text, _k, _d in streamed.values()
        if text
        for c in [text[i:i + 3] for i in range(0, len(text), 4)]
    ]
    assert len(all_kept) == len(set(all_kept))


def test_stream_segment_dedup_batch_replay_is_idempotent(spark, tmp_path):
    # crash-replay contract: a batch whose partial index write landed but
    # whose checkpoint did not commit is re-run with the SAME epoch; the
    # index read excludes that epoch's own partition, so the replay must
    # reproduce identical docs and index content — not anti-join its own
    # first attempt into an empty output
    from kinesis_data_counter_spark.streaming.runner import _segment_dedup_batch

    idx = str(tmp_path / "idx")
    out = str(tmp_path / "out")
    b0 = spark.createDataFrame([(0, "a b c d")], "doc_id long, text string")
    b1 = spark.createDataFrame([(1, "a b e f")], "doc_id long, text string")
    _segment_dedup_batch(spark, b0, 0, idx, out, chunk_words=2)
    _segment_dedup_batch(spark, b1, 1, idx, out, chunk_words=2)
    first = {
        r["doc_id"]: (r["text_out"], r["n_kept"], r["n_dropped"])
        for r in spark.read.parquet(out).collect()
    }
    n_idx = spark.read.parquet(idx).count()
    # simulate the crash-replay of batch 1 (its batch=1 dirs already exist)
    _segment_dedup_batch(spark, b1, 1, idx, out, chunk_words=2)
    again = {
        r["doc_id"]: (r["text_out"], r["n_kept"], r["n_dropped"])
        for r in spark.read.parquet(out).collect()
    }
    assert again == first == {0: ("a b c d", 2, 0), 1: ("e f", 1, 1)}
    assert spark.read.parquet(idx).count() == n_idx == 3


def test_stream_segment_dedup_corrupt_index_read_propagates(spark, tmp_path):
    # only the first-batch missing-path case may be treated as an empty
    # index; an unreadable/corrupt index must fail the batch (so streaming
    # retries) instead of silently disabling cross-batch dedup
    import pytest

    from kinesis_data_counter_spark.streaming.runner import _segment_dedup_batch

    idx = tmp_path / "idx"
    out = tmp_path / "out"
    idx.mkdir()
    (idx / "garbage.txt").write_text("not parquet")
    b = spark.createDataFrame([(0, "a b c d")], "doc_id long, text string")
    # corrupt footers surface as a Spark read error (Py4JJavaError); the
    # old bare `except Exception` swallowed it and wrote output anyway
    with pytest.raises(Exception):
        _segment_dedup_batch(spark, b, 1, str(idx), str(out), chunk_words=2)
    assert not out.exists()


def test_stream_ann_index_matches_batch_ivf_pq(spark, tmp_path):
    # streamed index maintenance == one-shot batch index: the first batch
    # trains the frozen model, later batches only encode with it, and a
    # probe over the materialized tables must equal ivf_pq_topk run with
    # the SAME model over the full corpus
    import json
    import random

    import numpy as np

    from kinesis_data_counter_spark.operators import similarity as SIM
    from kinesis_data_counter_spark.streaming.runner import (
        ann_index_probe,
        stream_ann_index,
    )

    rng = random.Random(17)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(90)]
    src = tmp_path / "vecs_src"
    src.mkdir()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # 3 files -> 3 micro-batches with maxFilesPerTrigger=1
    for part, lo in enumerate([0, 30, 60]):
        spark.createDataFrame(rows[lo : lo + 30], df.schema).coalesce(1).write.parquet(
            str(src / f"part{part}"), mode="overwrite"
        )
        for f in (src / f"part{part}").glob("*.parquet"):
            f.rename(src / f"p{part}.parquet")
        import shutil

        shutil.rmtree(src / f"part{part}")
    work = str(tmp_path / "work")
    idx = stream_ann_index(
        spark, str(src), work, dim=8, num_lists=4, m=4, ksub=16,
    )
    assert idx.count() == 90  # every vector indexed exactly once

    # the frozen model was trained on batch 0 only — replay it for batch
    cents = [
        (int(i), [float(x) for x in v])
        for i, v in json.load(open(f"{work}/model/centroids.json"))
    ]
    books = np.load(f"{work}/model/codebooks.npy")
    queries = df.filter(F.col("vec_id") % 31 == 0)
    got = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], r["sim"])
        for r in ann_index_probe(
            spark, work, queries, k=4, nprobe=2, refine=4
        ).collect()
    )
    want = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], r["sim"])
        for r in SIM.ivf_pq_topk(
            df, queries, dim=8, k=4, num_lists=4, nprobe=2, m=4, ksub=16,
            refine=4, centroids=cents, codebooks=books,
        ).collect()
    )
    assert got == want and got


def test_stream_ann_index_batch_replay_is_idempotent(spark, tmp_path):
    from kinesis_data_counter_spark.streaming.runner import (
        _load_or_train_ann_model,
        _write_batch_keyed,
    )
    from kinesis_data_counter_spark.operators.similarity import ivf_assign, pq_encode

    import random

    rng = random.Random(23)
    b0 = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    work = str(tmp_path / "w")
    # run the per-batch body twice with the same epoch (crash replay):
    # model must load (not retrain differently) and the index partition
    # must overwrite, not duplicate
    for _attempt in range(2):
        cents, books = _load_or_train_ann_model(
            work, b0, 8, 4, 4, 16, "vec_id", "embedding"
        )
        inv = ivf_assign(b0, cents, nprobe=1)
        codes = pq_encode(inv, books, "vec_id", "embedding", keep=("list_id",))
        _write_batch_keyed(codes, f"{work}/index", 0)
    out = spark.read.parquet(f"{work}/index")
    assert out.count() == 20


def test_stream_gated_ingest_quarantines_bad_batches(spark, tmp_path):
    from kinesis_data_counter_spark.streaming.runner import stream_gated_ingest

    src = tmp_path / "src"
    src.mkdir()
    good = [(i, i % 5, "O") for i in range(20)]
    bad = [(100 + i, None if i % 3 == 0 else i, "O") for i in range(9)]  # nulls
    good2 = [(200 + i, i, "F") for i in range(10)]
    schema = "id long, custkey long, status string"
    for name, rows in [("b0", good), ("b1", bad), ("b2", good2)]:
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(src / "stage"), mode="overwrite"
        )
        for f in (src / "stage").glob("*.parquet"):
            f.rename(src / f"{name}.parquet")
        import shutil

        shutil.rmtree(src / "stage")
    accepted, reports = stream_gated_ingest(
        spark,
        str(src),
        str(tmp_path / "work"),
        [{"rule": "not_null", "column": "custkey"},
         {"rule": "in_set", "column": "status", "values": ["O", "F"]}],
    )
    ids = sorted(r["id"] for r in accepted.collect())
    assert ids == sorted([i for i, _c, _s in good] + [i for i, _c, _s in good2])
    rep = reports.collect()
    verdicts = {r["batch_id"]: r["admitted"] for r in rep}
    assert sorted(verdicts.values()) == [False, True, True]
    bad_batch = [b for b, ok in verdicts.items() if not ok][0]
    nn = [r for r in rep
          if r["batch_id"] == bad_batch and r["rule"] == "not_null"][0]
    assert nn["n_violations"] == 3 and not nn["ok"]
    q = spark.read.parquet(str(tmp_path / "work" / "quarantine"))
    assert sorted(r["id"] for r in q.collect()) == [100 + i for i in range(9)]


def test_update_mode_emits_corrections_and_converges_to_batch(spark, sf_dir):
    # the third emission discipline: update mode emits provisional window
    # values per micro-batch and corrects them as more data arrives; the
    # LAST emission per window must equal the batch answer, and at least
    # one window must actually have been corrected (emitted >1 time) for
    # the test to mean anything
    from kinesis_data_counter_spark.streaming.runner import (
        run_counter_stream_update_once,
    )

    spec = CounterSpec(
        id="req", counter_type="count", target_column="*",
        window="1 day", input_stream_arn=ARN,
    ).validate()
    em = run_counter_stream_update_once(
        spark, f"{sf_dir}/events.parquet", spec, max_files_per_trigger=1
    ).collect()
    # multi-batch? the fixture may be a single file; force multi-batch by
    # checking and skipping the correction assertion if only one batch ran
    n_batches = len({r["batch_id"] for r in em})
    last = {}
    emissions_per_window = {}
    for r in sorted(em, key=lambda r: r["batch_id"]):
        last[r["window_start"]] = r["value"]
        emissions_per_window[r["window_start"]] = (
            emissions_per_window.get(r["window_start"], 0) + 1
        )
    batch = build_counter(
        load_tables(spark, sf_dir, ("events",))["events"], spec, ts_col="ts"
    )
    want = {r["window_start"]: r["value"] for r in batch.collect()}
    assert last == want and want
    if n_batches > 1:
        assert max(emissions_per_window.values()) > 1  # corrections happened


def _ascending_doc_slices(spark, sf_dir, src, n_slices=3):
    """Write documents as n ascending-doc_id parquet files with strictly
    increasing mtimes so the file source drains them in id order (arrival
    order plays the batch path's min-id survivor tie-break)."""
    import os
    import time as _time

    docs = load_tables(spark, sf_dir, ("documents",))["documents"].select(
        "doc_id", "text"
    )
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    cuts = [ids[len(ids) * k // n_slices] for k in range(1, n_slices)]
    os.makedirs(src, exist_ok=True)
    from pyspark.sql import functions as SF

    lo = None
    for k in range(n_slices):
        hi = cuts[k] if k < len(cuts) else None
        part = docs
        if lo is not None:
            part = part.filter(SF.col("doc_id") >= lo)
        if hi is not None:
            part = part.filter(SF.col("doc_id") < hi)
        pdir = f"{src}/slice{k}"
        part.coalesce(1).write.parquet(pdir)
        t = _time.time() + k  # strictly increasing mtimes, slice order
        for f in os.listdir(pdir):
            if f.endswith(".parquet"):
                os.utime(f"{pdir}/{f}", (t, t))
                os.rename(f"{pdir}/{f}", f"{src}/part{k}.parquet")
        lo = hi
    return docs


def test_stream_curate_equals_batch_capstone(spark, sf_dir, tmp_path):
    # VERDICT r4 item 6: the full curation capstone as ONE stream — gate →
    # exact dedup vs hash index → band-index probe per batch, split +
    # accounting at drain — must equal the batch corpus_curate_full entry
    # after all batches drain (ascending-id arrival).
    from kinesis_data_counter_spark.plans.registry import QUERIES
    from kinesis_data_counter_spark.streaming.runner import stream_curate

    src = str(tmp_path / "docs_in")
    _ascending_doc_slices(spark, sf_dir, src, n_slices=3)
    got = {
        r["split"]: (r["n_docs"], r["n_tokens"])
        for r in stream_curate(spark, src, str(tmp_path / "curate")).collect()
    }
    want = {
        r["split"]: (r["n_docs"], r["n_tokens"])
        for r in QUERIES["corpus_curate_full"].builder(spark, sf_dir).collect()
    }
    assert got == want and sum(n for n, _ in want.values()) > 0
    # gate rejections were quarantined with reasons, batch-keyed
    rej = spark.read.parquet(str(tmp_path / "curate" / "rejected"))
    assert {r["reason"] for r in rej.collect()} <= {"quality", "language"}


def test_stream_curate_batch_replay_is_idempotent(spark, sf_dir, tmp_path):
    # mid-stream crash contract: re-running one epoch's batch body (the
    # replay after a crash between write and checkpoint commit) must leave
    # the drain-time result unchanged — every store is batch-keyed and
    # every history read excludes the replayed epoch itself
    import kinesis_data_counter_spark.operators.sampling as SP
    from kinesis_data_counter_spark.operators.text import token_count
    from kinesis_data_counter_spark.streaming.runner import (
        _curate_batch,
        _read_batch_keyed,
        stream_curate,
    )
    from pyspark.sql import functions as SF

    src = str(tmp_path / "docs_in")
    _ascending_doc_slices(spark, sf_dir, src, n_slices=3)
    work = str(tmp_path / "curate")
    before = {
        r["split"]: (r["n_docs"], r["n_tokens"])
        for r in stream_curate(spark, src, work).collect()
    }
    # replay epoch 1 with exactly the rows it originally processed
    replay_df = spark.read.parquet(f"{src}/part1.parquet")
    _curate_batch(spark, replay_df, 1, work)

    docs = _read_batch_keyed(spark, f"{work}/docs")
    pairs = _read_batch_keyed(spark, f"{work}/pairs").select("a_id", "b_id")
    after = {
        r["split"]: (r["n_docs"], r["n_tokens"])
        for r in SP.leakage_safe_split(docs, pairs)
        .groupBy("split")
        .agg(
            SF.count(SF.lit(1)).alias("n_docs"),
            SF.sum(token_count(SF.col("text"))).cast("long").alias("n_tokens"),
        )
        .collect()
    }
    assert after == before


def test_stream_drift_monitor_matches_batch_reports_per_batch(spark, tmp_path):
    import shutil

    from kinesis_data_counter_spark.metrics import drift_report
    from kinesis_data_counter_spark.streaming.runner import stream_drift_monitor

    src = tmp_path / "dsrc"
    src.mkdir()
    schema = "v double, c string"
    ref_rows = [(float(i % 20), str(i % 3)) for i in range(300)]
    # batch 0 mirrors the reference (no drift); batch 1 is concentrated
    # low values + a skewed category (drift)
    batches = {
        "b0": [(float(i % 20), str(i % 3)) for i in range(100)],
        "b1": [(float(i % 4), "0") for i in range(100)],
    }
    for name, rows in batches.items():
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(src / "stage"), mode="overwrite"
        )
        for f in (src / "stage").glob("*.parquet"):
            f.rename(src / f"{name}.parquet")
        shutil.rmtree(src / "stage")

    ref = spark.createDataFrame(ref_rows, schema)
    rep = stream_drift_monitor(
        spark,
        str(src),
        str(tmp_path / "dwork"),
        ref,
        numeric_cols=("v",),
        categorical_cols=("c",),
    ).collect()
    assert {r["batch_id"] for r in rep} == {0, 1}
    got = {(r["batch_id"], r["col_name"]): (r["psi"], r["drifted"]) for r in rep}

    # each streamed batch's report equals the batch operator run on the
    # same slice (files arrive in name order under maxFilesPerTrigger=1)
    for epoch, name in enumerate(sorted(batches)):
        cur = spark.createDataFrame(batches[name], schema)
        for r in drift_report(
            ref, cur, numeric_cols=("v",), categorical_cols=("c",)
        ).collect():
            assert got[(epoch, r["col_name"])] == (r["psi"], r["drifted"]) , (epoch, r)

    # and the verdicts are the designed ones: batch 0 clean, batch 1 drifted
    assert got[(0, "v")][1] is False and got[(0, "c")][1] is False
    assert got[(1, "v")][1] is True and got[(1, "c")][1] is True


def _write_doc_batches(spark, src, batches, schema="doc_id long, text string, label string"):
    import shutil

    src.mkdir()
    for part, rows in enumerate(batches):
        d = src / f"part{part}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(d), mode="overwrite"
        )
        for f in d.glob("*.parquet"):
            f.rename(src / f"p{part}.parquet")
        shutil.rmtree(d)


def test_stream_classifier_gate_matches_batch(spark, tmp_path):
    # streamed gate == batch scoring under the SAME frozen model: batch 0
    # carries the labeled seed and trains the model; later batches arrive
    # unlabeled and are routed purely by prediction
    from kinesis_data_counter_spark.operators import classify as CL
    from kinesis_data_counter_spark.streaming.runner import (
        _load_or_train_nb_model,
        stream_classifier_gate,
    )

    keepish = ["good clean prose essay", "clean good writing essay prose"]
    dropish = ["spam junk casino offer", "casino spam offer junk junk"]
    b0 = [
        (1, keepish[0], "keep"), (2, keepish[1], "keep"),
        (3, dropish[0], "drop"), (4, dropish[1], "drop"),
    ]
    b1 = [(10, "good essay prose", None), (11, "junk casino spam", None)]
    b2 = [(20, "clean prose good good", None), (21, "offer junk spam", None),
          (22, None, None)]  # NULL text must still be routed (prior argmax)
    src = tmp_path / "docs_src"
    _write_doc_batches(spark, src, [b0, b1, b2])

    work = str(tmp_path / "work")
    accepted = stream_classifier_gate(spark, str(src), work)
    rejected = spark.read.parquet(f"{work}/rejected").drop("batch")
    assert accepted.count() + rejected.count() == 9  # nothing lost

    # replay in batch mode with the frozen model
    all_docs = spark.createDataFrame(
        b0 + b1 + b2, "doc_id long, text string, label string"
    )
    model = _load_or_train_nb_model(spark, work, all_docs, "label", "text", 2048)
    scored = CL.nb_score(all_docs.select("doc_id", "text"), model)
    want_keep = sorted(
        (r.doc_id, r.predicted, r.score)
        for r in scored.filter(F.col("predicted") == "keep").collect()
    )
    got_keep = sorted(
        (r.doc_id, r.predicted, r.score) for r in accepted.collect()
    )
    assert got_keep == want_keep
    # the gate genuinely routes both ways, and the unlabeled batches'
    # clearly-separable probes land on the right side
    got_ids = {r.doc_id for r in accepted.collect()}
    assert {1, 2, 10, 20} <= got_ids
    assert {3, 4, 11, 21}.isdisjoint(got_ids)


def test_stream_classifier_gate_replay_is_idempotent(spark, tmp_path):
    # crash replay: the model loads (not retrains into a different file),
    # and a re-run epoch overwrites its own routing rather than appending
    from kinesis_data_counter_spark.operators import classify as CL
    from kinesis_data_counter_spark.streaming.runner import (
        _load_or_train_nb_model,
        _write_batch_keyed,
    )

    b0 = spark.createDataFrame(
        [(1, "good clean essay", "keep"), (2, "spam junk casino", "drop")],
        "doc_id long, text string, label string",
    )
    work = str(tmp_path / "w")
    models = []
    for _attempt in range(2):
        m = _load_or_train_nb_model(spark, work, b0, "label", "text", 2048)
        models.append(m)
        scored = CL.nb_score(b0.select("doc_id", "text"), m)
        _write_batch_keyed(
            scored.filter(F.col("predicted") == "keep"), f"{work}/accepted", 0
        )
    assert sorted(models[0].table.collect()) == sorted(models[1].table.collect())
    out = spark.read.parquet(f"{work}/accepted")
    assert [r.doc_id for r in out.collect()] == [1]


def test_stream_classifier_gate_unlabeled_seed_fails_loudly(spark, tmp_path):
    # an unlabeled first batch must raise, not freeze an empty model that
    # silently routes every future document nowhere
    from kinesis_data_counter_spark.streaming.runner import _load_or_train_nb_model

    b0 = spark.createDataFrame(
        [(1, "some text", None), (2, "more text", None)],
        "doc_id long, text string, label string",
    )
    with pytest.raises(ValueError, match="no labeled"):
        _load_or_train_nb_model(spark, str(tmp_path / "w"), b0, "label", "text", 64)


def test_stream_classifier_gate_null_id_routes_to_rejected(spark, tmp_path):
    # a NULL-id doc has no identity to join predictions back onto — the
    # audit contract still holds: it lands in rejected/, never vanishes
    from kinesis_data_counter_spark.streaming.runner import stream_classifier_gate

    b0 = [
        (1, "good clean essay prose", "keep"),
        (2, "spam junk casino offer", "drop"),
        (None, "good clean prose", None),
    ]
    src = tmp_path / "src"
    _write_doc_batches(spark, src, [b0])
    work = str(tmp_path / "work")
    accepted = stream_classifier_gate(spark, str(src), work)
    rejected = spark.read.parquet(f"{work}/rejected").drop("batch")
    assert accepted.count() + rejected.count() == 3
    nulls = rejected.filter(F.col("doc_id").isNull()).collect()
    assert len(nulls) == 1 and nulls[0].predicted is None


def test_stream_classifier_gate_margin_threshold(spark, tmp_path):
    # selective prediction: a correctly-labeled but LOW-margin doc must
    # be routed to rejected/ (the review queue), not admitted
    from kinesis_data_counter_spark.streaming.runner import stream_classifier_gate

    b0 = [
        (1, "good clean essay prose", "keep"),
        (2, "clean prose good essay", "keep"),
        (3, "spam junk casino offer", "drop"),
        (4, "junk offer spam casino", "drop"),
    ]
    b1 = [
        (10, "good clean prose essay essay", None),  # confident keep
        (11, "good junk", None),                     # ambiguous -> review
    ]
    src = tmp_path / "src"
    _write_doc_batches(spark, src, [b0, b1])
    work = str(tmp_path / "work")
    accepted = stream_classifier_gate(spark, str(src), work, min_margin=1.0)
    rejected = spark.read.parquet(f"{work}/rejected").drop("batch")
    acc_ids = {r.doc_id for r in accepted.collect()}
    rej = {r.doc_id: r for r in rejected.collect()}
    assert 10 in acc_ids
    assert 11 in rej and rej[11].margin is not None and rej[11].margin < 1.0
    assert accepted.count() + rejected.count() == 6


def test_stream_classifier_gate_null_margin_routes_to_rejected(spark, tmp_path):
    # single-class frozen model → nb_score_margins yields margin NULL (no
    # runner-up). With min_margin set, a bare `margin >= t` filter is NULL
    # and the doc would vanish from BOTH accepted/ and rejected/ — the gate
    # must null-safe the comparison and route such docs to rejected/
    from kinesis_data_counter_spark.streaming.runner import stream_classifier_gate

    b0 = [
        (1, "good clean essay prose", "keep"),
        (2, "clean prose good essay", "keep"),
    ]
    b1 = [(10, "good clean prose essay", None)]
    src = tmp_path / "src"
    _write_doc_batches(spark, src, [b0, b1])
    work = str(tmp_path / "work")
    accepted = stream_classifier_gate(spark, str(src), work, min_margin=0.5)
    rejected = spark.read.parquet(f"{work}/rejected").drop("batch")
    assert accepted.count() + rejected.count() == 3, "no doc may vanish"
    rej = {r.doc_id: r for r in rejected.collect()}
    assert 10 in rej and rej[10].margin is None


def test_drain_raises_on_failure_and_timeout(spark, tmp_path, monkeypatch):
    # a failing batch and a drain that outlives its deadline must both
    # raise — never hand partial tables to the caller as a finished drain —
    # and both must leave no query running and the session usable
    import time

    from pyspark.errors import StreamingQueryException

    src = str(tmp_path / "src")
    for i in range(4):
        spark.range(10 * i, 10 * i + 10).coalesce(1).write.mode("append").parquet(src)

    def writer(fn):
        sdf = (
            spark.readStream.schema("id long")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        return sdf.writeStream.foreachBatch(fn)

    def boom(batch_df, epoch):
        raise ValueError(f"batch {epoch} failed")

    with pytest.raises(StreamingQueryException, match="batch 0 failed"):
        drain(writer(boom))
    assert not spark.streams.active

    seen: list = []

    def slow(batch_df, epoch):
        seen.append(epoch)
        time.sleep(2)

    monkeypatch.setattr(
        "kinesis_data_counter_spark.streaming.runner._DRAIN_TIMEOUT_S", 1
    )
    with pytest.raises(TimeoutError):
        drain(writer(slow))
    assert not spark.streams.active
    assert 0 < len(seen) < 4  # stopped mid-drain
    monkeypatch.undo()

    rows: list = []
    q = drain(writer(lambda b, _e: rows.extend(b.collect())))
    assert not q.isActive and not spark.streams.active
    assert sorted(r.id for r in rows) == list(range(40))
    assert [p.batchId for p in q.recentProgress] == [0, 1, 2, 3]


def test_await_termination_lives_only_in_drain():
    # every bounded streaming run goes through runner.drain; a hand-written
    # start/wait/stop copy would bring back the unchecked-timeout bug
    import inspect
    from pathlib import Path

    def span(fn):
        lines, start = inspect.getsourcelines(fn)
        return Path(inspect.getsourcefile(fn)).resolve(), range(start, start + len(lines))

    allowed = [span(drain), span(test_await_termination_lives_only_in_drain)]
    repo = Path(__file__).resolve().parent.parent
    stray = [
        f"{path.relative_to(repo)}:{no}"
        for sub in ("kinesis_data_counter_spark", "tests", "examples")
        for path in sorted((repo / sub).rglob("*.py"))
        for no, line in enumerate(path.read_text().splitlines(), 1)
        if "awaitTermination(" in line
        and not any(path == f and no in r for f, r in allowed)
    ]
    assert "awaitTermination(" in inspect.getsource(drain)
    assert not stray, stray
