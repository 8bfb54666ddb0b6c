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
from kinesis_data_counter_spark.sources import parse_json_records
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
    corrupt = F.col("_corrupt_record").isNotNull()
    assert {r.seq for r in parsed.filter(~corrupt).collect()} == {"1", "3"}
    fail_rows = parsed.filter(corrupt).collect()
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
