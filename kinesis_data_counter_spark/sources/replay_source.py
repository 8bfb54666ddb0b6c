"""``kinesis_replay`` — a Kinesis-wire-shaped custom Python data source.

The reference's S1 source is a per-shard GetRecords poller
(run.go:17-53, 70-131): one goroutine per shard, a shard iterator that
advances by sequence number, LATEST vs TRIM_HORIZON start positions, and
records carrying (partition key, approximate arrival time, data bytes).
This module reimplements that *contract* on Spark 4's public Python
DataSource API (``pyspark.sql.datasource``) over local shard files, so the
engine has a first-class source whose unit of parallelism IS the shard —
no connector jar, no AWS dependency.

Wire layout: a directory with one ``shard-*.jsonl`` file per shard; each
line is one record's data (JSON). Optional envelope keys ``__pk`` (partition
key) and ``__arrival_ms`` (approximate arrival time) are lifted into columns
when present, mirroring the Kinesis record metadata the reference reads
(run.go:107); the full line stays in ``data`` for the engine's JSON-decode
stage (S4). A line that is not a JSON object, or an object with no
``__arrival_ms``, has a NULL ``approximate_arrival``, so windowing on
arrival time drops it.

Output schema (per record ≈ KinesisEventRecord):
  shard_id string, sequence_number bigint, partition_key string,
  approximate_arrival timestamp, data string

Semantics carried over from the reference:
- **one input partition per shard** → per-shard task parallelism (run.go:38-48);
- **offsets are per-shard sequence numbers** (line index), advanced
  monotonically like shard iterators;
- **start position**: ``startingPosition=trim_horizon`` (default) reads from
  the beginning, ``latest`` starts at the current end — the CLI's
  GetShardIterator(LATEST) behavior (run.go:74);
- **resharding**: a shard file appearing between two offsets starts at
  sequence 0, like a child shard after a split.

Scale: each micro-batch plans one task per shard reading only
[start, end) lines — the same bounded-increment contract as GetRecords
(limit 1000/call, run.go:62-64). For real Kinesis, swap the file tail for
boto3 get_records inside ``read``; the offset/partition algebra is
identical, which is the point of isolating it here.

Read-path transport: ``read`` yields ``pyarrow.RecordBatch`` chunks
(columnar, ``_BATCH_ROWS`` records each) rather than per-record Python
tuples. Spark's Python DataSource worker forwards RecordBatches straight
onto the Arrow stream to the JVM; tuple yields instead pay a per-row
converter + batch assembly in Python. The batch schema is pinned to the
exact Arrow schema Spark derives from ``SCHEMA``
(``to_arrow_schema``: timestamp[us, tz=UTC]) because the worker validates
names only — a drifted type would surface as a JVM-side Arrow error.

Record-level view (``open_shard_records``, the CLI's entry): the JSON of
each record is decoded once, on the JVM, by one ``from_json`` shared by
both modes. A batch read needs none of the offset logic above, so it scans
the shard files with Spark's text source and no Python worker runs; only
the stream, which tails per-shard offsets, reads through this source.
"""

from __future__ import annotations

import glob
import json
import math
import os
from collections.abc import Iterator, Sequence

from dataclasses import dataclass

import pyarrow as pa

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

SCHEMA = (
    "shard_id string, sequence_number bigint, partition_key string, "
    "approximate_arrival timestamp, data string"
)


def _shard_files(path: str) -> dict[str, str]:
    return {
        os.path.basename(p).removesuffix(".jsonl"): p
        for p in sorted(glob.glob(os.path.join(path, "shard-*.jsonl")))
    }


def _count_lines(p: str) -> int:
    n = 0
    with open(p, "rb") as f:
        for _ in f:
            n += 1
    return n


# Arrow schema of the wire — MUST equal to_arrow_schema(SCHEMA): the worker
# checks column names only, so a type drift here would fail JVM-side.
_ARROW_SCHEMA = pa.schema(
    [
        ("shard_id", pa.string()),
        ("sequence_number", pa.int64()),
        ("partition_key", pa.string()),
        ("approximate_arrival", pa.timestamp("us", tz="UTC")),
        ("data", pa.string()),
    ]
)
_BATCH_ROWS = 4096  # records per Arrow batch (≈ 4 GetRecords calls)


def _arrival_ms(value) -> int | None:
    """An ``__arrival_ms`` value as ``open_shard_records`` decodes it: a
    JSON number or a numeric string, truncated to whole milliseconds;
    anything else (a boolean, an object, text) is NULL."""
    if isinstance(value, str):
        try:
            value = float(value)
        except ValueError:
            return None
    if isinstance(value, bool) or not isinstance(value, (int, float)):
        return None
    if not math.isfinite(value) or not -(2**63) <= value < 2**63:
        return None
    return int(value)


def _record_batches(
    shard: str, path: str, start: int, end: int | None
) -> Iterator[pa.RecordBatch]:
    """Yield records [start, end) of one shard file (end=None → EOF) as
    columnar Arrow batches of ``_BATCH_ROWS`` records."""
    seqs: list[int] = []
    pks: list[str | None] = []
    arrivals: list[int | None] = []  # epoch micros
    datas: list[str] = []

    def _flush() -> pa.RecordBatch:
        batch = pa.RecordBatch.from_arrays(
            [
                pa.array([shard] * len(seqs), pa.string()),
                pa.array(seqs, pa.int64()),
                pa.array(pks, pa.string()),
                pa.array(arrivals, pa.timestamp("us", tz="UTC")),
                pa.array(datas, pa.string()),
            ],
            schema=_ARROW_SCHEMA,
        )
        seqs.clear(); pks.clear(); arrivals.clear(); datas.clear()
        return batch

    with open(path, "r", encoding="utf-8") as f:
        for seq, line in enumerate(f):
            if seq < start:
                continue
            if end is not None and seq >= end:
                break
            line = line.strip()
            if not line:
                continue
            pk, arrival_us = None, None
            try:
                obj = json.loads(line)
            except ValueError:
                obj = None
            if isinstance(obj, dict):
                pk = obj.get("__pk")
                arrival_ms = _arrival_ms(obj.get("__arrival_ms"))
                if arrival_ms is not None:
                    arrival_us = arrival_ms * 1000
            # a line that is not a JSON object, or has no __arrival_ms,
            # keeps its data for the S4 bad-record router but has no
            # arrival time: windowing on it
            # drops the record, as the reference drops an undecodable
            # record as a batch-item failure (counter.go:241-252)
            seqs.append(seq)
            pks.append(pk)
            arrivals.append(arrival_us)
            datas.append(line)
            if len(seqs) >= _BATCH_ROWS:
                yield _flush()
    if seqs:
        yield _flush()


class _ShardSlice(InputPartition):
    def __init__(self, shard: str, path: str, start: int, end: int | None):
        self.shard, self.path, self.start, self.end = shard, path, start, end


class _ReplayBatchReader(DataSourceReader):
    def __init__(self, options):
        self.path = options.get("path")

    def partitions(self) -> Sequence[InputPartition]:
        return [
            _ShardSlice(shard, p, 0, None)
            for shard, p in _shard_files(self.path).items()
        ]

    def read(self, partition: _ShardSlice) -> Iterator[pa.RecordBatch]:
        return _record_batches(
            partition.shard, partition.path, partition.start, partition.end
        )


class _ReplayStreamReader(DataSourceStreamReader):
    def __init__(self, options):
        self.path = options.get("path")
        self.starting = (options.get("startingPosition") or "trim_horizon").lower()

    def initialOffset(self) -> dict:
        files = _shard_files(self.path)
        if self.starting == "latest":
            return {s: _count_lines(p) for s, p in files.items()}
        return {s: 0 for s in files}

    def latestOffset(self) -> dict:
        return {s: _count_lines(p) for s, p in _shard_files(self.path).items()}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        files = _shard_files(self.path)
        out = []
        for shard, hi in end.items():
            lo = start.get(shard, 0)  # new (child) shard → sequence 0
            if hi > lo and shard in files:
                out.append(_ShardSlice(shard, files[shard], lo, hi))
        return out

    def read(self, partition: _ShardSlice) -> Iterator[pa.RecordBatch]:
        return _record_batches(
            partition.shard, partition.path, partition.start, partition.end
        )

    def commit(self, end: dict) -> None:
        pass  # file replay needs no server-side trim

    def stop(self) -> None:
        pass


class KinesisReplayDataSource(DataSource):
    """Register with ``spark.dataSource.register(KinesisReplayDataSource)``,
    then ``spark.read.format("kinesis_replay").option("path", d).load()`` or
    ``spark.readStream.format(...)`` with ``startingPosition`` latest /
    trim_horizon."""

    @classmethod
    def name(cls) -> str:
        return "kinesis_replay"

    def schema(self) -> str | StructType:
        return SCHEMA

    def reader(self, schema) -> DataSourceReader:
        return _ReplayBatchReader(self.options)

    def streamReader(self, schema) -> DataSourceStreamReader:
        return _ReplayStreamReader(self.options)

    def writer(self, schema, overwrite: bool):
        return _ReplayBatchWriter(self.options)

    def streamWriter(self, schema, overwrite: bool):
        return _ReplayStreamWriter(self.options)


def _route_pk(pk: str | None, num_shards: int) -> int:
    """md5(partition_key) % shards — the PutRecord shard-routing rule."""
    import hashlib

    if not pk:
        return 0
    return int(hashlib.md5(pk.encode()).hexdigest(), 16) % num_shards


def write_shard_files(
    records: Iterator[tuple[str | None, str]], path: str, num_shards: int = 3
) -> None:
    """Helper for tests/demos: spray (partition_key, data_json) records across
    ``num_shards`` shard files by md5(pk) — the PutRecord routing rule."""
    os.makedirs(path, exist_ok=True)
    handles = [
        open(os.path.join(path, f"shard-{i:03d}.jsonl"), "a", encoding="utf-8")
        for i in range(num_shards)
    ]
    try:
        for pk, data in records:
            handles[_route_pk(pk, num_shards)].write(data.rstrip("\n") + "\n")
    finally:
        for h in handles:
            h.close()


# ---------------------------------------------------------------------------
# Writer side: PutRecord parity (K2) on the same wire layout
# ---------------------------------------------------------------------------


@dataclass
class _StagedBatch(WriterCommitMessage):
    staged_paths: dict[int, str]  # shard index -> staged file of wire lines
    n: int


def _embed_pk(pk: str | None, data: str) -> str:
    """Merge ``{"__pk": pk}`` into a JSON-object ``data`` payload so the
    partition key survives the wire round-trip as the source's lifted
    ``partition_key`` column (run.go:107 reads it off record metadata; a
    file has no metadata, so the envelope carries it). Non-object payloads
    (arrays, scalars, corrupt lines) pass through untouched — they route to
    shard 0's bad-record path unchanged."""
    if pk is None:
        return data
    try:
        obj = json.loads(data)
    except ValueError:
        return data
    if not isinstance(obj, dict) or obj.get("__pk") is not None:
        return data
    obj["__pk"] = pk
    return json.dumps(obj)


class _ReplayWriterBase:
    """Two-phase shard-file writer ≈ PutRecords batching (counter.go:525-537).

    Executor tasks do ALL the per-record work — md5(partition_key) shard
    routing (the reference's PutRecord rule) and embedding ``__pk`` into the
    record body so the pk survives the round-trip — staging one temp file
    per (task, shard). The driver-side ``commit`` only concatenates staged
    files into ``shard-*.jsonl``, O(files) with line streaming, exactly once
    per epoch under checkpointing: no record ever round-trips through driver
    memory. Like PutRecord itself the sink is at-least-once on crash between
    commit and checkpoint write; records carry their pk so downstream
    dedup (``dropDuplicatesWithinWatermark``) can collapse replays. The
    stage-then-commit file hand-off assumes a filesystem visible to driver
    and executors (local mode / NFS / fuse-mounted object store); a real
    Kinesis deployment replaces ``write`` with executor-side put_records and
    drops the staging entirely.

    ``write`` consumes ``pyarrow.RecordBatch`` input (the Arrow writer API):
    the ``partition_key``/``data`` columns come off each batch as plain
    Python lists, so no Spark ``Row`` is ever materialized. Rows with a
    missing/null ``data`` cell fall back to whole-row JSON bodies via
    ``to_pylist`` on just those rows' slice of the batch.
    """

    def __init__(self, options):
        self.path = options.get("path")
        self.num_shards = int(options.get("numShards", "3") or "3")
        os.makedirs(self.path, exist_ok=True)
        self.stage_dir = os.path.join(self.path, "_staging")
        os.makedirs(self.stage_dir, exist_ok=True)

    def write(self, iterator: Iterator[pa.RecordBatch]) -> WriterCommitMessage:
        import tempfile

        handles: dict[int, tuple[str, object]] = {}
        n = 0
        num_shards = self.num_shards

        def _out(shard: int):
            got = handles.get(shard)
            if got is None:
                fd, staged = tempfile.mkstemp(
                    dir=self.stage_dir, suffix=f".s{shard:03d}.jsonl"
                )
                got = (staged, os.fdopen(fd, "w", encoding="utf-8"))
                handles[shard] = got
            return got[1]

        try:
            for batch in iterator:
                names = batch.schema.names
                nrows = batch.num_rows
                pks = (
                    batch.column(names.index("partition_key")).to_pylist()
                    if "partition_key" in names
                    else [None] * nrows
                )
                datas = (
                    batch.column(names.index("data")).to_pylist()
                    if "data" in names
                    else [None] * nrows
                )
                rows = None  # whole-row bodies built lazily, only if needed
                for i in range(nrows):
                    pk, data = pks[i], datas[i]
                    if data is None:  # whole row becomes the record body
                        if rows is None:
                            rows = batch.to_pylist()
                        data = json.dumps(
                            {
                                k: v
                                for k, v in rows[i].items()
                                if k != "partition_key"
                            },
                            default=str,
                        )
                    data = _embed_pk(pk, data)
                    _out(_route_pk(pk, num_shards)).write(
                        data.rstrip("\n") + "\n"
                    )
                n += nrows
        finally:
            for _, f in handles.values():
                f.close()
        return _StagedBatch(
            staged_paths={s: p for s, (p, _) in handles.items()}, n=n
        )

    def _apply(self, messages) -> None:
        for s in range(self.num_shards):  # a stream's shards exist even when idle
            open(os.path.join(self.path, f"shard-{s:03d}.jsonl"), "a").close()
        outs: dict[int, object] = {}
        try:
            for m in messages:
                if m is None:
                    continue
                for shard, staged in m.staged_paths.items():
                    if shard not in outs:
                        outs[shard] = open(
                            os.path.join(self.path, f"shard-{shard:03d}.jsonl"),
                            "a",
                            encoding="utf-8",
                        )
                    with open(staged, "r", encoding="utf-8") as f:
                        for line in f:  # pure concat: no parse, no buffering
                            outs[shard].write(line)
        finally:
            for f in outs.values():
                f.close()
        self._cleanup(messages)

    def _cleanup(self, messages) -> None:
        for m in messages:
            if m is None:
                continue
            for staged in m.staged_paths.values():
                if os.path.exists(staged):
                    os.remove(staged)


class _ReplayBatchWriter(_ReplayWriterBase, DataSourceArrowWriter):
    def commit(self, messages) -> None:
        self._apply(messages)

    def abort(self, messages) -> None:  # pragma: no cover - defensive
        self._cleanup(messages)


class _ReplayStreamWriter(_ReplayWriterBase, DataSourceStreamArrowWriter):
    def commit(self, messages, batchId: int) -> None:
        self._apply(messages)

    def abort(self, messages, batchId: int) -> None:  # pragma: no cover
        self._cleanup(messages)


# ---------------------------------------------------------------------------
# Record-level view: shard wire → the engine's event-record shape
# ---------------------------------------------------------------------------


def is_shard_dir(path: str) -> bool:
    """True when ``path`` is a kinesis_replay shard directory."""
    return os.path.isdir(path) and bool(_shard_files(path))


def open_shard_records(spark, path: str, streaming: bool = False, ts_col: str = "ts"):
    """Read a shard dir as parsed event records (the CLI/stream entry shape):
    ``shard_records_sql`` as a DataFrame."""
    from kinesis_data_counter_spark.sqltext import Statement

    with Statement(spark) as q:
        return q.sql(shard_records_sql(q, path, streaming, ts_col))


def shard_records_sql(q, path: str, streaming: bool = False, ts_col: str | None = "ts") -> str:
    """SQL query of a shard dir's parsed event records, bound on ``q``.

    Each record's JSON is decoded ONCE, on the JVM, by one typed, codegen'd
    ``from_json`` (the reference decodes a record once and updates every
    counter from it, counter.go:170-204). The body schema comes from the
    first record that is a JSON object, like the reference's schemaless
    per-record decode (counter.go:241-252), but resolved at plan time; the
    envelope keys ``__pk`` → ``partition_key`` and ``__arrival_ms`` (an
    integer, a float or a numeric string, read like the source's
    ``_arrival_ms``) → ``approximate_arrival`` are lifted whether or not
    that record has them. A line that is not a JSON object, or an object
    with no ``__arrival_ms``, has a NULL arrival time, so windowing on it
    drops the record (counter.go:244-248). ``ts_col`` falls back to the
    arrival time when the body has no such field — the reference's
    arrival-time windowing (run.go:107).

    The two modes differ only in the wire. Batch scans the shard files
    with Spark's text source (``shard_id`` is the file name); its records
    have no ``sequence_number`` — no batch consumer reads one and a text
    scan has no line index. Streaming tails per-shard offsets through the
    ``kinesis_replay`` source and keeps ``sequence_number``.
    """
    from kinesis_data_counter_spark.sqltext import ident

    if streaming:
        q.spark.dataSource.register(KinesisReplayDataSource)
        stream = q.spark.readStream.format("kinesis_replay").option("path", path).load()
        wire = f"SELECT shard_id, sequence_number, data FROM {q.rel(stream)}"
        keep = ["shard_id", "sequence_number"]
    else:
        # a view of a file relation hides its _metadata: select it first
        text = q.spark.read.text(os.path.join(path, "shard-*.jsonl")).select("value", "_metadata")
        shard_id = f"regexp_replace(_metadata.file_name, {q.lit(_SHARD_SUFFIX)}, '')"
        wire = (
            f"SELECT {shard_id} AS shard_id, value AS data FROM {q.rel(text)} "
            f"WHERE value RLIKE {q.lit(_NOT_BLANK)}"  # the source skips blank lines
        )
        keep = ["shard_id"]
    sample = _record_sample(path)
    envelope = [k for k in sample if k.startswith("__")]
    columns = [*keep, "partition_key", "approximate_arrival",
               *(k for k in sample if not k.startswith("__"))]
    keep_sql = ", ".join(map(ident, keep))
    # a numeric arrival parses in the typed from_json; only a record
    # without one (a numeric string, or none) reads it again as text
    arrival = (
        f"coalesce(__arrival_ms, try_cast(get_json_object(__line, {q.lit('$.__arrival_ms')})"
        " AS DOUBLE))"
    )
    # the parsed struct's fields come out of a generator, so a filter on
    # one of them (windowing's isnotnull on the arrival time) stays above
    # the one from_json instead of being pushed below it as a second parse
    text = (
        f"SELECT {keep_sql}, __pk AS partition_key, "
        f"timestamp_millis(try_cast({arrival} AS BIGINT)) AS approximate_arrival, "
        f"* EXCEPT ({', '.join(map(ident, [*keep, '__line', *envelope]))}) "
        f"FROM (SELECT {keep_sql}, data AS __line, inline_outer(array(from_json(data, "
        f"schema_of_json({q.lit(json.dumps(sample))})))) FROM ({wire}))"
    )
    if ts_col is not None and ts_col not in columns:
        text = f"SELECT *, approximate_arrival AS {ident(ts_col)} FROM ({text})"
    return text


_SHARD_SUFFIX = r"\.jsonl$"
_NOT_BLANK = r"\S"

# Envelope keys forced into the schema sample: a STRING partition key and
# a DOUBLE arrival time, which parses an integer or a float millisecond
# value; ``shard_records_sql`` reads a numeric string in a second step.
_ENVELOPE_SAMPLE = {"__pk": "", "__arrival_ms": 0.5}


def _record_sample(path: str) -> dict:
    """The dir's first record that is a JSON object, with the envelope
    keys forced in: the sample the record schema is inferred from (no
    Spark job). Lines before it that are not objects are skipped (the
    decode drops them per record); with no object at all, the envelope
    alone."""
    for p in _shard_files(path).values():
        with open(p, "r", encoding="utf-8") as f:
            for line in f:
                try:
                    obj = json.loads(line)
                except ValueError:
                    continue
                if isinstance(obj, dict):
                    return {**obj, **_ENVELOPE_SAMPLE}
    return dict(_ENVELOPE_SAMPLE)

