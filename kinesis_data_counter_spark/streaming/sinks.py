"""Sink dispatch: the K-side of the engine (SURVEY.md §2.4 K1-K5).

The reference routes output records by ARN service — kinesis PutRecord,
firehose PutRecord, or a warning — with an ``ignore_put_record`` dry-run mode
(counter.go:514-555). OSS Spark has no Kinesis/Firehose writer, so the
production path is ``foreachBatch``: each micro-batch DataFrame is serialized
to JSON lines and handed to a writer callable. boto3 is optional and gated
behind import-try; without it the kinesis/firehose writers raise cleanly and
the console/collect writers still work.

Scale shape: record serialization runs EXECUTOR-side (``to_json`` inside
whole-stage codegen, ``serialized_lines``), and the put sinks ship batches
from ``foreachPartition`` with one client per partition — no record ever
round-trips through driver memory. Only the console sink collects, and it
collects pre-serialized strings of an already-aggregated result (stdout is
driver-side by definition, matching the reference's io.Writer sink).

Batching note: Kinesis PutRecords caps at 500 records / 5 MB per call — the
writer chunks accordingly. partition key = counter_id, matching the
reference (counter.go:530, 501).
"""

from __future__ import annotations

import sys
from collections.abc import Callable, Iterable, Iterator
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kinesis_data_counter_spark.arn import Arn

try:  # pragma: no cover - boto3 not bundled in this container
    import boto3  # type: ignore

    _HAS_BOTO3 = True
except ImportError:
    _HAS_BOTO3 = False

PUT_RECORDS_BATCH = 500

_JSON_OPTS = {"ignoreNullFields": "false"}  # nulls stay explicit, like json.dumps


def serialized_lines(
    df: DataFrame, keep: tuple[str, ...] = (), exclude: tuple[str, ...] = ()
) -> DataFrame:
    """Serialize each row to its output JSON line, executor-side.

    Returns ``keep`` columns plus a ``line`` string column built with
    ``to_json`` (JVM codegen, no Python in the loop). ``exclude`` names
    routing-only columns left out of the JSON body. ``shard_id`` is
    dropped when null to match the reference's ``omitempty`` output
    (counter.go:423-425); all other nulls serialize as explicit ``null``.
    """
    cols = [c for c in df.columns if c not in exclude]
    full = F.to_json(F.struct(*cols), _JSON_OPTS)
    if "shard_id" in cols:
        slim = F.to_json(
            F.struct(*[c for c in cols if c != "shard_id"]), _JSON_OPTS
        )
        line = F.when(F.col("shard_id").isNull(), slim).otherwise(full)
    else:
        line = full
    return df.select(*keep, line.alias("line"))


def console_writer(stream: Any = None) -> Callable[[DataFrame, int], None]:
    """K1: stdout/io.Writer sink — one JSON line per output record."""

    def write(df: DataFrame, epoch_id: int) -> None:
        target = stream or sys.stdout
        for r in serialized_lines(df).collect():
            print(r.line, file=target)

    return write


def _chunks(items: Iterable[Any], size: int) -> Iterator[list[Any]]:
    """Batch any iterable (incl. partition iterators) into size-capped lists."""
    buf: list[Any] = []
    for item in items:
        buf.append(item)
        if len(buf) >= size:
            yield buf
            buf = []
    if buf:
        yield buf


def kinesis_writer(
    output_arn: str,
    partition_key_col: str = "counter_id",
    client_factory: Callable[[], Any] | None = None,
):
    """K2: Kinesis PutRecords sink.

    Each partition serializes and ships its own rows: one client per
    partition, 500-record chunks (counter.go:525-537's put loop, distributed).
    At-least-once on task retry — same contract as PutRecord itself.
    ``client_factory`` (cloudpickled to executors) overrides the default
    boto3 client — for tests and for custom credentials/endpoints.
    """
    arn = Arn.parse_strict(output_arn)
    if not arn.is_kinesis_stream:
        raise ValueError(f"not a kinesis stream ARN: {output_arn}")
    stream_name, region = arn.stream_name, arn.region

    def write(df: DataFrame, epoch_id: int) -> None:
        if client_factory is None and not _HAS_BOTO3:
            raise NotImplementedError("kinesis sink requires boto3 (not bundled)")

        def put_partition(rows) -> None:
            if client_factory is not None:
                client = client_factory()
            else:  # pragma: no cover - needs live AWS credentials
                import boto3 as b3

                client = b3.client("kinesis", region_name=region)
            for chunk in _chunks(rows, PUT_RECORDS_BATCH):
                client.put_records(
                    StreamName=stream_name,
                    Records=[
                        {
                            "Data": (r.line + "\n").encode(),
                            "PartitionKey": str(r.pk),
                        }
                        for r in chunk
                    ],
                )

        lines = serialized_lines(
            df.withColumn("pk", F.col(partition_key_col).cast("string")),
            keep=("pk",),
            exclude=("pk",),  # routing-only duplicate; the record keeps its own copy
        )
        lines.foreachPartition(put_partition)

    return write


def firehose_writer(output_arn: str, client_factory: Callable[[], Any] | None = None):
    """K3: Firehose PutRecordBatch sink.

    Same partition-side shape as the kinesis sink (no partition key).
    """
    arn = Arn.parse_strict(output_arn)
    if not arn.is_firehose:
        raise ValueError(f"not a firehose ARN: {output_arn}")
    stream_name, region = arn.stream_name, arn.region

    def write(df: DataFrame, epoch_id: int) -> None:
        if client_factory is None and not _HAS_BOTO3:
            raise NotImplementedError("firehose sink requires boto3 (not bundled)")

        def put_partition(rows) -> None:
            if client_factory is not None:
                client = client_factory()
            else:  # pragma: no cover - needs live AWS credentials
                import boto3 as b3

                client = b3.client("firehose", region_name=region)
            for chunk in _chunks(rows, PUT_RECORDS_BATCH):
                client.put_record_batch(
                    DeliveryStreamName=stream_name,
                    Records=[{"Data": (r.line + "\n").encode()} for r in chunk],
                )

        serialized_lines(df).foreachPartition(put_partition)

    return write


def writer_for_arn(
    output_arn: str | None, dry_run: bool = False, stream: Any = None
) -> Callable[[DataFrame, int], None]:
    """K5: route by ARN service; dry-run / no ARN → console.

    ≈ putRecord dispatch (counter.go:514-555) incl. the ``ignorePutRecord``
    dry-run flag (counter.go:58-60).
    """
    if dry_run or not output_arn:
        return console_writer(stream)
    arn = Arn.parse_strict(output_arn)
    if arn.is_kinesis_stream:
        return kinesis_writer(output_arn)
    if arn.is_firehose:
        return firehose_writer(output_arn)
    return console_writer(stream)  # pragma: no cover - parse_strict precludes
