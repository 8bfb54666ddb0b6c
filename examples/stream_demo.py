"""Reference quick-start equivalent over a simulated live Kinesis stream.

The reference README demo (README.md:40-67) points the CLI at a stream and
prints one JSON line per tumbling window. This example does the same loop
with this engine's pieces, entirely locally:

  1. a producer writes partition-key-routed records onto shard files
     (the PutRecord wire, sources/replay_source.py),
  2. the kinesis_replay streaming source tails the shards with
     sequence-number offsets (GetRecords semantics),
  3. ``build_counter`` aggregates per tumbling window — the same pure
     transformation the batch/oracle path runs,
  4. each poll drains available records (availableNow) and prints the
     refreshed windows as JSON lines; the checkpoint carries offsets
     across polls exactly like a shard iterator.

Run:  python examples/stream_demo.py [n_polls]
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import sys
import tempfile

# executor import visibility is handled centrally: get_spark() exports
# the package dir on PYTHONPATH before the session is built
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kinesis_data_counter_spark.config import CounterSpec
from kinesis_data_counter_spark.operators.counter import build_counter
from kinesis_data_counter_spark.session import get_spark
from kinesis_data_counter_spark.sources.replay_source import (
    open_shard_records,
    write_shard_files,
)
from kinesis_data_counter_spark.streaming.runner import drain

ARN = "arn:aws:kinesis:us-east-1:000000000000:stream/demo"
BASE_MS = int(dt.datetime(2021, 12, 1, 11, 19, tzinfo=dt.timezone.utc).timestamp() * 1000)


def produce(stream_dir: str, start: int, n: int) -> None:
    """≈ the access-log generator in the reference tests (counter_test.go:201-290)."""
    recs = (
        (
            f"user-{i % 10}",
            json.dumps(
                {
                    "__pk": f"user-{i % 10}",
                    "__arrival_ms": BASE_MS + i * 700,
                    "user_id": i % 10,
                    "path": "/my_page" if i % 2 else "/",
                }
            ),
        )
        for i in range(start, start + n)
    )
    write_shard_files(recs, stream_dir, num_shards=3)


def main(n_polls: int = 3) -> int:
    spark = get_spark(app_name="kdc-stream-demo")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="kdc_demo_")
    stream_dir, ckpt = os.path.join(work, "stream"), os.path.join(work, "ckpt")

    spec = CounterSpec(
        id="unique_user", counter_type="approx_count_distinct",
        target_column="user_id", window="1 minute", input_stream_arn=ARN,
    ).validate()

    written = 0
    for poll in range(n_polls):
        produce(stream_dir, written, 40)
        written += 40
        src = open_shard_records(spark, stream_dir, streaming=True)
        counted = build_counter(src, spec, ts_col="approximate_arrival")
        seen: list = []
        drain(
            counted.writeStream.foreachBatch(lambda b, _e: seen.extend(b.collect()))
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
        )
        print(f"-- poll {poll + 1}: {written} records on the wire")
        for r in sorted(seen, key=lambda r: r.window_start):
            print(json.dumps({k: r[k] for k in ("window_start", "window_end", "counter_id", "value")}))
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(int(sys.argv[1]) if len(sys.argv) > 1 else 3))
