"""A recording stand-in for a boto3 Kinesis client.

``kinesis_writer`` calls its ``client_factory`` inside executor tasks, so
the recording cannot live in driver memory: each client appends the calls
it receives as JSON lines to its own file under ``out_dir``, and
``read_calls`` gathers them on the driver.
"""

from __future__ import annotations

import glob
import json
import os
import uuid


class RecordingKinesis:
    def __init__(self, out_dir: str):
        os.makedirs(out_dir, exist_ok=True)
        self.path = os.path.join(out_dir, f"{os.getpid()}-{uuid.uuid4().hex}.jsonl")

    def put_records(self, StreamName: str, Records: list[dict]) -> dict:  # noqa: N803 - boto3 names
        call = {
            "stream": StreamName,
            "records": [
                {"partition_key": r["PartitionKey"], "data": r["Data"].decode()}
                for r in Records
            ],
        }
        with open(self.path, "a", encoding="utf-8") as f:
            f.write(json.dumps(call) + "\n")
        return {"FailedRecordCount": 0,
                "Records": [{"SequenceNumber": "0", "ShardId": "shardId-0"}] * len(Records)}


def read_calls(out_dir: str) -> list[dict]:
    calls = []
    for p in sorted(glob.glob(os.path.join(out_dir, "*.jsonl"))):
        with open(p, encoding="utf-8") as f:
            calls.extend(json.loads(line) for line in f)
    return calls
