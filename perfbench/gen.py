"""Seeded input generators, one per benchmark workload.

Run as its own process, separate from the system under test::

    python3 -m perfbench.gen --workload counter_backlog --seed 1 --out DIR

Each generator writes the program's inputs (Kinesis-wire shard files
with parquet copies, or Lambda event lists), the exact answers the
benchmark checks every op against (``expected.json``; for the handler, per
event in ``events.json``), and ``meta.json`` with the input sizes. Only the standard library and
pyarrow are used: no Spark, and nothing from the package under test, so
the reference answers are computed independently of the engine.

The same (workload, seed, size) always yields byte-identical files.
"""

from __future__ import annotations

import argparse
import base64
import hashlib
import itertools
import json
import os
import random
import shutil

# 2023-11-14T22:14:00Z, a whole minute, so 1-minute windows align with it
T0_MS = 1_700_000_040_000
MINUTE_MS = 60_000

INPUT_ARN = "arn:aws:kinesis:us-east-1:111122223333:stream/bench-input"
LEVEL1_ARN = "arn:aws:kinesis:us-east-1:111122223333:stream/bench-level1"
AGGREGATE_ARN = "arn:aws:kinesis:us-east-1:111122223333:stream/bench-aggregate"
OUTPUT_ARN = "arn:aws:kinesis:us-east-1:111122223333:stream/bench-output"

EVENT_TYPES = ("view", "click", "purchase")
EVENT_WEIGHTS = (60, 25, 15)

# default input sizes per workload (the ``--size`` override scales them)
DEFAULT_SIZE = {
    "counter_backlog": 100_000,  # records
    "handler_invoke": 6,  # windows of HANDLER_INVOKES_PER_WINDOW invokes
}
BACKLOG_SHARDS = 4
BACKLOG_WINDOWS = 30
BACKLOG_MALFORMED_RATE = 0.001
BACKLOG_WARMUP_RECORDS = 2_000
BACKLOG_STREAM_FILES = 8
HANDLER_RECORDS_PER_INVOKE = 500
HANDLER_INVOKES_PER_WINDOW = 10
HANDLER_UNDECODABLE_RATE = 0.005


def _zipf_users(rng: random.Random, n_users: int, k: int, s: float = 1.1) -> list[str]:
    """``k`` user ids drawn from a Zipf(s) popularity law over ``n_users``."""
    cum, acc = [], 0.0
    for r in range(1, n_users + 1):
        acc += 1.0 / r**s
        cum.append(acc)
    # shuffle rank -> id so popular ids do not share a prefix
    ids = [f"u{i:06d}" for i in range(n_users)]
    rng.shuffle(ids)
    return rng.choices(ids, cum_weights=cum, k=k)


def _md5_shard(pk: str, n: int) -> int:
    """The PutRecord routing rule: md5(partition key) mod shard count."""
    return int(hashlib.md5(pk.encode()).hexdigest(), 16) % n


def _dump(obj, path: str) -> None:
    with open(path, "w", encoding="utf-8") as f:
        json.dump(obj, f, sort_keys=True, separators=(",", ":"))


def _window_stats(rows) -> dict[str, dict]:
    """(time_ms, user_id, event_type, amount) rows -> per 1-minute window:
    exact count, click count, big-purchase count and distinct users."""
    out: dict[int, dict] = {}
    users: dict[int, set] = {}
    for t, uid, et, amount in rows:
        ws = t - t % MINUTE_MS
        st = out.setdefault(ws, {"count": 0, "clicks": 0, "big_purchases": 0})
        st["count"] += 1
        st["clicks"] += et == "click"
        st["big_purchases"] += et == "purchase" and amount > 100
        users.setdefault(ws, set()).add(uid)
    for ws, st in out.items():
        st["distinct_users"] = len(users[ws])
    return {str(ws): out[ws] for ws in sorted(out)}


# ---------------------------------------------------------------------------
# counter_backlog: a Kinesis-wire shard directory + a 4-counter YAML config
# ---------------------------------------------------------------------------

BACKLOG_CONFIG = """\
counters:
  - id: requests
    counter_type: count
    target_column: "*"
    window: 1 minute
    input_stream_arn: "*"
  - id: clicks
    counter_type: count
    target_expr: 'event_type == "click"'
    window: 1 minute
    input_stream_arn: "*"
  - id: uniq_users
    counter_type: approx_count_distinct
    target_column: user_id
    window: 1 minute
    input_stream_arn: "arn:aws:kinesis:*:*:stream/*"
    output_stream_arn: "{output_arn}"
  - id: reshaped
    counter_type: count
    target_column: "*"
    window: 1 minute
    input_stream_arn: "*"
    jq_expr: '{"time": .window_start, "name": "bench.requests", "value": .value}'
"""


def gen_counter_backlog(seed: int, n: int, out: str) -> dict:
    # a small backlog of the same shape warms the session up before timing
    _write_backlog(random.Random(f"warmup-{seed}"), BACKLOG_WARMUP_RECORDS,
                   os.path.join(out, "warmup"))
    return _write_backlog(random.Random(seed), n, out)


def _write_backlog(rng: random.Random, n: int, out: str) -> dict:
    users = _zipf_users(rng, max(1_000, n // 20), n)
    span = BACKLOG_WINDOWS * MINUTE_MS
    shards: list[list[str]] = [[] for _ in range(BACKLOG_SHARDS)]
    good_rows = []
    malformed = 0
    for i, uid in enumerate(users):
        arrival = T0_MS + i * span // n + rng.randrange(1_000)
        et = rng.choices(EVENT_TYPES, weights=EVENT_WEIGHTS)[0]
        amount = rng.randrange(1, 500)
        line = json.dumps(
            {"user_id": uid, "event_type": et, "amount": amount,
             "__pk": uid, "__arrival_ms": arrival},
            separators=(",", ":"),
        )
        shard = shards[_md5_shard(uid, BACKLOG_SHARDS)]
        # the first line of a shard is the CLI's documented schema sample
        # (open_shard_records infers the body schema from it), so it is
        # always well formed; any later line may be truncated in transit
        if shard and rng.random() < BACKLOG_MALFORMED_RATE:
            line = line[: len(line) // 2]
            malformed += 1
        else:
            good_rows.append((arrival, uid, et, amount))
        shard.append(line)
    os.makedirs(out, exist_ok=True)
    for k, lines in enumerate(shards):
        with open(os.path.join(out, f"shard-{k:03d}.jsonl"), "w", encoding="utf-8") as f:
            f.write("\n".join(lines) + "\n")
    with open(os.path.join(out, "counters.yaml"), "w", encoding="utf-8") as f:
        f.write(BACKLOG_CONFIG.replace("{output_arn}", OUTPUT_ARN))
    _write_stream_files(good_rows, os.path.join(out, "stream"))
    _dump({"windows": _window_stats(good_rows)}, os.path.join(out, "expected.json"))
    return {
        "records": n,
        "malformed": malformed,
        "shards": BACKLOG_SHARDS,
        "shard_records": [len(s) for s in shards],
        "windows": BACKLOG_WINDOWS,
    }


def _write_stream_files(rows, out: str) -> None:
    """The well-formed records again as parquet files for the two-level
    stream, dealt round-robin so every file spans every window and each
    window's partial state merges across all micro-batches."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out, exist_ok=True)
    for k in range(BACKLOG_STREAM_FILES):
        part = rows[k::BACKLOG_STREAM_FILES]
        pq.write_table(
            pa.table({
                "ts": pa.array([r[0] * 1000 for r in part], pa.timestamp("us", tz="UTC")),
                "user_id": pa.array([r[1] for r in part], pa.string()),
                "event_type": pa.array([r[2] for r in part], pa.string()),
                "amount": pa.array([r[3] for r in part], pa.int64()),
            }),
            os.path.join(out, f"part-{k:04d}.parquet"),
        )


# ---------------------------------------------------------------------------
# handler_invoke: KinesisTimeWindowEvent sequences with expected responses
# ---------------------------------------------------------------------------

HANDLER_CONFIG = {
    "counters": [
        {"id": "requests", "counter_type": "count", "target_column": "*",
         "window": "1 minute", "input_stream_arn": INPUT_ARN},
        {"id": "big_purchases", "counter_type": "count",
         "target_expr": 'event_type == "purchase" && amount > 100',
         "window": "1 minute", "input_stream_arn": INPUT_ARN},
        {"id": "uniq_users", "counter_type": "approx_count_distinct",
         "target_column": "user_id", "window": "1 minute",
         "input_stream_arn": INPUT_ARN},
        # level 2 of the two-level topology: merges intermediate records
        # published by level-1 counters onto the aggregate stream
        {"id": "agg_requests", "counter_type": "count", "target_column": "*",
         "window": "1 minute", "input_stream_arn": LEVEL1_ARN,
         "aggregate_stream_arn": AGGREGATE_ARN,
         "jq_expr": '{"time": .window_start, "name": "bench.agg_requests", "value": .value}'},
    ]
}


def _undecodable(rng: random.Random) -> str:
    kind = rng.randrange(3)
    if kind == 0:
        return "%%not-base64%%"
    if kind == 1:
        return base64.b64encode(b"user_id=u1;event=view").decode()
    return base64.b64encode(b"[1, 2, 3]").decode()  # JSON, but not an object


def gen_handler_invoke(seed: int, n_windows: int, out: str) -> dict:
    rng = random.Random(seed)
    per_window = HANDLER_INVOKES_PER_WINDOW * HANDLER_RECORDS_PER_INVOKE
    users = _zipf_users(rng, 2_000, n_windows * per_window)
    uid_iter = iter(users)
    events = []
    seq = itertools.count(49_000_000_000_000_000_000)
    undecodable = 0
    for w in range(n_windows):
        ws, we = T0_MS + w * MINUTE_MS, T0_MS + (w + 1) * MINUTE_MS
        cum = {"requests": 0, "big_purchases": 0}
        window_users: set[str] = set()
        for j in range(HANDLER_INVOKES_PER_WINDOW):
            records, failures = [], []
            for _ in range(HANDLER_RECORDS_PER_INVOKE):
                s = str(next(seq))
                uid = next(uid_iter)
                if rng.random() < HANDLER_UNDECODABLE_RATE:
                    records.append({"sequence_number": s, "data": _undecodable(rng)})
                    failures.append(s)
                    undecodable += 1
                    continue
                et = rng.choices(EVENT_TYPES, weights=EVENT_WEIGHTS)[0]
                amount = rng.randrange(1, 500)
                body = {"user_id": uid, "event_type": et, "amount": amount}
                records.append({
                    "sequence_number": s,
                    "data": base64.b64encode(json.dumps(body).encode()).decode(),
                })
                cum["requests"] += 1
                cum["big_purchases"] += et == "purchase" and amount > 100
                window_users.add(uid)
            final = j == HANDLER_INVOKES_PER_WINDOW - 1
            events.append({
                "kind": "input",
                "window": w,
                "records": records,
                "window_start_ms": ws,
                "window_end_ms": we,
                "event_source_arn": INPUT_ARN,
                "shard_id": "shardId-000000000000",
                "is_final": final,
                "expect": {
                    "batch_item_failures": failures,
                    "row_count": dict(cum),
                    "distinct_users": len(window_users) if final else None,
                },
            })
            if j in (HANDLER_INVOKES_PER_WINDOW // 2 - 1, HANDLER_INVOKES_PER_WINDOW - 1):
                events.append(_level2_event(rng, w, ws, we, final, events))
    # JSON is YAML: the config loads through the same Config.load as files
    _dump(HANDLER_CONFIG, os.path.join(out, "counters.yaml"))
    _dump({"events": events}, os.path.join(out, "events.json"))
    _dump({"windows": n_windows}, os.path.join(out, "expected.json"))
    return {
        "windows": n_windows,
        "input_invokes": n_windows * HANDLER_INVOKES_PER_WINDOW,
        "aggregate_invokes": 2 * n_windows,
        "records_per_invoke": HANDLER_RECORDS_PER_INVOKE,
        "undecodable": undecodable,
    }


def _level2_event(rng, w, ws, we, final, events) -> dict:
    """Intermediate records as published by 4 level-1 shards, plus rows a
    level-2 consumer must drop (other counter id, other counter type)."""
    inters = []
    for shard in range(4):
        inters.append({
            "event_source_arn": LEVEL1_ARN,
            "shard_id": f"shardId-{shard:012d}",
            "counter_id": "agg_requests", "counter_type": "count",
            "window_start": ws, "window_end": we,
            "row_count": rng.randrange(100, 5_000), "base64_hll": None,
        })
    inters.append(dict(inters[0], counter_id="other_counter"))
    inters.append(dict(inters[1], counter_type="approx_count_distinct"))
    prior = [e for e in events if e["kind"] == "aggregate" and e["window"] == w]
    carried = sum(e["expect"]["sum"] for e in prior[-1:])
    total = carried + sum(r["row_count"] for r in inters[:4])
    return {
        "kind": "aggregate",
        "window": w,
        "intermediate_records": inters,
        "window_start_ms": ws,
        "window_end_ms": we,
        "event_source_arn": AGGREGATE_ARN,
        "is_final": final,
        "expect": {"sum": total},
    }


GENERATORS = {
    "counter_backlog": gen_counter_backlog,
    "handler_invoke": gen_handler_invoke,
}


def generate(workload: str, seed: int, size: int, out: str) -> dict:
    """Write the inputs of one (workload, seed, size) into ``out``, atomically:
    a half-written directory never appears under the final name."""
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    meta = GENERATORS[workload](seed, size, tmp)
    meta.update(workload=workload, seed=seed, size=size)
    _dump(meta, os.path.join(tmp, "meta.json"))
    os.replace(tmp, out)
    return meta


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--size", type=int, default=None)
    p.add_argument("--out", required=True)
    a = p.parse_args(argv)
    generate(a.workload, a.seed, a.size or DEFAULT_SIZE[a.workload], a.out)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
