"""The benchmark's workloads. Each drives one public entry point of
``kinesis_data_counter_spark`` with generated inputs and checks every op's
output against the generator's exact answer.

An op's ``failure`` is ``None`` when its output is right, otherwise a tag:

- ``known:<id>`` -- the output fails in exactly the way of a recorded
  defect (see ``KNOWN_DEFECTS``). The op still counts as failed.
- ``wrong:<detail>`` -- any other wrong output.
- ``error:<exception>`` -- the call raised for any other reason.
"""

from __future__ import annotations

import functools
import io
import json
import os
import time
from dataclasses import dataclass

HLL_EPS = 0.05  # the reference's HLL tolerance (counter_test.go:66)
MINUTE_MS = 60_000
CLI_DEFAULT_ARN = "arn:aws:kinesis:us-east-1:000000000000:stream/cli-input"

KNOWN_DEFECTS = {
    "cli-malformed-epoch0": (
        "The CLI shard-dir path counts a malformed record into a spurious "
        "window_start 0 window; the reference drops it as a batch item "
        "failure (counter.go:241-252)."
    ),
    "handler-row-overwrite": (
        "streaming/handler.py:251 assigns the output row to `row`, "
        "overwriting the aggregate Row from :201, so a window's final "
        "invoke with two or more input counters raises KeyError: 'c1'."
    ),
}


@dataclass
class OpResult:
    ms: float
    records: int
    failure: str | None = None
    kind: str = "op"
    raised: bool = False


def _within_eps(estimate: float, exact: int) -> bool:
    return abs(estimate - exact) <= HLL_EPS * exact


class Workload:
    """Inputs in ``inputs`` (a generator's output directory); scratch files
    in ``work``. ``schedule`` is the fixed op count of one traced pass."""

    name = ""
    schedule = 1

    def __init__(self, spark, inputs: str, work: str):
        self.spark = spark
        self.inputs = inputs
        self.work = work
        with open(os.path.join(inputs, "expected.json"), encoding="utf-8") as f:
            self.expected = json.load(f)
        with open(os.path.join(inputs, "meta.json"), encoding="utf-8") as f:
            self.meta = json.load(f)
        self.config = None

    def load_config(self) -> None:
        from kinesis_data_counter_spark.config import Config

        self.config = Config.load(os.path.join(self.inputs, "counters.yaml"))

    def warmup(self) -> list[OpResult]:
        """Untimed ops before measuring; their outputs are checked too."""
        raise NotImplementedError

    def op(self, i: int) -> OpResult:
        raise NotImplementedError

    def timed(self, fn, records: int, kind: str = "op") -> tuple[OpResult, object]:
        """Run ``fn``; an exception becomes a failed op, never a skipped one."""
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as exc:  # noqa: BLE001 - every raise is a failed op
            ms = (time.perf_counter() - t0) * 1e3
            return OpResult(ms, records, f"error:{exc!r}", kind, raised=True), exc
        return OpResult((time.perf_counter() - t0) * 1e3, records, kind=kind), out

    def probes(self, tracer) -> tuple[dict[str, float], list[OpResult]]:
        """Layer metrics of this workload only (traced runs), and any
        checked ops the probes ran."""
        return {}, []

    def jq_sample(self) -> tuple[str, list[dict]]:
        """A jq program of this workload's config and objects to run it on."""
        raise NotImplementedError


# ---------------------------------------------------------------------------
# counter_backlog: the CLI over a Kinesis-wire shard directory
# ---------------------------------------------------------------------------


def check_backlog(text: str, expected: dict, malformed: int) -> str | None:
    """CLI output lines vs the exact per-window answer of the 4 counters."""
    got: dict[tuple[str, int], int] = {}
    try:
        for line in text.splitlines():
            r = json.loads(line)
            if r.get("name") == "bench.requests":  # the jq-reshaped counter
                got[("reshaped", r["time"])] = r["value"]
                continue
            if r["event_source_arn"] != CLI_DEFAULT_ARN or r["window_end"] != r["window_start"] + MINUTE_MS:
                return f"wrong:row {r}"
            got[(r["counter_id"], r["window_start"])] = r["value"]
    except (ValueError, KeyError, TypeError) as exc:
        return f"wrong:unparseable output ({exc!r})"
    for ws_text, st in expected["windows"].items():
        ws = int(ws_text)
        for key, want in (("requests", st["count"]), ("clicks", st["clicks"]),
                          ("reshaped", st["count"])):
            if got.pop((key, ws), None) != want:
                return f"wrong:{key}@{ws}"
        est = got.pop(("uniq_users", ws), None)
        if est is None or not _within_eps(est, st["distinct_users"]):
            return f"wrong:uniq_users@{ws}={est} exact {st['distinct_users']}"
    if not got:
        return None
    if all(ws == 0 for _, ws in got) and got.get(("requests", 0)) == malformed:
        return "known:cli-malformed-epoch0"
    return f"wrong:unexpected rows {sorted(got)[:4]}"


class CounterBacklog(Workload):
    name = "counter_backlog"

    def _cli(self, path: str | None = None) -> str:
        from kinesis_data_counter_spark.__main__ import main

        buf = io.StringIO()
        rc = main(["--path", path or self.inputs,
                   "--config", os.path.join(self.inputs, "counters.yaml")], out=buf)
        if rc != 0:
            raise RuntimeError(f"CLI exit code {rc}")
        return buf.getvalue()

    def warmup(self) -> list[OpResult]:
        # the first op of a session is several times slower than the rest
        # and the next two still about 25% slower: take the first on a
        # small backlog, then two on the real one
        self._cli(os.path.join(self.inputs, "warmup"))
        return [self.op(0), self.op(1)]

    def op(self, i: int) -> OpResult:
        res, out = self.timed(self._cli, self.meta["records"])
        if not res.raised:
            res.failure = check_backlog(out, self.expected, self.meta["malformed"])
        return res

    def jq_sample(self) -> tuple[str, list[dict]]:
        spec = next(c for c in self.config.counters if c.jq_expr)
        objs = [
            {"event_source_arn": CLI_DEFAULT_ARN, "window_start": int(ws),
             "window_end": int(ws) + MINUTE_MS, "counter_id": spec.id,
             "counter_type": spec.counter_type, "value": st["count"]}
            for ws, st in self.expected["windows"].items()
        ]
        return spec.jq_expr, objs

    def probes(self, tracer) -> tuple[dict[str, float], list[OpResult]]:
        """Each layer of the CLI path on its own: the replay scan, the
        count and HLL aggregations on the persisted records, the jq
        reshape; then the two-level stream and the Kinesis sink over the
        same records; last, the whole CLI op again on one core."""
        from kinesis_data_counter_spark.jq import apply_jq
        from kinesis_data_counter_spark.operators.counter import build_counter
        from kinesis_data_counter_spark.session import get_spark
        from kinesis_data_counter_spark.sources.replay_source import open_shard_records

        m: dict[str, float] = {}
        records = open_shard_records(self.spark, self.inputs)
        with tracer.span("replay.scan") as s:
            records.write.format("noop").mode("overwrite").save()
        m["replay.scan_s"] = s.end - s.start
        records = records.persist()
        records.count()  # persist is not timed
        specs = {c.id: c for c in self.config.counters}
        for key, cid in (("count", "requests"), ("hll", "uniq_users")):
            with tracer.span(f"counter.{key}_agg") as s:
                agg = build_counter(records, specs[cid]).persist()
                agg.count()
            m[f"counter.{key}_agg_s"] = s.end - s.start
        with tracer.span("jq.apply") as s:
            apply_jq(agg, specs["reshaped"].jq_expr).collect()
        m["jq.apply_s"] = s.end - s.start
        agg.unpersist()
        records.unpersist()

        stream_metrics, stream_op = self._stream_probe(tracer, specs["uniq_users"])
        m.update(stream_metrics)

        self.spark.stop()
        self.spark = get_spark(master="local[1]")
        self.spark.sparkContext.setLogLevel("ERROR")
        self._cli(os.path.join(self.inputs, "warmup"))  # not timed
        with tracer.span("scaling.backlog_1core") as s:
            self._cli()
        m["scaling.backlog_1core_records_per_s"] = self.meta["records"] / (s.end - s.start)
        return m, [stream_op]

    def _stream_probe(self, tracer, spec) -> tuple[dict[str, float], OpResult]:
        """``stream_two_level`` over parquet copies of the well-formed
        records (one file per trigger), then ``kinesis_writer`` with a
        recording client: drain, merge (collecting the returned lazy
        frame) and sink timed apart, with each micro-batch's progress."""
        from kinesis_data_counter_spark.operators.counter import partial_counter
        from kinesis_data_counter_spark.streaming.runner import stream_two_level
        from kinesis_data_counter_spark.streaming.sinks import kinesis_writer

        from perfbench.engine import ProgressLog
        from perfbench.fakes import RecordingKinesis, read_calls
        from perfbench.stats import median

        progress = ProgressLog()
        self.spark.streams.addListener(progress)

        def drain(src: str, name: str):
            return stream_two_level(self.spark, src, spec, os.path.join(self.work, name))

        def sink(merged, name: str) -> str:
            out = os.path.join(self.work, name)
            kinesis_writer(spec.output_stream_arn,
                           client_factory=functools.partial(RecordingKinesis, out))(merged, 0)
            return out

        sink(drain(os.path.join(self.inputs, "warmup", "stream"), "warm_exchange"),
             "warm_sink")  # the session's first stream: not timed
        n0, term0 = progress.snapshot()
        t0 = time.perf_counter()
        with tracer.span("runner.drain") as s_drain:
            merged = drain(os.path.join(self.inputs, "stream"), "exchange")
        with tracer.span("runner.result") as s_result:
            merged.collect()
        with tracer.span("sinks.put") as s_put:
            out = sink(merged, "sink")
        op = OpResult((time.perf_counter() - t0) * 1e3, self.meta["records"] - self.meta["malformed"],
                      kind="stream")
        progress.wait_terminated(term0 + 1)
        batches = progress.since(n0)
        self.spark.streams.removeListener(progress)
        calls = read_calls(out)
        op.failure = check_stream(calls, self.expected, spec.id)

        # level 1 alone on one micro-batch's worth of records (one file)
        src = os.path.join(self.inputs, "stream")
        one = self.spark.read.parquet(os.path.join(src, sorted(os.listdir(src))[0])).persist()
        one.count()  # persist is not timed
        with tracer.span("counter.partial") as s_partial:
            partial_counter(one, spec).collect()
        one.unpersist()

        def p50(key: str) -> float:
            return median([b.get(key, 0.0) for b in batches])

        return {
            "runner.batches": float(len(batches)),
            "runner.trigger_ms_p50": p50("triggerExecution"),
            "runner.addbatch_ms_p50": p50("addBatch"),
            "runner.bookkeeping_ms_p50": median(
                [b["triggerExecution"] - b.get("addBatch", 0.0) for b in batches]),
            "runner.walcommit_ms_p50": p50("walCommit"),
            "runner.commitoffsets_ms_p50": p50("commitOffsets"),
            "runner.queryplanning_ms_p50": p50("queryPlanning"),
            "runner.latestoffset_ms_p50": p50("latestOffset"),
            "runner.drain_s": s_drain.end - s_drain.start,
            "runner.result_s": s_result.end - s_result.start,
            "counter.merge_s": s_result.end - s_result.start,
            "counter.partial_ms_per_batch": (s_partial.end - s_partial.start) * 1e3,
            "sinks.put_ms": (s_put.end - s_put.start) * 1e3,
            "sinks.put_records_calls": float(len(calls)),
            "stream.records_per_s": op.records / (op.ms / 1e3),
        }, op


def check_stream(calls: list[dict], expected: dict, counter_id: str) -> str | None:
    """Records the fake Kinesis client received vs the exact answer."""
    from kinesis_data_counter_spark.streaming.sinks import PUT_RECORDS_BATCH

    got: dict[int, int] = {}
    for call in calls:
        if call["stream"] != "bench-output" or len(call["records"]) > PUT_RECORDS_BATCH:
            return f"wrong:put_records call to {call['stream']} with {len(call['records'])} records"
        for rec in call["records"]:
            row = json.loads(rec["data"])
            if rec["partition_key"] != counter_id or row["counter_id"] != counter_id:
                return f"wrong:record {rec}"
            if row["window_start"] in got or row["window_end"] != row["window_start"] + MINUTE_MS:
                return f"wrong:duplicate or malformed window {row}"
            got[row["window_start"]] = row["value"]
    want = {int(ws): st["distinct_users"] for ws, st in expected["windows"].items()}
    if set(got) != set(want):
        return f"wrong:windows {sorted(set(got) ^ set(want))[:4]}"
    for ws, exact in want.items():
        if not _within_eps(got[ws], exact):
            return f"wrong:distinct@{ws}={got[ws]} exact {exact}"
    return None


# ---------------------------------------------------------------------------
# handler_invoke: the Lambda time-window handler, one closed-loop caller
# ---------------------------------------------------------------------------


def check_handler(resp, ev: dict, shard: str) -> str | None:
    want = ev["expect"]
    if ev["kind"] == "aggregate":
        st = resp.state.get("agg_requests", {}).get("", {})
        if resp.batch_item_failures or st.get("row_count") != want["sum"]:
            return f"wrong:aggregate state {st.get('row_count')} != {want['sum']}"
        outs = [{"time": ev["window_start_ms"], "name": "bench.agg_requests",
                 "value": want["sum"]}] if ev["is_final"] else []
        return None if resp.outputs == outs else f"wrong:aggregate outputs {resp.outputs}"
    if resp.batch_item_failures != want["batch_item_failures"]:
        return "wrong:batch_item_failures"
    for cid in ("requests", "big_purchases"):
        if resp.state[cid][shard]["row_count"] != want["row_count"][cid]:
            return f"wrong:{cid} state"
    if not resp.state["uniq_users"][shard]["base64_hll"]:
        return "wrong:uniq_users sketch missing"
    if not ev["is_final"]:
        return None if not resp.outputs else "wrong:outputs before the final invoke"
    got = {o["counter_id"]: o for o in resp.outputs}
    if set(got) != {"requests", "big_purchases", "uniq_users"}:
        return f"wrong:final outputs {sorted(got)}"
    for cid in ("requests", "big_purchases"):
        if got[cid]["value"] != want["row_count"][cid]:
            return f"wrong:final {cid}"
    if not _within_eps(got["uniq_users"]["value"], want["distinct_users"]):
        return "wrong:final uniq_users"
    return None


class HandlerInvoke(Workload):
    name = "handler_invoke"

    def __init__(self, spark, inputs: str, work: str):
        super().__init__(spark, inputs, work)
        with open(os.path.join(inputs, "events.json"), encoding="utf-8") as f:
            self.events = json.load(f)["events"]
        # one window: its input invokes and the aggregate invokes between
        self.schedule = next(i for i, e in enumerate(self.events)
                             if e["kind"] == "aggregate" and e["is_final"]) + 1
        self.states: dict[tuple[str, int], dict] = {}

    def _event(self, i: int):
        """The i-th invocation of the closed loop, carrying the state the
        previous invocation of the same window returned (the Lambda
        runtime's job). The sequence restarts, with fresh state, at its end."""
        from kinesis_data_counter_spark.streaming.handler import (
            TimeWindowEvent,
            make_intermediate_event,
        )

        k = i % len(self.events)
        if k == 0:
            self.states.clear()
        e = self.events[k]
        state = self.states.get((e["kind"], e["window"]), {})
        if e["kind"] == "input":
            ev = TimeWindowEvent(
                records=e["records"], window_start_ms=e["window_start_ms"],
                window_end_ms=e["window_end_ms"], event_source_arn=e["event_source_arn"],
                shard_id=e["shard_id"], state=state, is_final_invoke_for_window=e["is_final"],
            )
        else:
            ev = make_intermediate_event(
                e["intermediate_records"], e["event_source_arn"], e["window_start_ms"],
                e["window_end_ms"], prior_state=state, is_final=e["is_final"],
            )
        return e, ev

    def warmup(self) -> list[OpResult]:
        # half a window: a first invoke, merging invokes and a level-2 one
        return [self.op(i) for i in range(self.schedule // 2)]

    def op(self, i: int) -> OpResult:
        from kinesis_data_counter_spark.streaming.handler import handle_time_window_event

        e, ev = self._event(i)
        n = len(ev.records)
        res, out = self.timed(lambda: handle_time_window_event(self.spark, self.config, ev),
                              n, kind=e["kind"])
        key = (e["kind"], e["window"])
        if res.raised:
            if (isinstance(out, KeyError) and out.args == ("c1",)
                    and e["kind"] == "input" and e["is_final"]):
                res.failure = "known:handler-row-overwrite"
        else:
            res.failure = check_handler(out, e, e.get("shard_id", ""))
            self.states[key] = out.state
        if e["is_final"]:
            self.states.pop(key, None)
        return res

    def jq_sample(self) -> tuple[str, list[dict]]:
        spec = next(c for c in self.config.counters if c.jq_expr)
        objs = [
            {"event_source_arn": e["event_source_arn"], "window_start": e["window_start_ms"],
             "window_end": e["window_end_ms"], "counter_id": spec.id,
             "counter_type": spec.counter_type, "value": e["expect"]["sum"]}
            for e in self.events if e["kind"] == "aggregate"
        ]
        return spec.jq_expr, objs


WORKLOADS = {w.name: w for w in (CounterBacklog, HandlerInvoke)}
