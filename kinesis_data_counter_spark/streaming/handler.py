"""Lambda time-window event handler — SURVEY.md §3 entry point 2.

The reference's second runtime is an AWS Lambda handler consuming
``KinesisTimeWindowEvent`` batches: the Lambda/Kinesis runtime delivers
records plus the state returned by the previous invocation of the same
window, and ``IsFinalInvokeForWindow`` triggers emission
(counter.go:98-106, 150-159, 338-344). Structured Streaming subsumes this
contract in production (streaming/runner.py); THIS module is the
compatibility shim for deployments that genuinely run per-event — it speaks
the same envelope: carried JSON state, batchItemFailures for undecodable
records, intermediate-record publication for the two-level topology, and
final-invoke output emission.

Division of labor: record decode + state threading are driver-side Python
(the reference itself loops ≤1000 records per invoke — this is envelope
handling, not data processing); every aggregation — predicate evaluation,
counting, HLL sketching, sketch union and estimate — runs in Spark, so
``target_expr`` semantics and sketch binary format are byte-identical to
the batch and streaming paths. State carries either a partial row count or
a base64 Datasketches HLL sketch ≈ ``CounterState{RowCount, Base64HLLPP}``
(counter.go:78-82), built and finalized by the batch path's own
``counter_state`` / ``finalize_state``.

Cost: an invocation is too small for compute to matter; its latency is
jobs × the per-job floor. An input invoke runs exactly ONE job and no
Python worker: the records become a one-partition JVM-only plan, and one
global aggregate over it returns every partial count, each carried sketch
unioned with the new one and, on the final invoke, the estimates. A
level-2 merge takes at most one job; a count-only one runs none.
"""

from __future__ import annotations

import base64
import binascii
import functools
import json
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_data_counter_spark.config import COUNT, Config, CounterSpec
from kinesis_data_counter_spark.jq import eval_jq_object
from kinesis_data_counter_spark.operators.counter import (
    counter_state,
    finalize_state,
    target_types,
)


@dataclass
class TimeWindowEvent:
    """≈ KinesisTimeWindowEvent (counter.go:98-106). Times are epoch millis."""

    records: list[dict[str, Any]]  # {"sequence_number": str, "data": base64 str}
    window_start_ms: int
    window_end_ms: int
    event_source_arn: str
    shard_id: str = ""
    state: dict[str, Any] = field(default_factory=dict)
    is_final_invoke_for_window: bool = False


@dataclass
class HandlerResponse:
    """≈ TimeWindowEventResponse: carried state + failures + emitted rows."""

    state: dict[str, Any]
    batch_item_failures: list[str] = field(default_factory=list)
    outputs: list[dict[str, Any]] = field(default_factory=list)
    intermediate_records: list[dict[str, Any]] = field(default_factory=list)


def _decode_records(records: list[dict[str, Any]]) -> tuple[list[str], list[str]]:
    """base64 → JSON-object strings; undecodable → failure sequence numbers.

    Mirrors counter.go:241-252: only records parsing to a JSON *object*
    count; anything else is reported per-record, never a job failure.
    """
    clean: list[str] = []
    failures: list[str] = []
    for rec in records:
        seq = str(rec.get("sequence_number", ""))
        try:
            text = base64.b64decode(rec["data"]).decode("utf-8")
            if not isinstance(json.loads(text), dict):
                raise ValueError("not a JSON object")
            clean.append(text)
        except (KeyError, ValueError, binascii.Error, UnicodeDecodeError):
            failures.append(seq)
    return clean, failures


def _event_frame(spark: SparkSession, clean: list[str]) -> DataFrame:
    """The records as a one-partition, JVM-only plan: ``schema_of_json``
    runs ``spark.read.json``'s inference during analysis (no job), and a
    one-slice ``Range`` is SinglePartition (no exchange under a global
    aggregate). All-or-nothing: a record Spark's parser rejects fails
    analysis or nulls the whole array, which the row-count check catches."""
    arr = F.lit("[" + ",".join(clean) + "]")
    return spark.range(0, 1, 1, 1).select(
        F.inline(F.from_json(arr, F.schema_of_json(arr)))
    )


def _one_row(
    spark: SparkSession,
    cols: dict[str, Column],
    finals: dict[str, str],
    frame: DataFrame | None = None,
) -> dict[str, Any]:
    """Evaluate named columns as ONE row in at most one Spark job: a global
    aggregate over ``frame``, or a literal fold over a one-row range; then
    ``finals``, SQL over those columns (the HLL estimates), in the same
    row."""
    if not cols:
        return {}
    src = frame if frame is not None else spark.range(0, 1, 1, 1)
    row = src.select(*(c.alias(k) for k, c in cols.items()))
    if finals:
        row = row.selectExpr("*", *(f"{sql} AS {k}" for k, sql in finals.items()))
    return row.collect()[0].asDict()


def _hll_union(sketches: list[bytes], new: Column | None = None) -> Column:
    """Carried sketch literals unioned, with ``new`` (a sketch aggregate)."""
    parts = [F.lit(s) for s in sketches] + ([new] if new is not None else [])
    return functools.reduce(F.hll_union, parts)


def _state_for(state: dict, spec: CounterSpec, shard_id: str) -> dict[str, Any]:
    return state.setdefault(spec.id, {}).setdefault(
        shard_id,
        {"counter_type": spec.counter_type, "row_count": 0, "base64_hll": None},
    )


def _output_row(spec: CounterSpec, ev: TimeWindowEvent, shard_id: str, value: int):
    row: dict[str, Any] = {
        "event_source_arn": ev.event_source_arn,
        "window_start": ev.window_start_ms,
        "window_end": ev.window_end_ms,
        "counter_id": spec.id,
        "counter_type": spec.counter_type,
        "value": int(value),
    }
    if shard_id:  # omitted when empty (counter.go:423-425)
        row["shard_id"] = shard_id
    # None = a jq select stage filtered the record
    return eval_jq_object(spec.jq_expr, row)


def handle_time_window_event(
    spark: SparkSession, config: Config, event: TimeWindowEvent
) -> HandlerResponse:
    """One invocation ≈ App.handler (counter.go:161-344).

    Routes the event to every counter whose input (or aggregate) stream ARN
    matches, updates carried state, and on the window's final invoke emits
    output rows — or intermediate records when the counter belongs to a
    two-level topology (aggregate_stream_arn set and this event came from
    the input stream).
    """
    resp = HandlerResponse(state=event.state or {})

    input_counters = [
        c for c in config.counters if c.matches_source(event.event_source_arn)
    ]
    agg_counters = [
        c
        for c in config.counters
        if c.aggregate_stream_arn
        and _arn_match(c.aggregate_stream_arn, event.event_source_arn)
    ]

    if agg_counters:
        _process_aggregate(spark, agg_counters, event, resp)
    if input_counters:
        _process_input(spark, input_counters, event, resp)
    return resp


def _arn_match(pattern: str, source: str) -> bool:
    from kinesis_data_counter_spark.arn import Arn

    return Arn.parse_strict(pattern).match(source)


def _settle(
    counters: list[CounterSpec],
    vals: dict[str, Any],
    event: TimeWindowEvent,
    shard_id: str,
    resp: HandlerResponse,
    level2: bool = False,
) -> None:
    """Fold one invocation's results into carried state and, on the final
    invoke, emit. ``vals`` holds per counter index ``i``: ``c{i}`` the
    count to add or the new sketch, ``v{i}`` the final HLL estimate."""
    for i, spec in enumerate(counters):
        st = _state_for(resp.state, spec, shard_id)
        if f"c{i}" in vals:
            if spec.counter_type == COUNT:
                st["row_count"] = int(st.get("row_count") or 0) + int(vals[f"c{i}"])
            else:
                st["base64_hll"] = base64.b64encode(bytes(vals[f"c{i}"])).decode()
        if not event.is_final_invoke_for_window:
            continue
        if spec.aggregate_stream_arn and not level2:
            # two-level topology: publish the partial, don't finalize
            # (≈ putIntermediateRecord, counter.go:493-512)
            resp.intermediate_records.append({
                "event_source_arn": event.event_source_arn, "shard_id": shard_id,
                "counter_id": spec.id, "counter_type": spec.counter_type,
                "window_start": event.window_start_ms,
                "window_end": event.window_end_ms,
                "row_count": st.get("row_count"), "base64_hll": st.get("base64_hll"),
            })
            continue
        value = st.get("row_count") if spec.counter_type == COUNT else vals.get(f"v{i}")
        out = _output_row(spec, event, shard_id, value or 0)
        if out is not None:
            resp.outputs.append(out)


def _process_input(
    spark: SparkSession,
    counters: list[CounterSpec],
    event: TimeWindowEvent,
    resp: HandlerResponse,
) -> None:
    clean, failures = _decode_records(event.records)
    resp.batch_item_failures.extend(failures)
    frame = _event_frame(spark, clean) if clean else None

    # ONE job: partial counts, carried ⊕ new sketches and final estimates
    # (with no decodable record, a carried estimate is a literal fold);
    # every target type comes from one schema read of the records
    cols: dict[str, Column] = {"n": F.count(F.lit(1))} if clean else {}
    finals: dict[str, str] = {}
    types = target_types(frame, counters) if clean else [None] * len(counters)
    for i, (spec, dtype) in enumerate(zip(counters, types)):
        new = F.expr(counter_state(spec, dtype)) if clean else None
        if spec.counter_type == COUNT:
            if new is not None:
                cols[f"c{i}"] = new
            continue
        prior = _state_for(resp.state, spec, event.shard_id).get("base64_hll")
        emit = event.is_final_invoke_for_window and not spec.aggregate_stream_arn
        if new is None and not (prior and emit):
            continue
        cols[f"c{i}"] = _hll_union([base64.b64decode(prior)] if prior else [], new)
        if emit:
            finals[f"v{i}"] = finalize_state(spec, f"c{i}")
    vals = _one_row(spark, cols, finals, frame)
    if clean and vals["n"] != len(clean):
        raise ValueError(
            f"Spark's JSON parser yielded {vals['n']} of {len(clean)} decoded "
            "records; refusing to count a partial event"
        )
    _settle(counters, vals, event, event.shard_id, resp)


def _process_aggregate(
    spark: SparkSession,
    counters: list[CounterSpec],
    event: TimeWindowEvent,
    resp: HandlerResponse,
) -> None:
    """Level-2 merge ≈ aggregateProcess (counter.go:348-412): consume
    intermediate records, keep only matching (counter_id, counter_type)
    rows (F7), merge partial counts / sketches per counter, finalize on the
    window's final invoke with NO shard_id (global value)."""
    clean, failures = _decode_records(event.records)
    resp.batch_item_failures.extend(failures)
    inters = [json.loads(s) for s in clean]

    vals: dict[str, Any] = {}
    cols: dict[str, Column] = {}  # evaluated in ONE literal-fold job
    finals: dict[str, str] = {}
    for i, spec in enumerate(counters):
        mine = [r for r in inters if (r.get("counter_id"), r.get("counter_type"))
                == (spec.id, spec.counter_type)]
        if spec.counter_type == COUNT:
            vals[f"c{i}"] = sum(int(r.get("row_count") or 0) for r in mine)
            continue
        carried = _state_for(resp.state, spec, "").get("base64_hll")
        sketches = [base64.b64decode(s) for s in
                    [*(r.get("base64_hll") for r in mine), carried] if s]
        final = event.is_final_invoke_for_window and sketches
        if len(sketches) > 1 or final:
            cols[f"c{i}"] = _hll_union(sketches)
        elif sketches:
            vals[f"c{i}"] = sketches[0]
        if final:
            finals[f"v{i}"] = finalize_state(spec, f"c{i}")
    vals.update(_one_row(spark, cols, finals))
    _settle(counters, vals, event, "", resp, level2=True)


def make_intermediate_event(
    intermediate_records: list[dict[str, Any]],
    aggregate_stream_arn: str,
    window_start_ms: int,
    window_end_ms: int,
    prior_state: dict[str, Any] | None = None,
    is_final: bool = True,
) -> TimeWindowEvent:
    """Wrap published intermediate records as the level-2 consumer's event
    (what Kinesis delivery does between the two jobs in the reference)."""
    records = [
        {
            "sequence_number": str(i),
            "data": base64.b64encode(json.dumps(r).encode()).decode(),
        }
        for i, r in enumerate(intermediate_records)
    ]
    return TimeWindowEvent(
        records=records,
        window_start_ms=window_start_ms,
        window_end_ms=window_end_ms,
        event_source_arn=aggregate_stream_arn,
        shard_id="",
        state=prior_state or {},
        is_final_invoke_for_window=is_final,
    )
