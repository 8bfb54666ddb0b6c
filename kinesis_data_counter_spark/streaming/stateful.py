"""Custom stateful streaming operators via ``applyInPandasWithState``.

The reference's deepest mechanism is hand-carried mergeable state across
micro-batch invocations (CounterState threading, counter.go:78-84, 210-231;
the Lambda runtime persists the returned state and passes it back in,
counter.go:338-344). Structured Streaming's built-in windowed aggregation
already subsumes that for counters (streaming/runner.py); THIS module is the
engine's extension point for aggregation logic the built-ins can't express —
the Spark analog of "write your own CounterState": a user function over
(key, batch iterator, GroupState) where the engine manages state persistence,
recovery, and shuffling by key.

Scale notes: state lives in the state store (RocksDB-capable, spill-safe —
unlike the reference's 1 MB Lambda state cap, counter.go:234-236), keyed by
the group column, so cardinality distributes across executors. Arrow batches
cross the Python boundary per key-group per trigger.
"""

from __future__ import annotations

import uuid
from collections.abc import Iterable, Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

def running_count_fn(
    key: tuple[Any, ...], pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-key running event count: state = (total,), emits the new total.

    ≈ the reference's count-mode CounterState.RowCount carry
    (counter.go:253-280) generalized to any key: each micro-batch adds its
    rows to the persisted total and emits the updated value.
    """
    total = state.get[0] if state.exists else 0
    for pdf in pdfs:
        total += len(pdf)
    state.update((total,))
    yield pd.DataFrame({"key": [key[0]], "n_events": [total]})


def stateful_running_counts(
    records: DataFrame, key_col: str = "user_id"
) -> DataFrame:
    """Streaming DataFrame → per-key running counts with explicit state."""
    return records.groupBy(records[key_col]).applyInPandasWithState(
        running_count_fn,
        outputStructType="key long, n_events long",
        stateStructType="total long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_stateful_counts_once(
    spark: SparkSession,
    path: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Drive the stateful operator over a bounded path; return final counts.

    ``availableNow`` drains the files (possibly in several micro-batches);
    update mode emits one row per touched key per batch, so the memory sink
    may hold interim totals — the final total per key is the max (counts are
    monotone). The result therefore equals the batch ``count(*)`` per key,
    which is what makes this oracle-checkable.
    """
    from pyspark.sql import functions as F

    from kinesis_data_counter_spark.streaming.runner import _read_stream, drain

    sdf = _read_stream(spark, path, ts_col)
    out = stateful_running_counts(sdf, key_col)
    name = f"stateful_counts_{uuid.uuid4().hex[:12]}"
    drain(out.writeStream.format("memory").queryName(name).outputMode("update"))
    return (
        spark.table(name)
        .groupBy("key")
        .agg(F.max("n_events").alias("n_events"))
        .select(F.col("key").alias(key_col), "n_events")
    )
