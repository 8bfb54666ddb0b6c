"""The counter core: tumbling-window count / approx-distinct aggregation.

This is operators A1-A8 + F1-F4 of SURVEY.md §2 as ONE declarative DataFrame
transformation. The reference implements partial aggregation per shard with
hand-carried mergeable state (counter.go:78-84, 253-326) plus an optional
second-level merge over an "aggregate stream" (counter.go:348-412); on Spark
the whole topology is a single ``groupBy(window, ...).agg(...)`` — Catalyst
plans a partial (map-side) HashAggregate, a shuffle exchange on the group
keys, and a final HashAggregate, which is exactly the reference's
shard-partials → merge pipeline with the exchange played by the shuffle.

A7 (multi-counter fan-out, ``assemble_counters``): like the reference,
which decodes each record once and updates every routed counter from it
(counter.go:170-204), counters that share a window are ONE multi-column
aggregate over one scan; each counter's result is a projection of it.

For deployments that genuinely split the two levels into separate jobs (the
reference's aggregate-stream topology, README.md:128-151), use
``partial_counter`` → sink → ``merge_partials``: the hand-off row carries an
``hll_sketch_agg`` BINARY sketch / partial count, mirroring
IntermediateRecord (counter.go:483-491).

Scale notes:
- count/approx_count_distinct both do map-side partial aggregation, so the
  shuffle carries one row per (group × partition), not per input record —
  at 100 TB the exchange volume is proportional to cardinality, not data.
- HLL precision ``HLL_LG_K = 16`` (counter.go:206-208) ⇒ 64 KB dense
  sketch worst-case per group per partition in the partial stage; fine for
  thousands of windows, costly when grouping by high-cardinality keys.
- No Python in the hot path: everything compiles to built-in Catalyst
  expressions inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kinesis_data_counter_spark.config import (
    APPROX_COUNT_DISTINCT,
    COUNT,
    CounterSpec,
)
from kinesis_data_counter_spark.expr import compile_target_expr
from kinesis_data_counter_spark.jq import apply_jq


# HLL precision the reference hard-codes (counter.go:206-208): lgK = 16.
HLL_LG_K = 16

# The only input types ``hll_sketch_agg`` takes; any other target is
# hashed by its STRING form.
_SKETCHABLE = (T.IntegerType, T.LongType, T.StringType, T.BinaryType)


def _target_column(df: DataFrame, spec: CounterSpec) -> tuple[Column, T.DataType]:
    """The projected target value column and its resolved type.

    Count-mode semantics (SURVEY.md §2.6.1, counter.go:260-277): a record
    counts unless the target evaluates to nil — or, for boolean expressions,
    to false. Distinct-mode (counter.go:295-313): only nil is skipped; false
    is a valid value. In a typed engine the nil/false distinction is static:
    we inspect the expression's resolved type once at plan time.
    """
    if spec.target_expr:
        col = compile_target_expr(spec.target_expr)
    else:
        assert spec.target_column and spec.target_column != "*"
        col = F.col(spec.target_column)
    return col, df.select(col.alias("__t")).schema[0].dataType


# ---------------------------------------------------------------------------
# The counter-state algebra ≈ CounterState{RowCount, Base64HLLPP}
# (counter.go:78-84): a per-group state, a merge of states, a final value.
# Every counter path — single-level, two-level, Lambda handler — is these.
# ---------------------------------------------------------------------------

def counter_state(df: DataFrame, spec: CounterSpec) -> Column:
    """The per-group state aggregate of one counter over ``df``.

    A count counter's state is a LONG partial count (operator A1); a
    distinct counter's is a Datasketches HLL sketch BINARY (A3), mergeable
    across partitions, micro-batches, shards and invocations.
    """
    if spec.counter_type == COUNT:
        if spec.target_column == "*":
            return F.count(F.lit(1))  # F1: count-all
        col, dtype = _target_column(df, spec)
        if isinstance(dtype, T.BooleanType):
            # nil/false rule: false and NULL excluded → count_if
            return F.count_if(col)
        # any non-null value counts (incl. 0, "", false-y non-booleans)
        return F.count(col)
    if spec.counter_type == APPROX_COUNT_DISTINCT:
        col, dtype = _target_column(df, spec)
        if not isinstance(dtype, _SKETCHABLE):
            col = col.cast("string")  # NULL stays NULL (skipped), false counts
        # Benchmarked: Datasketches keeps a SPARSE buffer until per-group
        # cardinality grows, while approx_count_distinct at p=16 allocates
        # a dense ~87 KB HLL++ buffer per (group × partition) — 100× slower
        # on high-group-count windows. Estimates are within the reference's
        # own ε≤0.05 oracle (counter_test.go:66).
        return F.hll_sketch_agg(col, F.lit(HLL_LG_K))
    raise ValueError(f"unknown counter_type {spec.counter_type!r}")


def merge_state(spec: CounterSpec, state: Column) -> Column:
    """The aggregate merging many states of ``spec`` into one."""
    return F.sum(state) if spec.counter_type == COUNT else F.hll_union_agg(state)


def finalize_state(spec: CounterSpec, state: Column) -> Column:
    """A state's counter value: the count itself, or the HLL estimate."""
    return state if spec.counter_type == COUNT else F.hll_sketch_estimate(state)


def tumbling_window(ts_col: str | Column, size: str) -> Column:
    """Epoch-aligned tumbling window ≈ reference run.go:148-159 truncation.

    ``F.window`` truncates to epoch-aligned boundaries for fixed durations —
    identical to Go's ``t.Truncate(W)`` for sub-day windows.
    """
    return F.window(ts_col, size)


def _counter_frames(
    df: DataFrame,
    specs: list[CounterSpec],
    ts_col: str,
    shard_col: str | None,
    event_source_arn: str | None,
) -> dict[str, DataFrame]:
    """The one counter builder: per-window results of every spec, keyed by id.

    Specs sharing a window share ONE ``groupBy(window[, shard]).agg(v0, v1,
    …)``; each counter is a ``select`` of its own value column from it. An
    aggregate read by more than one counter is materialized with
    ``localCheckpoint`` (batch only): Spark never reuses a Python-DataSource
    scan across union branches, and ColumnPruning would split a shared lazy
    aggregate back into one scan per branch. ``localCheckpoint`` rather
    than ``persist``: the CacheManager matches persisted plans by canonical
    plan, so a later call over equal input could be served a stale result.
    """
    groups: dict[str, list[CounterSpec]] = {}
    for spec in specs:
        groups.setdefault(spec.window, []).append(spec)
    out: dict[str, DataFrame] = {}
    for window, group in groups.items():
        keys: list[Column] = [tumbling_window(ts_col, window).alias("window")]
        if shard_col:
            keys.append(F.col(shard_col).alias("__shard_id"))
        agg = df.groupBy(*keys).agg(
            *[finalize_state(s, counter_state(df, s)).alias(f"__v{i}")
              for i, s in enumerate(group)]
        )
        if len(group) > 1:
            agg = agg.localCheckpoint()
        for i, spec in enumerate(group):
            cols: list[Column] = [
                F.lit(event_source_arn or spec.input_stream_arn).alias("event_source_arn"),
                F.unix_millis(F.col("window.start")).alias("window_start"),
                F.unix_millis(F.col("window.end")).alias("window_end"),
                F.lit(spec.id).alias("counter_id"),
                F.lit(spec.counter_type).alias("counter_type"),
            ]
            if shard_col:
                cols.append(F.col("__shard_id").cast("string").alias("shard_id"))
            cols.append(F.col(f"__v{i}").cast("long").alias("value"))
            out[spec.id] = apply_jq(agg.select(*cols), spec.jq_expr)  # F8
    return out


def build_counter(
    df: DataFrame,
    spec: CounterSpec,
    ts_col: str = "ts",
    shard_col: str | None = None,
    event_source_arn: str | None = None,
) -> DataFrame:
    """records → per-window counter results (the whole reference pipeline).

    Output schema matches the reference's emitted JSON (counter.go:416-438):
    ``event_source_arn, window_start, window_end, counter_id, counter_type,
    [shard_id,] value`` with epoch-milli window bounds (counter.go:418-419);
    ``shard_id`` is included only when ``shard_col`` is given — the reference
    omits it when empty (counter.go:423-425).

    Works identically on batch and streaming DataFrames (add a watermark
    upstream for streaming append mode — see streaming/runner.py): it is the
    one-spec case of ``assemble_counters``'s builder, which never
    checkpoints a single counter's aggregate.
    """
    return _counter_frames(df, [spec], ts_col, shard_col, event_source_arn)[spec.id]


# ---------------------------------------------------------------------------
# Two-level (cross-job) topology — A6: explicit mergeable partial aggregates.
# ---------------------------------------------------------------------------

def partial_counter(
    df: DataFrame,
    spec: CounterSpec,
    ts_col: str = "ts",
    shard_col: str | None = None,
    event_source_arn: str | None = None,
) -> DataFrame:
    """Level-1 partial aggregation → mergeable state rows.

    ≈ the reference's IntermediateRecord publication (counter.go:483-512):
    one row per (window [, shard]) carrying either a partial row count or a
    serialized HLL sketch. The sketch column is a Datasketches HLL BINARY
    from ``hll_sketch_agg`` — Spark's analog of the gob+base64 HLL++ state
    (counter.go:557-591). Rows are small and keyed; sink them anywhere and
    feed ``merge_partials`` in a different job.
    """
    keys: list[Column] = [tumbling_window(ts_col, spec.window).alias("window")]
    if shard_col:
        keys.append(F.col(shard_col).cast("string").alias("shard_id"))
    else:
        keys.append(F.lit("").alias("shard_id"))

    agg = df.groupBy(*keys).agg(counter_state(df, spec).alias("state"))
    is_count = spec.counter_type == COUNT

    arn = event_source_arn or spec.input_stream_arn
    from kinesis_data_counter_spark import __version__

    return agg.select(
        F.lit(arn).alias("event_source_arn"),
        F.col("shard_id"),
        F.lit(spec.id).alias("counter_id"),
        F.lit(spec.counter_type).alias("counter_type"),
        # producer version on the wire ≈ IntermediateRecord.CounterVersion
        # (counter.go:488, 499); consumers process mismatches but can audit
        F.lit(__version__).alias("counter_version"),
        F.col("window"),
        (F.col("state") if is_count else F.lit(None).cast("long")).alias("row_count"),
        (F.lit(None).cast("binary") if is_count else F.col("state")).alias("hll_sketch"),
    )


def merge_partials(partials: DataFrame, spec: CounterSpec) -> DataFrame:
    """Level-2 merge: cross-shard union of partial states → global value.

    ≈ aggregateProcess (counter.go:348-412): filter to this counter's rows
    (F7 — mismatched counter_id/type rows are dropped, counter.go:365-370),
    merge their states per window, finalize, and apply the jq output
    transform like ``build_counter``.
    """
    mine = partials.filter(
        (F.col("counter_id") == spec.id)
        & (F.col("counter_type") == spec.counter_type)
    )
    state = F.col("row_count" if spec.counter_type == COUNT else "hll_sketch")
    value = finalize_state(spec, merge_state(spec, state))
    merged = (
        mine.groupBy("window")
        .agg(value.cast("long").alias("value"))
        .select(
            F.unix_millis(F.col("window.start")).alias("window_start"),
            F.unix_millis(F.col("window.end")).alias("window_end"),
            F.lit(spec.id).alias("counter_id"),
            F.lit(spec.counter_type).alias("counter_type"),
            F.col("value"),
        )
    )
    return apply_jq(merged, spec.jq_expr)


# ---------------------------------------------------------------------------
# Pipeline assembly — F6 (ARN routing) + A7 (multi-counter fan-out)
# ---------------------------------------------------------------------------

def assemble_counters(
    df: DataFrame,
    config,
    event_source_arn: str,
    ts_col: str = "ts",
    shard_col: str | None = None,
) -> dict[str, DataFrame]:
    """Route a source to every matching counter, one result DataFrame each.

    ≈ the reference's handler fan-out (counter.go:170-204): ARN-glob routing
    picks the counters (F6, arn.go:61-86); counters sharing a window are
    computed by ONE aggregate over one scan of ``df``, materialized with
    ``localCheckpoint`` when more than one counter reads it, and each
    returned frame selects its own value column from it. Distinct windows
    still read ``df`` once per window group.

    Batch only (it may checkpoint); the CLI's ``--follow`` fan-out goes
    through ``streaming.runner.run_counter_stream_once`` per counter.
    """
    return _counter_frames(
        df, config.counters_for_source(event_source_arn), ts_col, shard_col,
        event_source_arn,
    )


def union_counter_results(results: dict[str, DataFrame]) -> DataFrame:
    """Union per-counter results ≈ resp.MergeInto (counter.go:125-149).

    ``allowMissingColumns`` handles jq-reshaped counters whose output
    schema diverges — absent columns become NULL, mirroring how the
    reference emits heterogeneous JSON lines onto one sink.
    """
    dfs = list(results.values())
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    return out
