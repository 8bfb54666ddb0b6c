"""The counter core: tumbling-window count / approx-distinct aggregation.

This is operators A1-A8 + F1-F4 of SURVEY.md §2 as ONE declarative
transformation. The reference implements partial aggregation per shard with
hand-carried mergeable state (counter.go:78-84, 253-326) plus an optional
second-level merge over an "aggregate stream" (counter.go:348-412); on Spark
the whole topology is a single ``GROUP BY window(...)`` — Catalyst plans a
partial (map-side) HashAggregate, a shuffle exchange on the group keys, and
a final HashAggregate, which is exactly the reference's shard-partials →
merge pipeline with the exchange played by the shuffle.

Every rule is SQL text, written once: ``counter_state`` / ``merge_state``
/ ``finalize_state`` (the count-vs-HLL state algebra), the output object
(``_output_fields``) and the jq reshape (``jq.jq_sql``). Queries are
handed to Catalyst as whole statements (``sqltext.Statement``, literals
bound as parameters): a chain of DataFrame calls costs one py4j round-trip
and one eager analysis per step, a statement is analysed once.

A7 (multi-counter fan-out): like the reference, which decodes each record
once and updates every routed counter from it (counter.go:170-204),
counters that share a window are ONE multi-column aggregate over one scan.
``counter_lines`` — the CLI's batch op — reads every counter's output
from ONE projection of that aggregate, as JSON lines in one sorted
partition: one statement, one action, one scan per window group.
``assemble_counters`` returns one frame per counter instead, and
checkpoints a shared aggregate so their union still scans once.

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
from kinesis_data_counter_spark.expr import translate_target_expr
from kinesis_data_counter_spark.jq import jq_sql
from kinesis_data_counter_spark.sqltext import Statement, column_ref


# HLL precision the reference hard-codes (counter.go:206-208): lgK = 16.
HLL_LG_K = 16

# The only input types ``hll_sketch_agg`` takes; any other target is
# hashed by its STRING form.
_SKETCHABLE = (T.IntegerType, T.LongType, T.StringType, T.BinaryType)


def _target_sql(spec: CounterSpec) -> str:
    if spec.target_expr:
        return f"({translate_target_expr(spec.target_expr)})"
    assert spec.target_column and spec.target_column != "*"
    return column_ref(spec.target_column)


def target_types(df: DataFrame, specs: list[CounterSpec]) -> list[T.DataType | None]:
    """Each spec's resolved target type over ``df``, from ONE schema read
    of every target at once (None for count-all, which has no target).

    Count-mode semantics (SURVEY.md §2.6.1, counter.go:260-277): a record
    counts unless the target evaluates to nil — or, for boolean expressions,
    to false. Distinct-mode (counter.go:295-313): only nil is skipped; false
    is a valid value. In a typed engine the nil/false distinction is static:
    the expression's resolved type decides it once at plan time.
    """
    return _target_types(specs, lambda targets: df.selectExpr(*targets))


def _target_types(specs, select) -> list[T.DataType | None]:
    """``target_types`` with the one schema read done by ``select(targets)``."""
    typed = [i for i, s in enumerate(specs)
             if not (s.counter_type == COUNT and s.target_column == "*")]
    out: list[T.DataType | None] = [None] * len(specs)
    if typed:
        schema = select([f"{_target_sql(specs[i])} AS t{i}" for i in typed]).schema
        for i, field in zip(typed, schema.fields):
            out[i] = field.dataType
    return out


# ---------------------------------------------------------------------------
# The counter-state algebra ≈ CounterState{RowCount, Base64HLLPP}
# (counter.go:78-84): a per-group state, a merge of states, a final value.
# Every counter path — single-level, two-level, Lambda handler — is these.
# Each returns SQL text; DataFrame callers wrap it in ``F.expr``.
# ---------------------------------------------------------------------------

def counter_state(spec: CounterSpec, dtype: T.DataType | None) -> str:
    """The per-group state aggregate of one counter whose target resolved
    to ``dtype`` (``target_types``).

    A count counter's state is a LONG partial count (operator A1); a
    distinct counter's is a Datasketches HLL sketch BINARY (A3), mergeable
    across partitions, micro-batches, shards and invocations.
    """
    if spec.counter_type == COUNT:
        if spec.target_column == "*":
            return "count(1)"  # F1: count-all
        if isinstance(dtype, T.BooleanType):
            # nil/false rule: false and NULL excluded → count_if
            return f"count_if({_target_sql(spec)})"
        # any non-null value counts (incl. 0, "", false-y non-booleans)
        return f"count({_target_sql(spec)})"
    if spec.counter_type == APPROX_COUNT_DISTINCT:
        target = _target_sql(spec)
        if not isinstance(dtype, _SKETCHABLE):
            target = f"CAST({target} AS STRING)"  # NULL stays NULL (skipped), false counts
        # Benchmarked: Datasketches keeps a SPARSE buffer until per-group
        # cardinality grows, while approx_count_distinct at p=16 allocates
        # a dense ~87 KB HLL++ buffer per (group × partition) — 100× slower
        # on high-group-count windows. Estimates are within the reference's
        # own ε≤0.05 oracle (counter_test.go:66).
        return f"hll_sketch_agg({target}, {HLL_LG_K})"
    raise ValueError(f"unknown counter_type {spec.counter_type!r}")


def merge_state(spec: CounterSpec, state: str) -> str:
    """The aggregate merging many states of ``spec`` into one."""
    return f"sum({state})" if spec.counter_type == COUNT else f"hll_union_agg({state})"


def finalize_state(spec: CounterSpec, state: str) -> str:
    """A state's counter value: the count itself, or the HLL estimate."""
    return state if spec.counter_type == COUNT else f"hll_sketch_estimate({state})"


# ---------------------------------------------------------------------------
# Statement pieces shared by every output path
# ---------------------------------------------------------------------------

# nulls stay explicit, like the reference's json.Marshal of the object
_JSON_OPTIONS = "map('ignoreNullFields', 'false')"

# The output object (counter.go:416-438) and the types its fields have.
_OUTPUT_TYPES = {
    "event_source_arn": T.StringType(), "window_start": T.LongType(),
    "window_end": T.LongType(), "counter_id": T.StringType(),
    "counter_type": T.StringType(), "shard_id": T.StringType(),
    "value": T.LongType(),
}


def _window_groups(specs, types) -> dict[str, list[tuple[CounterSpec, T.DataType | None]]]:
    groups: dict[str, list] = {}
    for spec, dtype in zip(specs, types):
        groups.setdefault(spec.window, []).append((spec, dtype))
    return groups


def _window_aggregate(
    q: Statement, rel: str, group, window: str, ts_col: str, shard_col: str | None,
) -> str:
    """One ``GROUP BY window(ts[, shard])`` holding each counter's final
    value as ``__v{i}``."""
    keys = [f"window({column_ref(ts_col)}, {q.lit(window)})"]
    select = [f"{keys[0]} AS `window`"]
    if shard_col:
        keys.append(column_ref(shard_col))
        select.append(f"{keys[1]} AS __shard_id")
    select += [f"{finalize_state(s, counter_state(s, t))} AS __v{i}"
               for i, (s, t) in enumerate(group)]
    return f"SELECT {', '.join(select)} FROM {rel} GROUP BY {', '.join(keys)}"


def _output_fields(
    q: Statement, spec: CounterSpec, event_source_arn: str | None, shard: bool, value: str,
) -> list[tuple[str, str]]:
    """(name, SQL) of each field of the output object over an aggregate
    row: epoch-milli window bounds (counter.go:418-419), and ``shard_id``
    only with a shard — the reference omits it when empty
    (counter.go:423-425)."""
    fields = [
        ("event_source_arn", q.lit(event_source_arn or spec.input_stream_arn)),
        ("window_start", "unix_millis(`window`.start)"),
        ("window_end", "unix_millis(`window`.end)"),
        ("counter_id", q.lit(spec.id)),
        ("counter_type", q.lit(spec.counter_type)),
    ]
    if shard:
        fields.append(("shard_id", "CAST(__shard_id AS STRING)"))
    fields.append(("value", f"CAST({value} AS BIGINT)"))
    return fields


def _object(fields) -> str:
    return "named_struct(" + ", ".join(f"'{n}', {sql}" for n, sql in fields) + ")"


def _jq_objects(q: Statement, fields, program: str | None) -> str | None:
    """The jq-reshaped output objects (F8), as ``jq.jq_sql``; None when
    ``program`` is the identity."""
    schema = T.StructType([T.StructField(n, _OUTPUT_TYPES[n]) for n, _ in fields])
    return jq_sql(program, _object(fields), schema, q)


def _output_rows(q: Statement, fields, program: str | None) -> str:
    """Select list of a counter's output rows."""
    objs = _jq_objects(q, fields, program)
    if objs is None:
        return ", ".join(f"{sql} AS {n}" for n, sql in fields)
    return f"inline({objs})"


def _output_lines(q: Statement, fields, program: str | None) -> str:
    """ARRAY<STRING> of a counter's output JSON lines: each object
    serialized on its own, nulls explicit, like the reference's per-counter
    output (counter.go:416-466)."""
    objs = _jq_objects(q, fields, program)
    if objs is None:
        return f"array(to_json({_object(fields)}, {_JSON_OPTIONS}))"
    return f"transform({objs}, o -> to_json(o, {_JSON_OPTIONS}))"


def _counter_frames(
    df: DataFrame,
    specs: list[CounterSpec],
    ts_col: str,
    shard_col: str | None,
    event_source_arn: str | None,
) -> dict[str, DataFrame]:
    """The per-counter builder: per-window results of every spec, keyed by id.

    Specs sharing a window share ONE aggregate; each counter is a select
    of its own value column from it. An aggregate read by more than one
    counter is materialized with ``localCheckpoint`` (batch only): each
    counter's frame is its own projection of the aggregate, ColumnPruning
    gives each its own aggregate below that projection, so their exchanges
    differ and a union of the frames would plan one scan per counter (4
    counters over a shard dir: 4 ``FileScan``s; only equal aggregates reuse
    an exchange). ``localCheckpoint`` rather than ``persist``: the
    CacheManager matches persisted plans by canonical plan, so a later call
    over equal input could be served a stale result. ``counter_lines``
    needs neither: its one projection reads every value column.
    """
    out: dict[str, DataFrame] = {}
    with Statement(df.sparkSession) as q:
        rel = q.rel(df)
        groups = _window_groups(specs, target_types(df, specs))
        for window, group in groups.items():
            agg = q.sql(_window_aggregate(q, rel, group, window, ts_col, shard_col))
            if len(group) > 1:
                agg = agg.localCheckpoint()
            agg_rel = q.rel(agg)
            for i, (spec, _) in enumerate(group):
                fields = _output_fields(q, spec, event_source_arn, bool(shard_col), f"__v{i}")
                out[spec.id] = q.sql(
                    f"SELECT {_output_rows(q, fields, spec.jq_expr)} FROM {agg_rel}"
                )
    return out


def counter_lines(
    q: Statement,
    records: str,
    specs: list[CounterSpec],
    event_source_arn: str,
    ts_col: str = "ts",
) -> DataFrame:
    """Every counter's output over the ``records`` query (bound on ``q``)
    as JSON lines, in ONE statement.

    The CLI's batch op. Per window group one ``GROUP BY window(...)``
    holds every counter's state and final value; one projection of it
    serializes each counter's own output object (jq-reshaped when
    ``jq_expr`` is set) and ``posexplode``s them into a ``line`` column,
    in one partition ordered by window start, then window group, then
    config order. Because one projection reads every value column,
    Catalyst plans one scan per window group with no checkpoint: a
    one-window config runs as the aggregate's map stage and one result
    stage. Target types come from one schema read of the records.
    """
    types = _target_types(
        specs, lambda targets: q.sql(f"SELECT {', '.join(targets)} FROM ({records})")
    )
    parts = []
    for g, (window, group) in enumerate(_window_groups(specs, types).items()):
        lines = ", ".join(
            _output_lines(q, _output_fields(q, spec, event_source_arn, False, f"__v{i}"),
                          spec.jq_expr)
            for i, (spec, _) in enumerate(group)
        )
        parts.append(
            f"SELECT `window`.start AS __ws, {g} AS __g, "
            f"posexplode(concat({lines})) AS (__k, line) "
            f"FROM ({_window_aggregate(q, '__records', group, window, ts_col, None)})"
        )
    return q.sql(
        f"WITH __records AS ({records}) "
        f"SELECT /*+ COALESCE(1) */ line FROM ({' UNION ALL '.join(parts)}) "
        "SORT BY __ws, __g, __k"
    )


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
    # epoch-aligned, like the reference's t.Truncate(W) (run.go:148-159)
    keys: list[Column] = [F.window(ts_col, spec.window).alias("window")]
    if shard_col:
        keys.append(F.col(shard_col).cast("string").alias("shard_id"))
    else:
        keys.append(F.lit("").alias("shard_id"))

    (dtype,) = target_types(df, [spec])
    agg = df.groupBy(*keys).agg(F.expr(counter_state(spec, dtype)).alias("state"))
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
    transform like ``build_counter``. The rows are ``build_counter``'s
    without a shard: ``event_source_arn`` is the spec's
    ``input_stream_arn``, as ``build_counter`` emits when given no ARN.
    """
    state = "row_count" if spec.counter_type == COUNT else "hll_sketch"
    with Statement(partials.sparkSession) as q:
        merged = (
            f"SELECT `window`, {finalize_state(spec, merge_state(spec, state))} AS __v "
            f"FROM {q.rel(partials)} WHERE counter_id = {q.lit(spec.id)} "
            f"AND counter_type = {q.lit(spec.counter_type)} GROUP BY `window`"
        )
        fields = _output_fields(q, spec, None, False, "__v")
        return q.sql(f"SELECT {_output_rows(q, fields, spec.jq_expr)} FROM ({merged})")


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
    computed by ONE aggregate over one scan of ``df``, and each returned
    frame selects its own value column from it. Distinct windows still
    read ``df`` once per window group.

    Batch only: when more than one counter reads an aggregate, it is
    materialized with ``localCheckpoint``, because each frame is its own
    projection of it and a union of the frames would otherwise plan one
    scan and one aggregate per counter (``_counter_frames``). The CLI's
    batch op does not come here: ``counter_lines`` serializes every
    counter in one projection of the shared aggregate and needs no
    checkpoint; its ``--follow`` fan-out goes through
    ``streaming.runner.run_counter_stream_once`` per counter.
    """
    return _counter_frames(
        df, config.counters_for_source(event_source_arn), ts_col, shard_col,
        event_source_arn,
    )


def union_counter_results(results: dict[str, DataFrame]) -> DataFrame:
    """Union per-counter results ≈ resp.MergeInto (counter.go:125-149).

    ``allowMissingColumns`` handles jq-reshaped counters whose output
    schema diverges: a row gets every counter's columns, absent ones
    NULL. The reference instead emits each counter's own object
    (counter.go:416-466); to print those, serialize each counter's rows
    before a union, as the CLI does (``counter_lines``, and
    ``sinks.serialized_lines`` per counter under ``--follow``).
    """
    dfs = list(results.values())
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    return out
