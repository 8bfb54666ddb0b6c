"""Structured Streaming parity layer.

The reference's whole runtime contract — per-shard micro-batches, carried
window state, final-invoke emission (counter.go:150-344, run.go:17-270) — is
engine-managed in Structured Streaming: source offsets play GetRecords
(S1/S2), the state store plays CounterState carry, the watermark plays
IsFinalInvokeForWindow. The counter itself is the SAME pure transformation
``build_counter`` used in batch (SURVEY.md §7 design stance).

Two entry points:
- ``stream_counter``: production shape — readStream → watermark →
  build_counter → sink via ``foreachBatch`` dispatch (streaming/sinks.py).
- ``run_counter_stream_once``: test/driver shape — run the stream over a
  static parquet path with ``availableNow`` + complete mode into a memory
  sink and hand back the result as a batch DataFrame, so streaming execution
  is exercised inside the correctness gate with the same DuckDB oracle as
  the batch path.

Beyond the counter core, the streamed-operator inventory (each the
micro-batch deployment of an oracled batch operator, every write
batch-keyed for crash-replay idempotence): ``stream_two_level`` /
``stream_quantile_rollup`` / ``stream_cms_rollup`` / ``stream_topk_rollup``
(mergeable-sketch exchanges across a job/storage boundary, sharing one
level 1, ``_exchange_rollup``),
``stream_segment_dedup`` (first-seen chunk survival against a persisted
hash index), ``stream_neardup_index`` (MinHash band-index probe-and-append),
``stream_ann_index`` + ``ann_index_probe`` (frozen-model IVF-PQ index
maintenance and querying), ``stream_gated_ingest`` (expectations-gated
admit/quarantine), ``stream_dedup`` (exactly-once-by-id),
``stream_stream_interval_join``, ``stream_enrich``, ``stream_sessionize``.

Every bounded run above goes through ONE lifecycle, ``drain(writer)``:
start the query with the ``availableNow`` trigger (everything available
at start, in one or more micro-batches, then stop), wait up to
``_DRAIN_TIMEOUT_S`` seconds, and stop it. A query still running at the
deadline is stopped and raises ``TimeoutError`` — its tables are partial
and no caller may read them as a finished drain. A failing micro-batch
propagates as ``StreamingQueryException``, again after the stop.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Callable, Sequence

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from kinesis_data_counter_spark.config import CounterSpec
from kinesis_data_counter_spark.operators.counter import (
    build_counter,
    merge_partials,
    partial_counter,
)
from kinesis_data_counter_spark.session import configure_session, run_concurrently


def _read_stream(
    spark: SparkSession,
    path: str,
    ts_col: str | None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-based streaming source with the fixture's nanos-timestamp quirk.

    Schema comes from a batch peek (file sources need an explicit schema);
    TIMESTAMP(NANOS) columns surface as LONG under ``nanosAsLong`` and are
    converted exactly like the batch loader so both paths see identical data.
    ``max_files_per_trigger`` splits a bounded drain into several
    micro-batches (tests use it to exercise cross-batch state).
    """
    configure_session(spark)
    from kinesis_data_counter_spark.sources.replay_source import (
        is_shard_dir,
        open_shard_records,
    )

    if is_shard_dir(path):
        # a simulated Kinesis stream: the replay source already yields
        # micro-batches bounded by per-shard sequence offsets
        return open_shard_records(spark, path, streaming=True, ts_col=ts_col)
    batch = spark.read.parquet(path)
    # the streaming file source requires a directory; a concrete file path
    # becomes dir + pathGlobFilter so sibling tables in the fixture dir are
    # not picked up
    reader = spark.readStream.schema(batch.schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    if os.path.isfile(path):
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    sdf = reader.parquet(path)
    if ts_col is not None and isinstance(sdf.schema[ts_col].dataType, T.LongType):
        sdf = sdf.withColumn(ts_col, F.timestamp_micros(F.expr(f"{ts_col} div 1000")))
    return sdf


# Upper bound on one bounded drain, in seconds. Read when ``drain`` runs
# (not bound as a default), so a test can shrink it with monkeypatch.
_DRAIN_TIMEOUT_S = 300


def drain(writer: DataStreamWriter) -> StreamingQuery:
    """Run a configured stream writer to the end of its input.

    Starts ``writer`` with the ``availableNow`` trigger and waits for it.
    The query is stopped in every case; a timeout raises ``TimeoutError``
    and a failed micro-batch raises ``StreamingQueryException``. Returns
    the stopped query, whose ``recentProgress`` stays readable.
    """
    q = writer.trigger(availableNow=True).start()
    try:
        if not q.awaitTermination(_DRAIN_TIMEOUT_S):
            raise TimeoutError(
                f"streaming query {q.name or q.id} did not drain within "
                f"{_DRAIN_TIMEOUT_S} s"
            )
    finally:
        q.stop()
    return q


def stream_counter(
    spark: SparkSession,
    path: str,
    spec: CounterSpec,
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    shard_col: str | None = None,
) -> DataFrame:
    """Unbounded counter: readStream → watermark → tumbling-window agg.

    Append-mode semantics: a window's row is emitted once the watermark
    passes ``window.end + watermark`` — the engine-managed analog of the
    reference's IsFinalInvokeForWindow emission (counter.go:339-344), with
    late-data tolerance the reference lacks (SURVEY.md §2.5).
    Attach a sink with ``.writeStream`` / ``foreachBatch`` (see sinks.py).
    """
    sdf = _read_stream(spark, path, ts_col).withWatermark(ts_col, watermark)
    return build_counter(sdf, spec, ts_col=ts_col, shard_col=shard_col)


def run_counter_stream_once(
    spark: SparkSession,
    path: str,
    spec: CounterSpec,
    ts_col: str = "ts",
    event_source_arn: str | None = None,
) -> DataFrame:
    """Run the streaming counter over a bounded path and return the result.

    ``availableNow`` drains every file then stops; complete output mode emits
    all windows (append would withhold windows past the final watermark —
    documented difference, SURVEY.md §7 hard-part (d)). The memory sink
    collects on the driver: test/driver harness only, not a production sink.
    """
    out = build_counter(
        _read_stream(spark, path, ts_col), spec, ts_col=ts_col,
        event_source_arn=event_source_arn,
    )
    name = f"counter_stream_{uuid.uuid4().hex[:12]}"
    drain(
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
    )
    return spark.table(name)


def run_counter_stream_update_once(
    spark: SparkSession,
    path: str,
    spec: CounterSpec,
    ts_col: str = "ts",
    max_files_per_trigger: int | None = 1,
    event_source_arn: str | None = None,
) -> DataFrame:
    """Run the streaming counter in UPDATE mode, keeping every emission.

    The third emission discipline next to append (emit once, final, late
    data dropped — the reference's IsFinalInvokeForWindow) and complete
    (re-emit everything): update mode emits a window's CURRENT value in
    every micro-batch that changed it — provisional results immediately,
    corrections as stragglers arrive. Downstream consumers reconcile by
    (window, key) last-write-wins, exactly how a serving table over a
    stream of upserts works; the LAST emission per window equals the batch
    answer, which is what the parity test pins.

    Returns (batch_id, window_start, window_end, value) — every emission,
    not just the final ones; test/driver harness (foreachBatch appends to
    a driver-side list, bounded by the fixture size).
    """
    out = build_counter(
        _read_stream(spark, path, ts_col, max_files_per_trigger),
        spec,
        ts_col=ts_col,
        event_source_arn=event_source_arn,
    )
    rows: list = []

    def _collect(batch_df: DataFrame, epoch: int) -> None:
        for r in batch_df.collect():  # bounded: updated windows only
            rows.append((epoch, r["window_start"], r["window_end"], r["value"]))

    drain(
        out.writeStream.foreachBatch(_collect)
        .outputMode("update")
    )
    return spark.createDataFrame(
        rows, "batch_id long, window_start long, window_end long, value long"
    )


def _exchange_rollup(
    spark: SparkSession,
    path: str,
    exchange_dir: str,
    partials: Callable[[DataFrame, int], DataFrame],
    ts_col: str,
    max_files_per_trigger: int | None,
) -> DataFrame:
    """Level 1 of every sketch exchange: drain the stream over ``path``,
    appending each micro-batch's ``partials(batch_df, epoch)`` batch-keyed
    to ``exchange_dir`` (replays overwrite, not duplicate), and return the
    whole exchange for the caller's level-2 merge."""
    sdf = _read_stream(spark, path, ts_col, max_files_per_trigger)

    def _emit(batch_df: DataFrame, epoch: int) -> None:
        _write_batch_keyed(partials(batch_df, epoch), exchange_dir, epoch)

    drain(
        sdf.writeStream.foreachBatch(_emit)
        .option("checkpointLocation", exchange_dir + "_ckpt")
    )
    return _read_batch_keyed(spark, exchange_dir)


def stream_two_level(
    spark: SparkSession,
    path: str,
    spec: CounterSpec,
    exchange_dir: str,
    ts_col: str = "ts",
    shard_col: str | None = None,
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """The reference's two-level aggregate-stream topology across a REAL
    job/storage boundary.

    Level 1 (≈ the per-shard Lambda): each micro-batch is partially
    aggregated with ``partial_counter`` and APPENDED to a parquet
    "aggregate stream" (≈ putIntermediateRecord, counter.go:493-512).
    Several batches emit several partial rows for the same window — the
    state is mergeable by construction, exactly like the reference's
    per-invoke CounterState carries.

    Level 2 (≈ runAggregate, run.go:201-270 — a separate job in
    production): read the exchange and ``merge_partials`` → one global row
    per window. At scale the exchange holds (windows × shards ×
    micro-batches) bounded sketch/count rows, never raw records, so the
    hand-off stream stays tiny regardless of input volume.
    """
    exchange = _exchange_rollup(
        spark, path, exchange_dir,
        lambda b, _: partial_counter(b, spec, ts_col=ts_col, shard_col=shard_col),
        ts_col, max_files_per_trigger,
    )
    return merge_partials(exchange, spec)


def stream_quantile_rollup(
    spark: SparkSession,
    path: str,
    exchange_dir: str,
    value_col: str = "value",
    group_col: str | None = "event_type",
    shard_col: str | None = None,
    quantiles: tuple[float, ...] = (0.5, 0.95, 0.99),
    k: int = 200,
    ts_col: str = "ts",
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """``stream_two_level`` for rank statistics: per-micro-batch KLL
    partials (operators/sketches.py::quantile_partials) appended to the
    exchange — batch-keyed, so replays overwrite, not duplicate — and
    merged by a second job via ``merge_quantile_partials``.

    The exchange holds (groups × shards × micro-batches) bounded KLL
    states, never value rows; this is the streaming shape
    ``percentile_approx`` cannot take, since its aggregation state cannot
    leave its job.
    """
    from kinesis_data_counter_spark.operators import sketches as SK

    exchange = _exchange_rollup(
        spark, path, exchange_dir,
        lambda b, _: SK.quantile_partials(
            b, value_col, group_col=group_col, shard_col=shard_col, k=k),
        ts_col, max_files_per_trigger,
    )
    return SK.merge_quantile_partials(exchange, quantiles=quantiles, k=k)


def stream_cms_rollup(
    spark: SparkSession,
    path: str,
    exchange_dir: str,
    item_col: str = "event_type",
    depth: int = 4,
    hex_chars: int = 2,
    ts_col: str = "ts",
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """``stream_two_level`` for frequencies: per-micro-batch count-min
    cell partials (operators/sketches.py::cms_partials, batch id as the
    shard) appended batch-keyed to the exchange — replays overwrite, not
    duplicate — and merged cellwise by a second job via ``cms_merge``.

    The exchange holds (micro-batches × depth × width) bounded cell rows,
    never item rows, and the merged sketch answers point queries for ANY
    item seen or unseen — the property a streamed `topk` state (which
    tracks a bounded item set) cannot give. Returns the merged cell table;
    feed it to ``cms_point_estimates``.
    """
    from kinesis_data_counter_spark.operators import sketches as SK

    exchange = _exchange_rollup(
        spark, path, exchange_dir,
        lambda b, epoch: SK.cms_partials(
            b, item_col, depth=depth, hex_chars=hex_chars,
            shard_col=F.lit(str(epoch))),
        ts_col, max_files_per_trigger,
    )
    return SK.cms_merge(exchange)


def stream_topk_rollup(
    spark: SparkSession,
    path: str,
    exchange_dir: str,
    item_col: str = "event_type",
    k: int = 10,
    max_items_tracked: int = 4096,
    ts_col: str = "ts",
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """``stream_two_level`` for heavy hitters: per-micro-batch
    ``approx_top_k_accumulate`` states (operators/sketches.py::
    topk_partials, batch id as the shard) appended batch-keyed to the
    exchange and combined by a second job via ``merge_topk_partials``.

    With this, every mergeable sketch family the engine ships — counts/HLL
    (stream_two_level), KLL quantiles (stream_quantile_rollup), count-min
    (stream_cms_rollup), and top-k — crosses the same replay-idempotent
    exchange. State per batch is O(max_items_tracked), never item rows.
    """
    from kinesis_data_counter_spark.operators import sketches as SK

    exchange = _exchange_rollup(
        spark, path, exchange_dir,
        lambda b, epoch: SK.topk_partials(
            b, item_col, max_items_tracked=max_items_tracked,
            shard_col=F.lit(str(epoch))),
        ts_col, max_files_per_trigger,
    )
    return SK.merge_topk_partials(
        exchange, k=k, max_items_tracked=max_items_tracked)


def stream_segment_dedup(
    spark: SparkSession,
    path: str,
    work_dir: str,
    chunk_words: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """Segment-level dedup deployed as a stream: first-SEEN occurrence of
    each chunk survives, across all batches.

    The incremental shape mirrors ``stream_neardup_index``: each
    micro-batch resolves its own within-batch first occurrences, anti-joins
    the winners against the persisted chunk index (64-bit chunk hashes —
    compact, equality-equivalent at the ~|chunks|²/2⁶⁴ collision level),
    reassembles the batch's docs from the survivors, and appends only its
    NEW chunk hashes to the index. Per-batch work is proportional to the
    batch, never to history; the index read excludes the current batch id,
    so a replayed batch after a crash reproduces — not poisons — its own
    output (the ``_write_batch_keyed`` idempotency contract).

    Returns the accumulated deduped docs: (doc_id, text_out, n_kept int,
    n_dropped int) — the streaming equivalent of
    ``operators/corpus.py::segment_dedup`` with arrival order replacing
    (doc_id, pos) order as the global tie-break.
    """
    sdf = _read_stream(spark, path, None, max_files_per_trigger)
    idx_dir = work_dir + "/chunk_index"
    out_dir = work_dir + "/docs"

    def _emit(batch_df: DataFrame, epoch: int) -> None:
        _segment_dedup_batch(
            spark, batch_df, epoch, idx_dir, out_dir,
            chunk_words=chunk_words, text_col=text_col, id_col=id_col,
        )

    drain(
        sdf.writeStream.foreachBatch(_emit)
        .option("checkpointLocation", work_dir + "/_ckpt")
    )
    return _read_batch_keyed(spark, out_dir)


def _segment_dedup_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    epoch: int,
    idx_dir: str,
    out_dir: str,
    chunk_words: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """One ``stream_segment_dedup`` micro-batch (module-level so the
    replay contract is directly testable): resolve within-batch first
    occurrences, anti-join the index EXCLUDING this epoch's own partition
    (a replayed batch must reproduce its output, not be poisoned by its
    crashed attempt's partial write), write docs + new hashes batch-keyed.
    """
    from kinesis_data_counter_spark.operators import corpus as CP

    chunks = CP.doc_chunks(batch_df, text_col, id_col, chunk_words)
    chunks = chunks.withColumn("__h", F.xxhash64("chunk")).persist()
    first = chunks.groupBy("__h").agg(
        F.min(F.struct(F.col(id_col), F.col("pos"))).alias("f")
    )
    winners = (
        chunks.join(first, "__h")
        .where(
            (F.col("f")[id_col] == F.col(id_col))
            & (F.col("f.pos") == F.col("pos"))
        )
        .select(id_col, "pos", "chunk", "__h")
    )
    try:
        seen = (
            _batch_keyed_reader(spark, idx_dir).parquet(idx_dir)
            .where(F.col("batch") != epoch)  # replay safety
            .select("__h")
        )
        fresh = winners.join(seen, "__h", "left_anti")
    except AnalysisException as exc:
        # Only the first-batch missing-index path may be treated as an
        # empty index; a transient/corrupt-file read error must propagate
        # so the batch retries instead of silently re-admitting seen
        # hashes (which would disable cross-batch dedup for the batch).
        if "PATH_NOT_FOUND" not in str(exc) and "Path does not exist" not in str(exc):
            raise
        fresh = winners
    fresh = fresh.persist()
    kept = fresh.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "chunk"))),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("text_out"),
        F.count(F.lit(1)).cast("int").alias("n_kept"),
    )
    # anchor on the batch's doc list, not the chunk table: docs whose text
    # yields zero chunks (NULL/empty) must still emit an output row
    counts = chunks.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("int").alias("__tot")
    )
    tot = (
        batch_df.select(F.col(id_col)).distinct()
        .join(counts, id_col, "left")
        .withColumn("__tot", F.coalesce("__tot", F.lit(0)))
    )
    out = (
        tot.join(kept, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("text_out", F.lit("")).alias("text_out"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            (F.col("__tot") - F.coalesce("n_kept", F.lit(0))).alias(
                "n_dropped"
            ),
        )
    )
    # both tables consume the persisted fresh/chunks cutpoints and are
    # otherwise independent
    _write_batch_keyed_many(
        [(out, out_dir), (fresh.select("__h"), idx_dir)], epoch
    )
    fresh.unpersist()
    chunks.unpersist()


def _write_batch_keyed(df: DataFrame, root: str, epoch: int) -> None:
    """Idempotent foreachBatch append: each batch OVERWRITES its own
    ``batch=<id>`` subdirectory, so a batch replayed after a crash between
    the write and the checkpoint commit replaces its previous output
    instead of duplicating it — exactly-once table contents on top of
    Structured Streaming's at-least-once foreachBatch contract.

    The write goes through an AQE REBALANCE (guide §6: coalesce on write):
    these tables inherit their parent's partitioning — often a 32-way
    fan-out exchange or cache — so a bare write emits one near-empty file
    per partition (measured 32 files per table per batch at sf0.1, 96-file
    directories that every subsequent ``_history``/``_read_batch_keyed``
    read must list and open). REBALANCE sizes output partitions by
    ``spark.sql.adaptive.advisoryPartitionSizeInBytes``, so a small batch
    lands as one right-sized file while a production-sized batch still
    fans out across the cluster — the same code path at both scales."""
    df.hint("rebalance").write.mode("overwrite").parquet(f"{root}/batch={epoch}")
    # record the written schema so same-process readers skip parquet
    # schema inference (footer sampling): measured ~0.1 s per inferred
    # read vs ~0.03 s with an explicit schema, and a streaming drain does
    # ~3 history reads per batch plus the final drained-table reads. At
    # production scale footer-sampling a many-file table is strictly
    # worse. Schema only — never results; a fresh process (crash replay,
    # external reader) simply falls back to inference.
    _WRITTEN_SCHEMAS[root] = df.schema


# process-local registry of batch-keyed table schemas, keyed by table root
_WRITTEN_SCHEMAS: dict[str, "T.StructType"] = {}


def _write_batch_keyed_many(items, epoch: int) -> None:
    """``_write_batch_keyed`` for each (df, root) pair, as concurrent jobs.
    Safe because the writes target disjoint table roots and every shared
    upstream is persisted — concurrent materialization of a cached parent
    is serialized per block by the block manager's write locks, so the
    parent still computes once."""
    run_concurrently(
        [lambda d=d, r=r: _write_batch_keyed(d, r, epoch) for d, r in items]
    )


def _batch_keyed_reader(spark: SparkSession, root: str):
    """A parquet reader for a ``_write_batch_keyed`` table, with the
    explicit written schema (+ the ``batch`` partition column) when this
    process wrote the table."""
    sch = _WRITTEN_SCHEMAS.get(root)
    if sch is None:
        return spark.read
    full = T.StructType(
        list(sch.fields) + [T.StructField("batch", T.IntegerType())]
    )
    return spark.read.schema(full)


def _read_batch_keyed(spark: SparkSession, root: str) -> DataFrame:
    """Read a ``_write_batch_keyed`` table; the lifted ``batch`` partition
    column is an implementation detail and is dropped."""
    return _batch_keyed_reader(spark, root).parquet(root).drop("batch")


def stream_neardup_index(
    spark: SparkSession,
    path: str,
    work_dir: str,
    threshold: float = 0.8,
    num_hashes: int = 96,
    bands: int = 24,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """Incremental near-dup curation deployed as a stream.

    The steady-state corpus-dedup deployment: documents arrive in
    micro-batches; each batch probes the PERSISTED MinHash band index for
    near-dup pairs touching the batch — batch×history plus batch×batch,
    never history×history — then appends its bands to the index and its
    documents to the corpus store. Per-batch work is proportional to the
    increment (operators/dedup.py::incremental_minhash_pairs); the index
    grows by |batch| × bands fixed-width rows per batch, and exact-Jaccard
    verification reads only the candidate documents from the store.

    ``work_dir`` holds the three tables a real deployment keeps anyway:
    ``bands/`` (the LSH index), ``docs/`` (the accepted corpus), and
    ``pairs/`` (the audit log of detected near-dups). Returns all pairs
    found so far. Doc ids must be globally unique across batches.
    """
    import os

    from kinesis_data_counter_spark.operators.dedup import (
        incremental_minhash_pairs,
        minhash_band_table,
        minhash_lsh_pairs,
    )

    bands_dir = os.path.join(work_dir, "bands")
    docs_dir = os.path.join(work_dir, "docs")
    pairs_dir = os.path.join(work_dir, "pairs")
    sdf = _read_stream(
        spark, path, ts_col=None, max_files_per_trigger=max_files_per_trigger
    )

    def _process(batch_df: DataFrame, epoch: int) -> None:
        # every write below is batch-keyed (_write_batch_keyed): a replayed
        # epoch overwrites its own pairs/bands/docs output, preserving the
        # "doc ids globally unique" invariant across crash-replays
        batch_df = batch_df.select(id_col, text_col).persist()
        # the batch's band table has THREE consumers with incompatible
        # exchange shapes (probe side of the pair join, the union build
        # side, the index append), so ReusedExchange cannot share it —
        # persist it so the 96-hash signature pass runs ONCE per batch
        # (measured: the un-shared variant recomputed it 3x and tripled
        # the per-batch cost at sf0.1). Batch-sized: |batch| x bands
        # fixed-width rows.
        inc_bands = minhash_band_table(
            batch_df, num_hashes, bands, n, text_col, id_col
        ).persist()
        if os.path.isdir(bands_dir):
            pairs = incremental_minhash_pairs(
                batch_df,
                history=_read_batch_keyed(spark, docs_dir),
                threshold=threshold,
                num_hashes=num_hashes,
                bands=bands,
                n=n,
                text_col=text_col,
                id_col=id_col,
                history_bands=_read_batch_keyed(spark, bands_dir),
                increment_bands=inc_bands,
            )
        else:  # first batch: no history yet — pairs within the batch only
            # (the persisted inc_bands doubles as the self-join band table,
            # so the 96-hash signature pass still runs once per batch)
            pairs = minhash_lsh_pairs(
                batch_df, threshold=threshold, num_hashes=num_hashes,
                bands=bands, n=n, text_col=text_col, id_col=id_col,
                bands_table=inc_bands,
            )
        # independent consumers of the persisted batch_df/inc_bands
        # cutpoints
        _write_batch_keyed_many(
            [
                (pairs, pairs_dir),
                (inc_bands, bands_dir),
                (
                    batch_df.select(
                        F.col(id_col).alias(id_col),
                        F.col(text_col).alias(text_col),
                    ),
                    docs_dir,
                ),
            ],
            epoch,
        )
        inc_bands.unpersist()
        batch_df.unpersist()

    drain(
        sdf.writeStream.foreachBatch(_process)
        .option("checkpointLocation", os.path.join(work_dir, "_ckpt"))
    )
    return _read_batch_keyed(spark, pairs_dir)


def stream_ann_index(
    spark: SparkSession,
    path: str,
    work_dir: str,
    dim: int,
    num_lists: int = 16,
    m: int = 8,
    ksub: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """Incremental IVF-PQ index maintenance deployed as a stream.

    The embedding-index steady state: vectors arrive in micro-batches;
    the FIRST batch trains the frozen model (IVF centroids + PQ
    codebooks — retraining would invalidate every previously written
    code, so a real deployment freezes them exactly like this and
    re-indexes offline when drift demands it), persists it under
    ``work_dir/model/``, and every batch appends its (id, codes,
    list_id) rows to ``index/`` and its float vectors to ``vecs/`` —
    both batch-keyed, so crash-replays overwrite their own output
    (the ``_write_batch_keyed`` contract shared by every streamed
    index here). Per-batch work is one map-only assign+encode pass over
    the increment; the index grows by |batch| 8-byte-code rows.

    Queries probe the materialized tables with
    ``similarity.ivf_pq_probe`` via :func:`ann_index_probe`.
    Returns the accumulated code index. Ids must be globally unique.
    """
    from kinesis_data_counter_spark.operators.similarity import (
        ivf_assign,
        pq_encode,
    )

    index_dir = os.path.join(work_dir, "index")
    vecs_dir = os.path.join(work_dir, "vecs")
    sdf = _read_stream(
        spark, path, ts_col=None, max_files_per_trigger=max_files_per_trigger
    )

    def _process(batch_df: DataFrame, epoch: int) -> None:
        batch_df = batch_df.select(id_col, vec_col).persist()
        cents, books = _load_or_train_ann_model(
            work_dir, batch_df, dim, num_lists, m, ksub, id_col, vec_col
        )
        inv = ivf_assign(batch_df, cents, nprobe=1, id_col=id_col, vec_col=vec_col)
        codes = pq_encode(inv, books, "vec_id", "embedding", keep=("list_id",))
        _write_batch_keyed_many(
            [(codes, index_dir), (batch_df.select(id_col, vec_col), vecs_dir)],
            epoch,
        )
        batch_df.unpersist()

    drain(
        sdf.writeStream.foreachBatch(_process)
        .option("checkpointLocation", os.path.join(work_dir, "_ckpt"))
    )
    return _read_batch_keyed(spark, index_dir)


def _load_or_train_ann_model(
    work_dir: str,
    batch_df: DataFrame,
    dim: int,
    num_lists: int,
    m: int,
    ksub: int,
    id_col: str,
    vec_col: str,
):
    """Load the frozen (centroids, codebooks) model, training it from the
    current batch if absent. Training is deterministic (md5-ticket sample,
    seeded init), so a crash between save and checkpoint-commit replays to
    the identical model. Local files stand in for the object store a real
    deployment would use."""
    import json as _json

    import numpy as _np

    from kinesis_data_counter_spark.operators.similarity import (
        ivf_centroids,
        pq_train_codebooks,
    )

    model_dir = os.path.join(work_dir, "model")
    cents_path = os.path.join(model_dir, "centroids.json")
    books_path = os.path.join(model_dir, "codebooks.npy")
    if os.path.exists(cents_path) and os.path.exists(books_path):
        with open(cents_path) as f:
            cents = [(int(i), [float(x) for x in v]) for i, v in _json.load(f)]
        return cents, _np.load(books_path)
    cents = ivf_centroids(batch_df, num_lists, dim, id_col, vec_col)
    books = pq_train_codebooks(
        batch_df, dim, m, ksub, id_col=id_col, vec_col=vec_col
    )
    os.makedirs(model_dir, exist_ok=True)
    tmp = books_path + ".tmp.npy"
    _np.save(tmp, books)
    os.replace(tmp, books_path)
    with open(cents_path + ".tmp", "w") as f:
        _json.dump(cents, f)
    os.replace(cents_path + ".tmp", cents_path)
    return cents, books


def ann_index_probe(
    spark: SparkSession,
    work_dir: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    refine: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query a ``stream_ann_index`` deployment: load the frozen model,
    read the materialized code/vector tables, run the IVF-PQ probe plan
    (list-equi-join → ADC → exact refine). Output:
    (query_id, rank, neighbor_id, sim)."""
    import json as _json

    import numpy as _np

    from kinesis_data_counter_spark.operators.similarity import ivf_pq_probe

    with open(os.path.join(work_dir, "model", "centroids.json")) as f:
        cents = [(int(i), [float(x) for x in v]) for i, v in _json.load(f)]
    books = _np.load(os.path.join(work_dir, "model", "codebooks.npy"))
    codes = _read_batch_keyed(spark, os.path.join(work_dir, "index")).select(
        F.col("vec_id").alias("neighbor_id"), "codes", "list_id"
    )
    vectors = _read_batch_keyed(spark, os.path.join(work_dir, "vecs")).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    return ivf_pq_probe(
        codes, vectors, queries, cents, books,
        k=k, nprobe=nprobe, refine=refine, id_col=id_col, vec_col=vec_col,
    )


def stream_classifier_gate(
    spark: SparkSession,
    path: str,
    work_dir: str,
    label_col: str = "label",
    text_col: str = "text",
    id_col: str = "doc_id",
    admit_labels: tuple[str, ...] = ("keep",),
    vocab_size: int = 2048,
    min_margin: float | None = None,
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """The model-based curation gate deployed as a stream.

    The production shape of ``operators/classify.py``: documents arrive
    in micro-batches; the FIRST batch's labeled rows train the frozen NB
    model (persisted under ``work_dir/model/`` — the stream_ann_index
    freeze discipline: re-training mid-stream would make the gate's
    decisions time-dependent, so a real deployment freezes the model and
    swaps it offline), and every batch — including the first — is scored
    by one broadcast-join pass and routed: predictions in
    ``admit_labels`` land in ``accepted/``, the rest in ``rejected/``,
    both rows carrying (predicted, score) as the audit trail. All writes
    are batch-keyed, so a crash-replayed batch re-scores under the SAME
    frozen model and overwrites its own routing — idempotent.

    ``min_margin`` turns on selective prediction: a document is admitted
    only if its decision margin (top minus runner-up score) clears the
    threshold — low-confidence docs land in rejected/ carrying their
    margin, the review queue a production gate routes to a stronger
    model or a human.

    Per-batch work is proportional to the increment: the model is a
    bounded class x vocab table (broadcast), scoring is two
    map-side-combined aggregations, no per-batch state beyond the frozen
    model. Returns the accumulated accepted table.
    """
    from kinesis_data_counter_spark.operators import classify as CL

    accepted_dir = os.path.join(work_dir, "accepted")
    rejected_dir = os.path.join(work_dir, "rejected")
    sdf = _read_stream(
        spark, path, ts_col=None, max_files_per_trigger=max_files_per_trigger
    )

    def _process(batch_df: DataFrame, epoch: int) -> None:
        batch_df = batch_df.persist()
        model = _load_or_train_nb_model(
            spark, work_dir, batch_df, label_col, text_col, vocab_size
        )
        # NULL-id docs have no identity to join predictions back onto —
        # they go straight to rejected/ (predicted NULL) instead of
        # silently falling out of BOTH audit tables at the inner join
        with_id = batch_df.filter(F.col(id_col).isNotNull())
        no_id = (
            batch_df.filter(F.col(id_col).isNull())
            .withColumn("predicted", F.lit(None).cast("string"))
            .withColumn("score", F.lit(None).cast("double"))
        )
        if min_margin is not None:
            no_id = no_id.withColumn("margin", F.lit(None).cast("double"))
        if min_margin is None:
            scored = CL.nb_score(
                with_id.select(id_col, text_col), model, text_col=text_col,
                id_col=id_col,
            )
        else:
            scored = CL.nb_score_margins(
                with_id.select(id_col, text_col), model, text_col=text_col,
                id_col=id_col,
            )
        routed = with_id.join(scored, id_col).persist()
        admit = F.col("predicted").isin(*admit_labels)
        if min_margin is not None:
            # margin is NULL for a single-class frozen model (no runner-up)
            # — a bare `margin >= min_margin` is NULL then, and the doc
            # would vanish from BOTH filter(admit) and filter(~admit).
            # NULL margin = no evidence of confidence → route to rejected/.
            admit = admit & F.coalesce(
                F.col("margin") >= min_margin, F.lit(False)
            )
        _write_batch_keyed_many(
            [
                (routed.filter(admit), accepted_dir),
                (
                    routed.filter(~admit).unionByName(
                        no_id.select(*routed.columns)
                    ),
                    rejected_dir,
                ),
            ],
            epoch,
        )
        routed.unpersist()
        batch_df.unpersist()

    drain(
        sdf.writeStream.foreachBatch(_process)
        .option("checkpointLocation", os.path.join(work_dir, "_ckpt"))
    )
    return _read_batch_keyed(spark, accepted_dir)


def _load_or_train_nb_model(
    spark: SparkSession,
    work_dir: str,
    batch_df: DataFrame,
    label_col: str,
    text_col: str,
    vocab_size: int,
):
    """Load the frozen NB model (two bounded parquet tables), training it
    from the current batch's labeled rows if absent. Training is
    deterministic (aggregations + a tie-broken TakeOrdered vocabulary),
    so a crash between save and checkpoint-commit replays to the same
    model CONTENT; the directory swap is atomic via os.rename."""
    import shutil

    from kinesis_data_counter_spark.operators import classify as CL

    model_dir = os.path.join(work_dir, "model")
    table_dir = os.path.join(model_dir, "table")
    priors_dir = os.path.join(model_dir, "priors")
    if os.path.exists(table_dir) and os.path.exists(priors_dir):
        return CL.NBModel(
            table=spark.read.parquet(table_dir),
            priors=spark.read.parquet(priors_dir),
        )
    model = CL.nb_train(
        batch_df.filter(F.col(label_col).isNotNull()),
        label_col=label_col,
        text_col=text_col,
        vocab_size=vocab_size,
    )
    # an unlabeled seed batch would freeze an EMPTY model whose scoring
    # emits no rows — silent data loss. Fail loudly instead: the gate
    # needs a labeled first batch (or a pre-trained model directory).
    if model.priors.limit(1).count() == 0:
        raise ValueError(
            "stream_classifier_gate: the seed batch carried no labeled "
            f"rows ({label_col} all NULL) — cannot train the frozen model"
        )
    tmp = model_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    model.table.write.parquet(os.path.join(tmp, "table"))
    model.priors.write.parquet(os.path.join(tmp, "priors"))
    os.rename(tmp, model_dir)
    return CL.NBModel(
        table=spark.read.parquet(table_dir),
        priors=spark.read.parquet(priors_dir),
    )


def stream_gated_ingest(
    spark: SparkSession,
    path: str,
    work_dir: str,
    expectations: list[dict],
    refs: dict[str, DataFrame] | None = None,
    max_files_per_trigger: int | None = 1,
) -> tuple[DataFrame, DataFrame]:
    """Contract-gated ingestion: each micro-batch is admitted ONLY if it
    passes every data-quality expectation; failing batches land in
    quarantine WITH their violation report instead of poisoning the
    accepted table.

    This is the streaming circuit breaker for a curation pipeline: a bad
    upstream deploy (nulled keys, broken enum, duplicate ids) stops at
    the batch boundary — the accepted table stays clean, and the
    quarantined batch + its per-rule report is the retry/debug artifact.
    Validation is the same single-scan wide aggregate as the batch
    operator (``metrics.validate_expectations``); writes are batch-keyed
    so crash-replays re-validate and overwrite their own verdict.

    Returns ``(accepted, reports)`` — all admitted rows and every batch's
    validation report (with ``batch_id`` and ``admitted`` columns).
    """
    from kinesis_data_counter_spark.metrics import validate_expectations

    accepted_dir = os.path.join(work_dir, "accepted")
    quarantine_dir = os.path.join(work_dir, "quarantine")
    reports_dir = os.path.join(work_dir, "reports")
    sdf = _read_stream(
        spark, path, ts_col=None, max_files_per_trigger=max_files_per_trigger
    )

    def _process(batch_df: DataFrame, epoch: int) -> None:
        batch_df = batch_df.persist()
        report = validate_expectations(batch_df, expectations, refs=refs).persist()
        ok = report.agg(F.min(F.col("ok").cast("int"))).collect()[0][0]
        admitted = bool(ok == 1)
        _write_batch_keyed(
            report.withColumn("batch_id", F.lit(epoch).cast("long"))
            .withColumn("admitted", F.lit(admitted)),
            reports_dir,
            epoch,
        )
        _write_batch_keyed(
            batch_df, accepted_dir if admitted else quarantine_dir, epoch
        )
        # a replayed batch that flips verdict (e.g. ref table changed)
        # must not leave its rows in BOTH tables: clear the other side's
        # partition for this epoch
        other = quarantine_dir if admitted else accepted_dir
        _write_batch_keyed(batch_df.limit(0), other, epoch)
        report.unpersist()
        batch_df.unpersist()

    drain(
        sdf.writeStream.foreachBatch(_process)
        .option("checkpointLocation", os.path.join(work_dir, "_ckpt"))
    )
    return (
        _read_batch_keyed(spark, accepted_dir),
        _read_batch_keyed(spark, reports_dir),
    )


def stream_curate(
    spark: SparkSession,
    path: str,
    work_dir: str,
    threshold: float = 0.8,
    num_hashes: int = 96,
    bands: int = 24,
    n: int = 5,
    languages: Sequence[str] = ("en",),
    text_col: str = "text",
    id_col: str = "doc_id",
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """The curation capstone deployed as ONE stream (VERDICT r4 item 6):
    quality gate → language filter → exact dedup → near-dup band-index
    probe, per micro-batch; leakage-safe split + per-split accounting at
    drain time. After all batches drain, the result EQUALS the batch
    ``corpus_curate_full`` registry entry when documents arrive in
    ascending-id order (arrival order plays the batch path's min-id
    survivor tie-break, the ``stream_segment_dedup`` stance).

    Per-batch work is proportional to the batch: the quality/language
    gate is row-local; exact dedup anti-joins the batch's min-id winners
    against the persisted CONTENT-HASH index; near-dup candidates come
    from probing the persisted MinHash BAND index (batch×history +
    batch×batch, never history×history — ``incremental_minhash_pairs``).
    Rows rejected by the gate land batch-keyed in ``rejected/`` with a
    reason, the ``stream_gated_ingest`` quarantine discipline. Every
    write is batch-keyed (``_write_batch_keyed``), and every history read
    excludes the current epoch, so a crash-replayed batch reproduces its
    output instead of probing its own partial write.

    The drain-time split is NOT a shortcut: split assignment keys on the
    near-dup cluster representative, a function of the FINAL pair graph —
    any deployment recomputes it from the maintained pair log (∝ near-dup
    population, not corpus). Returns (split, n_docs, n_tokens).
    """
    import kinesis_data_counter_spark.operators.sampling as SP
    from kinesis_data_counter_spark.operators.text import token_count

    sdf = _read_stream(
        spark, path, ts_col=None, max_files_per_trigger=max_files_per_trigger
    )

    def _process(batch_df: DataFrame, epoch: int) -> None:
        _curate_batch(
            spark, batch_df, epoch, work_dir,
            threshold=threshold, num_hashes=num_hashes, bands=bands, n=n,
            languages=languages, text_col=text_col, id_col=id_col,
        )

    drain(
        sdf.writeStream.foreachBatch(_process)
        .option("checkpointLocation", os.path.join(work_dir, "_ckpt"))
    )

    docs = _read_batch_keyed(spark, os.path.join(work_dir, "docs"))
    pairs = _read_batch_keyed(spark, os.path.join(work_dir, "pairs")).select(
        "a_id", "b_id"
    )
    split = SP.leakage_safe_split(docs, pairs, id_col=id_col)
    return split.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col(text_col))).cast("long").alias("n_tokens"),
    )


def _curate_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    epoch: int,
    work_dir: str,
    threshold: float = 0.8,
    num_hashes: int = 96,
    bands: int = 24,
    n: int = 5,
    languages: Sequence[str] = ("en",),
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """One ``stream_curate`` micro-batch (module-level so the replay
    contract is directly testable, like ``_segment_dedup_batch``)."""
    import kinesis_data_counter_spark.operators.text as TX
    from kinesis_data_counter_spark.operators.dedup import (
        incremental_minhash_pairs,
        minhash_band_table,
        minhash_lsh_pairs,
        normalize_text,
    )
    from pyspark.sql import Window

    hash_dir = os.path.join(work_dir, "content_hashes")
    bands_dir = os.path.join(work_dir, "bands")
    docs_dir = os.path.join(work_dir, "docs")
    pairs_dir = os.path.join(work_dir, "pairs")
    rejected_dir = os.path.join(work_dir, "rejected")

    def _history(root: str) -> DataFrame | None:
        # exclude this epoch's own (possibly crashed, partial) write
        try:
            return (
                _batch_keyed_reader(spark, root).parquet(root)
                .where(F.col("batch") != epoch)
                .drop("batch")
            )
        except AnalysisException as exc:
            if "PATH_NOT_FOUND" not in str(exc) and "Path does not exist" not in str(exc):
                raise
            return None

    base = batch_df.select(id_col, text_col).persist()
    # fan_out_key=id_col: the lang aggregate + gate join downstream are
    # id-keyed — one exchange serves the whole per-batch gate chain
    qual = TX.quality_features(base, text_col, fan_out_key=id_col)
    lang = TX.detect_language_bulk(
        qual.filter(F.col("quality_ok")).select(id_col, text_col),
        text_col, id_col,
    )
    gated = (
        qual.select(id_col, text_col, "quality_ok")
        .join(lang.select(id_col, "detected"), id_col, "left")
        .withColumn(
            "__reason",
            F.when(~F.col("quality_ok"), F.lit("quality"))
            .when(~F.col("detected").isin(*languages), F.lit("language")),
        )
        .persist()
    )
    kept = gated.filter(F.col("__reason").isNull()).select(id_col, text_col)

    # exact dedup: batch-local min-id winner per content hash, then
    # anti-join the persisted hash index (first-seen across batches)
    hashed = kept.withColumn("__h", F.md5(normalize_text(F.col(text_col))))
    w = Window.partitionBy("__h").orderBy(F.col(id_col))
    winners = (
        hashed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    seen = _history(hash_dir)
    fresh = (
        winners.join(seen, "__h", "left_anti") if seen is not None else winners
    ).persist()

    # near-dup pairs touching this batch's exact survivors. The batch's
    # band table has three exchange-incompatible consumers (probe side,
    # union build side, index append) — persist it so the signature pass
    # runs once per batch (same fix as stream_neardup_index)
    fresh_docs = fresh.select(id_col, text_col)
    fresh_bands = minhash_band_table(
        fresh_docs, num_hashes, bands, n, text_col, id_col
    ).persist()
    hist_docs, hist_bands = _history(docs_dir), _history(bands_dir)
    if hist_bands is not None and hist_docs is not None:
        pairs = incremental_minhash_pairs(
            fresh_docs, history=hist_docs, threshold=threshold,
            num_hashes=num_hashes, bands=bands, n=n,
            text_col=text_col, id_col=id_col, history_bands=hist_bands,
            increment_bands=fresh_bands,
        )
    else:  # first batch: pairs within the batch only — the persisted
        # fresh_bands doubles as the self-join band table (the signature
        # pass runs once per batch, as in stream_neardup_index)
        pairs = minhash_lsh_pairs(
            fresh_docs, threshold=threshold, num_hashes=num_hashes,
            bands=bands, n=n, text_col=text_col, id_col=id_col,
            bands_table=fresh_bands,
        )
    # ALL five tail tables are independent consumers of the persisted
    # base/gated/fresh/fresh_bands cutpoints — write them as ONE wave of
    # concurrent jobs. The rejected and content-hash writes
    # used to run as two earlier sequential waves, paying two extra job
    # tails per micro-batch; nothing reads rejected_dir, and nothing in
    # this batch reads hash_dir (the exact-dedup anti-join read its
    # HISTORY — epoch != N — before this point), so ordering among the
    # five writes is free. Shared cached parents still compute once
    # (block-manager write locks), exactly as in the three-way wave this
    # replaces, and each batch=N directory is still overwritten whole on
    # crash replay, so the idempotency contract is unchanged.
    _write_batch_keyed_many(
        [
            (
                gated.filter(F.col("__reason").isNotNull())
                .select(id_col, F.col("__reason").alias("reason")),
                rejected_dir,
            ),
            (fresh.select("__h"), hash_dir),
            (pairs.select("a_id", "b_id"), pairs_dir),
            (fresh_bands, bands_dir),
            (fresh_docs, docs_dir),
        ],
        epoch,
    )
    fresh_bands.unpersist()
    fresh.unpersist()
    gated.unpersist()
    base.unpersist()


def stream_drift_monitor(
    spark: SparkSession,
    path: str,
    work_dir: str,
    ref: DataFrame,
    numeric_cols: Sequence[str] = (),
    categorical_cols: Sequence[str] = (),
    bins: int = 10,
    threshold: float = 0.2,
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """Streaming distribution-drift monitor: every micro-batch is scored
    against a frozen reference slice with the batch PSI operator
    (``metrics.drift_report``), and the per-column report rows land
    batch-keyed — the continuous twin of the one-shot drift check a
    recurring ingest runs.

    The reference is persisted ONCE here (its bounds/bucket aggregates
    re-run per batch off the cached partitions, never a re-scan of the
    source); each batch then pays one scan of ITSELF, exactly like the
    batch operator. Reports are written with ``_write_batch_keyed``, so a
    crash-replayed batch recomputes and overwrites its own verdict —
    alerting stays idempotent across restarts.

    Returns the report table: drift_report's columns plus ``batch_id``.
    """
    from kinesis_data_counter_spark.metrics import drift_report

    reports_dir = os.path.join(work_dir, "reports")
    ref = ref.persist()
    ref.count()  # materialize before the first batch races in
    sdf = _read_stream(
        spark, path, ts_col=None, max_files_per_trigger=max_files_per_trigger
    )

    def _process(batch_df: DataFrame, epoch: int) -> None:
        rep = drift_report(
            ref,
            batch_df,
            numeric_cols=tuple(numeric_cols),
            categorical_cols=tuple(categorical_cols),
            bins=bins,
            threshold=threshold,
        )
        _write_batch_keyed(
            rep.withColumn("batch_id", F.lit(epoch).cast("long")),
            reports_dir,
            epoch,
        )

    try:
        drain(
            sdf.writeStream.foreachBatch(_process)
            .option("checkpointLocation", os.path.join(work_dir, "_ckpt"))
        )
    finally:
        ref.unpersist()
    return _read_batch_keyed(spark, reports_dir)


def stream_dedup(
    spark: SparkSession,
    path: str,
    id_cols: Sequence[str] = ("event_id",),
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming exactly-once-by-key ingestion: drop re-delivered records.

    The reference re-emits every record after a CLI restart (LATEST
    iterator, run.go:74) and leaves dedup to downstream consumers;
    Kinesis itself is at-least-once. ``dropDuplicatesWithinWatermark``
    turns that into exactly-once-by-id inside the engine: the state store
    remembers each id until the watermark passes, so a duplicate arriving
    within the re-delivery horizon is dropped and state is bounded by
    (arrival rate × watermark) instead of growing forever — the property
    plain ``dropDuplicates`` on a stream lacks.

    Scale note: state is hash-partitioned by id across executors; size the
    watermark to the real re-delivery horizon (Kinesis resharding/retry ≈
    minutes), not to the analytics window.
    """
    sdf = _read_stream(spark, path, ts_col, max_files_per_trigger).withWatermark(
        ts_col, watermark
    )
    return sdf.dropDuplicatesWithinWatermark(list(id_cols))


def run_dedup_counter_once(
    spark: SparkSession,
    path: str,
    spec: CounterSpec,
    id_cols: Sequence[str] = ("event_id",),
    ts_col: str = "ts",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Dedup → counter over a bounded path (test/driver harness).

    Composition of the two streaming stages: re-delivered records are
    dropped first, then the surviving stream feeds the windowed counter —
    so a doubled input produces the same counts as the clean input.
    """
    deduped = stream_dedup(
        spark, path, id_cols, ts_col, max_files_per_trigger=max_files_per_trigger
    )
    out = build_counter(deduped, spec, ts_col=ts_col)
    name = f"dedup_counter_{uuid.uuid4().hex[:12]}"
    drain(
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
    )
    return spark.table(name)


def stream_stream_interval_join(
    spark: SparkSession,
    path: str,
    left_type: str = "click",
    right_type: str = "purchase",
    horizon: str = "INTERVAL 2 HOURS",
    watermark: str = "30 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Watermarked stream-stream join: attribute each right event to the
    same user's left events within ``horizon`` after them.

    The canonical attribution shape (click → purchase). Both sides carry
    watermarks and the join condition bounds right.ts to
    [left.ts, left.ts + horizon], which is what lets the engine EXPIRE
    join state: a buffered left row can be dropped once the right
    watermark passes its ts + horizon — without the time bound the state
    grows forever (Spark rejects unbounded stream-stream inner joins on
    append). The reference has no join at all (SURVEY.md §2.5); this is
    the streaming-native upgrade of the batch range join in
    operators/joins.py.

    Scale note: state is hash-partitioned by user_id; its size is bounded
    by (arrival rate × (horizon + watermark)) per side — size the horizon
    to the real attribution window.
    """
    base = _read_stream(spark, path, ts_col)
    left = (
        base.where(F.col("event_type") == left_type)
        .select(
            F.col("user_id"),
            F.col(ts_col).alias("l_ts"),
            F.col("event_id").alias("l_id"),
        )
        .withWatermark("l_ts", watermark)
    )
    right = (
        base.where(F.col("event_type") == right_type)
        .select(
            F.col("user_id").alias("r_user_id"),
            F.col(ts_col).alias("r_ts"),
            F.col("event_id").alias("r_id"),
            F.col("value"),
        )
        .withWatermark("r_ts", watermark)
    )
    return left.join(
        right,
        F.expr(
            f"user_id = r_user_id AND r_ts >= l_ts AND r_ts <= l_ts + {horizon}"
        ),
    ).select("user_id", "l_id", "r_id", "l_ts", "r_ts", "value")


def stream_enrich(
    spark: SparkSession,
    path: str,
    dim: DataFrame,
    on: Sequence[str],
    ts_col: str = "ts",
) -> DataFrame:
    """Stream-static dimension enrichment: join the stream to a batch dim.

    The third join shape next to batch (operators/joins.py) and
    stream-stream (above): the static side is planned as a broadcast hash
    join per micro-batch, so enrichment adds NO streaming state at all —
    the dimension rides to executors once per plan. This is how per-event
    lookups (user → segment, stream → config) run at 100 TB: broadcast if
    the dim fits, else pre-bucket both sides on the key.
    """
    from pyspark.sql.functions import broadcast

    return _read_stream(spark, path, ts_col).join(broadcast(dim), list(on))


def stream_sessionize(
    spark: SparkSession,
    path: str,
    gap: str = "30 minutes",
    ts_col: str = "ts",
    key_col: str = "user_id",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Unbounded sessionization: ``session_window`` merges events closer
    than ``gap`` in event time, per key.

    Reuses the batch ``session_count`` operator unchanged (the batch-core
    design stance): the state store keeps one open session per active key,
    the watermark closes and evicts sessions whose end has passed — the
    dynamic-gap analog of the tumbling counter's window close. In append
    mode a session row is final once emitted; state is bounded by the
    number of keys active inside the watermark horizon, not by history.
    """
    from kinesis_data_counter_spark.operators.windows import session_count

    sdf = _read_stream(spark, path, ts_col).withWatermark(ts_col, watermark)
    return session_count(sdf, key_col=key_col, ts_col=ts_col, gap=gap)


def run_sessionize_stream_once(
    spark: SparkSession,
    path: str,
    gap: str = "30 minutes",
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Drain a bounded path through the streaming sessionizer (test/driver
    harness; complete output mode emits every session like the batch op —
    append would withhold sessions past the final watermark)."""
    from kinesis_data_counter_spark.operators.windows import session_count

    out = session_count(
        _read_stream(spark, path, ts_col), key_col=key_col, ts_col=ts_col, gap=gap
    )
    name = f"sessionize_stream_{uuid.uuid4().hex[:12]}"
    drain(
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
    )
    return spark.table(name)
