"""Structured Streaming parity layer.

The reference's whole runtime contract — per-shard micro-batches, carried
window state, final-invoke emission (counter.go:150-344, run.go:17-270) — is
engine-managed in Structured Streaming: source offsets play GetRecords
(S1/S2), the state store plays CounterState carry, the watermark plays
IsFinalInvokeForWindow. The counter itself is the SAME pure transformation
``build_counter`` used in batch (SURVEY.md §7 design stance).

The six bounded deployments, each run by a registry entry:
- ``run_counter_stream_once``: the counter over a static parquet path or a
  replayed shard directory, ``availableNow`` + complete mode into a memory
  sink, handed back as a batch DataFrame, so streaming execution is
  exercised inside the correctness gate with the same DuckDB oracle as the
  batch path;
- ``stream_two_level``: the reference's two-level aggregate stream, with
  ``partial_counter`` partials crossing a batch-keyed parquet exchange to a
  second job's ``merge_partials``;
- ``stream_segment_dedup`` (first-seen chunk survival against a persisted
  hash index), ``stream_neardup_index`` (MinHash band-index
  probe-and-append) and ``stream_curate`` (the curation funnel as one
  stream), every write batch-keyed for crash-replay idempotence;
- ``stateful.run_stateful_counts_once``: per-key running counts with
  ``applyInPandasWithState``.

The continuous shape — ``readStream`` over the shard files →
``build_counter`` → a ``foreachBatch`` sink, drained once per poll with
the checkpoint carrying offsets between polls — is
``examples/stream_demo.py``; streaming/sinks.py holds the sink writers.

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
from collections.abc import Sequence

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
    "aggregate stream" (≈ putIntermediateRecord, counter.go:493-512),
    batch-keyed so a replayed batch overwrites rather than duplicates.
    Several batches emit several partial rows for the same window — the
    state is mergeable by construction, exactly like the reference's
    per-invoke CounterState carries.

    Level 2 (≈ runAggregate, run.go:201-270 — a separate job in
    production): read the exchange and ``merge_partials`` → one global row
    per window. At scale the exchange holds (windows × shards ×
    micro-batches) bounded sketch/count rows, never raw records, so the
    hand-off stream stays tiny regardless of input volume.
    """
    sdf = _read_stream(spark, path, ts_col, max_files_per_trigger)

    def _emit(batch_df: DataFrame, epoch: int) -> None:
        partials = partial_counter(
            batch_df, spec, ts_col=ts_col, shard_col=shard_col
        )
        _write_batch_keyed(partials, exchange_dir, epoch)

    drain(
        sdf.writeStream.foreachBatch(_emit)
        .option("checkpointLocation", exchange_dir + "_ckpt")
    )
    return merge_partials(_read_batch_keyed(spark, exchange_dir), spec)


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
    reason. Every write is batch-keyed (``_write_batch_keyed``), and every
    history read excludes the current epoch, so a crash-replayed batch
    reproduces its output instead of probing its own partial write.

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
