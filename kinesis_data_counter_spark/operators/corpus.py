"""End-to-end corpus cleaning: the composed pipeline a training-data run
actually executes, built entirely from this engine's operators.

Stage order follows the standard funnel (cheap row-local filters first so
the expensive pair-generating stages see the smallest survivor set):

  quality gate → language gate → exact dedup → near-dup cluster dedup

Every stage is a pure DataFrame transformation, so the whole pipeline is
one lazy plan per output; at 100 TB each survivor set feeding two
consumers (the next stage + its funnel count) should be persisted by the
caller or checkpointed to a table between stages — here the language
survivors (the input to shingling) are persisted because the MinHash
stage scans them twice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kinesis_data_counter_spark.operators.dedup import (
    connected_components,
    deduplicate_exact,
    minhash_lsh_pairs,
)
from kinesis_data_counter_spark.session import fan_out
from kinesis_data_counter_spark.operators.text import (
    detect_language_bulk,
    quality_features,
)


def clean_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    languages: tuple[str, ...] = ("en",),
    jaccard_threshold: float = 0.8,
    num_hashes: int = 96,
    bands: int = 24,
    n: int = 5,
) -> tuple[DataFrame, DataFrame]:
    """Run the cleaning funnel; returns ``(survivors, funnel)``.

    ``survivors`` is the cleaned corpus (original columns). ``funnel`` is a
    single row (n_total, n_quality, n_lang, n_exact, n_clean) — the
    per-stage survivor counts a pipeline run reports.
    """
    cols = df.columns
    # deliberately NOT persisted (unlike the corpus_curate_full builder's
    # qual stage): round-12 quiet interleaved A/Bs (stash alternation,
    # min-of-2 per process × 3 rounds, sf0.1) measured qual.persist() at
    # 14.2/14.8/12.6 s vs 12.5/15.0/11.2 s unpersisted, and
    # qual+exact.persist() at 14.4/14.6/16.7 s vs 12.8/13.8/13.2 s — the
    # funnel's count branches need only the filter bit while a persist
    # materializes the full text column, and the expensive LSH/window
    # subtrees already read the persisted `kept` below. The regex-chain
    # recompute is the cheaper side here; curate_full's trade goes the
    # other way because its downstream consumers re-read the text.
    # fan_out_key=id_col: the language aggregate and the kept join below
    # are keyed on the id, so the quality fan-out exchange is the ONLY
    # shuffle the quality→language→join chain pays (guide §2.4)
    qual = (
        quality_features(df, text_col, fan_out_key=id_col)
        .filter(F.col("quality_ok"))
        .select(*cols)
    )
    lang = detect_language_bulk(qual, text_col, id_col).filter(
        F.col("detected").isin(*languages)
    )
    kept = qual.join(lang.select(F.col("doc_id").alias(id_col)), id_col).persist()
    exact = deduplicate_exact(kept, text_col, id_col)
    pairs = minhash_lsh_pairs(
        exact,
        threshold=jaccard_threshold,
        num_hashes=num_hashes,
        bands=bands,
        n=n,
        text_col=text_col,
        id_col=id_col,
    )
    clusters = connected_components(pairs)
    # drop every clustered doc except its canonical (min-id) representative
    losers = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias(id_col)
    )
    survivors = exact.join(losers, id_col, "left_anti")

    funnel = (
        df.agg(F.count(F.lit(1)).alias("n_total"))
        .crossJoin(qual.agg(F.count(F.lit(1)).alias("n_quality")))
        .crossJoin(kept.agg(F.count(F.lit(1)).alias("n_lang")))
        .crossJoin(exact.agg(F.count(F.lit(1)).alias("n_exact")))
        .crossJoin(survivors.agg(F.count(F.lit(1)).alias("n_clean")))
    )
    return survivors, funnel


def decontaminate(
    train: DataFrame,
    eval_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Flag training documents sharing any ``n``-gram with an eval set.

    Standard benchmark-decontamination construction: distinct eval-set
    shingles form a (usually small, broadcastable) probe side; one semi
    join on the 8-byte shingle hash marks contaminated train docs. The
    shuffle carries hashed shingles, never text; at 100 TB the eval
    shingle set stays millions of rows — broadcast or a cheap hash join.

    Returns the distinct contaminated (doc_id + passthrough cols) rows.
    """
    from kinesis_data_counter_spark.operators.dedup import shingles

    eval_sh = shingles(eval_docs, text_col=text_col, n=n, id_col=id_col).select(
        "shingle"
    ).distinct()
    train_sh = shingles(train, text_col=text_col, n=n, id_col=id_col)
    hits = (
        train_sh.join(F.broadcast(eval_sh), "shingle", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return train.join(hits, train[id_col] == hits.doc_id, "left_semi")


def pack_sequences(
    df: DataFrame,
    budget: int = 2048,
    n_groups: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Concat-then-chunk sequence packing for LLM pretraining batches.

    Documents are concatenated in id order and chunked into fixed
    ``budget``-token sequences — the packing GPT-style pretraining uses
    (docs straddle sequence boundaries; nothing is dropped). Packing runs
    independently inside ``n_groups`` hash groups (``doc_id % n_groups``):
    a single global concatenation order would funnel the cumulative sum
    through ONE window partition (the classic running-total scale trap),
    while group-local packing gives one window partition per group —
    embarrassingly parallel, costing at most ``n_groups`` partially-filled
    tail sequences, negligible against any real corpus.

    Returns one row per document with its placement:
    (doc_id, grp, n_tokens, start_seq, start_offset, end_seq) — sequence
    ids are group-local; a consumer materializing actual token blocks
    reads each doc once and scatters it to [start_seq .. end_seq].
    """
    from pyspark.sql import Window

    from kinesis_data_counter_spark.operators.text import token_count

    t = df.select(
        F.col(id_col).alias("doc_id"),
        (F.col(id_col) % n_groups).alias("grp"),
        token_count(F.col(text_col)).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("grp")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.withColumn("cum_end", F.sum("n_tokens").over(w))
    start = F.col("cum_end") - F.col("n_tokens")
    return c.select(
        "doc_id",
        "grp",
        "n_tokens",
        start.cast("long").alias("__s"),
        "cum_end",
    ).select(
        "doc_id",
        "grp",
        "n_tokens",
        F.expr(f"__s div {budget}").alias("start_seq"),
        (F.col("__s") % budget).alias("start_offset"),
        F.when(F.col("n_tokens") == 0, F.expr(f"__s div {budget}"))
        .otherwise(F.expr(f"(cum_end - 1) div {budget}"))
        .alias("end_seq"),
    )


def doc_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_words: int = 8,
) -> DataFrame:
    """(id, pos, chunk): fixed ``chunk_words``-word segments per document
    (the shared chunking of ``segment_dedup`` and its streaming twin).
    ``pos`` is the 0-based chunk position; the last chunk may be short.

    NULL and empty texts contribute ZERO chunks (an empty document has no
    segments): without the explicit filter a NULL text silently vanished
    (``size(NULL)`` is NULL → no explode rows) while an empty string
    produced a degenerate ``\"\"`` segment that chained every empty doc
    into one dedup group — both found by the NULL-key property tests."""
    cw = int(chunk_words)
    ws = F.split(F.col(text_col), " ")
    df = df.filter(F.col(text_col).isNotNull() & (F.length(text_col) > 0))
    return df.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.ceil(F.size(ws) / F.lit(cw)).cast("int")),
                lambda i: F.array_join(
                    F.slice(ws, (i - F.lit(1)) * F.lit(cw) + F.lit(1), cw), " "
                ),
            )
        ).alias("pos", "chunk"),
    )


def segment_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_words: int = 8,
) -> DataFrame:
    """Cross-document segment-level exact dedup (the C4/CCNet line-dedup
    pattern): split every document into fixed ``chunk_words``-word
    segments, keep each distinct segment's globally FIRST occurrence
    (ordered by (doc_id, position)), drop every other occurrence, and
    reassemble the surviving segments per document.

    Unlike whole-document dedup this removes boilerplate and copied spans
    *inside* otherwise-distinct documents — near-dup docs share long runs
    of identical chunks even when the full texts differ. Word-aligned
    fixed chunks stand in for the newline-split of real web text (the
    fixtures are single-line word streams); production callers on
    line-structured text would split on ``\\n`` upstream and feed lines.

    Plan shape (no Python anywhere):
      split → chunk via ``transform(sequence(...))`` → posexplode
      → min(struct(doc_id, pos)) over a window partitioned by the chunk
        hash  [one shuffle on the hash; the chunk rows stay in hand, so
        no join-back and no second execution of the explode subtree]
      → groupBy(doc).collect_list → array_sort → array_join [one shuffle on doc]

    First-occurrence selection partitions by the CHUNK HASH — no
    single-partition funnel (per-key window state is the occurrence count
    of one segment text, spilled by the window sorter if a segment is
    pathologically universal); both shuffles scale with the data.

    Returns one row per input doc:
    (doc_id, text_out, n_kept int, n_dropped int); ``text_out`` is ''
    when every segment of the doc appeared earlier elsewhere.
    """
    # first-occurrence selection on the 64-bit chunk hash — an 8-byte
    # shuffle key instead of the raw segment string (same trade as the
    # shingle pipeline; collisions ~|chunks|²/2⁶⁴). min(struct) as a
    # WINDOW over the hash, not an agg + join-back: two consumers of the
    # chunk table would re-execute the whole split+explode subtree per
    # consumer (the boilerplate_removal lesson) — the window computes the
    # first occurrence on ONE exchange with the chunk rows in hand
    chunks = doc_chunks(df, text_col, id_col, chunk_words).withColumn(
        "__h", F.xxhash64("chunk")
    )
    marked = chunks.withColumn(
        "f",
        F.min(F.struct(F.col(id_col), F.col("pos"))).over(
            Window.partitionBy("__h")
        ),
    ).withColumn(
        "__keep",
        (F.col("f")[id_col] == F.col(id_col)) & (F.col("f.pos") == F.col("pos")),
    )
    out = marked.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("__keep"), F.struct("pos", "chunk"))
                    )
                ),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("text_out"),
        F.count_if(F.col("__keep")).cast("int").alias("n_kept"),
        F.count_if(~F.col("__keep")).cast("int").alias("n_dropped"),
    )
    # re-attach docs that contributed zero chunks (NULL/empty text) — a
    # curation pipeline must not silently lose documents; the join is
    # doc_id-keyed over two already-per-doc tables, the cheapest exchange
    # in the pipeline
    docs = df.select(F.col(id_col)).distinct()
    return docs.join(out, id_col, "left").select(
        F.col(id_col),
        F.coalesce("text_out", F.lit("")).alias("text_out"),
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.coalesce("n_dropped", F.lit(0)).alias("n_dropped"),
    )


def duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_doc_df: int = 2,
) -> DataFrame:
    """Cross-document exact substring spans at EVERY token offset — the
    Spark-first formulation of suffix-array training-data dedup (Lee et
    al. 2021, "Deduplicating Training Data Makes Language Models Better"):
    find every maximal token span whose ``k``-grams each occur in at least
    ``min_doc_df`` distinct documents, i.e. text copied verbatim across
    documents regardless of alignment.

    Complements the aligned-chunk family: :func:`segment_dedup` and
    :func:`boilerplate_removal` only see ``chunk_words``-ALIGNED segments,
    so a copied paragraph starting mid-chunk slips both; here grams slide
    one token at a time, so any shared run of ≥ ``k`` tokens is caught and
    adjacent duplicated grams merge into one maximal span (the suffix
    array's role, played by an island merge).

    Plan shape (no Python anywhere, no joins):
      split → every-offset grams via ``transform(sequence(...))`` →
      posexplode → ONE exchange on the 8-byte gram hash shared by both
      windows (lag(doc) marks one row per (gram, doc); sum(marks) over
      the gram IS count_distinct(doc) — the boilerplate_removal idiom)
      → row-local df filter → ONE exchange on doc_id: island key =
      pos − row_number() merges consecutive duplicated positions →
      per-(doc, island) aggregate = the maximal spans.

    Scale: the gram exchange carries ≈ one (hash, doc, pos) row per corpus
    TOKEN (~20 bytes/token) — linear, no quadratic pair term anywhere; the
    suffix array this replaces is super-linear to build and single-machine.
    Within-doc-only repeats (doc_df < min_doc_df) are excluded by
    construction — repetition inside one document is
    :func:`~..text.repetition_features`'s concern.

    Returns one row per maximal span:
    (doc_id, span_start, span_end, n_grams, span_tokens), positions
    1-based token indices, ``span_end`` the last token COVERED (gram start
    + k − 1).
    """
    w = F.split(F.col(text_col), " ")
    ng = F.size(w) - (k - 1)  # docs shorter than k tokens have no k-gram
    grams = F.transform(
        F.sequence(F.lit(1), ng),
        lambda i: F.struct(
            i.alias("pos"),
            F.xxhash64(F.array_join(F.slice(w, i, k), " ")).alias("__h"),
        ),
    )
    # fan_out: one xxhash64 per token offset is per-row-expensive compute
    # that would serialize on a single-file input's lone scan task; no-op
    # on any multi-split source (the 100 TB layout)
    g = (
        fan_out(df.filter(ng >= 1), id_col)
        .select(F.col(id_col).alias("doc_id"), F.explode(grams).alias("g"))
        .select("doc_id", "g.pos", "g.__h")
    )
    by_hash = Window.partitionBy("__h").orderBy("doc_id", "pos")
    marked = g.withColumn(
        "__first_in_doc",
        F.when(
            F.lag("doc_id").over(by_hash).isNull()
            | (F.lag("doc_id").over(by_hash) != F.col("doc_id")),
            1,
        ).otherwise(0),
    )
    whole_hash = Window.partitionBy("__h").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    dup = marked.withColumn(
        "__doc_df", F.sum("__first_in_doc").over(whole_hash)
    ).filter(F.col("__doc_df") >= min_doc_df)
    by_doc = Window.partitionBy("doc_id").orderBy("pos")
    islands = dup.select(
        "doc_id",
        "pos",
        (F.col("pos") - F.row_number().over(by_doc)).alias("__isl"),
    )
    return islands.groupBy("doc_id", "__isl").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + (k - 1)).alias("span_end"),
        F.count(F.lit(1)).alias("n_grams"),
        (F.max("pos") + (k - 1) - F.min("pos") + 1).alias("span_tokens"),
    ).drop("__isl")


def quality_tiers(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    mode: str = "sketch",
    k: int = 200,
) -> DataFrame:
    """Tier documents into high/mid/low thirds by LM quality score (the
    CCNet "keep the best third" selection).

    ``mode="sketch"`` (the 100 TB path) reads the two tercile cutoffs from
    a KLL sketch of the score distribution — one bounded-state aggregate,
    a broadcast of two doubles, and a row-local CASE; no global sort
    anywhere. ``mode="exact"`` ranks with a global window ordered by
    (score desc, doc_id) — deterministic and oracle-replayable, but the
    window funnels through one task, so it exists for oracles and small
    corpora, not scale (same caveat as ``rfm_segments``' ntile).
    The sketch path's tiers agree with exact on all but the boundary
    scores within the sketch's rank tolerance (property-tested).

    Returns (doc_id, avg_logprob double, tier string in high|mid|low).
    """
    from pyspark.sql import Window

    from kinesis_data_counter_spark.operators.text import lm_quality_score

    scored = lm_quality_score(df, text_col, id_col).select(
        "doc_id", "avg_logprob"
    )
    if mode == "exact":
        w = Window.orderBy(F.desc("avg_logprob"), F.asc("doc_id"))
        tot = scored.agg(F.count(F.lit(1)).alias("__n"))
        ranked = scored.withColumn("__rn", F.row_number().over(w)).crossJoin(
            F.broadcast(tot)
        )
        tier = (
            F.when(F.col("__rn") <= F.floor(F.col("__n") / 3), "high")
            .when(F.col("__rn") <= F.floor(2 * F.col("__n") / 3), "mid")
            .otherwise("low")
        )
        return ranked.select("doc_id", "avg_logprob", tier.alias("tier"))
    if mode != "sketch":
        raise ValueError(f"mode must be sketch|exact, got {mode!r}")
    cuts = scored.agg(
        F.kll_sketch_agg_double(F.col("avg_logprob"), F.lit(int(k))).alias("sk")
    ).select(
        F.kll_sketch_get_quantile_double("sk", F.lit(2.0 / 3)).alias("__hi"),
        F.kll_sketch_get_quantile_double("sk", F.lit(1.0 / 3)).alias("__mid"),
    )
    tier = (
        F.when(F.col("avg_logprob") > F.col("__hi"), "high")
        .when(F.col("avg_logprob") > F.col("__mid"), "mid")
        .otherwise("low")
    )
    return scored.crossJoin(F.broadcast(cuts)).select(
        "doc_id", "avg_logprob", tier.alias("tier")
    )


def boilerplate_removal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_words: int = 8,
    max_docs: int = 2,
) -> DataFrame:
    """Frequency-thresholded boilerplate removal (the CCNet/RefinedWeb
    repeated-line rule): split documents into fixed ``chunk_words``-word
    segments, drop every segment whose text appears in MORE THAN
    ``max_docs`` distinct documents, and reassemble the survivors per doc.

    Complements :func:`segment_dedup` (first-occurrence survival): here a
    segment shared by a handful of documents survives EVERYWHERE — only
    corpus-wide boilerplate (navigation chrome, cookie banners, license
    headers) crosses the document-frequency threshold and is removed from
    ALL documents including the first. Within-document repeats of a
    below-threshold segment are all kept (repetition inside one document
    is :func:`~..text.repetition_features`'s concern, not boilerplate).

    Plan shape (no Python anywhere):
      split → chunk via ``transform(sequence(...))`` → posexplode
      → ONE exchange on the 8-byte chunk hash, shared by both windows
      → lag(doc) over (hash ORDER BY doc, pos) marks one representative
        row per (chunk, doc); sum(marks) over (hash) IS
        count_distinct(doc) — no frequency agg, no join-back, the
        explode subtree runs exactly once
      → row-local keep flag (document frequency ≤ max_docs)
      → groupBy(doc).collect_list → array_sort → array_join [one shuffle]

    The document frequency comes from WINDOW functions over one chunk-hash
    exchange, not from an agg + join-back: a chunk table with two
    consumers (a frequency agg and a join) re-executes the whole
    split+explode subtree per consumer — two scans and double the chunking
    CPU (the round-7 corpus_curate_web lesson: count consumers of an
    intermediate, not just shuffles — and plain repartition does NOT fix
    it, because per-branch column pruning makes the exchanges
    non-identical so nothing is reused). Sorted by (doc, pos) within the
    hash, a null-safe ``lag(doc) != doc`` marks one representative per
    (chunk, doc), and summing those marks over (hash) is exactly
    count_distinct(doc) — NULL ids excluded like count_distinct — and
    both windows partition by the hash alone, sharing ONE exchange and
    one sort.

    Per-key window state is bounded by the docs sharing one chunk text —
    large only for the corpus-wide boilerplate the operator exists to
    remove, and spilled by the window sorter, never collected.

    Returns one row per input doc (docs with NULL/empty text included):
    (doc_id, text_out, n_kept int, n_dropped int); ``text_out`` is ''
    when every segment of the doc is corpus-wide boilerplate.
    """
    chunks = doc_chunks(df, text_col, id_col, chunk_words).withColumn(
        "__h", F.xxhash64("chunk")
    )
    # document frequency per distinct segment: the 64-bit hash is the
    # shuffle key (8 bytes instead of the raw string, same trade as
    # segment_dedup; collisions ~|chunks|²/2⁶⁴)
    # BOTH windows partition by the hash alone so they share ONE exchange
    # and one sort (a (hash, doc) partition spec would force a second
    # shuffle for the per-hash sum): sorted by (doc, pos) within the
    # hash, a row opens a new document exactly when lag(doc) differs —
    # summing those openers over the hash partition is count_distinct(doc)
    w_sorted = Window.partitionBy("__h").orderBy(id_col, "pos")
    w_h = Window.partitionBy("__h")
    prev_doc = F.lag(F.col(id_col)).over(w_sorted)
    # null-safe boundary + NULL ids excluded: count_distinct skips NULLs,
    # so a NULL-id chunk must contribute no document evidence here either
    marked = (
        chunks.withColumn(
            "__f",
            ~prev_doc.eqNullSafe(F.col(id_col))
            & F.col(id_col).isNotNull(),
        )
        .withColumn(
            "__df", F.sum(F.when(F.col("__f"), 1).otherwise(0)).over(w_h)
        )
        .withColumn("__keep", F.col("__df") <= F.lit(int(max_docs)))
    )
    out = marked.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("__keep"), F.struct("pos", "chunk"))
                    )
                ),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("text_out"),
        F.count_if(F.col("__keep")).cast("int").alias("n_kept"),
        F.count_if(~F.col("__keep")).cast("int").alias("n_dropped"),
    )
    # docs whose text yields zero chunks (NULL/empty) must survive with
    # empty output — same document-preservation rule as segment_dedup
    docs = df.select(F.col(id_col)).distinct()
    return docs.join(out, id_col, "left").select(
        F.col(id_col),
        F.coalesce("text_out", F.lit("")).alias("text_out"),
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.coalesce("n_dropped", F.lit(0)).alias("n_dropped"),
    )


def chunk_overlap(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    size: int = 32,
    stride: int = 24,
) -> DataFrame:
    """Overlapping retrieval chunking (the RAG indexing fan-out): emit a
    word-aligned window of ``size`` words starting every ``stride`` words,
    so consecutive chunks overlap by ``size - stride`` words and no
    sentence is ever split across a chunk boundary without also appearing
    whole in a neighbor.

    Distinct from :func:`doc_chunks` (non-overlapping, dedup granularity)
    and :func:`pack_sequences` (training-sequence packing): this is the
    one-to-many fan-out an embedding/indexing stage consumes. Start
    positions are 0, stride, 2·stride, … while start < n_words; the last
    chunk may be short. NULL/empty texts yield zero chunks (same rule as
    ``doc_chunks`` — an empty document has nothing to index).

    Entirely built-in expressions — ``transform(sequence(...))`` +
    ``posexplode`` fan out row-locally inside whole-stage codegen; there
    is no shuffle at all, so the operator scales embarrassingly.

    Returns (doc_id, chunk_id int 0-based, chunk string, n_words int).
    """
    if not (0 < int(stride) <= int(size)):
        raise ValueError(
            f"need 0 < stride <= size, got size={size} stride={stride}"
        )
    sz, st = int(size), int(stride)
    ws = F.split(F.col(text_col), " ")
    out = (
        df.filter(F.col(text_col).isNotNull() & (F.length(text_col) > 0))
        .select(
            F.col(id_col),
            F.posexplode(
                F.transform(
                    F.sequence(
                        F.lit(0),
                        F.floor((F.size(ws) - F.lit(1)) / F.lit(st)).cast(
                            "int"
                        ),
                    ),
                    lambda k: F.array_join(
                        F.slice(ws, k * F.lit(st) + F.lit(1), sz), " "
                    ),
                )
            ).alias("chunk_id", "chunk"),
        )
    )
    return out.withColumn(
        "n_words", F.size(F.split(F.col("chunk"), " ")).cast("int")
    )


def erase_subjects(
    df: DataFrame,
    subjects: DataFrame,
    subject_col: str,
    table_name: str,
) -> tuple[DataFrame, DataFrame]:
    """Right-to-erasure (GDPR art. 17) propagation over one table.

    ``subjects`` is the deletion-request set (one column named
    ``subject_col``). Returns ``(retained, audit)``: the table minus all
    rows belonging to a requested subject (LEFT ANTI join), plus a
    one-row audit frame (table, n_total, n_purged, n_retained,
    n_subjects_hit) — the compliance evidence a deletion run must emit.

    Scale: the request set is small (legal requests, not data-sized), so
    the anti and semi joins broadcast it — no shuffle of the fact table;
    the audit's two counts are computed from one persisted flag column
    pass rather than two scans. Only partitions containing a hit need
    rewriting, which parquet min/max stats on the subject column identify
    without reading row data.
    """
    s = F.broadcast(subjects.select(F.col(subject_col)).distinct())
    flagged = df.join(
        s.withColumn("__hit", F.lit(True)), [subject_col], "left"
    ).withColumn("__hit", F.coalesce("__hit", F.lit(False)))
    retained = flagged.filter(~F.col("__hit")).drop("__hit")
    audit = flagged.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count_if(F.col("__hit")).alias("n_purged"),
        # derived (not a filtered count) so NULL-subject rows — which can
        # never match a request and are always retained — are counted the
        # same way by any oracle: retained ≡ total − purged
        (F.count(F.lit(1)) - F.count_if(F.col("__hit"))).alias("n_retained"),
        F.count_distinct(F.when(F.col("__hit"), F.col(subject_col))).alias(
            "n_subjects_hit"
        ),
    ).select(F.lit(table_name).alias("table_name"), "*")
    return retained, audit
