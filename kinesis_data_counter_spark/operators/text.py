"""Text-analysis operators for training-data pipelines (SURVEY.md §7 Phase 5).

Language-ID, quality scoring, token counting, and document fingerprinting —
all pure built-in column expressions (codegen-eligible, zero Python in the
hot path), each deliberately specified so the identical rule set is
expressible in ANSI SQL for the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as SW
from pyspark.sql import functions as F

from kinesis_data_counter_spark.session import fan_out

# Marker stopwords per language for the n-gram/stopword-hit heuristic.
# Deliberately tiny and explicit: the oracle mirrors these lists verbatim.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "de": ("der", "die", "und", "nicht", "ist"),
    "es": ("el", "la", "que", "de", "es"),
    "fr": ("le", "la", "et", "les", "des"),
    "zh": ("的", "是", "不", "了", "在"),
}
# deterministic tie order: higher score wins, then this priority
LANG_PRIORITY = ("en", "de", "es", "fr", "zh")

STOPWORDS = LANG_MARKERS["en"]


def tokens_lower(text: Column) -> Column:
    """Lower-cased whitespace tokens — compute ONCE per row and share.

    Each language score filters the same token array; materializing the
    split in its own projection (``withColumn``) lets every score reuse it
    instead of re-splitting per language (~2× on the lang-ID path — the
    duplicate subtrees are not common-subexpression-eliminated across the
    score expressions otherwise).
    """
    return F.split(F.lower(text), r"\s+")


def _token_hits(toks: Column, words: tuple[str, ...]) -> Column:
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def detect_language_bulk(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, detected) language ID for a whole corpus — the scale path.

    Stopword-hit language ID: the argmax of per-language marker counts,
    'und' when no marker hits, ties resolved by ``LANG_PRIORITY`` (the
    oracle's CASE chain). Formulated as explode →
    conditional-sum hash aggregate instead of per-row array HOFs: Spark
    evaluates ``filter``/``aggregate`` lambdas interpreted per element,
    while the exploded conditional sums stay in whole-stage codegen
    (measured 3.4× at sf0.1; the gap widens with corpus size). Shuffle
    volume is |docs| × 5 ints after map-side partial aggregation —
    independent of text length. ``explode_outer`` keeps zero-token docs
    ('und') in the output.
    """
    toks = fan_out(df, id_col).select(
        F.col(id_col).alias("doc_id"),
        F.explode_outer(tokens_lower(F.col(text_col))).alias("tok"),
    )
    scores = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.col("tok").isin(*LANG_MARKERS[lang]), 1).otherwise(0)
            ).alias(f"s_{lang}")
            for lang in LANG_PRIORITY
        ]
    )
    best: Column = F.lit("und")
    best_score: Column = F.lit(0)
    for lang in LANG_PRIORITY:
        s = F.col(f"s_{lang}")
        take = s > best_score
        best = F.when(take, F.lit(lang)).otherwise(best)
        best_score = F.when(take, s).otherwise(best_score)
    return scores.select("doc_id", best.alias("detected"))


def token_count(text: Column) -> Column:
    """Whitespace token count (empty string → 0)."""
    t = F.trim(text)
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish token estimate: count of word/number/punct chunks.

    A BPE-like regex segmentation (letters runs, digit runs, single
    punctuation marks) — the cheap proxy pipelines use to budget LLM token
    counts without a tokenizer dependency.
    """
    chunks = F.regexp_extract_all(text, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0)
    return F.size(chunks)


def quality_features(
    df: DataFrame, text_col: str = "text", fan_out_key: str | None = None
) -> DataFrame:
    """Append quality-signal columns used for corpus filtering.

    - n_tokens: whitespace tokens
    - mean_token_len: characters per token
    - punct_ratio: punctuation chars / chars
    - stopword_ratio: English stopword tokens / tokens
    - quality_ok: the composite keep/drop gate

    ``fan_out_key``: column to hash-partition on for the fan-out. Callers
    whose downstream work is keyed on a row id (the curation funnels:
    quality gate → per-id language aggregate → gate join on the id)
    should pass that id so ONE exchange serves the whole chain — the
    language groupBy and the gate join then consume this partitioning
    instead of re-shuffling (guide §2.4: two operations keyed the same
    way share one exchange). Default hashes the text itself (no id
    required by this signature).
    """
    # regex feature extraction dominates the exchange cost
    from pyspark.sql import functions as _F
    df = fan_out(
        df,
        _F.col(fan_out_key)
        if fan_out_key is not None
        else _F.xxhash64(_F.col(text_col)),
    )
    t = F.col(text_col)
    # ONE tokenization shared by n_tokens and stopword_ratio (lowering
    # changes no whitespace, so the split is identical either way) and
    # regexp_count instead of build-the-replaced-string + length: the
    # original token_count + word-hit + regexp_replace formulation ran
    # two full splits and materialized a punctuation-stripped copy of
    # every document per row — same outputs, ~one regex pass less
    # (guide §1.2 "per-task work"; outputs are bit-identical, see the
    # equivalence notes in OPTIMIZATION_r12.md)
    t_trim = F.trim(t)
    toks = F.split(F.lower(t_trim), r"\s+")
    n_tok = F.when(t_trim == "", F.lit(0)).otherwise(F.size(toks))
    n_chars_c = F.length(t)
    punct = F.regexp_count(t, F.lit(r"[^\w\s]"))
    stop_hits = _token_hits(toks, STOPWORDS)
    mean_tok = F.when(n_tok > 0, n_chars_c.cast("double") / n_tok).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_chars_c > 0, punct.cast("double") / n_chars_c).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tok > 0, stop_hits.cast("double") / n_tok).otherwise(F.lit(0.0))
    return (
        df.withColumn("n_tokens", n_tok)
        .withColumn("mean_token_len", F.round(mean_tok, 4))
        .withColumn("punct_ratio", F.round(punct_ratio, 4))
        .withColumn("stopword_ratio", F.round(stop_ratio, 4))
        .withColumn(
            "quality_ok",
            (n_tok >= 5) & (mean_tok >= 2.0) & (mean_tok <= 20.0) & (punct_ratio <= 0.2),
        )
    )


def wordlist_score(
    df: DataFrame,
    words: tuple[str, ...],
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.1,
) -> DataFrame:
    """Wordlist-based document scoring (the Gopher/C4 bad-words rule):
    the fraction of a document's tokens that appear in ``words``, plus a
    keep/drop flag at ``threshold``.

    Counts OCCURRENCES, not distinct hits — ten slurs are worse than one
    — via ``size(filter(tokens, isin))`` over the shared lower-cased
    token array: row-local, codegen-eligible, zero shuffle, and the word
    list compiles into the expression (for lists beyond a few thousand
    entries switch to a broadcast-join against an exploded token table —
    the expression form is the fast path for the typical curated list).

    NULL/empty texts score 0 hits over 0 tokens → ratio 0.0, flagged
    false (no evidence is not evidence of badness).

    Returns (id, n_tokens int, n_flagged int, flag_ratio double rounded
    6dp, flagged boolean).
    """
    toks = F.filter(tokens_lower(F.col(text_col)), lambda t: t != "")
    toks = F.when(F.col(text_col).isNull(), F.array().cast("array<string>")).otherwise(toks)
    n_tok = F.size(toks)
    n_flag = _token_hits(toks, words)
    ratio = F.when(n_tok > 0, F.round(n_flag.cast("double") / n_tok, 6)).otherwise(
        F.lit(0.0)
    )
    return df.select(
        F.col(id_col),
        n_tok.cast("int").alias("n_tokens"),
        n_flag.cast("int").alias("n_flagged"),
        ratio.alias("flag_ratio"),
        (ratio > F.lit(float(threshold))).alias("flagged"),
    )


def fingerprint(text: Column) -> Column:
    """128-bit content fingerprint of the normalized text (md5 hex).

    Normalization = lowercase + whitespace collapse, same as exact dedup —
    so fingerprint equality ⇔ exact-dup group membership.
    """
    return F.md5(F.regexp_replace(F.lower(F.trim(text)), r"\s+", " "))


def rolling_hash_fingerprints(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", window: int = 8, stride: int = 4
) -> DataFrame:
    """Winnowing-style fingerprints: hash of every ``stride``-th ``window``-gram.

    (doc_id, pos, fp) — the building block for plagiarism-style containment
    detection. Built-ins only: sequence → transform(slice) → explode.
    """
    w = F.split(F.col(text_col), " ")
    idx = F.sequence(
        F.lit(1), F.greatest(F.size(w) - (window - 1), F.lit(1)), F.lit(stride)
    )
    grams = F.transform(idx, lambda i: F.struct(
        i.alias("pos"), F.xxhash64(F.array_join(F.slice(w, i, window), " ")).alias("fp")
    ))
    # NULL text emits nothing — same contract as winnow_fingerprints
    # (without the filter, greatest(NULL, 1) = 1 would emit one
    # xxhash64-of-NULL row here while the SQL twin emits a NULL-gram row)
    return df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc_id"), F.explode(grams).alias("g")
    ).select("doc_id", "g.pos", "g.fp")


def winnow_select(grams: Column, window: int) -> Column:
    """True winnowing selection (Schleimer/Wilkerson/Aiken, SIGMOD'03 §4)
    over an array of ``(fp, negpos, pos)`` structs, already in position
    order: every length-``window`` window of consecutive grams contributes
    the struct-minimum element — the minimal ``fp``, ties broken to the
    RIGHTMOST occurrence via the ``negpos`` field — and the distinct
    selections are the document's fingerprint set.

    This is the stateless rightmost-min rule. The paper's "robust" variant
    additionally prefers re-selecting the previous window's pick on ties;
    the two rules coincide whenever window minima are unique (always, for a
    64-bit hash without adversarial input) and both guarantee ≥1 selection
    per window at expected density 2/(window+1). Kept stateless because it
    is a pure expression — one pass, no sequential state, identically
    expressible in any engine with lexicographic struct comparison.

    Factored to take the gram array as a column so tests can inject the
    paper's worked-example hash sequence directly (the third-engine pin in
    tests/test_winnow_reference_vectors.py).
    """
    starts = F.sequence(
        F.lit(1), F.greatest(F.size(grams) - (window - 1), F.lit(1))
    )
    return F.array_distinct(
        F.transform(starts, lambda s: F.array_min(F.slice(grams, s, window)))
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram: int = 5,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints → (doc_id, pos, fp) rows.

    Grams are whitespace ``gram``-grams hashed with an engine-portable
    60-bit fingerprint — the first 15 hex chars of md5 parsed as a BIGINT
    (``('0x' || substr(md5(g),1,15))::BIGINT`` in DuckDB) — so the oracle
    replays the selection bit-for-bit, unlike xxhash64, which has no twin.
    A numeric fp also keeps every aggregate buffer fixed-width downstream:
    min/max over strings would demote the per-doc rollup to SortAggregate.
    Selection is :func:`winnow_select`.

    Scale: the whole computation is per-row array expressions (sequence →
    transform → array_min over slices) — zero shuffle, zero Python,
    codegen-eligible; output is ≈ 2/(window+1) of the gram count. Short
    docs (< gram tokens) hash their full token run as a single gram, same
    convention as :func:`rolling_hash_fingerprints`.
    """
    w = F.split(F.col(text_col), " ")
    ng = F.greatest(F.size(w) - (gram - 1), F.lit(1))
    grams = F.transform(
        F.sequence(F.lit(1), ng),
        lambda i: F.struct(
            F.conv(
                F.substring(F.md5(F.array_join(F.slice(w, i, gram), " ")), 1, 15),
                16, 10,
            ).cast("long").alias("fp"),
            (-i).alias("negpos"),
            i.alias("pos"),
        ),
    )
    # NULL text → NULL gram array → the selection would explode a [NULL]
    # singleton into a (doc_id, NULL, NULL) row. The SQL twins do NOT
    # drop NULL docs on their own (DuckDB's greatest() ignores NULLs, so
    # greatest(len(w)-k, 1) = 1 and the lateral range() still yields one
    # NULL-fp row) — the contract is "NULL text emits nothing", enforced
    # here by the isNotNull filter and in every twin by an explicit
    # WHERE text IS NOT NULL in the toks CTE (registry.py).
    # fan_out: one md5 PER GRAM is per-row-expensive compute that would
    # otherwise serialize on a single-file local input's lone scan task;
    # no-op on any multi-split source (the 100 TB layout).
    staged = fan_out(df.filter(F.col(text_col).isNotNull()), id_col).select(
        F.col(id_col).alias("doc_id"), grams.alias("grams")
    )
    sel = staged.select(
        "doc_id", F.explode(winnow_select(F.col("grams"), window)).alias("g")
    )
    return sel.select("doc_id", F.col("g.pos").alias("pos"), F.col("g.fp").alias("fp"))


def winnow_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram: int = 5,
    window: int = 4,
    max_fp_df: int = 20,
    min_containment: float = 0.5,
) -> DataFrame:
    """Containment candidate pairs from shared winnowing fingerprints —
    the SIGMOD'03 use case (plagiarism / copy detection): for every doc
    pair sharing fingerprints, estimate containment as
    ``shared / min(|fp_a|, |fp_b|)`` and keep pairs ≥ ``min_containment``.

    This detects ASYMMETRIC copying that MinHash misses: a paragraph
    lifted into a much larger document has near-zero Jaccard but high
    containment (the winnowing guarantee — one fingerprint per window —
    means any copied run of ≥ gram+window−1 tokens shares a fingerprint).

    Scale: candidate generation is an equi-join on the fingerprint value —
    never all-pairs. Fingerprints appearing in more than ``max_fp_df``
    documents are dropped BEFORE the join (corpus-universal boilerplate
    fingerprints would otherwise contribute O(df²) candidate rows — the
    standard hot-band cap, same as the MinHash-LSH pipeline); per-doc
    fingerprint counts ride along as window counts, so no third pass over
    the corpus and no join against a per-doc dimension table.

    Returns (doc_a, doc_b, shared_fp, n_fp_a, n_fp_b, containment) with
    doc_a < doc_b and containment rounded to 6 places (engine-portable).
    """
    fps = winnow_fingerprints(df, text_col, id_col, gram, window)
    dfp = fps.select("doc_id", "fp").distinct()
    # per-doc fp count + per-fp doc count as windows over the distinct set
    dfp = dfp.select(
        "doc_id",
        "fp",
        F.count(F.lit(1)).over(SW.partitionBy("doc_id")).alias("n_fp"),
        F.count(F.lit(1)).over(SW.partitionBy("fp")).alias("fp_df"),
    ).filter(F.col("fp_df") <= max_fp_df)
    # both join sides read this table: materialize once, or the whole
    # gram-hash + selection + two-window subtree executes twice (the
    # curate-full lesson). localCheckpoint, not persist: the operator
    # returns a lazy DataFrame, so there is no point it could unpersist
    # itself, and a bare persist() would leave a corpus-sized
    # InMemoryRelation pinned in the long-lived session per invocation;
    # checkpoint blocks are reclaimed by the ContextCleaner once the
    # result is GC'd (the pagerank discipline, web.py). eager=False so
    # plan-only paths (dump_plans, the no-cartesian gate) don't execute
    # the subtree; the first action materializes it once and both join
    # sides then read the blocks. The join must NOT
    # broadcast — the capped (doc, fp) set is CORPUS-sized (fingerprints
    # ∝ tokens), and with the checkpointed size known Catalyst would pick
    # broadcast at small SF; the shuffle_hash hint keeps the plan the
    # fp-keyed shuffle join that survives a 100× corpus.
    dfp = dfp.localCheckpoint(eager=False)
    a = dfp.select(
        F.col("doc_id").alias("doc_a"), "fp", F.col("n_fp").alias("n_fp_a")
    )
    b = dfp.select(
        F.col("doc_id").alias("doc_b"), "fp", F.col("n_fp").alias("n_fp_b")
    )
    pairs = (
        a.join(b.hint("shuffle_hash"), "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("shared_fp"),
            F.first("n_fp_a").alias("n_fp_a"),
            F.first("n_fp_b").alias("n_fp_b"),
        )
    )
    containment = F.round(
        F.col("shared_fp") / F.least("n_fp_a", "n_fp_b"), 6
    ).alias("containment")
    return pairs.select(
        "doc_a", "doc_b", "shared_fp", "n_fp_a", "n_fp_b", containment
    ).filter(F.col("containment") >= min_containment)


def clean_tokens(text: Column) -> Column:
    """``tokens_lower`` minus empty strings (leading/trailing whitespace
    produces '' elements in both Spark and DuckDB regex splits — drop them
    once here so downstream explode/ngram counts agree across engines)."""
    return F.filter(tokens_lower(text), lambda t: t != "")


def bigrams(toks: Column) -> Column:
    """Adjacent token pairs joined by one space (order-preserving).

    ``zip_with`` over the two shifted slices stays entirely in codegen —
    no explode-then-self-join, no Python. An n<2 token array yields an
    empty bigram array (slice handles the negative length).
    """
    n = F.size(toks)
    left = F.slice(toks, F.lit(1), F.greatest(n - 1, F.lit(0)))
    right = F.slice(toks, F.lit(2), F.greatest(n - 1, F.lit(0)))
    return F.zip_with(left, right, lambda a, b: F.concat_ws(" ", a, b))


def repetition_features(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style within-document repetition signals for corpus filtering
    (Rae et al. 2021's repetition rules, the public heuristic family):

    - ``n_words``: token count
    - ``dup_word_frac``: fraction of tokens whose word occurs more than
      once in the document
    - ``top_bigram``: the most frequent adjacent word pair (ties broken by
      descending lexicographic order — deterministic for oracles)
    - ``top_bigram_cnt`` / ``top_bigram_char_frac``: its occurrence count
      and the fraction of document characters its occurrences cover

    Formulated as explode → two-level hash aggregation (whole-stage
    codegen; shuffle volume = distinct (doc, term) pairs after map-side
    combine) — a per-row HOF formulation would be interpreted per element.
    Docs with fewer than two tokens get a NULL top bigram and zero
    fractions.
    """
    from kinesis_data_counter_spark.session import fan_out

    base = fan_out(df, id_col).select(
        F.col(id_col).alias("doc_id"),
        clean_tokens(F.col(text_col)).alias("__toks"),
        F.length(F.trim(F.col(text_col))).cast("long").alias("n_chars"),
    )
    words = base.select("doc_id", "n_chars", F.explode("__toks").alias("w"))
    word_stats = (
        words.groupBy("doc_id", "w")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_words"),
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).alias("dup_w"),
        )
        .select(
            "doc_id",
            "n_words",
            F.round(F.col("dup_w") / F.col("n_words"), 6).alias("dup_word_frac"),
        )
    )
    bg = base.select(
        "doc_id", "n_chars", F.explode(bigrams(F.col("__toks"))).alias("bg")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("c").desc(), F.col("bg").desc()
    )
    top = (
        bg.groupBy("doc_id", "n_chars", "bg")
        .agg(F.count("*").alias("c"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "doc_id",
            F.col("bg").alias("top_bigram"),
            F.col("c").alias("top_bigram_cnt"),
            F.round(
                F.col("c") * F.length("bg") / F.greatest("n_chars", F.lit(1)), 6
            ).alias("top_bigram_char_frac"),
        )
    )
    return (
        word_stats.join(top, "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            "dup_word_frac",
            "top_bigram",
            F.coalesce("top_bigram_cnt", F.lit(0)).alias("top_bigram_cnt"),
            F.coalesce("top_bigram_char_frac", F.lit(0.0)).alias(
                "top_bigram_char_frac"
            ),
        )
    )


def tfidf_top_terms(
    df: DataFrame, k: int = 5, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Top-``k`` TF-IDF terms per document (keyword extraction).

    tf = term count in the doc; idf = ln((N+1)/(df+1)) + 1 (smoothed);
    ranking orders by the ROUNDED score (then term ascending) so the
    ordering is reproducible across engines even when ln() differs in the
    last ulp. Two shuffles total: (doc, term) counts, then term document
    frequencies joined back (term-keyed, AQE-broadcast when the vocabulary
    is small); the corpus size N rides in as a broadcast scalar, never a
    driver-side collect in the plan-building path.
    """
    from pyspark.sql import Window

    from kinesis_data_counter_spark.session import fan_out

    toks = fan_out(df, id_col).select(
        F.col(id_col).alias("doc_id"), F.explode(clean_tokens(F.col(text_col))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df_docs"))
    n = df.agg(F.count(F.lit(1)).alias("__n"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * (F.log((F.col("__n") + 1) / (F.col("df_docs") + 1)) + 1),
                6,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "rank", "term", "tf", "df_docs", "tfidf")
    )


def lm_quality_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = -2.5,
) -> DataFrame:
    """In-corpus unigram-LM quality score per document (the CCNet/CC-Net
    pattern: rank documents by language-model likelihood, flag the tail).

    The LM is the corpus itself: token probability p(w) = c(w)/T from one
    unigram-count pass; a document's score is the mean log10 p over its
    token occurrences. Rare-token soup (boilerplate, encoding garbage,
    wrong-language fragments) scores far below prose built from common
    tokens. Two shuffles: (term) counts, then the term-keyed join back
    (vocabulary-sized — AQE broadcasts it when small); the corpus total
    rides in as a broadcast scalar. The score is rounded to 6 dp before
    the threshold test so the flag is reproducible across engines even
    when log10 differs in the last ulp (the `tfidf_top_terms` convention).

    Returns (doc_id, n_tokens bigint, avg_logprob double,
    low_quality boolean) — one row per doc with ≥1 token.
    """
    # the term string never reaches the output, so the count/join key is
    # its 64-bit hash — an 8-byte shuffle instead of raw token strings
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(clean_tokens(F.col(text_col))).alias("__term"),
    ).select("doc_id", F.xxhash64("__term").alias("th"))
    uni = toks.groupBy("th").agg(F.count(F.lit(1)).alias("c"))
    tot = toks.agg(F.count(F.lit(1)).alias("__t"))
    score = F.round(F.avg(F.log10(F.col("c") / F.col("__t"))), 6)
    return (
        toks.join(uni, "th")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            score.alias("avg_logprob"),
        )
        .withColumn("low_quality", F.col("avg_logprob") < F.lit(float(threshold)))
    )


# dialect-portable PII patterns: no lookarounds, no shorthand classes that
# differ between Java regex (Spark) and RE2 (DuckDB oracle)
PII_EMAIL_RX = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
PII_PHONE_RX = "[0-9]{3}[- ][0-9]{3,4}[- ][0-9]{4}"


def redact_pii(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Scrub emails and phone-shaped numbers from a text column.

    Standard curation hygiene before training-data release. Appends
    ``n_emails`` / ``n_phones`` match counts (for the removal report) and
    ``text_redacted`` with matches replaced by fixed tags. Pure
    ``regexp_replace``/``regexp_count`` projections — codegen, no Python,
    no shuffle; patterns are deliberately lookaround-free so the exact
    rule is portable to the RE2-based SQL oracle.
    """
    t = F.col(text_col)
    return (
        df.withColumn("n_emails", F.regexp_count(t, F.lit(PII_EMAIL_RX)))
        .withColumn("n_phones", F.regexp_count(t, F.lit(PII_PHONE_RX)))
        .withColumn(
            "text_redacted",
            F.regexp_replace(
                F.regexp_replace(t, PII_EMAIL_RX, "<EMAIL>"),
                PII_PHONE_RX,
                "<PHONE>",
            ),
        )
    )


# ---------------------------------------------------------------------------
# BPE subword tokenizer (Sennrich et al. 2016, "Neural Machine Translation of
# Rare Words with Subword Units") — the real-tokenizer tier above the
# bpe_ish_token_count regex proxy.
# ---------------------------------------------------------------------------

_BPE_EOW = "</w>"  # end-of-word symbol, its own token like the paper's


def bpe_train_merges(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_merges: int = 200,
    sample_docs: int = 512,
) -> list:
    """Train a BPE merge list driver-side on a bounded md5-ordered sample.

    The merge table is a bounded-sample artifact by design (the PQ-codebook
    precedent, similarity.py::pq_train_codebooks): ``sample_docs`` docs
    chosen by deterministic md5 ticket (TakeOrderedAndProject — no full
    sort, no RNG, unbiased under corpus growth) train the classic
    frequency-greedy merge loop in pure Python; only the sampled text ever
    reaches the driver, and the returned list is O(num_merges) — a
    broadcastable model, never O(corpus).

    Deterministic: ties in pair frequency break lexicographically, so the
    same sample always yields the same merge list on any engine.

    Returns ``[(left_symbol, right_symbol), ...]`` in merge-rank order.
    """
    ticket = F.md5(F.concat(F.lit("bpe"), F.col(id_col).cast("string")))
    rows = (
        df.select(F.col(text_col).alias("t"), ticket.alias("k"))
        .orderBy("k")
        .limit(int(sample_docs))
        .collect()
    )
    word_freq: dict = {}
    for r in rows:
        if r["t"] is None:
            continue
        for w in r["t"].split():
            word_freq[w] = word_freq.get(w, 0) + 1
    vocab = {w: tuple(w) + (_BPE_EOW,) for w in word_freq}
    merges: list = []
    for _ in range(int(num_merges)):
        pair_freq: dict = {}
        for w, syms in vocab.items():
            f = word_freq[w]
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pair_freq[p] = pair_freq.get(p, 0) + f
        if not pair_freq:
            break
        # deterministic tie-break: max frequency, then lexicographically
        # smallest pair (max() alone would depend on dict order)
        top = max(pair_freq.values())
        best = min(p for p, f in pair_freq.items() if f == top)
        merges.append(best)
        a, b = best
        merged = a + b
        new_vocab = {}
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[w] = tuple(out)
        vocab = new_vocab
    return merges


def _bpe_word_encoder(merges: list):
    """Word → token-tuple closure with a per-partition cache (natural-
    language word frequency is Zipfian, so the cache absorbs almost every
    lookup at corpus scale)."""
    ranks = {tuple(p): i for i, p in enumerate(merges)}
    cache: dict = {}

    def encode(word: str) -> tuple:
        hit = cache.get(word)
        if hit is not None:
            return hit
        syms = list(word) + [_BPE_EOW]
        while len(syms) > 1:
            best_rank, best_i = None, -1
            for i in range(len(syms) - 1):
                r = ranks.get((syms[i], syms[i + 1]))
                if r is not None and (best_rank is None or r < best_rank):
                    best_rank, best_i = r, i
            if best_rank is None:
                break
            a, b = merges[best_rank]
            merged = a + b
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        res = tuple(syms)
        cache[word] = res
        return res

    return encode


def bpe_roundtrip_stats(
    df: DataFrame,
    merges: list,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """One-pass encode + invertibility check: a single corpus-level row
    (n_docs, n_nonnull, roundtrip_all, compression_ok).

    BPE is lossless by construction — concatenating a word's tokens and
    stripping the end-of-word marker recovers the word — so
    ``roundtrip_all`` must hold for every non-null doc (checked per doc in
    the same Arrow batch that encodes it; whitespace is normalized on both
    sides since tokenization is word-level). Known falsifier: text
    containing the LITERAL end-of-word marker string collides with the
    decode rule — the tests pin that the check catches it. ``compression_ok`` asserts
    the merges actually compress: total tokens < total unmerged symbols
    (chars + one end-of-word per word) — with zero merges it is exactly
    equal, so the bound fails, which is the falsification control the
    tests pin."""
    from collections.abc import Iterator

    import pandas as pd

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        enc = _bpe_word_encoder(merges)
        n_docs = n_nonnull = n_tokens = n_syms = 0
        ok = True
        for pdf in it:
            for txt in pdf[text_col]:
                n_docs += 1
                if txt is None or (isinstance(txt, float) and pd.isna(txt)):
                    continue
                n_nonnull += 1
                words = txt.split()
                toks = [s for w in words for s in enc(w)]
                n_tokens += len(toks)
                n_syms += sum(len(w) + 1 for w in words)
                decoded = "".join(toks).replace(_BPE_EOW, " ").rstrip(" ")
                if decoded != " ".join(words):
                    ok = False
        yield pd.DataFrame(
            {"n_docs": [n_docs], "n_nonnull": [n_nonnull],
             "n_tokens": [n_tokens], "n_syms": [n_syms], "ok": [ok]}
        )

    partials = df.select(text_col).mapInPandas(
        _batches,
        "n_docs long, n_nonnull long, n_tokens long, n_syms long, ok boolean",
    )
    return partials.agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("n_nonnull").alias("n_nonnull"),
        F.bool_and("ok").alias("roundtrip_all"),
        (F.sum("n_tokens") < F.sum("n_syms")).alias("compression_ok"),
    )


def bm25_scores(
    df: DataFrame,
    query_terms: "tuple[str, ...]",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` documents by BM25 (Robertson-Spärck Jones) for a fixed
    query term set — ranked retrieval over the corpus, the search tier
    above per-doc TF-IDF keywords.

    idf = ln(1 + (N - df + .5)/(df + .5)); per-term contributions are
    ROUNDED to 6 digits before the doc-level sum and the sum re-rounded,
    so cross-engine ln()/summation-order ulp noise can't flip the ranking
    (the tfidf_top_terms discipline). k1+1 is computed as (k1 + 1.0) so
    the oracle can replay the identical float op.

    100 TB shape: term frequencies come from a codegen ``filter``-count
    per query term over each doc's token array — |terms| is query-sized,
    so NO corpus-wide explode and no (doc, term) shuffle for the whole
    vocabulary; corpus stats (N, avgdl) ride in as one broadcast scalar
    row; df comes from a |terms|-key aggregate. The final top-k is
    TakeOrdered (O(n) scan keeping k), never a global sort; ranks are
    assigned on the ≤k survivor rows. NULL-text docs score no rows (the
    tfidf/explode convention).
    """
    from pyspark.sql import Window

    from kinesis_data_counter_spark.session import fan_out

    base = fan_out(df, id_col).filter(F.col(text_col).isNotNull())
    toks = clean_tokens(F.col(text_col))

    def _eq(term):  # closure factory: a default arg would read as Spark's
        return lambda x: x == F.lit(term)  # two-arg (value, index) lambda

    pairs = F.array(
        *[
            F.struct(
                F.lit(t).alias("term"),
                F.size(F.filter(toks, _eq(t))).alias("tf"),
            )
            for t in query_terms
        ]
    )
    per_term = base.select(
        F.col(id_col).alias("doc_id"),
        F.size(toks).alias("dl"),
        F.inline(pairs),
    ).filter(F.col("tf") > 0)
    stats = base.select(F.size(toks).alias("dl")).agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    dfreq = per_term.groupBy("term").agg(F.count(F.lit(1)).alias("df_docs"))
    idf = F.log(
        1.0 + (F.col("n_docs") - F.col("df_docs") + 0.5) / (F.col("df_docs") + 0.5)
    )
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / F.col("avgdl")
    )
    contrib = (
        per_term.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.round(idf * F.col("tf") * (F.lit(k1) + F.lit(1.0)) / denom, 6).alias("c"),
        )
    )
    scored = contrib.groupBy("doc_id").agg(F.round(F.sum("c"), 6).alias("score"))
    top = scored.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return top.withColumn("rank", F.row_number().over(w)).select(
        "rank", "doc_id", "score"
    )


def pmi_collocations(
    df: DataFrame,
    min_count: int = 5,
    k: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` bigram collocations by pointwise mutual information —
    the phrase-detection pass (word2vec-style "new_york" merging) a
    tokenizer-training pipeline runs before building its vocabulary.

    pmi(a,b) = ln( p(ab) / (p(a) p(b)) ) with p() from corpus unigram /
    bigram totals; pairs below ``min_count`` are dropped first (PMI's
    classic rare-pair instability). The score is rounded to 6 and ranked
    (pmi desc, bigram asc) so the DuckDB twin replays the ranking
    exactly; both engines compute the identical expression shape, so
    IEEE division/log agree bit-for-bit before the round.

    Scale shape: one token explode + one bigram explode, each feeding a
    map-side-combined count agg; the unigram table is vocab-sized and
    BROADCASTS into the (already min_count-pruned) bigram table; totals
    ride in as one-row broadcasts; the final top-k is TakeOrdered, never
    a global sort. Tokens cannot contain spaces (whitespace split), so
    splitting the bigram key back into (a, b) is unambiguous.
    """
    toks = clean_tokens(F.col(text_col))
    uni = (
        df.select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    t1 = uni.agg(F.sum("c").alias("t1"))
    bg = df.select(F.explode(bigrams(toks)).alias("bigram"))
    t2 = bg.agg(F.count(F.lit(1)).alias("t2"))
    bi = (
        bg.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= min_count)
    )
    ua = uni.select(F.col("tok").alias("a"), F.col("c").alias("ca"))
    ub = uni.select(F.col("tok").alias("b"), F.col("c").alias("cb"))
    j = (
        bi.withColumn("a", F.substring_index("bigram", " ", 1))
        .withColumn("b", F.substring_index("bigram", " ", -1))
        .join(F.broadcast(ua), "a")
        .join(F.broadcast(ub), "b")
        .crossJoin(F.broadcast(t1))
        .crossJoin(F.broadcast(t2))
    )
    pmi = F.round(
        F.log(
            (F.col("c_ab") / F.col("t2"))
            / ((F.col("ca") / F.col("t1")) * (F.col("cb") / F.col("t1")))
        ),
        6,
    )
    return (
        j.select("bigram", "c_ab", pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), F.col("bigram").asc())
        .limit(k)
    )
