"""Deduplication operators for large-scale training-data pipelines.

Beyond-reference operators (SURVEY.md §7 Phase 5). All hot paths are built-in
Catalyst expressions (no Python UDFs): shingling hashes each word once
(``xxhash64``) and derives shingle keys arithmetically from the word-hash
array, and the pair generation is an inverted-index equi-join on the
shingle/band key — the standard scale-out formulation where the shuffle
carries (key, doc) postings instead of the O(n²) pair matrix.

Scale notes (100 TB):
- exact dedup: one hash-shuffle on the content hash; AQE coalesces.
- n-gram jaccard: candidate pairs come only from shared shingles; the
  ``max_shingle_freq`` stop-shingle cut bounds the worst-case posting list
  (a shingle shared by d docs emits d·(d-1)/2 pairs) — without it one viral
  boilerplate line can produce a quadratic blowup on a 100 TB corpus.
- MinHash-LSH: signature matrix is k min-aggregations over the posting list
  (map-side partial min ⇒ shuffle volume = docs × k, independent of text
  size); banding turns near-dup search into b equi-joins on 64-bit band
  signatures.
- SimHash: 64 (or 128) sign-sums per doc; pigeonhole banding generalized to
  block combinations (Manku et al. WWW'07 — the ``blocks`` knob)
  finds all pairs within the hamming radius without an O(n²) cross join, with
  join-key width that scales with the corpus; pairs de-dup by
  first-agreeing-table, not a distinct shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kinesis_data_counter_spark.session import bounded_collect, fan_out

# ---------------------------------------------------------------------------
# Tokenize / shingle plumbing (shared by jaccard, minhash, simhash)
# ---------------------------------------------------------------------------


def normalize_text(col):
    """Canonical text form for exact dedup: lowercase, collapse whitespace."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


_ROT_STEP = 7  # rotation stride for positional mixing inside a shingle


def word_hashes(text_col):
    """Column expr: ``array<long>`` — xxhash64 of each word of the split
    text. Each word is hashed ONCE; shingle hashes are then derived
    arithmetically (``shingle_hashes_from_words``) instead of re-joining
    and re-hashing an n-word string per shingle position. Warm-JVM timing
    at sf0.1 is a wash vs the string rebuild (~0.57 s either way; an
    earlier 3× reading was cold-start); the derivation is kept because it
    avoids the per-shingle string allocation with identical collision
    behavior."""
    w = F.split(F.col(text_col) if isinstance(text_col, str) else text_col, " ")
    return F.transform(w, lambda t: F.xxhash64(t))


def _rotl(c, k: int):
    k %= 64
    if k == 0:
        return c
    return F.shiftleft(c, k).bitwiseOR(F.shiftrightunsigned(c, 64 - k))


def shingle_hashes_from_words(wh, n: int = 5):
    """Column expr: distinct 64-bit n-word-shingle hashes from a
    ``word_hashes`` array — shingle(i) = XOR_j rotl(wh[i+j], 7j).

    The rotation makes the combination positional (``a b`` ≠ ``b a``) and
    the XOR of 64-bit word hashes keeps collisions at the ~|shingles|²/2⁶⁴
    level of the previous string-rehash scheme. Documents shorter than n
    words contribute one truncated shingle over the words they have
    (out-of-range ``try_element_at`` → 0, the XOR identity).

    IMPORTANT: project ``word_hashes`` in a SEPARATE select from this
    expression. Inlined, the word-hash transform re-evaluates per shingle
    term (measured 13 s vs 0.46 s at sf0.1); as a prior projection Spark
    evaluates it once per row.
    """
    import functools

    wh = F.col(wh) if isinstance(wh, str) else wh

    def sh(i):
        terms = [
            _rotl(
                F.coalesce(
                    F.try_element_at(wh, i + F.lit(j)), F.lit(0).cast("long")
                ),
                _ROT_STEP * j,
            )
            for j in range(n)
        ]
        return functools.reduce(lambda a, b: a.bitwiseXOR(b), terms)

    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(wh) - (n - 1), F.lit(1))), sh
        )
    )


def shingles(df: DataFrame, text_col: str = "text", n: int = 5, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, shingle) postings: distinct n-word shingles per document,
    with the shingle carried as a 64-bit hash — an 8-byte join key.

    Hashing before the exchange is the scale move: every downstream
    shuffle (inverted-index join, stop-shingle count, signature agg) keys
    on a fixed-width long instead of a ~25-byte string — 3× less shuffle
    volume and cheaper hash-join probes. Collisions (~|shingles|²/2⁶⁴)
    are far below any oracle tolerance. Input is fanned out to session
    parallelism first: split+hash per shingle dominates a small exchange.
    """
    df = fan_out(df, id_col)
    wh = df.select(
        F.col(id_col).alias("doc_id"), word_hashes(text_col).alias("__wh")
    )
    return wh.select(
        "doc_id",
        F.explode(shingle_hashes_from_words(F.col("__wh"), n)).alias("shingle"),
    )


def _prune_frequent(postings: DataFrame, max_shingle_freq: int | None) -> DataFrame:
    """Drop shingles appearing in more than ``max_shingle_freq`` docs.

    Stop-shingle removal: boilerplate shared by a huge fraction of a corpus
    creates quadratic candidate blowup while carrying no dedup signal.
    """
    if max_shingle_freq is None:
        return postings
    freq = postings.groupBy("shingle").agg(F.count("*").alias("df_"))
    keep = freq.filter(F.col("df_") <= max_shingle_freq).select("shingle")
    return postings.join(keep, "shingle")


# ---------------------------------------------------------------------------
# D1. Exact dedup
# ---------------------------------------------------------------------------


def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact duplicate groups by content hash.

    Returns one row per duplicated normalized text: (content_hash, n_dups,
    canonical_id=min id, dup_ids sorted). Deterministic — safe for oracles —
    unlike ``dropDuplicates`` whose surviving row is arbitrary.
    One shuffle on the 128-bit content hash; never on the full text.
    """
    h = F.md5(normalize_text(F.col(text_col))).alias("content_hash")
    return (
        df.select(h, F.col(id_col).alias("doc_id"))
        .groupBy("content_hash")
        .agg(
            F.count("*").alias("n_dups"),
            F.min("doc_id").alias("canonical_id"),
            F.sort_array(F.collect_list("doc_id")).alias("dup_ids"),
        )
        .filter(F.col("n_dups") > 1)
    )


def deduplicate_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id row per normalized text (deterministic survivor)."""
    h = F.md5(normalize_text(F.col(text_col)))
    w = Window.partitionBy(h).orderBy(F.col(id_col))
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


# ---------------------------------------------------------------------------
# D2. Exact n-gram Jaccard similarity join (inverted index)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """All document pairs with n-gram-shingle Jaccard ≥ threshold.

    Inverted-index algorithm: postings self-join on shingle → per-pair
    intersection count → Jaccard from |A|+|B|-|A∩B|. The only shuffles are
    the postings join (keyed by shingle) and the pair aggregation; doc-size
    side tables join by doc_id (broadcast when small, AQE decides).
    Output: (a_id, b_id, jaccard) with a_id < b_id.
    """
    # postings feed both join sides AND the size table — persist once or
    # the shingle scan executes three times (8-byte hashed rows, compact)
    post = _prune_frequent(
        shingles(df, text_col, n, id_col), max_shingle_freq
    ).persist()
    sizes = post.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = post.alias("a")
    b = post.alias("b")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .agg(F.count("*").alias("c"))
    )
    sa = sizes.select(F.col("doc_id").alias("a_id"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("b_id"), F.col("n_sh").alias("nb"))
    jac = F.col("c") / (F.col("na") + F.col("nb") - F.col("c"))
    return (
        inter.join(sa, "a_id")
        .join(sb, "b_id")
        .select("a_id", "b_id", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# D3. MinHash + LSH banding
# ---------------------------------------------------------------------------

# deterministic odd multipliers/offsets for the k hash family. The family
# works in a 31-bit space: with h < 2^31 and a,b < 2^31, a·h + b < 2^63 —
# no long overflow under Spark's ANSI arithmetic (a 61-bit Mersenne space
# would overflow the multiply).
_MERSENNE = (1 << 31) - 1
_HASH_MASK = 0x7FFFFFFF


def _hash_params(k: int, seed: int = 42) -> list[tuple[int, int]]:
    rnd = []
    x = seed
    for _ in range(2 * k):
        # xorshift64* — deterministic, no RNG dependency
        x ^= (x << 13) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 7
        x ^= (x << 17) & 0xFFFFFFFFFFFFFFFF
        rnd.append(x & _HASH_MASK)
    return [(rnd[2 * i] | 1, rnd[2 * i + 1]) for i in range(k)]


def minhash_signatures(
    df: DataFrame,
    num_hashes: int = 128,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_freq: int | None = None,
    postings: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, sig: array<long>[num_hashes]) MinHash signature matrix.

    k universal-hash permutations h_i(x) = (a_i·x + b_i) mod M31 over the
    shingle's xxhash64, folded to the 31-bit domain (low bits of xxhash64
    are uniformly mixed; with h, a, b < 2^31 the product stays < 2^63 —
    no long overflow under ANSI arithmetic).

    One aggregation over the postings: partial min per map task ⇒ shuffle
    volume = |docs| × k longs regardless of corpus size, and every
    expression stays inside whole-stage codegen. (A zero-shuffle per-row
    variant via ``array_min``/``transform`` was measured ~30% SLOWER:
    higher-order array functions are interpreted, not codegen'd — the
    tiny post-combine shuffle is the cheaper currency.)
    ``postings`` lets a caller share an already-built posting list.
    """
    params = _hash_params(num_hashes)
    post = (
        postings
        if postings is not None
        else _prune_frequent(shingles(df, text_col, n, id_col), max_shingle_freq)
    )
    # the whole k-permutation aggregate is ONE SQL string: k Column trees
    # cost one py4j round-trip per operator (measured 0.82 s of pure
    # driver time per construction at k=96 — paid once per LSH entry and
    # once per STREAMING MICRO-BATCH), and even k separate F.expr calls
    # paid k round-trips plus a second wide projection to assemble the
    # array. Nesting the k min() aggregates directly in one array() agg
    # expression parses the identical Catalyst aggregate in a single call
    # (measured ~0.9 s less construction per call at k=96, bit-identical
    # output) and skips the mh0..mhk intermediate columns entirely.
    arr = (
        "array("
        + ",".join(
            f"min(((shingle & {_HASH_MASK}) * {a} + {b}) % {_MERSENNE})"
            for (a, b) in params
        )
        + ") AS sig"
    )
    return post.groupBy("doc_id").agg(F.expr(arr))


def _explode_bands(sig: DataFrame, bands: int, r: int) -> DataFrame:
    """(doc_id, band, bh) from a signature table — the banding step shared
    by ``minhash_lsh_pairs`` and ``minhash_band_table``. Band structs are
    one ``F.expr`` SQL string (slice positions are literals for codegen
    either way; building ``bands`` Column structs object-by-object cost
    ~0.2 s of py4j round-trips per call — see ``minhash_signatures``)."""
    structs = ",".join(
        f"named_struct('band', {bi}, 'bh', xxhash64(slice(sig, {bi * r + 1}, {r})))"
        for bi in range(bands)
    )
    return sig.select(
        "doc_id", F.expr(f"explode(array({structs}))").alias("bs")
    ).select("doc_id", "bs.band", "bs.bh")


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    num_hashes: int = 128,
    bands: int = 32,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    verify: bool = True,
    max_shingle_freq: int | None = None,
    bands_table: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash-LSH banding (+ optional exact verify).

    rows_per_band = num_hashes // bands; a pair collides in a band with
    probability j^r, in any band 1-(1-j^r)^b — with (128, 32 bands, r=4) the
    curve is ≈1 above j=0.8 and ≈0 below j=0.4. Candidates come from b
    equi-joins on (band_id, xxhash64(band slice)); with verify=True each
    candidate's true Jaccard is recomputed from postings so the output has
    no false positives (recall is the only probabilistic part).

    ``bands_table``: a precomputed ``minhash_band_table(df, num_hashes,
    bands, n, ...)`` result — (doc_id, band, bh) rows for the SAME df and
    parameters. Callers that already hold (and persist) that table — the
    streaming first-batch paths, which compute it anyway to append to the
    band index — pass it here so the 96-hash signature pass is not run a
    second time; persistence stays caller-managed. Incompatible with
    ``max_shingle_freq`` (the band table must be built from the same
    pruned shingle universe that verify sees).
    """
    r = num_hashes // bands
    if bands_table is not None and max_shingle_freq is not None:
        raise ValueError(
            "bands_table cannot be combined with max_shingle_freq: the "
            "precomputed band table was built from unpruned shingles"
        )
    # the signature aggregation consumes the posting list ONCE — no persist
    # needed: the verify stage below re-shingles only the CANDIDATE docs,
    # which at scale is the near-dup population, not the corpus. (With
    # stop-shingle pruning the pruned universe must also be what verify
    # sees, so the pruned postings are kept and persisted instead.)
    pruning = max_shingle_freq is not None
    if bands_table is not None:
        bands_df = bands_table
    else:
        post = _prune_frequent(shingles(df, text_col, n, id_col), max_shingle_freq)
        if pruning and verify:
            post = post.persist()
        sig = minhash_signatures(
            df, num_hashes, n, text_col, id_col, max_shingle_freq, postings=post
        )
        bands_df = _explode_bands(sig, bands, r)
    # The band table feeds BOTH self-join sides. ReusedExchange does
    # dedupe the shuffle itself (both sides require the same (band, bh)
    # distribution, so the signature pipeline below the exchange runs
    # once either way) — but it does NOT dedupe the post-exchange stages
    # that each downstream consumer re-executes, and the candidate table
    # below fans out to two more consumers. Round-11 adjudication: a
    # mid-round removal of this persist + the cand persist looked ~18%
    # faster in a load-biased A/B, but the QUIET min-of-5 bench (the
    # production protocol) showed the cc-family entries that materialize
    # the pair output regressing instead — dedup_clusters 3.71->5.16s,
    # corpus_curate_full 8.51->10.44s, sample_leakage_safe_split
    # 4.60->5.53s — while the other 76 queries moved ~1.05x ambient. The
    # persists stay, on that evidence. The table is |docs| x bands
    # fixed-width rows — the same bounded artifact the incremental path
    # stores between runs — so caching is cheap at any scale. (A
    # caller-provided bands_table keeps its caller's persistence.)
    if bands_table is None:
        bands_df = bands_df.persist()
    a = bands_df.alias("a")
    b = bands_df.alias("b")
    cand = (
        a.join(b, ["band", "bh"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .distinct()
    )
    if not verify:
        return cand
    # Verify ONLY the candidate pairs. At scale candidates ≪ corpus, so the
    # exact-Jaccard work is proportional to the near-dup population, not
    # the corpus — verifying against the full pair join would redo the
    # O(corpus²-ish) work LSH exists to avoid. The candidate set is
    # referenced twice below; persist it so the banding join + distinct
    # above it execute once, not per reference (kept on the same quiet
    # min-of-5 evidence as the band-table persist above).
    cand = cand.persist()
    cand_docs = cand.select(
        F.explode(F.array("a_id", "b_id")).alias("doc_id")
    ).distinct()
    if not pruning:
        # Flat verification: semi-join the corpus down to candidate docs,
        # carry each doc's distinct shingle set as an ARRAY, and attach both
        # sides' arrays to each pair — Jaccard is then one
        # ``array_intersect`` per pair, with no posting explode, no
        # inverted-index self-join, and no aggregation. The per-doc array
        # table is broadcast-sized whenever the candidate population is
        # sane, so both attach joins are broadcasts.
        arrs = (
            df.join(
                cand_docs.withColumnRenamed("doc_id", "__cid"),
                F.col(id_col) == F.col("__cid"),
                "left_semi",
            )
            .select(
                F.col(id_col).alias("doc_id"),
                word_hashes(text_col).alias("__wh"),
            )
            .select(
                "doc_id", shingle_hashes_from_words("__wh", n).alias("sh")
            )
        )
        sa = arrs.select(F.col("doc_id").alias("a_id"), F.col("sh").alias("sha"))
        sb = arrs.select(F.col("doc_id").alias("b_id"), F.col("sh").alias("shb"))
        c = F.size(F.array_intersect("sha", "shb"))
        jac = c / (F.size("sha") + F.size("shb") - c)
        return (
            cand.join(sa, "a_id")
            .join(sb, "b_id")
            .select("a_id", "b_id", jac.alias("jaccard"))
            .filter(F.col("jaccard") >= threshold)
        )
    # With stop-shingle pruning the pruned posting universe must also be
    # what verify sees, so the Jaccard recheck runs as an inverted-index
    # intersection over the (persisted) pruned postings of candidate docs.
    post_c = post.join(cand_docs, "doc_id")
    sizes = post_c.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a2 = post_c.alias("a")
    b2 = post_c.alias("b")
    inter = (
        a2.join(b2, "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .agg(F.count("*").alias("c"))
        .join(cand, ["a_id", "b_id"])  # only candidate pairs survive
    )
    sa = sizes.select(F.col("doc_id").alias("a_id"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("b_id"), F.col("n_sh").alias("nb"))
    jac = F.col("c") / (F.col("na") + F.col("nb") - F.col("c"))
    return (
        inter.join(sa, "a_id")
        .join(sb, "b_id")
        .select("a_id", "b_id", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_band_table(
    df: DataFrame,
    num_hashes: int = 96,
    bands: int = 24,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, band, bh) — the persistable LSH index of a corpus.

    This is the table an incremental dedup deployment maintains between
    runs: O(|docs| × bands) fixed-width rows, appended as increments
    arrive, bucketed/partitioned on (band, bh) so the probe join needs no
    shuffle of the history side.
    """
    r = num_hashes // bands
    sig = minhash_signatures(df, num_hashes, n, text_col, id_col)
    return _explode_bands(sig, bands, r)


def incremental_minhash_pairs(
    increment: DataFrame,
    history: DataFrame,
    threshold: float = 0.8,
    num_hashes: int = 96,
    bands: int = 24,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    history_bands: DataFrame | None = None,
    increment_bands: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs TOUCHING the increment: new×new and new×history,
    never history×history.

    The incremental-curation shape: a daily increment is deduped against a
    huge accumulated corpus. Recomputing all pairs would redo
    history×history — quadratically dominant and already known. Here the
    increment's band table is the probe side of ONE equi-join against
    (history ∪ increment) bands, so candidate generation is proportional
    to |increment| × bands, and the probe side broadcasts whenever the
    increment is small. ``history_bands`` accepts the persisted index from
    ``minhash_band_table`` so the history side is never re-hashed — the
    steady-state deployment reads it, probes it, appends the increment's
    bands to it. Doc ids must be disjoint across the two inputs.

    Output: (a_id, b_id, jaccard) with a_id < b_id, exact-verified — same
    contract as ``minhash_lsh_pairs`` minus the history-internal pairs.
    """
    if history_bands is not None:
        # production path: the persisted history index is read, not
        # recomputed; only the increment is hashed. The increment's band
        # table feeds BOTH join sides here (probe side, and inside the
        # union on the build side) with DIFFERENT exchange wrappers, so
        # ReusedExchange canNOT dedupe it — callers that also APPEND the
        # table to their index (the streaming deployment) should compute
        # it once, persist it, and pass it via ``increment_bands`` so the
        # 96-hash signature pass runs once per increment, not three times.
        inc_bands = (
            increment_bands
            if increment_bands is not None
            else minhash_band_table(increment, num_hashes, bands, n, text_col, id_col)
        )
        all_bands = history_bands.unionByName(inc_bands)
    else:
        # one-shot path: signature the UNION once and persist the band
        # table (fixed-width docs × bands rows) — it feeds both join
        # sides, and one persisted pass beats two full signature passes
        corpus_all = increment.select(
            F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text")
        ).unionByName(
            history.select(
                F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text")
            )
        )
        all_bands = minhash_band_table(
            corpus_all, num_hashes, bands, n, "__text", "doc_id"
        ).persist()
        inc_ids = increment.select(F.col(id_col).alias("doc_id"))
        inc_bands = all_bands.join(F.broadcast(inc_ids), "doc_id", "left_semi")
    cand = (
        inc_bands.alias("a")
        .join(all_bands.alias("b"), ["band", "bh"])
        .filter(F.col("a.doc_id") != F.col("b.doc_id"))
        .select(
            F.least("a.doc_id", "b.doc_id").alias("a_id"),
            F.greatest("a.doc_id", "b.doc_id").alias("b_id"),
        )
        .distinct()
        .persist()
    )
    cand_docs = cand.select(
        F.explode(F.array("a_id", "b_id")).alias("doc_id")
    ).distinct()
    corpus = increment.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text")
    ).unionByName(
        history.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text"))
    )
    arrs = (
        corpus.join(cand_docs, "doc_id", "left_semi")
        .select("doc_id", word_hashes("__text").alias("__wh"))
        .select("doc_id", shingle_hashes_from_words("__wh", n).alias("sh"))
    )
    sa = arrs.select(F.col("doc_id").alias("a_id"), F.col("sh").alias("sha"))
    sb = arrs.select(F.col("doc_id").alias("b_id"), F.col("sh").alias("shb"))
    c = F.size(F.array_intersect("sha", "shb"))
    jac = c / (F.size("sha") + F.size("shb") - c)
    return (
        cand.join(sa, "a_id")
        .join(sb, "b_id")
        .select("a_id", "b_id", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# D4. SimHash with banded hamming join
# ---------------------------------------------------------------------------


def simhash_signatures(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
) -> DataFrame:
    """SimHash over n-gram shingles: ``(doc_id, simhash: long)`` for
    ``bits=64`` (the recorded-oracle default), ``(doc_id, simhash_0,
    simhash_1)`` for ``bits=128`` (doubles estimator precision — scale
    ``max_hamming`` with it; word w hashes through an independent
    xxhash64 seeded by w).

    bit_i(doc) = sign of Σ_shingles (2·bit_i(h) − 1): ``bits`` conditional
    sums per doc — ONE aggregation regardless of width, map-side partials,
    no UDF. Each word keeps its sign bit clear (63 effective bits/word) so
    values stay positive longs.
    """
    if bits % 64 != 0 or bits <= 0:
        raise ValueError(f"bits must be a positive multiple of 64, got {bits}")
    post = shingles(df, text_col, n, id_col)
    nwords = bits // 64
    # SQL-string expression construction (see minhash_signatures): 64
    # Column-object conditional sums per word cost ~0.5 s of py4j
    # round-trips per call; F.expr parses the identical CaseWhen/Sum tree
    # from one string per expression.
    sums = []
    for w in range(nwords):
        h = "xxhash64(shingle)" if w == 0 else f"xxhash64(shingle, {w})"
        sums += [
            F.expr(
                f"sum(CASE WHEN (shiftright({h}, {i}) & 1) = 1 "
                f"THEN 1 ELSE -1 END) AS s{w}_{i}"
            )
            for i in range(64)
        ]
    agg = post.groupBy("doc_id").agg(*sums)

    def word(w):
        # keep sign bit clear (63 terms) so the value stays positive
        terms = " + ".join(
            f"CASE WHEN s{w}_{i} > 0 THEN CAST({1 << i} AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END"
            for i in range(63)
        )
        return F.expr(terms)

    if nwords == 1:
        return agg.select("doc_id", word(0).alias("simhash"))
    return agg.select(
        "doc_id", *[word(w).alias(f"simhash_{w}") for w in range(nwords)]
    )


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    signatures: DataFrame | None = None,
    bits: int = 64,
    blocks: int | None = None,
) -> DataFrame:
    """Pairs with SimHash hamming distance ≤ max_hamming.

    Pigeonhole banding, generalized to block COMBINATIONS (Manku et al.,
    WWW'07): the fingerprint splits into ``blocks`` (default the minimal
    max_hamming+1) blocks; ≤ d differing bits leave some (blocks−d)-block
    subset untouched, so candidates come from C(blocks, d) equi-joins,
    each keyed by one combination's concatenated block values, instead of
    a cross join. Exact hamming (bit_count of XOR per word) then filters
    candidates. ``blocks`` is the scale knob: more blocks widen the join
    key (bits·(blocks−d)/blocks), pinning bucket occupancy as the corpus
    grows, for C(blocks, d) tables — past ~4M docs the minimal d+1 blocks
    (16-bit keys at 64 bits, d=3) overfill their buckets.

    A pair agreeing on several combinations is emitted once via the
    first-agreeing-table rule (row-local comparison of the full
    signatures both join sides already carry) — no distinct shuffle.

    The signature table feeds both self-join sides, so it is persisted
    (|docs| fixed-width rows); pass ``signatures`` to reuse an
    already-computed table instead. Blocks may straddle the 64-bit words
    of a ``bits=128`` fingerprint — extraction stitches across words.
    """
    from itertools import combinations

    sig = (
        signatures
        if signatures is not None
        else simhash_signatures(df, n, text_col, id_col, bits=bits).persist()
    )
    words = ["simhash"] if bits == 64 else [f"simhash_{w}" for w in range(bits // 64)]
    d = max_hamming
    m = blocks if blocks is not None else d + 1
    if m <= d:
        raise ValueError(f"blocks must exceed max_hamming ({d}), got {m}")
    base, extra = divmod(bits, m)
    widths = [base + 1 if i < extra else base for i in range(m)]
    starts = [sum(widths[:i]) for i in range(m)]

    def block_of(prefix: str, bi: int):
        # gather [start, start+width) across the 64-bit words into a long
        start, width, expr, got = starts[bi], widths[bi], None, 0
        while got < width:
            w, off = (start + got) // 64, (start + got) % 64
            take = min(64 - off, width - got)
            col = F.col(f"{prefix}.{words[w]}" if prefix else words[w])
            seg = F.shiftright(col, off).bitwiseAND(F.lit((1 << take) - 1))
            if got:
                seg = seg * F.lit(1 << got).cast("long")
            expr = seg if expr is None else expr + seg
            got += take
        return expr

    combos = list(combinations(range(m), m - d))
    entry_structs = F.array(
        *[
            F.struct(
                F.lit(ti).alias("tbl"),
                F.array(*[block_of("", bi) for bi in combo]).alias("key"),
            )
            for ti, combo in enumerate(combos)
        ]
    )
    entries = sig.select(
        "doc_id", *words, F.explode(entry_structs).alias("c")
    ).select("doc_id", *words, "c.tbl", "c.key")
    a = entries.alias("a")
    b = entries.alias("b")
    ham = F.bit_count(F.col(f"a.{words[0]}").bitwiseXOR(F.col(f"b.{words[0]}")))
    for w in words[1:]:
        ham = ham + F.bit_count(F.col(f"a.{w}").bitwiseXOR(F.col(f"b.{w}")))

    def agrees(ti: int):
        conds = [block_of("a", bi) == block_of("b", bi) for bi in combos[ti]]
        expr = conds[0]
        for c in conds[1:]:
            expr = expr & c
        return expr

    # first combination both sides fully agree on — defined for any join hit
    first_agree = F.when(agrees(0), F.lit(0))
    for ti in range(1, len(combos)):
        first_agree = first_agree.when(agrees(ti), F.lit(ti))
    return (
        a.join(b, ["tbl", "key"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .filter(F.col("tbl") == first_agree)
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# D6. Duplicate clustering (connected components over near-dup pairs)
# ---------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame,
    a_col: str = "a_id",
    b_col: str = "b_id",
    max_iter: int = 25,
) -> DataFrame:
    """(doc_id, cluster_id) for every doc in ``pairs``: cluster_id is the
    minimum doc_id reachable in the undirected pair graph.

    Pair lists answer "is X a dup of Y"; dedup pipelines need "keep one doc
    per duplicate GROUP", i.e. the transitive closure. Iterative min-label
    propagation, the scale formulation (same family as GraphX/GraphFrames
    CC): each round is one equi-join + min-aggregate shuffle keyed on
    doc_id, rounds needed = graph diameter (near-dup clusters are shallow —
    a handful of rounds in practice, ``max_iter`` bounds pathology).
    ``localCheckpoint`` truncates lineage each round so the plan does not
    grow with iteration count, and the monotone sum-of-labels is the
    convergence test (one cheap agg per round, no change-join).
    """
    # persist the pair table BEFORE symmetrizing: the union references it
    # twice, and without the persist the (expensive — e.g. a full LSH
    # candidate+verify pipeline) pair plan would execute once per side
    pre_persisted = pairs.storageLevel.useMemory or pairs.storageLevel.useDisk
    if not pre_persisted:
        pairs = pairs.persist()
    # Small-graph fast path: the label loop below pays one join + agg +
    # checkpoint JOB per round of graph diameter — ~0.3-0.5 s of fixed
    # scheduling latency each even when the graph is a few hundred pairs
    # (measured ~3 s for a 188-pair graph at sf0.1). A pair graph small
    # enough to collect is closed by a driver union-find into the
    # identical min-reachable-id labels in microseconds; the gate reads
    # the persisted pair table the loop would have materialized anyway.
    # NULL ids (impossible from the LSH/join producers, which key on them)
    # fall through to the loop so the join-key NULL semantics stay
    # bit-identical.
    rows = bounded_collect(pairs.select(a_col, b_col))
    if rows is not None and all(None not in r for r in rows):
        parent: dict = {}

        def _find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in rows:
            a, b = r[0], r[1]
            if a not in parent:
                parent[a] = a
            if b not in parent:
                parent[b] = b
            ra, rb = _find(a), _find(b)
            if ra != rb:
                parent[ra] = rb
        comp_min: dict = {}
        for v in parent:
            root = _find(v)
            m = comp_min.get(root)
            if m is None or v < m:
                comp_min[root] = v
        out_rows = [(v, comp_min[_find(v)]) for v in parent]
        id_type = pairs.schema[a_col].dataType
        schema = T.StructType(
            [
                T.StructField("doc_id", id_type),
                T.StructField("cluster_id", id_type),
            ]
        )
        out = pairs.sparkSession.createDataFrame(out_rows, schema)
        if not pre_persisted:
            pairs.unpersist()
        return out
    sym = pairs.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    ).union(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
    edges = sym.persist()
    # initialize labels at round 1's output, min(self, neighbors) — the
    # first propagation step from identity labels costs one groupBy on the
    # symmetric edge list, the same shuffle the identity init's distinct()
    # paid, so the whole fixed-point starts one round (one join + agg +
    # checkpoint job) ahead
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("__m"))
        .select(
            F.col("src").alias("node"),
            F.least(F.col("src"), F.col("__m")).alias("label"),
        )
        .localCheckpoint(eager=False)
    )
    prev_sum = labels.agg(F.sum("label")).collect()[0][0]
    for i in range(max_iter):
        # each round references `labels` twice (neighbor lookup + carry),
        # so it MUST be checkpointed per round — composing several lazy
        # rounds doubles the plan per round and blows up exponentially
        nbr_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_min"))
        )
        labels = (
            labels.join(nbr_min, labels.node == nbr_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("nbr_min", F.col("label"))
                ).alias("label"),
            )
            # lazy: the convergence agg below materializes it, ONE job/round
            .localCheckpoint(eager=False)
        )
        if i >= 2:
            # POINTER DOUBLING from round 3 on: label ← min(label,
            # label(label)). Every label is itself a node of the same
            # component, so the shortcut only ever adopts a reachable
            # node's (smaller) label — the fixpoint is unchanged and the
            # monotone-sum convergence test still applies; what changes
            # is reach: ~2 hops/round instead of 1. Measured on the
            # embedding pair graph at sf0.1 (diameter ~15): 16 → 10
            # convergence rounds, identical labels. Gated to round ≥3
            # because shallow graphs — near-dup clusters usually are —
            # converge in ≤3 rounds and would pay the extra self-join
            # for nothing; a deep graph pays it exactly where pointers
            # already reach far. ONE lazy level deep only: the self-join
            # reads this round's (unmaterialized) propagate step twice,
            # which re-runs one cheap local join, while chaining k lazy
            # doubling steps would recompute 2^k subtrees. Also derisks
            # the max_iter cap: 25 rounds now covers diameter ~50.
            labels = (
                labels.alias("x")
                .join(
                    labels.alias("y"),
                    F.col("x.label") == F.col("y.node"),
                    "left",
                )
                .select(
                    F.col("x.node").alias("node"),
                    F.least(
                        F.col("x.label"),
                        F.coalesce(F.col("y.label"), F.col("x.label")),
                    ).alias("label"),
                )
                .localCheckpoint(eager=False)
            )
        cur_sum = labels.agg(F.sum("label")).collect()[0][0]
        if cur_sum == prev_sum:  # labels only decrease; fixed sum = converged
            break
        prev_sum = cur_sum
    edges.unpersist()
    if not pre_persisted:
        pairs.unpersist()
    return labels.select("node", "label").toDF("doc_id", "cluster_id")


def duplicate_clusters(
    df: DataFrame,
    threshold: float = 0.8,
    num_hashes: int = 96,
    bands: int = 24,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Near-duplicate clusters: MinHash-LSH pairs → transitive closure.

    Returns (doc_id, cluster_id) for docs in at least one near-dup pair;
    cluster_id = min doc_id of the group (the canonical survivor a
    keep-one-per-cluster dedup would retain).
    """
    pairs = minhash_lsh_pairs(
        df,
        threshold=threshold,
        num_hashes=num_hashes,
        bands=bands,
        n=n,
        text_col=text_col,
        id_col=id_col,
        max_shingle_freq=max_shingle_freq,
    )
    return connected_components(pairs)


def fuzzy_string_pairs(
    df: DataFrame,
    col: str,
    max_dist: int = 2,
    q: int = 2,
    max_gram_freq: "int | None" = None,
) -> DataFrame:
    """Edit-distance similarity join over a string column (entity
    resolution / fuzzy key dedup): distinct-value pairs with
    ``1 ≤ levenshtein ≤ max_dist``, as (a_name, b_name, dist).

    Blocking is a positional-free q-gram inverted index with the classic
    count-filtering guarantee (Gravano et al., VLDB 2001): strings with
    edit distance ≤ d share at least ``max_len − q + 1 − d·q`` q-grams, so
    requiring one shared gram has PERFECT recall for strings of length
    ≥ q·(d+1) — shorter values are excluded up front (documented
    precondition, applied identically in the SQL twin), which keeps the
    candidate join an equi-join with provable completeness, never a
    cartesian. Candidates are verified with the built-in ``levenshtein``
    (JVM-side, row-local).

    100 TB shape: one distinct on the value universe (entity-resolution
    inputs have |distinct| ≪ |rows|), one gram-keyed equi-join, one pair
    dedup, and a codegen verify. ``max_gram_freq`` is the skew guard for
    degenerate alphabets — grams above the cap are dropped from pairing
    (recall then relies on each pair's OTHER shared grams; the default
    None keeps the exactness guarantee).
    """
    min_len = q * (max_dist + 1)
    names = (
        df.select(F.col(col).cast("string").alias("s"))
        .filter(F.length("s") >= min_len)
        .distinct()
    )
    idx = F.sequence(F.lit(1), F.length("s") - (q - 1))
    grams = names.select(
        "s",
        F.explode(
            F.array_distinct(F.transform(idx, lambda i: F.substring(F.col("s"), i, q)))
        ).alias("g"),
    )
    if max_gram_freq is not None:
        freq = grams.groupBy("g").agg(F.count(F.lit(1)).alias("__n"))
        grams = grams.join(
            freq.filter(F.col("__n") <= max_gram_freq).select("g"), "g"
        )
    a = grams.select(F.col("s").alias("a_name"), "g")
    b = grams.select(F.col("s").alias("b_name"), "g")
    cand = (
        a.join(b, "g")
        .filter(F.col("a_name") < F.col("b_name"))
        .select("a_name", "b_name")
        .distinct()
    )
    dist = F.levenshtein("a_name", "b_name")
    return cand.select(
        "a_name", "b_name", dist.cast("long").alias("dist")
    ).filter(F.col("dist") <= max_dist)
