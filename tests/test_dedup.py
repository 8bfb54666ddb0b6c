"""Dedup operator tests on planted duplicates."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kinesis_data_counter_spark.operators import dedup as DD

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 1
    (3, "The  Quick Brown fox jumps over the lazy dog near the river bank today"),  # norm-dup of 1
    (4, "the quick brown fox jumps over the lazy dog near the river bank tonight"),  # near-dup
    (5, "completely different words about spark query engines and shuffle plans here"),
    (6, "another unrelated document mentioning window aggregation and hyperloglog sketches"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_duplicates(docs):
    rows = DD.exact_duplicates(docs).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.n_dups == 3 and r.canonical_id == 1 and r.dup_ids == [1, 2, 3]


def test_deduplicate_exact_keeps_min_id(docs):
    kept = {r.doc_id for r in DD.deduplicate_exact(docs).collect()}
    assert kept == {1, 4, 5, 6}


def test_ngram_jaccard_pairs(docs):
    pairs = {
        (r.a_id, r.b_id): r.jaccard
        for r in DD.ngram_jaccard_pairs(docs, threshold=0.5, n=3).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0  # identical shingle sets
    assert (1, 4) in pairs and 0.5 <= pairs[(1, 4)] < 1.0  # one word changed
    assert not any({5, 6} & {a, b} for a, b in pairs)  # unrelated docs absent


def test_minhash_lsh_finds_exact_pairs(docs):
    got = {
        (r.a_id, r.b_id)
        for r in DD.minhash_lsh_pairs(docs, threshold=0.5, num_hashes=64, bands=32, n=3).collect()
    }
    expect = {
        (r.a_id, r.b_id)
        for r in DD.ngram_jaccard_pairs(docs, threshold=0.5, n=3).collect()
    }
    assert got == expect


def test_minhash_lsh_precomputed_bands_table_identical(docs):
    # the streaming first-batch path passes its persisted
    # minhash_band_table result into minhash_lsh_pairs so the signature
    # pass is not recomputed — results must be IDENTICAL to the inline
    # path (same hash family, same band slicing, same verify stage)
    kw = dict(threshold=0.5, num_hashes=64, bands=32, n=3)
    inline = {
        (r.a_id, r.b_id, round(r.jaccard, 9))
        for r in DD.minhash_lsh_pairs(docs, **kw).collect()
    }
    bt = DD.minhash_band_table(docs, num_hashes=64, bands=32, n=3)
    via_table = {
        (r.a_id, r.b_id, round(r.jaccard, 9))
        for r in DD.minhash_lsh_pairs(docs, bands_table=bt, **kw).collect()
    }
    assert via_table == inline and len(inline) > 0


def test_minhash_lsh_bands_table_rejects_pruning(docs):
    bt = DD.minhash_band_table(docs, num_hashes=64, bands=32, n=3)
    with pytest.raises(ValueError, match="bands_table"):
        DD.minhash_lsh_pairs(
            docs, num_hashes=64, bands=32, n=3,
            bands_table=bt, max_shingle_freq=3,
        )


def test_minhash_signature_shape(docs):
    sig = DD.minhash_signatures(docs, num_hashes=16, n=3).collect()
    assert len(sig) == len(DOCS)
    assert all(len(r.sig) == 16 for r in sig)
    by_id = {r.doc_id: r.sig for r in sig}
    assert by_id[1] == by_id[2]  # identical docs → identical signatures
    assert by_id[1] != by_id[5]


def test_simhash_banding_equals_bruteforce(docs, spark):
    banded = {
        (r.a_id, r.b_id) for r in DD.simhash_pairs(docs, max_hamming=6, n=3).collect()
    }
    sig = DD.simhash_signatures(docs, n=3)
    a = sig.select(F.col("doc_id").alias("a_id"), F.col("simhash").alias("ha"))
    b = sig.select(F.col("doc_id").alias("b_id"), F.col("simhash").alias("hb"))
    brute = {
        (r.a_id, r.b_id)
        for r in a.join(b, F.col("a_id") < F.col("b_id"))
        .filter(F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))) <= 6)
        .collect()
    }
    assert banded == brute
    assert (1, 2) in banded  # identical docs at hamming 0
    # first-agreeing-chunk rule replaced distinct: each pair exactly once
    rows = DD.simhash_pairs(docs, max_hamming=6, n=3).collect()
    assert len(rows) == len({(r.a_id, r.b_id) for r in rows})


def test_simhash_128_bit_banding_equals_bruteforce(docs, spark):
    # the corpus-scale fingerprint width (32-bit chunks): same pigeonhole
    # guarantee, verified against the two-word brute hamming join
    sig = DD.simhash_signatures(docs, n=3, bits=128)
    assert set(sig.columns) == {"doc_id", "simhash_0", "simhash_1"}
    banded = {
        (r.a_id, r.b_id)
        for r in DD.simhash_pairs(
            docs, max_hamming=3, n=3, bits=128
        ).collect()
    }
    a = sig.select(
        F.col("doc_id").alias("a_id"),
        F.col("simhash_0").alias("a0"),
        F.col("simhash_1").alias("a1"),
    )
    b = sig.select(
        F.col("doc_id").alias("b_id"),
        F.col("simhash_0").alias("b0"),
        F.col("simhash_1").alias("b1"),
    )
    ham = F.bit_count(F.col("a0").bitwiseXOR(F.col("b0"))) + F.bit_count(
        F.col("a1").bitwiseXOR(F.col("b1"))
    )
    brute = {
        (r.a_id, r.b_id)
        for r in a.join(b, F.col("a_id") < F.col("b_id")).filter(ham <= 3).collect()
    }
    assert banded == brute
    assert (1, 2) in banded  # identical docs at hamming 0 in any width
    # word 0 is the same 64-bit simhash as bits=64 (seeded words extend it)
    s64 = {r.doc_id: r.simhash for r in DD.simhash_signatures(docs, n=3).collect()}
    s128 = {r.doc_id: r.simhash_0 for r in sig.collect()}
    assert s64 == s128


def test_simhash_combination_banding_equals_bruteforce(docs, spark):
    # Manku-style m>d+1 blocks: C(m,d) tables on (m-d)-block combination
    # keys must find exactly the brute-force pair set, once each
    sig = DD.simhash_signatures(docs, n=3)
    a = sig.select(F.col("doc_id").alias("a_id"), F.col("simhash").alias("ha"))
    b = sig.select(F.col("doc_id").alias("b_id"), F.col("simhash").alias("hb"))
    brute = {
        (r.a_id, r.b_id)
        for r in a.join(b, F.col("a_id") < F.col("b_id"))
        .filter(F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))) <= 6)
        .collect()
    }
    for m in (8, 10):  # C(8,6)=28 / C(10,6)=210-combination tables
        rows = DD.simhash_pairs(docs, max_hamming=6, n=3, blocks=m).collect()
        assert {(r.a_id, r.b_id) for r in rows} == brute, m
        assert len(rows) == len(brute), m  # exactly once per pair
    # 128-bit fingerprints with blocks that straddle the word boundary
    rows = DD.simhash_pairs(docs, max_hamming=3, n=3, bits=128, blocks=6).collect()
    assert (1, 2) in {(r.a_id, r.b_id) for r in rows}


def test_stop_shingle_pruning(spark):
    # a shingle shared by every doc must not create candidates once pruned
    rows = [(i, f"common boiler plate line unique{i} tail words here") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pruned = DD.ngram_jaccard_pairs(df, threshold=0.9, n=3, max_shingle_freq=5)
    assert pruned.count() == 0


def test_connected_components_chain_and_triangle(spark):
    from kinesis_data_counter_spark.operators.dedup import connected_components

    # chain 1-2-3-4 (diameter 3, needs >1 propagation round), triangle
    # 10-11-12, isolated pair 20-21
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "a_id long, b_id long",
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_fast_path_matches_loop(spark, monkeypatch):
    # the bounded union-find fast path (pairs within bounded_collect's
    # bounds) must be bit-identical to the distributed label-propagation
    # loop — rows, values AND schema — on chains, stars, dupes/self-loops
    # and a random graph; the empty graph must come back empty on both
    # paths
    import random

    import kinesis_data_counter_spark.operators.dedup as DD
    from kinesis_data_counter_spark import session

    random.seed(7)
    cases = {
        "chain": [(i, i + 1) for i in range(40)],
        "star": [(0, i) for i in range(1, 25)],
        "dupes+selfloops": [(1, 2), (2, 1), (3, 3), (1, 2)],
        "random": [
            (random.randrange(200), random.randrange(200)) for _ in range(300)
        ],
        "empty": [],
    }
    for name, edges in cases.items():
        df = spark.createDataFrame(
            edges or [(None, None)], "a_id long, b_id long"
        )
        if not edges:
            df = df.filter(F.lit(False))
        fast = DD.connected_components(df)
        with monkeypatch.context() as m:
            # force the distributed loop
            m.setattr(session, "DRIVER_COLLECT_MAX_ROWS", -1)
            slow = DD.connected_components(df)
            diff = fast.exceptAll(slow).count() + slow.exceptAll(fast).count()
        assert diff == 0, name
        assert fast.schema == slow.schema, name


def test_byte_bound_sends_connected_components_down_the_loop(spark, monkeypatch):
    # a pair graph far under the row bound but over the (shrunk) byte bound
    # is not collected: it takes the label-propagation loop, which must
    # still equal the union-find fast path
    import random

    from kinesis_data_counter_spark import session

    rng = random.Random(20261018)
    df = spark.createDataFrame(
        [(rng.randrange(300), rng.randrange(300)) for _ in range(200)],
        "a_id long, b_id long",
    )
    fast = sorted(map(tuple, DD.connected_components(df).collect()))
    gate = []

    def spy(frame):
        gate.append(session.bounded_collect(frame))
        return gate[-1]

    monkeypatch.setattr(session, "DRIVER_COLLECT_MAX_BYTES", 100)
    monkeypatch.setattr(DD, "bounded_collect", spy)
    loop = sorted(map(tuple, DD.connected_components(df).collect()))
    assert gate == [None]
    assert loop == fast


def test_shingle_word_hash_projection_stays_separate(spark):
    # the word-hash array must survive as its own projection: if a
    # refactor collapses it into the shingle-combiner lambda, the word
    # transform re-evaluates per shingle term (measured 13s vs 0.46s at
    # sf0.1 — see shingle_hashes_from_words docstring)
    from kinesis_data_counter_spark.operators.dedup import shingles

    docs = spark.createDataFrame([(1, "a b c d e f g")], "doc_id long, text string")
    plan = shingles(docs)._jdf.queryExecution().optimizedPlan().toString()
    assert "__wh#" in plan, plan


def test_fuzzy_string_pairs_exact_recall(spark):
    rows = [
        ("small ring",), ("smalls ring",),   # d=1 (insert)
        ("red widget",), ("red wadget",),    # d=1 (substitute)
        ("blue bolt",), ("bolt blue",),      # d=6: beyond threshold
        ("tiny",),                           # below q*(d+1)=6: excluded
        ("small ring",),                     # duplicate row: distinct first
    ]
    df = spark.createDataFrame(rows, "p_name string")
    got = {
        (r.a_name, r.b_name): r.dist
        for r in DD.fuzzy_string_pairs(df, "p_name", max_dist=2, q=2).collect()
    }
    assert got == {
        ("red wadget", "red widget"): 1,
        ("small ring", "smalls ring"): 1,
    }


def test_fuzzy_string_pairs_skew_guard_trades_recall(spark):
    # capping gram frequency drops pairs whose ONLY shared grams are the
    # capped ones — proving the guard is live and the uncapped default is
    # what carries the exactness guarantee
    rows = [("aaaaaaa",), ("aaaaaab",)]
    df = spark.createDataFrame(rows, "p_name string")
    full = DD.fuzzy_string_pairs(df, "p_name", max_dist=2, q=2)
    assert full.count() == 1
    capped = DD.fuzzy_string_pairs(df, "p_name", max_dist=2, q=2, max_gram_freq=1)
    assert capped.count() == 0


def test_fuzzy_string_pairs_matches_brute_on_random_corpus(spark):
    # seeded random corpus from a tiny alphabet (maximizes near-collisions);
    # the q-gram blocking must reproduce the brute levenshtein join exactly
    import itertools
    import random

    rng = random.Random(20260814)
    words = list({
        "".join(rng.choice("abcd") for _ in range(rng.randint(6, 9)))
        for _ in range(80)
    })

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    want = {
        (a, b): lev(a, b)
        for a, b in itertools.combinations(sorted(words), 2)
        if lev(a, b) <= 2
    }
    df = spark.createDataFrame([(w,) for w in words], "p_name string")
    got = {
        (r.a_name, r.b_name): r.dist
        for r in DD.fuzzy_string_pairs(df, "p_name", max_dist=2, q=2).collect()
    }
    assert got == want, (len(got), len(want))
