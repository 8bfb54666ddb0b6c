"""Text-analysis operator tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kinesis_data_counter_spark.operators import text as TX


def test_detect_language(spark):
    rows = [
        (1, "the cat and the dog of the house is here"),
        (2, "der hund und die katze ist nicht hier"),
        (3, "el perro es de la casa que vemos"),
        (4, "le chat et les chiens des villes"),
        (5, "xyzzy plugh quux"),  # no markers → und
        (6, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.detected for r in TX.detect_language_bulk(df).collect()}
    assert got == {1: "en", 2: "de", 3: "es", 4: "fr", 5: "und", 6: "und"}


def test_token_counts(spark):
    df = spark.createDataFrame(
        [(1, "one two  three"), (2, ""), (3, "   "), (4, "don't stop, it's 42km!")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.ws, r.bpe)
        for r in df.select(
            "doc_id",
            TX.token_count(F.col("text")).alias("ws"),
            TX.bpe_ish_token_count(F.col("text")).alias("bpe"),
        ).collect()
    }
    assert got[1] == (3, 3)
    assert got[2][0] == 0
    assert got[3][0] == 0
    # don ' t stop , it ' s 42 km !  → 11 bpe-ish chunks, 4 ws tokens
    assert got[4] == (4, 11)


def test_quality_features(spark):
    good = "this is a perfectly reasonable sentence with enough words to pass"
    bad_punct = "!!! ??? ;;; ::: !!!"
    short = "too short"
    df = spark.createDataFrame(
        [(1, good), (2, bad_punct), (3, short)], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in TX.quality_features(df).collect()}
    assert got[1].quality_ok is True
    assert got[2].quality_ok is False  # punct_ratio way over 0.2
    assert got[3].quality_ok is False  # n_tokens < 5
    assert got[1].stopword_ratio > 0
    assert got[2].punct_ratio > 0.5


def test_quality_features_shared_split_edges(spark):
    # pins the round-12 single-tokenization + regexp_count rewrite against
    # the original token_count/word-hit/regexp_replace semantics on the
    # edge rows where they could plausibly diverge: NULL, empty,
    # whitespace-only (trim-before-split), leading/trailing whitespace
    # (the old stopword split was untrimmed), mixed \t\n whitespace, and
    # non-ASCII punctuation counting
    rows = [
        (1, None),
        (2, ""),
        (3, "   "),
        (4, "  the  quick fox is here  "),
        (5, "a\t b\nc"),
        (6, "汉字 的 是 test!"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in TX.quality_features(df).collect()}
    assert got[1].n_tokens is None and got[1].quality_ok is False
    assert got[2].n_tokens == 0 and got[2].mean_token_len == 0.0
    assert got[3].n_tokens == 0  # trim-first: whitespace-only is empty
    # leading/trailing whitespace adds no tokens and no stopword hits
    assert got[4].n_tokens == 5
    assert got[4].stopword_ratio == round(2 / 5, 4)
    assert got[5].n_tokens == 3  # \t and \n are token separators
    # Java \w is ASCII-only: the 4 CJK chars + '!' all count as
    # punctuation (same under the old regexp_replace formulation)
    assert got[6].punct_ratio == round(5 / 12, 4)


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world"), (3, "different")],
        "doc_id long, text string",
    )
    fps = [r.fp for r in df.select(TX.fingerprint(F.col("text")).alias("fp")).collect()]
    assert fps[0] == fps[1] != fps[2]


def test_rolling_hash_fingerprints(spark):
    text = " ".join(f"w{i}" for i in range(20))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = TX.rolling_hash_fingerprints(df, window=8, stride=4).collect()
    # positions 1, 5, 9, 13 (len-7=13 cap)
    assert [r.pos for r in rows] == [1, 5, 9, 13]
    assert len({r.fp for r in rows}) == len(rows)


def test_bigrams_zip_with(spark):
    from kinesis_data_counter_spark.operators.text import bigrams, clean_tokens

    df = spark.createDataFrame(
        [("the quick brown fox",), ("  padded   text  ",), ("one",), ("",)],
        "text string",
    )
    got = df.select(bigrams(clean_tokens(F.col("text"))).alias("bg")).collect()
    assert got[0].bg == ["the quick", "quick brown", "brown fox"]
    assert got[1].bg == ["padded text"]
    assert got[2].bg == []
    assert got[3].bg == []


def test_tokenize_udtf_positions_and_nulls(spark):
    from kinesis_data_counter_spark.functions.udtfs import tokenize_positions_udtf

    spark.udtf.register("tok_test_udtf", tokenize_positions_udtf())
    spark.createDataFrame(
        [(1, "  The QUICK  fox "), (2, None), (3, "")],
        "doc_id long, text string",
    ).createOrReplaceTempView("tok_test_v")
    rows = spark.sql(
        "SELECT doc_id, t.pos, t.token FROM tok_test_v, LATERAL tok_test_udtf(text) t"
    ).collect()
    got = sorted((r.doc_id, r.pos, r.token) for r in rows)
    # lowercased, whitespace-run split, 0-based positions; null/empty rows
    # contribute nothing
    assert got == [(1, 0, "the"), (1, 1, "quick"), (1, 2, "fox")]


def test_repetition_features_pinned(spark):
    import kinesis_data_counter_spark.operators.text as TX

    rows = [
        # "spam spam spam ham": dup words 3/4; top bigram "spam spam" ×2,
        # chars = 2*9/18
        (1, "spam spam spam ham"),
        (2, "all words unique here"),
        (3, "solo"),  # no bigram: NULL top, zero fractions
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in TX.repetition_features(df).collect()}
    r1 = out[1]
    assert r1["n_words"] == 4 and r1["dup_word_frac"] == 0.75
    assert r1["top_bigram"] == "spam spam" and r1["top_bigram_cnt"] == 2
    assert r1["top_bigram_char_frac"] == 1.0  # 2*9 chars / 18 chars
    r2 = out[2]
    assert r2["dup_word_frac"] == 0.0 and r2["top_bigram_cnt"] == 1
    r3 = out[3]
    assert r3["n_words"] == 1 and r3["top_bigram"] is None
    assert r3["top_bigram_cnt"] == 0 and r3["top_bigram_char_frac"] == 0.0


def test_repetition_tie_break_is_deterministic(spark):
    import kinesis_data_counter_spark.operators.text as TX

    # "b b" and "a a" both occur once... build a doc where two bigrams tie
    # at the top: "x y x y" -> "x y"×2, "y x"×1. Use "a b a b c d c d":
    # "a b"×2, "b a"×1, "b c"×1, "c d"×2, "d c"×1 — tie between "a b" and
    # "c d"; descending lexicographic picks "c d"
    df = spark.createDataFrame([(1, "a b a b c d c d")], "doc_id long, text string")
    (r,) = TX.repetition_features(df).collect()
    assert r["top_bigram"] == "c d" and r["top_bigram_cnt"] == 2


def test_tfidf_top_terms_pinned(spark):
    import math

    import kinesis_data_counter_spark.operators.text as TX

    df = spark.createDataFrame([(1, "a a b"), (2, "b c")], "doc_id long, text string")
    out = {(r["doc_id"], r["rank"]): r for r in TX.tfidf_top_terms(df, k=2).collect()}
    # N=2; df: a->1, b->2, c->1; idf(a)=idf(c)=ln(3/2)+1, idf(b)=ln(1)+1=1
    idf_rare = round(math.log(3 / 2) + 1, 6)
    r11 = out[(1, 1)]
    assert r11["term"] == "a" and r11["tf"] == 2
    assert abs(r11["tfidf"] - round(2 * (math.log(3 / 2) + 1), 6)) < 1e-9
    assert out[(1, 2)]["term"] == "b" and out[(1, 2)]["tfidf"] == 1.0
    r21 = out[(2, 1)]
    assert r21["term"] == "c" and abs(r21["tfidf"] - idf_rare) < 1e-9
    assert out[(2, 2)]["term"] == "b"


def test_redact_pii_pinned(spark):
    import kinesis_data_counter_spark.operators.text as TX

    rows = [
        (1, "mail me at a.b+c@test.org or call 555-123-4567 ok"),
        (2, "no pii here"),
        (3, "two mails x@y.io and z@w.co"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in TX.redact_pii(df).collect()}
    assert out[1]["n_emails"] == 1 and out[1]["n_phones"] == 1
    assert out[1]["text_redacted"] == "mail me at <EMAIL> or call <PHONE> ok"
    assert out[2]["n_emails"] == 0 and out[2]["text_redacted"] == "no pii here"
    assert out[3]["n_emails"] == 2
    assert out[3]["text_redacted"] == "two mails <EMAIL> and <EMAIL>"


def test_lm_quality_score_matches_hand_computation(spark):
    import math

    from kinesis_data_counter_spark.operators.text import lm_quality_score

    docs = spark.createDataFrame(
        [(0, "the the cat"), (1, "the zyx"), (2, "")],
        "doc_id long, text string",
    )
    # corpus: the×3, cat×1, zyx×1 → T=5
    got = {
        r["doc_id"]: (r["n_tokens"], r["avg_logprob"], r["low_quality"])
        for r in lm_quality_score(docs, threshold=-0.5).collect()
    }
    lp = lambda c: math.log10(c / 5)
    exp0 = round((lp(3) + lp(3) + lp(1)) / 3, 6)
    exp1 = round((lp(3) + lp(1)) / 2, 6)
    assert got[0] == (3, exp0, exp0 < -0.5)
    assert got[1] == (2, exp1, exp1 < -0.5)
    assert 2 not in got  # empty docs have no token rows
    # the rare-token doc scores strictly lower
    assert got[1][1] < got[0][1]


# ---------------------------------------------------------------------------
# BPE subword tokenizer
# ---------------------------------------------------------------------------


def test_bpe_train_is_deterministic_and_greedy(spark):
    docs = spark.createDataFrame(
        [(0, "low low low low low lower lower newest newest")], "doc_id long, text string"
    )
    m1 = TX.bpe_train_merges(docs, num_merges=4, sample_docs=10)
    m2 = TX.bpe_train_merges(docs, num_merges=4, sample_docs=10)
    assert m1 == m2 and len(m1) == 4
    # the most frequent pair corpus-wide merges first: 'l'+'o' (freq 7)
    assert m1[0] == ("l", "o")


def test_bpe_falsification_controls(spark):
    docs = spark.createDataFrame(
        [(0, "alpha beta beta gamma"), (1, "alpha alpha beta")],
        "doc_id long, text string",
    )
    # zero merges: tokens == unmerged symbols exactly, so the strict
    # compression bound must FAIL (proves compression_ok is computed)
    (s0,) = TX.bpe_roundtrip_stats(docs, []).collect()
    assert s0.roundtrip_all and not s0.compression_ok
    # the documented end-of-word-marker collision: a doc whose TEXT contains
    # the literal "</w>" cannot decode losslessly, so roundtrip_all must go
    # false (proves the invertibility check is computed, not assumed)
    merges = TX.bpe_train_merges(docs, num_merges=3, sample_docs=10)
    collide = spark.createDataFrame(
        [(0, "weird</w>token here")], "doc_id long, text string"
    )
    (s_bad,) = TX.bpe_roundtrip_stats(collide, merges).collect()
    assert not s_bad.roundtrip_all
    # sanity: the same merges still roundtrip clean text
    (s_ok,) = TX.bpe_roundtrip_stats(docs, merges).collect()
    assert s_ok.roundtrip_all
    # NULL and empty docs are counted but not decoded; with 50 merges this
    # tiny vocab collapses to one token per word
    edge = spark.createDataFrame(
        [(0, "spark table scan spark table"), (1, "table scan table scan scan"),
         (2, None), (3, "")],
        "doc_id long, text string",
    )
    edge_merges = TX.bpe_train_merges(edge, num_merges=50, sample_docs=10)
    (s_edge,) = TX.bpe_roundtrip_stats(edge, edge_merges).collect()
    assert (s_edge.n_docs, s_edge.n_nonnull) == (4, 3)
    assert s_edge.roundtrip_all and s_edge.compression_ok


def test_bm25_ranking_and_edges(spark):
    rows = [
        (0, "spark spark spark"),            # high tf for 'spark'
        (1, "spark table"),                  # one hit, short doc
        (2, "table scan scan scan scan"),    # rare-term hits
        (3, "nothing relevant here at all"), # no query terms → no row
        (4, None),                           # NULL text → no row
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = TX.bm25_scores(docs, ("spark", "scan"), k=10).collect()
    by_id = {r.doc_id: r for r in got}
    assert 3 not in by_id and 4 not in by_id
    # 'scan' appears in 1 of 4 docs, 'spark' in 2 → scan is rarer, and doc 2
    # has tf=4 of it: it must outrank the spark docs
    assert [r.doc_id for r in sorted(got, key=lambda r: r.rank)][0] == 2
    # ranks are dense from 1 and scores non-increasing
    ranks = sorted(r.rank for r in got)
    assert ranks == list(range(1, len(got) + 1))
    ordered = sorted(got, key=lambda r: r.rank)
    assert all(a.score >= b.score for a, b in zip(ordered, ordered[1:]))
    # deterministic across runs
    again = TX.bm25_scores(docs, ("spark", "scan"), k=10).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))


def test_wordlist_score_counts_occurrences_not_distinct(spark):
    from kinesis_data_counter_spark.operators.text import wordlist_score

    docs = spark.createDataFrame(
        [(1, "Bad bad BAD good good"), (2, "all clean words here"), (3, None), (4, "")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_flagged"], r["flag_ratio"], r["flagged"])
        for r in wordlist_score(docs, words=("bad",), threshold=0.5).collect()
    }
    assert got[1] == (5, 3, 0.6, True)  # three occurrences, case-folded
    assert got[2] == (4, 0, 0.0, False)
    assert got[3] == (0, 0, 0.0, False)
    assert got[4] == (0, 0, 0.0, False)


def test_wordlist_score_threshold_is_strict(spark):
    from kinesis_data_counter_spark.operators.text import wordlist_score

    docs = spark.createDataFrame([(1, "bad ok ok ok")], "doc_id long, text string")
    row = wordlist_score(docs, words=("bad",), threshold=0.25).collect()[0]
    assert row["flag_ratio"] == 0.25 and row["flagged"] is False  # > not >=


def test_pmi_collocations_hand_corpus(spark):
    # 'new york' always adjacent -> maximal PMI; 'the' pairs with
    # everything -> low PMI; min_count prunes the singleton pair
    import math

    from kinesis_data_counter_spark.operators.text import pmi_collocations

    docs = spark.createDataFrame(
        [(i, "the cat new york the dog new york") for i in range(5)]
        + [(50 + i, "the fish") for i in range(5)]  # dilutes 'the'
        + [(99, "rare pair")],
        "doc_id long, text string",
    )
    rows = {r.bigram: r for r in pmi_collocations(docs, min_count=2, k=50).collect()}
    assert "rare pair" not in rows  # below min_count
    assert "new york" in rows and rows["new york"].c_ab == 10
    # hand-compute: 52 unigrams total (incl. 'the fish' x5 and the
    # rare-pair doc), 41 bigrams total; p(new)=p(york)=10/52,
    # p(new york)=10/41
    want = round(math.log((10 / 41) / ((10 / 52) * (10 / 52))), 6)
    assert rows["new york"].pmi == want
    assert rows["new york"].pmi > rows["the cat"].pmi


def test_winnow_containment_catches_asymmetric_copy(spark):
    # a 12-token paragraph lifted verbatim into a 60-token document: Jaccard
    # over shingles is tiny (~0.2) but containment of the small doc is ~1.0
    # — the case MinHash-based near-dup thresholds miss by construction
    from kinesis_data_counter_spark.operators.text import winnow_containment_pairs

    para = " ".join(f"p{i}" for i in range(12))
    big = " ".join(f"a{i}" for i in range(24)) + " " + para + " " + " ".join(
        f"z{i}" for i in range(24)
    )
    other = " ".join(f"q{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, para), (2, big), (3, other)], "doc_id long, text string"
    )
    got = winnow_containment_pairs(df, min_containment=0.5).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in got] == [(1, 2)]
    (r,) = got
    # every fingerprint of the small doc appears in the big one
    assert r["shared_fp"] == r["n_fp_a"]
    assert r["containment"] == 1.0


def test_winnow_containment_hot_fp_cap_prunes_boilerplate(spark):
    # a fingerprint shared by MANY docs (boilerplate) is dropped before the
    # join: 30 docs sharing one sentence produce no pairs at max_fp_df=20,
    # but do at a higher cap — the O(df^2) candidate guard is observable
    from kinesis_data_counter_spark.operators.text import winnow_containment_pairs

    boiler = "all rights reserved contact us for terms"
    rows = [(i, boiler + f" unique tail {i} x{i} y{i} z{i}") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = winnow_containment_pairs(df, max_fp_df=20, min_containment=0.3)
    uncapped = winnow_containment_pairs(df, max_fp_df=1000, min_containment=0.3)
    assert capped.count() == 0
    assert uncapped.count() > 0
