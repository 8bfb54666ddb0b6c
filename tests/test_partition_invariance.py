"""Partitioning-invariance properties: a deterministic operator must give
IDENTICAL results regardless of how its input is physically partitioned —
`repartition(13)`, `coalesce(1)`, or the default layout. This is the
classic distributed-correctness trap (order-dependent aggregates like
`first`/`collect_list`, float summation order, per-partition state leaking
into results); the fixtures here would catch any of them.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _layouts(df: DataFrame):
    return [df, df.repartition(13), df.coalesce(1), df.repartition(3, "__part_key")]


def _docs(spark, n=60, seed=4):
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(30)]
    rows = []
    for i in range(n):
        base = [rng.choice(vocab) for _ in range(rng.randint(5, 30))]
        rows.append((i, " ".join(base)))
        if rng.random() < 0.3:  # near-dup sibling
            dup = list(base)
            if len(dup) > 3:
                dup[rng.randrange(len(dup))] = rng.choice(vocab)
            rows.append((1000 + i, " ".join(dup)))
    return spark.createDataFrame(rows, "doc_id long, text string").withColumn(
        "__part_key", F.col("doc_id") % 7
    )


def _vectors(spark, n=120, dim=16, seed=9):
    rng = random.Random(seed)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(n)]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).withColumn("__part_key", F.col("vec_id") % 7)


def test_minhash_pairs_invariant_under_partitioning(spark):
    from kinesis_data_counter_spark.operators.dedup import minhash_lsh_pairs

    docs = _docs(spark)
    results = []
    for layout in _layouts(docs):
        pairs = minhash_lsh_pairs(
            layout.drop("__part_key"), threshold=0.7, num_hashes=48, bands=12, n=3
        )
        results.append(
            sorted((r["a_id"], r["b_id"], round(r["jaccard"], 9)) for r in pairs.collect())
        )
    assert results[0], "fixture produced no near-dup pairs"
    assert all(r == results[0] for r in results[1:])


def test_segment_dedup_invariant_under_partitioning(spark):
    from kinesis_data_counter_spark.operators.corpus import segment_dedup

    docs = _docs(spark, seed=6)
    results = []
    for layout in _layouts(docs):
        out = segment_dedup(layout.drop("__part_key"), chunk_words=3)
        results.append(
            sorted(
                (r["doc_id"], r["text_out"], r["n_kept"], r["n_dropped"])
                for r in out.collect()
            )
        )
    assert all(r == results[0] for r in results[1:])


def test_pq_codes_and_topk_invariant_under_partitioning(spark):
    from kinesis_data_counter_spark.operators import similarity as SIM

    vecs = _vectors(spark)
    books = SIM.pq_train_codebooks(vecs, dim=16, m=4, ksub=16)
    code_sets, topk_sets = [], []
    for layout in _layouts(vecs):
        base = layout.drop("__part_key")
        codes = SIM.pq_encode(base, books)
        code_sets.append(
            sorted((r["vec_id"], tuple(r["codes"])) for r in codes.collect())
        )
        topk = SIM.pq_topk(
            base, base.filter(F.col("vec_id") < 3), dim=16, k=4,
            m=4, ksub=16, refine=4, codebooks=books,
        )
        topk_sets.append(
            sorted(
                (r["query_id"], r["rank"], r["neighbor_id"], r["sim"])
                for r in topk.collect()
            )
        )
    assert all(c == code_sets[0] for c in code_sets[1:])
    assert all(t == topk_sets[0] for t in topk_sets[1:])


def test_pq_codebook_training_invariant_under_partitioning(spark):
    import numpy as np

    from kinesis_data_counter_spark.operators import similarity as SIM

    vecs = _vectors(spark, seed=21)
    books = [
        SIM.pq_train_codebooks(layout.drop("__part_key"), dim=16, m=4, ksub=8)
        for layout in _layouts(vecs)
    ]
    # the md5-ticket sample is a deterministic ORDER BY, so the training
    # set — and therefore every centroid — is partitioning-independent
    assert all(np.array_equal(b, books[0]) for b in books[1:])


def test_quality_tiers_sketch_invariant_under_partitioning(spark):
    # KLL is a mergeable sketch whose merge is NOT formally commutative-
    # identical across merge trees; Spark's implementation is deterministic
    # per partitioning but cutoffs could differ BETWEEN partitionings. The
    # operator contract is tier-assignment stability for points away from
    # the cutoff: assert the partition-layout disagreement set is confined
    # to boundary scores (observed: empty on this fixture).
    from kinesis_data_counter_spark.operators.corpus import quality_tiers

    docs = _docs(spark, n=80, seed=12)
    outs = []
    for layout in _layouts(docs):
        out = quality_tiers(layout.drop("__part_key"), mode="sketch")
        outs.append({r["doc_id"]: (r["avg_logprob"], r["tier"]) for r in out.collect()})
    scores = {d: s for d, (s, _t) in outs[0].items()}
    disagree = {
        d for d in outs[0] if any(o[d][1] != outs[0][d][1] for o in outs[1:])
    }
    if disagree:  # only boundary-adjacent scores may flip tier
        ranked = sorted(scores.values())
        n = len(ranked)
        cut_lo, cut_hi = ranked[n // 3], ranked[(2 * n) // 3]
        for d in disagree:
            assert (
                min(abs(scores[d] - cut_lo), abs(scores[d] - cut_hi)) < 0.05
            ), (d, scores[d], cut_lo, cut_hi)
    # scores themselves are exact aggregates: always identical
    for o in outs[1:]:
        assert {d: s for d, (s, _t) in o.items()} == scores


def test_cms_merge_invariant_under_partitioning(spark):
    from kinesis_data_counter_spark.operators import sketches as SK

    rng = random.Random(3)
    rows = [(f"k{rng.randint(0, 30)}",) for _ in range(2000)]
    df = spark.createDataFrame(rows, "item string").withColumn(
        "__part_key", F.xxhash64("item") % 7
    )
    cells = []
    for layout in _layouts(df):
        merged = SK.cms_merge(
            SK.cms_partials(layout.drop("__part_key"), "item", depth=4, hex_chars=2)
        )
        cells.append(
            sorted((r["d"], r["bucket"], r["cnt"]) for r in merged.collect())
        )
    assert all(c == cells[0] for c in cells[1:])


def test_semdedup_invariant_under_partitioning(spark):
    # seeds come from TakeOrdered, centroids from a hash aggregate with
    # ROUNDED means, flags from per-cluster matmuls — none may depend on
    # physical layout
    from kinesis_data_counter_spark.operators.similarity import semdedup

    vecs = _vectors(spark)
    results = []
    for layout in _layouts(vecs):
        out = semdedup(layout.drop("__part_key"), dim=16, k=4, threshold=0.2)
        results.append(
            sorted((r.id, r.cluster_id, r.keep) for r in out.collect())
        )
    assert any(not k for _, _, k in results[0]), "fixture flagged nothing"
    assert all(r == results[0] for r in results[1:])


def test_hard_negatives_invariant_under_partitioning(spark):
    from kinesis_data_counter_spark.operators.similarity import (
        mine_hard_negatives,
    )

    vecs = _vectors(spark).withColumn("label", (F.col("vec_id") % 3).cast("int"))
    anchors = vecs.filter(F.col("vec_id") % 10 == 0)
    results = []
    for layout in _layouts(vecs):
        out = mine_hard_negatives(layout.drop("__part_key"), anchors, k=2)
        results.append(
            sorted(
                (r.anchor_id, r.rank, r.negative_id, r.qdot) for r in out.collect()
            )
        )
    assert results[0], "fixture mined nothing"
    assert all(r == results[0] for r in results[1:])


def test_bm25_invariant_under_partitioning(spark):
    from kinesis_data_counter_spark.operators.text import bm25_scores

    docs = _docs(spark)
    results = []
    for layout in _layouts(docs):
        out = bm25_scores(layout.drop("__part_key"), ("w1", "w2", "w3"), k=8)
        results.append(
            sorted((r.rank, r.doc_id, r.score) for r in out.collect())
        )
    assert results[0], "fixture scored nothing"
    assert all(r == results[0] for r in results[1:])


def test_fuzzy_pairs_invariant_under_partitioning(spark):
    from kinesis_data_counter_spark.operators.dedup import fuzzy_string_pairs

    rng = random.Random(11)
    rows = [
        ("".join(rng.choice("abc") for _ in range(rng.randint(6, 8))),)
        for _ in range(60)
    ]
    df = spark.createDataFrame(rows, "p_name string").withColumn(
        "__part_key", F.length("p_name") % 3
    )
    results = []
    for layout in _layouts(df):
        out = fuzzy_string_pairs(layout.drop("__part_key"), "p_name", max_dist=2)
        results.append(
            sorted((r.a_name, r.b_name, r.dist) for r in out.collect())
        )
    assert results[0], "fixture matched nothing"
    assert all(r == results[0] for r in results[1:])


def test_boilerplate_removal_invariant_under_partitioning(spark):
    from kinesis_data_counter_spark.operators.corpus import boilerplate_removal

    docs = _docs(spark)
    results = []
    for layout in _layouts(docs):
        out = boilerplate_removal(
            layout.drop("__part_key"), chunk_words=3, max_docs=2
        )
        results.append(
            sorted(
                (r["doc_id"], r["text_out"], r["n_kept"], r["n_dropped"])
                for r in out.collect()
            )
        )
    assert any(r[3] > 0 for r in results[0]), "fixture dropped nothing"
    assert all(r == results[0] for r in results[1:])


def test_drift_report_invariant_under_partitioning(spark):
    from kinesis_data_counter_spark.metrics import drift_report

    rng = random.Random(11)
    mk = lambda lo, hi, n: [(float(rng.uniform(lo, hi)), str(rng.randrange(4))) for _ in range(n)]
    ref = spark.createDataFrame(mk(0, 100, 300), "v double, c string").withColumn(
        "__part_key", (F.col("v") * 7).cast("long") % 7
    )
    cur = spark.createDataFrame(mk(20, 60, 200), "v double, c string").withColumn(
        "__part_key", (F.col("v") * 7).cast("long") % 7
    )
    results = []
    for rl, cl in zip(_layouts(ref), _layouts(cur)):
        out = drift_report(
            rl.drop("__part_key"), cl.drop("__part_key"),
            numeric_cols=("v",), categorical_cols=("c",),
        )
        results.append(
            sorted((r["col_name"], r["psi"], r["null_delta"], r["drifted"])
                   for r in out.collect())
        )
    assert all(r == results[0] for r in results[1:])


def test_snapshot_diff_invariant_under_partitioning(spark):
    from kinesis_data_counter_spark.operators.history import snapshot_diff

    docs = _docs(spark)
    old = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 7 != 0).withColumn(
        "text", F.when(F.col("doc_id") % 3 == 0, F.concat(F.col("text"), F.lit(" x"))).otherwise(F.col("text"))
    )
    results = []
    for ol, nl in zip(_layouts(old), _layouts(new)):
        out = snapshot_diff(
            ol.drop("__part_key"), nl.drop("__part_key"), "doc_id", ["text"]
        )
        results.append(sorted((r["doc_id"], r["change_type"]) for r in out.collect()))
    kinds = {k for _, k in results[0]}
    assert kinds == {"added", "removed", "changed", "unchanged"}
    assert all(r == results[0] for r in results[1:])


def test_domain_cap_invariant_under_partitioning(spark):
    from kinesis_data_counter_spark.operators.web import domain_cap

    rng = random.Random(17)
    rows = [
        (i, f"https://www.h{rng.choice([0, 0, 0, 1, 2])}.example.com/p/{i}")
        for i in range(80)
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string").withColumn(
        "__part_key", F.col("doc_id") % 7
    )
    results = []
    for layout in _layouts(df):
        out = domain_cap(layout.drop("__part_key"), cap=10)
        results.append(sorted((r["doc_id"], r["domain"], r["kept"]) for r in out.collect()))
    # the hot subdomain ... all share example.com actually: one domain,
    # over cap → the rank path; assert the cap bound and invariance
    kept = sum(1 for _, _, k in results[0] if k)
    assert kept == 10
    assert all(r == results[0] for r in results[1:])


def test_shuffle_shards_invariant_under_partitioning(spark):
    from kinesis_data_counter_spark.operators.sampling import shuffle_shards

    docs = _docs(spark)
    results = []
    for layout in _layouts(docs):
        out = shuffle_shards(layout.drop("__part_key"), n_shards=4, seed="pi")
        results.append(sorted((r["doc_id"], r["shard"], r["ticket"]) for r in out.collect()))
    assert all(r == results[0] for r in results[1:])


def test_nb_train_and_score_invariant_under_partitioning(spark):
    # NB has two float-sensitive spots: per-class token sums (model) and
    # per-doc logp sums (score) — both must be layout-independent after
    # the rounding discipline
    from kinesis_data_counter_spark.operators.classify import nb_score, nb_train

    docs = _docs(spark).withColumn(
        "label", F.when(F.col("doc_id") % 3 == 0, "a").otherwise("b")
    )
    results = []
    for layout in _layouts(docs):
        m = nb_train(layout.drop("__part_key"), label_col="label", vocab_size=50)
        scored = nb_score(layout.drop("__part_key", "label"), m)
        results.append(
            (
                sorted(map(tuple, m.table.collect())),
                sorted(map(tuple, m.priors.collect())),
                sorted((r.doc_id, r.predicted, r.score) for r in scored.collect()),
            )
        )
    assert results[0][2], "fixture produced no scored docs"
    assert all(r == results[0] for r in results[1:])


def test_pagerank_invariant_under_partitioning(spark):
    # per-iteration rank sums shuffle differently under each layout; the
    # per-round rounding must keep the trajectories identical
    from kinesis_data_counter_spark.operators.web import pagerank

    rng = random.Random(31)
    edges = spark.createDataFrame(
        list({(f"n{rng.randint(0, 24)}", f"n{rng.randint(0, 29)}") for _ in range(90)}),
        "src string, dst string",
    ).withColumn("__part_key", F.crc32("src") % 7)
    results = []
    for layout in _layouts(edges):
        r = pagerank(layout.drop("__part_key"), iters=3)
        results.append(sorted(map(tuple, r.collect())))
    assert len(results[0]) >= 25
    assert all(r == results[0] for r in results[1:])


def test_canonical_url_invariant_under_partitioning(spark):
    # row-local by construction — this pins that it STAYS row-local
    # (no hidden aggregation sneaks in)
    from kinesis_data_counter_spark.operators.web import canonical_url

    rng = random.Random(41)
    urls = [
        (
            i,
            f"HTTP://www.h{rng.randint(0, 9)}.COM:80/p{i}/"
            f"?b={rng.randint(0, 5)}&a=1&utm_source=x#f",
        )
        for i in range(80)
    ]
    df = spark.createDataFrame(urls, "doc_id long, raw string").withColumn(
        "__part_key", F.col("doc_id") % 7
    )
    results = []
    for layout in _layouts(df):
        out = layout.select("doc_id", canonical_url(F.col("raw")).alias("c"))
        results.append(sorted((r.doc_id, r.c) for r in out.collect()))
    assert all(r == results[0] for r in results[1:])


def test_nb_margins_invariant_under_partitioning(spark):
    # the margin path collects per-doc score lists (collect_list is the
    # canonical order-sensitive trap) — sort_array must make the result
    # layout-independent
    from kinesis_data_counter_spark.operators.classify import (
        nb_score_margins,
        nb_train,
    )

    docs = _docs(spark).withColumn(
        "label", F.when(F.col("doc_id") % 3 == 0, "a").otherwise("b")
    )
    model = nb_train(docs, label_col="label", vocab_size=50)
    probe = docs.select("doc_id", "text", "__part_key")
    results = []
    for layout in _layouts(probe):
        out = nb_score_margins(layout.drop("__part_key"), model)
        results.append(
            sorted((r.doc_id, r.predicted, r.score, r.margin) for r in out.collect())
        )
    assert results[0]
    assert all(r == results[0] for r in results[1:])
