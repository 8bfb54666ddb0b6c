"""Embedding similarity search, compression, and auto-labeling.

Beyond-reference operators (SURVEY.md §7 Phase 5) over the ``embeddings``
fixture (vec_id, embedding array<float>, label).

The ladder, from correctness baseline to 100 TB plans:
- ``cosine_topk``: exact brute force — broadcast query block against the
  un-shuffled corpus scan; the right plan for "few queries × huge corpus".
- ``ann_lsh_topk`` / ``ann_ivf_topk``: candidate generation as pure
  equi-joins (hyperplane sign buckets / inverted lists), exact re-rank.
- ``quantize_embeddings`` (int8, 4×) / ``pq_*`` (product quantization,
  byte codes, 32×) / ``pca_*`` (linear dim reduction): the storage and
  scan-bandwidth levers; ``ivf_pq_topk`` composes lists × codes × refine —
  the canonical large-corpus ANN design.
- ``knn_classify`` / ``knn_classify_bucketed``: majority-vote label
  propagation over either path, with agreement/recall property harnesses
  (``*_check`` functions) as the recorded oracles for everything
  approximate.

Determinism: hyperplanes derive from a fixed xorshift seed (no RNG state),
similarities are rounded before ranking, ties break on vec_id — so results
are stable across partitionings and match a DuckDB oracle bit-for-bit.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from kinesis_data_counter_spark.session import fan_out, run_concurrently


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ via built-in higher-order functions (JVM-side, no UDF)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


@pandas_udf(DoubleType())
def batch_cosine(va: pd.Series, vb: pd.Series) -> pd.Series:
    """Row-wise cosine over two array columns, one numpy pass per Arrow batch.

    Used for high-pair-count stages instead of a Column-expression cosine:
    HOF lambdas evaluate interpreted per array element, so a million-pair verify
    pays ~10⁸ lambda calls; here it's three einsum/norm passes per batch.
    """
    if len(va) == 0:
        return pd.Series([], dtype="float64")
    ma = np.array(va.tolist(), dtype=np.float64)
    mb = np.array(vb.tolist(), dtype=np.float64)
    num = np.einsum("ij,ij->i", ma, mb)
    den = np.linalg.norm(ma, axis=1) * np.linalg.norm(mb, axis=1)
    return pd.Series(num / den)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Exact top-k nearest corpus vectors per query vector by cosine.

    Output: (query_id, rank, neighbor_id, sim). Self-matches excluded.
    ``broadcast(queries)`` keeps the corpus un-shuffled — each task scans its
    corpus partition against the in-memory query block; only the per-query
    top-k survives to the single ranking shuffle (windowed row_number over
    query_id), so the exchange is |queries|×k rows, not the cross product.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    # fan the (possibly single-split) corpus out so the scoring UDF runs
    # on every core; the broadcast side is unaffected
    c = fan_out(corpus, id_col).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    sim = F.round(batch_cosine(F.col("qv"), F.col("cv")), round_digits)
    pairs = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "sim")
    )


# ---------------------------------------------------------------------------
# Random-hyperplane LSH ANN
# ---------------------------------------------------------------------------


def _xorshift_floats(count: int, seed: int = 1234567) -> list[float]:
    """Deterministic pseudo-random floats in [-1, 1) without RNG deps."""
    out: list[float] = []
    x = seed
    for _ in range(count):
        x ^= (x << 13) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 7
        x ^= (x << 17) & 0xFFFFFFFFFFFFFFFF
        out.append((x & 0xFFFFFFFF) / 2**31 - 1.0)
    return out


def lsh_bits_for(n_corpus: int, target_bucket: int = 64, min_bits: int = 6) -> int:
    """Hyperplane-count sizing rule: bits ≈ log2(n / target_bucket).

    At FIXED num_bits, expected bucket occupancy is n/2^bits — so LSH
    candidate volume grows LINEARLY in corpus size per query, i.e.
    quadratically for a corpus-sized query sweep. (The round-5 sf1
    spot-bench makes this visible: 10× vectors at 6 bits is ~100× more
    candidate pairs for the bucketed kNN sweep; only fixed overheads kept
    the measured ratio near-linear at fixture sizes.) Scaling bits with
    log2(n) pins occupancy at ``target_bucket`` and restores linear total
    work; recall lost to narrower buckets is bought back with more tables
    or multiprobe (recall = 1-(1-p)^L) — size those with
    :func:`lsh_tables_for`. The corpus-sweep registry entry
    (``knn_label_propagation_bucketed``) sizes with this pair of rules;
    the fixed-parameter recall entries keep fixture-calibrated constants
    because their recorded floors are per-SF.
    """
    import math

    if n_corpus <= target_bucket:
        return min_bits
    return max(min_bits, math.ceil(math.log2(n_corpus / target_bucket)))


def lsh_tables_for(
    num_bits: int,
    base_bits: int = 6,
    base_tables: int = 16,
    growth: float = 1.5,
) -> int:
    """Companion to :func:`lsh_bits_for`: buy back the recall narrower
    buckets lose with more tables. Per-table collision probability for a
    near pair falls roughly geometrically per extra hyperplane bit, and
    recall ≈ 1-(1-p)^L, so holding recall needs L to grow geometrically
    with bits. ``growth=1.5`` per extra bit is calibrated on the round-5
    sf1 spot fixture (20k isotropic vectors — ANN's worst case): 6→7
    bits with 16→24 tables held kNN label agreement at 0.98 (0.92 at 16
    tables), at roughly half the candidate volume of staying at 6 bits;
    8 bits needed 32+ tables for 0.97. Candidate volume per query is
    L·n/2^bits, so the net effect of (bits_for, tables_for) together is
    occupancy pinned at the target while per-query work grows only as
    L = 1.5^log2(n-growth) ≈ n^0.585 — strongly sublinear, where fixed
    bits would be linear per query (quadratic for a corpus-sized sweep)."""
    import math

    return max(base_tables, math.ceil(base_tables * growth ** (num_bits - base_bits)))


def hyperplane_buckets(
    df: DataFrame,
    dim: int,
    num_bits: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 1234567,
    num_tables: int = 1,
    bucket_vec_col: str | None = None,
) -> DataFrame:
    """(vec_id, embedding, table, bucket) — one row per LSH table.

    ``bucket_vec_col`` optionally names a DIFFERENT column to hash than the
    one carried through as ``embedding`` (e.g. a norm-augmented vector for
    MIPS bucketing while downstream scoring keeps the original); ``dim``
    refers to the hashed column's dimensionality.

    Multi-table LSH: each table hashes with an independent hyperplane set;
    near neighbors missed by one table are caught by another
    (recall = 1-(1-p)^L). The table id is part of the join key, so the
    whole structure stays one equi-join at any scale.

    All tables' signatures come from ONE Arrow-batched matmul: a vectorized
    Pandas UDF computes (batch × dim) @ (dim × tables·bits) in numpy and
    packs sign bits into per-table bucket ints. (The built-in alternative —
    ``aggregate``/``zip_with`` per plane — is interpreted per array element,
    ~50× slower at 192 planes; this is the documented Pandas-UDF escape
    hatch for math the relational operators can't express efficiently.)
    The explode to (table, bucket) rows stays JVM-side via ``posexplode``.
    """
    # (dim, num_tables*num_bits) plane matrix; per-table planes keep the
    # same xorshift stream as always (seed + 7919·t) for reproducibility
    cols = []
    for t in range(num_tables):
        planes = _xorshift_floats(num_bits * dim, seed + 7919 * t)
        for b in range(num_bits):
            cols.append(planes[b * dim : (b + 1) * dim])
    w = np.array(cols, dtype=np.float64).T  # (dim, T*r)
    df = fan_out(df, id_col)  # signature matmul must run on every core
    nb, nt = num_bits, num_tables
    weights = (1 << np.arange(nb)).astype(np.int64)

    @pandas_udf("array<int>")
    def _buckets(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype=object)
        m = np.array(emb.tolist(), dtype=np.float64)  # (n, dim)
        bits = (m @ w) >= 0  # (n, T*r)
        b3 = bits.reshape(len(m), nt, nb)
        buckets = (b3 * weights).sum(axis=2).astype(np.int32)  # (n, T)
        return pd.Series(list(buckets))

    return df.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("embedding"),
        F.posexplode(_buckets(F.col(bucket_vec_col or vec_col))).alias(
            "table", "bucket"
        ),
    )


def ann_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    num_bits: int = 8,
    num_tables: int = 8,
    multiprobe: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    broadcast_queries: bool = True,
) -> DataFrame:
    """Approximate top-k: multi-table LSH equi-join + exact cosine re-rank.

    Recall comes from ``num_tables`` independent hash tables (union of
    candidates); with multiprobe each query additionally probes the
    ``num_bits`` hamming-1 buckets per table. All joins are equi-joins on
    (table, bucket) integer keys — the 100 TB plan shape: the corpus is
    bucketed once (L·n rows), queries fan out to L·(bits+1) probe rows,
    and candidates are re-ranked with exact cosine.

    ``broadcast_queries=False`` switches the probe join to a shuffled
    equi-join — required when the query set is itself corpus-sized
    (auto-labeling sweeps), where a broadcast would not fit.
    """
    cb = hyperplane_buckets(corpus, dim, num_bits, id_col, vec_col, num_tables=num_tables)
    qb = hyperplane_buckets(queries, dim, num_bits, id_col, vec_col, num_tables=num_tables)
    if multiprobe:
        probes = F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(num_bits)],
        )
        qb = qb.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            "table",
            F.explode(probes).alias("bucket"),
        )
    else:
        qb = qb.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            "table",
            "bucket",
        )
    cb = cb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"), "table", "bucket"
    )
    sim = F.round(batch_cosine(F.col("qv"), F.col("cv")), round_digits)
    probe_side = F.broadcast(qb) if broadcast_queries else qb
    cand = (
        cb.join(probe_side, ["table", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("sim"))
        .distinct()  # multiple tables/probes can surface the same pair
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "sim")
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    dim: int,
    threshold: float = 0.4,
    num_bits: int = 4,
    num_tables: int = 48,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    verify: bool = True,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Document pairs with embedding cosine ≥ threshold (near-dup by meaning).

    Same shape as MinHash-LSH dedup but in angle space: random-hyperplane
    signatures bucket the corpus per table; a pair with cosine c collides in
    one table with p = (1 - θ(c)/π)^num_bits, across L tables with
    1-(1-p)^L — (4 bits, 48 tables) puts the miss probability at c=0.4
    below 3e-4 and ≈0 above 0.5. Deterministic: fixed hyperplane seeds, so
    the candidate set is reproducible run-to-run.

    Verification happens INSIDE each (table, bucket) group: one
    ``applyInPandas`` task per bucket computes the within-bucket pairwise
    cosine as a single BLAS matmul and emits only pairs ≥ threshold, so the
    shuffle carries bucket rows (|corpus|·L vectors) and the final dedup
    only sees qualifying pairs — never the raw candidate-pair matrix with
    vector payloads. Precision is exact by construction; recall is the only
    probabilistic part. ``max_bucket_size`` is the skew guard for corpora
    with degenerate directions (the analog of dedup's stop-shingle cut):
    buckets above the cap are dropped from pairing (other tables still
    cover their members).
    """
    b = hyperplane_buckets(df, dim, num_bits, id_col, vec_col, num_tables=num_tables)
    if max_bucket_size is not None:
        sizes = b.groupBy("table", "bucket").agg(F.count("*").alias("__n"))
        b = b.join(
            sizes.filter(F.col("__n") <= max_bucket_size).select("table", "bucket"),
            ["table", "bucket"],
        )
    if not verify:
        a_side = b.select(F.col("vec_id").alias("a_id"), "table", "bucket")
        b_side = b.select(F.col("vec_id").alias("b_id"), "table", "bucket")
        return (
            a_side.join(b_side, ["table", "bucket"])
            .filter(F.col("a_id") < F.col("b_id"))
            .select("a_id", "b_id")
            .distinct()
        )

    def _bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"a_id": [], "b_id": [], "sim": []})
        m = np.array(pdf["embedding"].tolist(), dtype=np.float64)
        ids = pdf["vec_id"].to_numpy()
        norms = np.linalg.norm(m, axis=1)
        s = (m @ m.T) / np.outer(norms, norms)
        iu, ju = np.triu_indices(n, 1)
        sims = np.round(s[iu, ju], round_digits)
        keep = sims >= threshold
        a, bb = ids[iu[keep]], ids[ju[keep]]
        return pd.DataFrame(
            {"a_id": np.minimum(a, bb), "b_id": np.maximum(a, bb), "sim": sims[keep]}
        )

    pairs = b.groupBy("table", "bucket").applyInPandas(
        _bucket_pairs, "a_id long, b_id long, sim double"
    )
    # a pair can qualify in several tables; sims agree to the rounded digit
    return pairs.groupBy("a_id", "b_id").agg(F.max("sim").alias("sim"))


def semdedup(
    df: DataFrame,
    dim: int,
    k: int = 8,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the corpus
    in embedding space, then flag within-cluster semantic duplicates.

    Returns one row per document: ``(id, cluster_id, keep)`` where
    ``keep=false`` means a SAME-CLUSTER neighbor with cosine ≥ threshold
    and a lower id exists (the deterministic lowest-id-wins variant of the
    paper's keep-one-per-ε-ball rule: any doc with a lower-id near-neighbor
    in its cluster is flagged, whether or not that neighbor survives).

    Deterministic and engine-replayable by construction: seeds are the k
    lowest ``md5(id)`` docs, one Lloyd update produces ROUNDED centroids
    (so cross-engine summation-order ulp noise can't flip an assignment),
    assignment ties break toward the lower seed/cluster id, and all
    cosines round to ``round_digits`` before comparison.

    100 TB shape: both assignment passes are broadcast nested-loop joins
    against O(k·dim) model tables (seeds via TakeOrdered, centroids via a
    |k|·dim hash aggregate — no vector ever reaches the driver), and the
    duplicate flagging runs as ONE BLAS matmul per cluster inside
    ``applyInPandas`` — the only shuffle keyed on cluster_id. Cluster size
    is the memory unit, so k must scale with the corpus (the paper's own
    contract: they run k=50k on LAION); a production run sizes k so
    |cluster| ~ corpus/k fits one task.
    """
    e = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    seeds = (
        e.orderBy(F.md5(F.col("id").cast("string")))
        .limit(k)
        .select(F.col("id").alias("cl"), F.col("v").alias("cv"))
    )

    def _assign(docs: DataFrame, cents: DataFrame) -> DataFrame:
        # broadcast nested-loop: n·k rows, cosine vectorized per Arrow
        # batch; argmax via max(struct) — sim DESC then cluster id ASC
        x = docs.crossJoin(F.broadcast(cents)).select(
            "id",
            "cl",
            F.round(batch_cosine(F.col("v"), F.col("cv")), round_digits).alias("sim"),
        )
        best = x.groupBy("id").agg(
            F.max(F.struct(F.col("sim"), (-F.col("cl")).alias("ncl"))).alias("b")
        )
        return best.select("id", (-F.col("b.ncl")).alias("cluster_id"))

    a1 = _assign(e, seeds)
    # one Lloyd update: rounded elementwise means, reassembled to arrays
    cent_long = (
        e.join(a1, "id")
        .select(F.col("cluster_id").alias("cl"), F.posexplode("v").alias("pos", "x"))
        .groupBy("cl", "pos")
        .agg(F.round(F.avg(F.col("x").cast("double")), round_digits).alias("m"))
    )
    cents = cent_long.groupBy("cl").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
        ).alias("cv")
    )
    a2 = _assign(e, cents)

    assigned = e.join(a2, "id").select("id", "cluster_id", "v")

    def _flag(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("id").reset_index(drop=True)
        n = len(pdf)
        if n < 2:
            return pdf.assign(keep=True)[["id", "cluster_id", "keep"]]
        m = np.array(pdf["v"].tolist(), dtype=np.float64)
        norms = np.linalg.norm(m, axis=1)
        s = np.round((m @ m.T) / np.outer(norms, norms), round_digits)
        dominated = (np.triu(s, 1) >= threshold).any(axis=0)
        return pdf.assign(keep=~dominated)[["id", "cluster_id", "keep"]]

    return assigned.groupBy("cluster_id").applyInPandas(
        _flag, "id long, cluster_id long, keep boolean"
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: coarse quantizer + posting lists + nprobe
# ---------------------------------------------------------------------------


def ivf_assign(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign_vec_col: str | None = None,
) -> DataFrame:
    """Assign each vector to its ``nprobe`` nearest coarse centroids.

    ``assign_vec_col`` optionally names a different column to score against
    the centroids than the one carried through as ``embedding`` (the MIPS
    augmentation hook, mirroring ``hyperplane_buckets.bucket_vec_col``).

    ``centroids`` is a plan-time literal list (cid, vector) — the coarse
    quantizer is tiny (O(√n) entries in classic IVF), so the distance to
    every centroid is an unrolled codegen expression and the assignment
    never shuffles. Output: one row per (vector × probe) with ``list_id``.
    """
    df = fan_out(df, id_col)  # assignment matmul must run on every core
    cids = np.array([cid for cid, _ in centroids], dtype=np.int64)
    cmat = np.array([v for _, v in centroids], dtype=np.float64)  # (C, dim)
    np_probe = min(nprobe, len(centroids))

    @pandas_udf("array<int>")
    def _nearest(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype=object)
        m = np.array(emb.tolist(), dtype=np.float64)  # (n, dim)
        scores = np.round(m @ cmat.T, 9)  # (n, C)
        # ties break on ascending cid: centroids are cid-sorted, and a
        # stable argsort on -score preserves index (=cid) order within ties
        order = np.argsort(-scores, axis=1, kind="stable")[:, :np_probe]
        return pd.Series(list(cids[order].astype(np.int32)))

    return df.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("embedding"),
        F.explode(_nearest(F.col(assign_vec_col or vec_col))).alias("list_id"),
    )


def ivf_centroids(
    df: DataFrame,
    num_lists: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iters: int = 2,
) -> list[tuple[int, list[float]]]:
    """Build the coarse quantizer: deterministic seeds + k-means refinement.

    Seeds are the ``num_lists`` lowest-id vectors (deterministic, no RNG);
    each refinement iteration is one distributed pass — assign every vector
    to its nearest centroid (``ivf_assign``, nprobe=1) and average per list.
    Only the centroid table (num_lists × dim doubles) ever reaches the
    driver; the corpus stays distributed. num_lists is O(√n) in practice, so
    this is a small literal table even at 100 TB corpus scale.
    """
    seeds = (
        df.orderBy(F.col(id_col))
        .limit(num_lists)
        .select(F.col(id_col), F.col(vec_col))
        .collect()
    )
    cents = [(i, [float(x) for x in r[vec_col]]) for i, r in enumerate(seeds)]
    # per-dim means as F.expr SQL strings: dim Column objects cost one
    # py4j round-trip per operator (see dedup.minhash_signatures); the
    # parsed tree (`embedding[i]` = 0-based subscript = getItem) is
    # identical
    mean_exprs = [
        F.expr(f"avg(CAST(embedding[{i}] AS DOUBLE)) AS m{i}") for i in range(dim)
    ]
    for _ in range(refine_iters):
        assigned = ivf_assign(df, cents, nprobe=1, id_col=id_col, vec_col=vec_col)
        means = assigned.groupBy("list_id").agg(*mean_exprs).collect()
        cents = [
            (int(r["list_id"]), [float(r[f"m{i}"]) for i in range(dim)]) for r in means
        ]
        cents.sort(key=lambda c: c[0])
    return cents


def ann_ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    num_lists: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    centroids: list[tuple[int, list[float]]] | None = None,
    broadcast_queries: bool = True,
) -> DataFrame:
    """IVF ANN: coarse-quantize the corpus into inverted lists, probe the
    ``nprobe`` closest lists per query, exact-cosine re-rank the candidates.

    The 100 TB plan shape: corpus assignment is a map-only pass (centroids
    are literals); the only shuffle is the equi-join on ``list_id`` — each
    query meets ~nprobe/num_lists of the corpus instead of all of it, the
    classic IVF trade (recall vs fraction scanned).
    ``broadcast_queries=False``: shuffled equi-join for corpus-sized query
    sets (same knob as ``ann_lsh_topk``).
    """
    cents = centroids or ivf_centroids(corpus, num_lists, dim, id_col, vec_col)
    inv = ivf_assign(corpus, cents, nprobe=1, id_col=id_col, vec_col=vec_col).select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"), "list_id"
    )
    probes = ivf_assign(queries, cents, nprobe=nprobe, id_col=id_col, vec_col=vec_col).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"), "list_id"
    )
    sim = F.round(batch_cosine(F.col("qv"), F.col("cv")), round_digits)
    probe_side = F.broadcast(probes) if broadcast_queries else probes
    cand = (
        inv.join(probe_side, "list_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("sim"))
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "sim")
    )


def _hit_ratio(
    exact: DataFrame, approx: DataFrame, keys: list[str]
) -> tuple[int, int]:
    """(total, hits) of ``exact`` rows that appear in ``approx`` — in ONE
    job. The naive ``exact.join(approx).count()`` + ``exact.count()`` pair
    executes the brute-force ``exact`` subtree twice (it is never
    persisted); a left join preserves exact's rows 1:1 (top-k lists are
    key-distinct by construction), so one aggregate reads both numbers
    off a single pass."""
    j = exact.join(approx.withColumn("__hit", F.lit(1)), keys, "left")
    row = j.agg(
        F.count(F.lit(1)).alias("total"), F.count("__hit").alias("hits")
    ).first()
    return int(row["total"]), int(row["hits"])


def _recall_row(exact: DataFrame, approx: DataFrame, min_recall: float) -> DataFrame:
    """The single (ok, recall) row of the recall checks: the share of
    ``exact``'s (query_id, neighbor_id) rows that ``approx`` also holds."""
    keys = ["query_id", "neighbor_id"]
    total, hits = _hit_ratio(exact.select(keys), approx.select(keys), keys)
    recall = hits / total if total else 1.0
    return exact.sparkSession.createDataFrame(
        [(bool(recall >= min_recall), float(round(recall, 2)))],
        "ok boolean, recall double",
    )


def _trained_recall_row(
    exact: DataFrame, build_approx: Callable[[], DataFrame], min_recall: float
) -> DataFrame:
    """``_recall_row`` for an approximate side whose ``build_approx()``
    trains a model with sequential driver-side collect jobs: ``exact`` is
    persisted and materialized on a noop sink concurrently with that
    training, so the hit-ratio job reads it from cache instead of leaving
    the brute force to run after the training."""
    exact = exact.select("query_id", "neighbor_id").persist()
    _, approx = run_concurrently(
        [lambda: exact.write.format("noop").mode("overwrite").save(), build_approx]
    )
    out = _recall_row(exact, approx, min_recall)
    exact.unpersist()
    return out


def ann_recall_check(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    min_recall: float = 0.9,
    method: str = "lsh",
    **ann_kwargs,
) -> DataFrame:
    """Self-check harness: recall of ANN vs exact brute force, as one row.

    Returns a single-row DataFrame (ok BOOLEAN, recall DOUBLE≈rounded) —
    the oracle-friendly pattern for probabilistic operators: the driver
    compares the *property* (recall ≥ min_recall), not the raw neighbor
    lists, which no independent SQL engine could reproduce.
    ``method``: 'lsh' (hyperplane multi-table) or 'ivf' (inverted lists).
    """
    exact = cosine_topk(corpus, queries, k)
    if method == "ivf":
        return _trained_recall_row(
            exact,
            lambda: ann_ivf_topk(corpus, queries, dim, k, **ann_kwargs),
            min_recall,
        )
    # LSH has no training jobs, so the single fused hit-ratio job already
    # runs both subtrees and a split would only serialize it
    approx = ann_lsh_topk(corpus, queries, dim, k, **ann_kwargs)
    return _recall_row(exact, approx, min_recall)


# ---------------------------------------------------------------------------
# Int8 quantization (the 100 TB memory/shuffle lever)
# ---------------------------------------------------------------------------


@pandas_udf(DoubleType())
def batch_cosine_int8(qa: pd.Series, qb: pd.Series) -> pd.Series:
    """Row-wise cosine over two int8-quantized array columns.

    Symmetric per-vector scales cancel in cosine, so only the quantized
    codes are needed: cos ≈ Σqa·qb / (‖qa‖·‖qb‖). Integer dot products in
    one int32 einsum per Arrow batch (int8·int8 sums over ≤4096 dims fit
    int32 with headroom).
    """
    if len(qa) == 0:
        return pd.Series([], dtype="float64")
    ma = np.array(qa.tolist(), dtype=np.int32)
    mb = np.array(qb.tolist(), dtype=np.int32)
    num = np.einsum("ij,ij->i", ma, mb).astype(np.float64)
    den = np.linalg.norm(ma, axis=1) * np.linalg.norm(mb, axis=1)
    out = np.divide(num, den, out=np.zeros_like(num), where=den > 0)
    return pd.Series(out)


def quantize_embeddings(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id, qvec: array<tinyint>, qscale: double) symmetric int8 codes.

    q_i = round(x_i / (max|x|/127)) — 4× smaller than float32, which is
    exactly 4× less scan IO, shuffle volume, and broadcast size for every
    downstream ANN stage; at 100 TB of embeddings that is the difference
    between a broadcastable query block and a shuffle. Built-in
    expressions are fine here (quantization runs once per corpus write,
    not per query); ``qscale`` reconstructs approximate magnitudes
    (dequantized x ≈ q·qscale) for consumers that need dot products
    rather than cosine.
    """
    v = F.col(vec_col)
    absmax = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    with_scale = df.select(
        F.col(id_col),
        v.alias("__v"),
        F.when(absmax > 0, absmax / F.lit(127.0)).otherwise(F.lit(1.0)).alias("qscale"),
    )
    qvec = F.transform(
        F.col("__v"),
        lambda x: F.round(x.cast("double") / F.col("qscale")).cast("tinyint"),
    )
    return with_scale.select(id_col, qvec.alias("qvec"), "qscale")


def quantized_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Top-k by cosine over int8-quantized vectors — ``cosine_topk``'s plan
    (broadcast queries, scan-local scoring, |queries|×k ranking exchange)
    at a quarter of the memory traffic."""
    qc = quantize_embeddings(fan_out(corpus, id_col), id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col("qvec").alias("cq")
    )
    qq = quantize_embeddings(queries, id_col, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("qvec").alias("qv")
    )
    sim = F.round(batch_cosine_int8(F.col("qv"), F.col("cq")), round_digits)
    pairs = qc.join(
        F.broadcast(qq), F.col("query_id") != F.col("neighbor_id")
    ).select("query_id", "neighbor_id", sim.alias("sim"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "sim")
    )


def quantized_recall_check(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    min_recall: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(ok, recall) single row: int8 top-k recall vs float brute force —
    the property-check oracle pattern for the quantization error bound."""
    return _recall_row(
        cosine_topk(corpus, queries, k, id_col, vec_col),
        quantized_cosine_topk(corpus, queries, k, id_col, vec_col),
        min_recall,
    )


# ---------------------------------------------------------------------------
# Product quantization (IVF-PQ's code half) — the canonical 100 TB ANN design
# ---------------------------------------------------------------------------


def pq_train_codebooks(
    df: DataFrame,
    dim: int,
    m: int = 8,
    ksub: int = 16,
    sample_limit: int = 2048,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Train PQ codebooks: ``m`` subspaces × ``ksub`` centroids each.

    The codebook is a bounded-sample artifact by design (Jégou et al.,
    "Product Quantization for Nearest Neighbor Search", TPAMI 2011 — the
    public PQ paper this follows): ``sample_limit`` rows chosen by
    deterministic md5 ticket (TakeOrderedAndProject — no full sort, no
    RNG, unbiased under corpus growth) train driver-side per-subspace
    k-means; only m × ksub × dim/m doubles ever leave the executors.
    Vectors are L2-normalized before training so inner products over
    codes approximate cosine. Empty clusters re-seed from the farthest
    points of the largest cluster (deterministic).

    Returns ``(m, ksub, dim//m)`` float64 codebooks.
    """
    if dim % m:
        raise ValueError(f"dim {dim} must divide into m={m} subspaces")
    dsub = dim // m
    ticket = F.md5(F.concat(F.lit("pq"), F.col(id_col).cast("string")))
    rows = (
        df.select(F.col(vec_col).alias("v"), ticket.alias("t"))
        .orderBy("t")
        .limit(int(sample_limit))
        .collect()
    )
    x = np.array([r["v"] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(x, axis=1, keepdims=True)
    x = x / np.where(norms > 0, norms, 1.0)
    books = np.empty((m, ksub, dsub), dtype=np.float64)
    for j in range(m):
        sub = x[:, j * dsub : (j + 1) * dsub]
        # deterministic init: first ksub distinct subvectors in ticket
        # order. Membership via a bytes set — the previous
        # any(np.array_equal(...)) scan was O(rows × ksub) pure-Python
        # (~0.8 s of driver time at ksub=256 per training). `+ 0.0`
        # canonicalizes -0.0 so bytes equality matches the numeric
        # equality the array_equal scan used.
        seen: list[np.ndarray] = []
        seen_keys: set[bytes] = set()
        for row in sub:
            key = (row + 0.0).tobytes()
            if key not in seen_keys:
                seen_keys.add(key)
                seen.append(row)
            if len(seen) == ksub:
                break
        cents = np.array(
            seen + [sub[i % len(sub)] for i in range(ksub - len(seen))]
        )
        for _ in range(int(iters)):
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(ksub):
                mask = assign == c
                if mask.any():
                    cents[c] = sub[mask].mean(axis=0)
                else:  # re-seed dead centroid from the worst-fit point
                    cents[c] = sub[d2.min(axis=1).argmax()]
        books[j] = cents
    return books


def pq_encode(
    df: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """(id, codes array<tinyint>[m]) — each vector L2-normalized and
    quantized to its nearest centroid per subspace, one Arrow-batched
    numpy pass. With m=8 the code row is 8 bytes vs 256 for float32 — a
    32× cut in scan IO, shuffle volume, and cache footprint for every
    downstream ADC scan (the lever that makes a 100 TB embedding table
    probeable).

    Codes are stored as the uint8 bit pattern in Spark's signed tinyint
    (classic PQ is exactly ksub=256, one byte per subspace); consumers
    mask back with ``& 0xFF`` — ``pq_topk`` does."""
    books = codebooks  # (m, ksub, dsub) — closure-captured, broadcast once
    m, ksub, dsub = books.shape
    if ksub > 256:
        raise ValueError(f"ksub={ksub} exceeds one byte per code")

    @pandas_udf("array<tinyint>")
    def _codes(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        x = np.array(v.tolist(), dtype=np.float64)
        n = np.linalg.norm(x, axis=1, keepdims=True)
        x = x / np.where(n > 0, n, 1.0)
        out = np.empty((len(x), m), dtype=np.int8)
        for j in range(m):
            sub = x[:, j * dsub : (j + 1) * dsub]
            d2 = ((sub[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
            out[:, j] = d2.argmin(axis=1).astype(np.int8)
        return pd.Series(list(out))

    return df.select(
        F.col(id_col), *[F.col(c) for c in keep], _codes(F.col(vec_col)).alias("codes")
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    m: int = 8,
    ksub: int = 16,
    refine: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    codebooks: np.ndarray | None = None,
) -> DataFrame:
    """PQ ANN with asymmetric-distance scan + exact refine.

    Stage 1 (ADC): queries stay float; per query a (m × ksub) lookup
    table of partial inner products against the codebooks scores every
    corpus CODE row with m table lookups — the scan touches 8-byte code
    rows, never float vectors, which is why a PQ sweep over a 100 TB
    corpus is memory-bandwidth-, not compute-, bound. Top ``k × refine``
    candidates per query survive the ranking exchange.

    Stage 2 (refine): the candidate ids join back to the float vectors
    (shuffle ∝ candidates, not corpus) and exact cosine re-ranks — the
    standard IVF-PQ shape, where ADC recall losses are recovered by
    re-scoring a slightly larger candidate set.

    Output: (query_id, rank, neighbor_id, sim) — sim is EXACT cosine.
    """
    books = (
        codebooks
        if codebooks is not None
        else pq_train_codebooks(corpus, dim, m, ksub, id_col=id_col, vec_col=vec_col)
    )
    mm, _ks, dsub = books.shape
    codes = pq_encode(fan_out(corpus, id_col), books, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"), "codes"
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))

    @pandas_udf(DoubleType())
    def _adc(qv: pd.Series, codes_s: pd.Series) -> pd.Series:
        if len(qv) == 0:
            return pd.Series([], dtype="float64")
        # tinyint codes carry the uint8 bit pattern (see pq_encode) — mask
        c = np.array(codes_s.tolist(), dtype=np.int64) & 0xFF  # (n, m)
        x = np.array(qv.tolist(), dtype=np.float64)
        n = np.linalg.norm(x, axis=1, keepdims=True)
        x = x / np.where(n > 0, n, 1.0)
        # LUT per distinct query in the batch (batches carry few queries ×
        # many corpus rows, so LUT reuse is the common case)
        luts: dict[bytes, np.ndarray] = {}
        out = np.empty(len(c), dtype=np.float64)
        key = [v.tobytes() for v in x]
        for kb in set(key):
            qx = np.frombuffer(kb, dtype=np.float64)
            lut = np.stack(
                [books[j] @ qx[j * dsub : (j + 1) * dsub] for j in range(mm)]
            )  # (m, ksub)
            luts[kb] = lut
        rows = np.arange(mm)
        for i in range(len(c)):
            out[i] = luts[key[i]][rows, c[i]].sum()
        return pd.Series(out)

    adc = (
        codes.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "qv", _adc("qv", "codes").alias("adc"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").desc(), F.col("neighbor_id").asc()
    )
    cand = (
        adc.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= int(k) * int(refine))
        .select("query_id", "neighbor_id", "qv")
    )
    # exact refine over the small candidate set only
    cv = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    sim = F.round(batch_cosine(F.col("qv"), F.col("cv")), round_digits)
    rer = cand.join(cv, "neighbor_id").select(
        "query_id", "neighbor_id", sim.alias("sim")
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        rer.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "sim")
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    num_lists: int = 16,
    nprobe: int = 4,
    m: int = 8,
    ksub: int = 256,
    refine: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    centroids: list[tuple[int, list[float]]] | None = None,
    codebooks: np.ndarray | None = None,
) -> DataFrame:
    """IVF-PQ: the canonical 100 TB ANN composition (coarse inverted lists
    × product-quantized residual-free codes × exact refine).

    Three multiplicative reductions, each already verified separately:
    - IVF (coarse quantizer): each query meets only ~nprobe/num_lists of
      the corpus — the equi-join on ``list_id`` replaces any cross join;
    - PQ codes: the rows that DO meet the query are 8-byte codes scored
      by ADC table lookups, not float vectors — 32× less scan/shuffle
      volume inside each probed list;
    - refine: only k×refine candidate ids per query rejoin the float
      vectors for exact cosine — shuffle ∝ candidates.

    At 100 TB: the corpus stores (list_id, codes) — a table ~3% the size
    of the float embeddings, partitionable by list_id so probes touch
    only matching partitions (partition pruning on the join key); the
    float table is consulted only for the candidate slice.

    Output: (query_id, rank, neighbor_id, sim) — sim is EXACT cosine.
    """
    if centroids is None and codebooks is None:
        # the two model trainings are independent (each reads the corpus;
        # IVF runs 3 small collect jobs, PQ one collect + driver numpy), so
        # they train concurrently
        cents, books = run_concurrently([
            lambda: ivf_centroids(corpus, num_lists, dim, id_col, vec_col),
            lambda: pq_train_codebooks(
                corpus, dim, m, ksub, id_col=id_col, vec_col=vec_col
            ),
        ])
    else:
        cents = centroids or ivf_centroids(corpus, num_lists, dim, id_col, vec_col)
        books = (
            codebooks
            if codebooks is not None
            else pq_train_codebooks(corpus, dim, m, ksub, id_col=id_col, vec_col=vec_col)
        )
    # ONE corpus pass projects both the coarse list and the code row —
    # list assignment and encoding are map-only, so no join is needed
    inv = ivf_assign(corpus, cents, nprobe=1, id_col=id_col, vec_col=vec_col)
    codes = pq_encode(inv, books, "vec_id", "embedding", keep=("list_id",)).select(
        F.col("vec_id").alias("neighbor_id"), "codes", "list_id"
    )
    vectors = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    return ivf_pq_probe(
        codes, vectors, queries, cents, books,
        k=k, nprobe=nprobe, refine=refine, id_col=id_col, vec_col=vec_col,
        round_digits=round_digits,
    )


def ivf_pq_probe(
    codes: DataFrame,
    vectors: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    codebooks: np.ndarray,
    k: int = 10,
    nprobe: int = 4,
    refine: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Query a MATERIALIZED IVF-PQ index: ``codes`` is the persisted
    (neighbor_id, codes, list_id) table and ``vectors`` the persisted
    (neighbor_id, cv) float table — the two artifacts an index deployment
    stores. Same plan as the in-line ``ivf_pq_topk`` tail: probe
    join on list_id, ADC over code rows, exact refine on the candidate
    slice only.
    """
    books = codebooks
    mm, _kk, dsub = books.shape
    probes = ivf_assign(
        queries, centroids, nprobe=nprobe, id_col=id_col, vec_col=vec_col
    ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"), "list_id"
    )

    @pandas_udf(DoubleType())
    def _adc(qv: pd.Series, codes_s: pd.Series) -> pd.Series:
        if len(qv) == 0:
            return pd.Series([], dtype="float64")
        c = np.array(codes_s.tolist(), dtype=np.int64) & 0xFF
        x = np.array(qv.tolist(), dtype=np.float64)
        n = np.linalg.norm(x, axis=1, keepdims=True)
        x = x / np.where(n > 0, n, 1.0)
        luts: dict[bytes, np.ndarray] = {}
        key = [v.tobytes() for v in x]
        for kb in set(key):
            qx = np.frombuffer(kb, dtype=np.float64)
            luts[kb] = np.stack(
                [books[j] @ qx[j * dsub : (j + 1) * dsub] for j in range(mm)]
            )
        rows = np.arange(mm)
        out = np.empty(len(c), dtype=np.float64)
        for i in range(len(c)):
            out[i] = luts[key[i]][rows, c[i]].sum()
        return pd.Series(out)

    # candidate generation: equi-join on list_id, ADC over code rows only;
    # multi-probe duplicates collapse in the same agg that scores them
    cand = (
        codes.join(F.broadcast(probes), "list_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "qv", _adc("qv", "codes").alias("adc"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.max("adc").alias("adc"), F.first("qv").alias("qv"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").desc(), F.col("neighbor_id").asc()
    )
    short = (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= int(k) * int(refine))
        .select("query_id", "neighbor_id", "qv")
    )
    sim = F.round(batch_cosine(F.col("qv"), F.col("cv")), round_digits)
    rer = short.join(vectors, "neighbor_id").select(
        "query_id", "neighbor_id", sim.alias("sim")
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        rer.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "sim")
    )


def ivf_pq_recall_check(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    min_recall: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    **kwargs,
) -> DataFrame:
    """(ok, recall) single row: IVF-PQ top-k recall vs float brute force.
    Recall compounds both reductions (list recall × code recall), so the
    floor sits below the single-technique checks by design."""
    return _trained_recall_row(
        cosine_topk(corpus, queries, k, id_col, vec_col),
        lambda: ivf_pq_topk(
            corpus, queries, dim, k, id_col=id_col, vec_col=vec_col, **kwargs
        ),
        min_recall,
    )


def pq_recall_check(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    min_recall: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    **pq_kwargs,
) -> DataFrame:
    """(ok, recall) single row: PQ+refine top-k recall vs float brute
    force — the property-check oracle pattern for the quantizer."""
    return _trained_recall_row(
        cosine_topk(corpus, queries, k, id_col, vec_col),
        lambda: pq_topk(
            corpus, queries, dim, k, id_col=id_col, vec_col=vec_col, **pq_kwargs
        ),
        min_recall,
    )


def vector_centroids(
    df: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 6,
) -> DataFrame:
    """Per-group elementwise embedding mean (class prototypes / cluster
    centers), in long format: one row per (group, dimension).

    The scale formulation for vector aggregation: ``posexplode`` turns the
    array into (group, pos, x) rows and ONE hash aggregate keyed on
    (group, pos) does the rest — map-side partial sums make the shuffle
    |groups| × dim regardless of corpus size, and everything stays in
    whole-stage codegen (an elementwise ``aggregate`` HOF over arrays
    would be interpreted per element, and a Pandas UDF would cross the
    Arrow boundary for arithmetic Spark does natively). Means are rounded
    so cross-engine summation-order ulp noise can't leak into oracles.
    """
    ex = fan_out(df, id_col).select(
        F.col(group_col).alias("grp"),
        F.posexplode(vec_col).alias("pos", "x"),
    )
    return (
        ex.groupBy("grp", "pos")
        .agg(
            F.round(F.avg(F.col("x").cast("double")), round_digits).alias("mean_x"),
            F.count("*").alias("n_vectors"),
        )
        .select(
            F.col("grp").alias(group_col),
            F.col("pos").cast("int").alias("pos"),
            "mean_x",
            "n_vectors",
        )
    )


def batch_qdot(qa: pd.Series, qb: pd.Series, scale: float = 1000.0) -> pd.Series:
    """Row-wise dot product of floor(x·scale)-quantized vectors.

    Quantized components are integer-valued doubles, so the sum is exact
    in ANY accumulation order — numpy's pairwise summation, Spark's
    aggregate fold, and an oracle engine's left fold all produce the
    identical integer, which makes similarity rankings reproducible
    across engines (float cosine rank-flips on near-ties)."""
    if len(qa) == 0:
        return pd.Series([], dtype="float64")
    ma = np.floor(np.array(qa.tolist(), dtype=np.float64) * scale)
    mb = np.floor(np.array(qb.tolist(), dtype=np.float64) * scale)
    return pd.Series(np.einsum("ij,ij->i", ma, mb))


_batch_qdot_udf = None


def knn_classify(
    labeled: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Majority-vote kNN label propagation (auto-labeling).

    The training-data move for extending a small labeled seed set over an
    unlabeled corpus: each query vector takes the majority label of its k
    nearest labeled neighbors under the quantized-dot-product metric
    (``batch_qdot`` — exact integers, so neighbor ranking is deterministic
    and oracle-reproducible; ties break by neighbor id, votes by smaller
    label).

    Plan shape = ``cosine_topk``: the labeled corpus scans un-shuffled
    against the broadcast query block; only |queries|×k neighbor rows
    reach the ranking shuffle, then a tiny (query, label) vote aggregate.
    Output: (vec_id, predicted_label, votes bigint).

    Round-13 adjudication: a mapInPandas kernel (corpus rows cross the
    Arrow boundary once, per-partition top-k against a driver-collected
    query matrix — guide §4.1/§8) was measured FLAT-TO-SLOWER composed
    into every consumer entry (interleaved min-of-3 ×2:
    knn_label_propagation 1.04→1.36 s, ann_hard_negative_agreement
    2.95→3.12 s, knn_bucketed_recall 3.62→3.34 s was the one win) — the
    kernel's eager query-collect job plus the label re-attach join cost
    more than the duplicated-vector Arrow traffic it saved at fixture
    candidate volumes. Reverted on that evidence; the cross-join stays.
    """
    global _batch_qdot_udf
    if _batch_qdot_udf is None:
        from pyspark.sql.functions import pandas_udf

        def _qdot(qa: pd.Series, qb: pd.Series) -> pd.Series:
            return batch_qdot(qa, qb)

        _batch_qdot_udf = pandas_udf(_qdot, "double")

    q = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
    c = fan_out(labeled, id_col).select(
        F.col(id_col).alias("rid"),
        F.col(vec_col).alias("cv"),
        F.col(label_col).alias("label"),
    )
    pairs = c.join(F.broadcast(q), F.lit(True)).select(
        "qid", "rid", "label", _batch_qdot_udf("qv", "cv").alias("dot")
    )
    wn = Window.partitionBy("qid").orderBy(F.col("dot").desc(), F.col("rid").asc())
    topk = pairs.withColumn("rk", F.row_number().over(wn)).filter(F.col("rk") <= k)
    return _majority_vote(topk.select("qid", "label"), id_col)


def _majority_vote(qid_label: DataFrame, id_col: str) -> DataFrame:
    """(qid, label) neighbor rows → (id_col, predicted_label, votes).

    Vote count descending, ties to the smaller label — shared by the brute
    and candidate-generated kNN paths so their outputs are comparable."""
    votes = qid_label.groupBy("qid", "label").agg(F.count(F.lit(1)).alias("votes"))
    wv = Window.partitionBy("qid").orderBy(F.col("votes").desc(), F.col("label").asc())
    return (
        votes.withColumn("rk", F.row_number().over(wv))
        .filter(F.col("rk") == 1)
        .select(
            F.col("qid").alias(id_col),
            F.col("label").alias("predicted_label"),
            "votes",
        )
    )


def _bucketed_scored(
    labeled: DataFrame,
    queries: DataFrame,
    dim: int,
    method: str = "lsh",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    **ann_kwargs,
) -> DataFrame:
    """Candidate-generated scored neighbor pairs for LARGE query sets:
    (qid, rid, dot) rows — the shared engine under ``_bucketed_topk``
    (ranking), ``knn_classify_bucketed``, ``knn_bucketed_recall_check``
    and ``mine_hard_negatives_bucketed`` (which filters by label BEFORE
    ranking, so the top-k is taken among different-label candidates).

    ``knn_classify``'s broadcast-queries cross product is the right plan
    only while the query block fits in executor memory; an auto-labeling
    sweep where |queries| ≈ |corpus| degenerates to all-pairs. This path
    reuses the ANN candidate machinery instead: LSH (multi-table
    hyperplane) or IVF (inverted lists) generates each query's top-k
    neighbor candidates through pure equi-joins — both sides shuffle on
    small integer bucket keys, nothing is ever all-pairs or broadcast.

    Approximation note: candidate RANKING uses the brute path's own
    quantized-dot metric (``batch_qdot``), so the only divergence from
    ``knn_classify`` is candidate recall — which neighbors the buckets
    surfaced — not which of them win. Label agreement between the two
    paths is property-checked by ``knn_agreement_check``, not assumed.

    Because the metric is an UNNORMALIZED dot product (max-inner-product
    search), angle-only bucketing would systematically miss large-norm
    neighbors at mediocre angles. Both index paths therefore bucket in the
    norm-augmented space of the classic MIPS→cosine reduction (Shrivastava
    & Li 2014): corpus vectors gain a ``sqrt(M²−‖x‖²)`` component (M = max
    corpus norm — a one-scalar aggregate), queries gain a 0, making
    augmented cosine order equal inner-product order. Scoring still uses
    the ORIGINAL vectors.
    """
    global _batch_qdot_udf
    if _batch_qdot_udf is None:
        from pyspark.sql.functions import pandas_udf

        def _qdot(qa: pd.Series, qb: pd.Series) -> pd.Series:
            return batch_qdot(qa, qb)

        _batch_qdot_udf = pandas_udf(_qdot, "double")

    def _sumsq(v):
        return F.aggregate(
            F.transform(v, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    m2 = labeled.agg(F.max(_sumsq(F.col(vec_col))).alias("m2")).first()["m2"]
    as_double = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    lab_aug = labeled.withColumn(
        "__aug",
        F.concat(
            as_double,
            F.array(F.sqrt(F.greatest(F.lit(0.0), F.lit(float(m2)) - _sumsq(F.col(vec_col))))),
        ),
    )
    q_aug = queries.withColumn("__aug", F.concat(as_double, F.array(F.lit(0.0))))
    adim = dim + 1

    if method == "ivf":
        num_lists = ann_kwargs.pop("num_lists", 16)
        nprobe = ann_kwargs.pop("nprobe", 4)
        # centroids live in augmented space (callers passing their own must
        # augment accordingly)
        cents = ann_kwargs.pop("centroids", None) or ivf_centroids(
            lab_aug.select(F.col(id_col), F.col("__aug").alias(vec_col)),
            num_lists,
            adim,
            id_col,
            vec_col,
        )
        cb = ivf_assign(
            lab_aug, cents, nprobe=1, id_col=id_col, vec_col=vec_col,
            assign_vec_col="__aug",
        )
        qb = ivf_assign(
            q_aug, cents, nprobe=nprobe, id_col=id_col, vec_col=vec_col,
            assign_vec_col="__aug",
        )
        keys = ["list_id"]
    else:
        num_bits = ann_kwargs.pop("num_bits", 8)
        num_tables = ann_kwargs.pop("num_tables", 8)
        multiprobe = ann_kwargs.pop("multiprobe", True)
        cb = hyperplane_buckets(
            lab_aug, adim, num_bits, id_col, vec_col, num_tables=num_tables,
            bucket_vec_col="__aug",
        )
        qb = hyperplane_buckets(
            q_aug, adim, num_bits, id_col, vec_col, num_tables=num_tables,
            bucket_vec_col="__aug",
        )
        if multiprobe:
            probes = F.array(
                F.col("bucket"),
                *[F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(num_bits)],
            )
            qb = qb.select(
                "vec_id", "embedding", "table", F.explode(probes).alias("bucket")
            )
        keys = ["table", "bucket"]
    if ann_kwargs:
        raise TypeError(f"unknown {method} kwargs: {sorted(ann_kwargs)}")

    # score on the (shuffled, never broadcast) bucket equi-join; duplicate
    # (qid, rid) collisions across tables/probes collapse in the same
    # aggregate that dedups candidates — one shuffle for dedup+score.
    # Round-13 adjudication: a dedup-ids-first variant (narrow (qid, rid)
    # distinct, then vector-attach joins, then ONE scoring pass per
    # distinct pair — guide §2.3/§8) measured FLAT in isolation and
    # consistently ~0.8 s SLOWER composed into knn_bucketed_recall
    # (interleaved min-of-3 ×3 rounds: 3.7/4.2/3.8 s old vs 4.5/4.7/5.0 s
    # new) — the extra distinct exchange + two attach joins cost more
    # than the duplicate-pair Arrow traffic they avoid at the fixture's
    # low table-collision dup factor. Kept as-is on that evidence.
    qb = qb.select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"), *keys
    )
    cb = cb.select(
        F.col("vec_id").alias("rid"), F.col("embedding").alias("cv"), *keys
    )
    return (
        cb.join(qb, keys)
        .filter(F.col("qid") != F.col("rid"))
        .select("qid", "rid", _batch_qdot_udf("qv", "cv").alias("dot"))
        .groupBy("qid", "rid")
        .agg(F.max("dot").alias("dot"))
    )


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    wn = Window.partitionBy("qid").orderBy(F.col("dot").desc(), F.col("rid").asc())
    return scored.withColumn("rk", F.row_number().over(wn)).filter(F.col("rk") <= k)


def _bucketed_topk(
    labeled: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    method: str = "lsh",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    **ann_kwargs,
) -> DataFrame:
    """(qid, rid, dot, rk) top-k rows over ``_bucketed_scored`` candidates."""
    return _rank_topk(
        _bucketed_scored(labeled, queries, dim, method, id_col, vec_col, **ann_kwargs),
        k,
    )


def mine_hard_negatives(
    labeled: DataFrame,
    anchors: DataFrame,
    k: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Contrastive hard-negative mining, brute path: for each anchor, the
    k most similar corpus vectors with a DIFFERENT label.

    The training-data move for contrastive embedding training (in-batch
    negatives are mostly easy; the informative ones are the near-misses):
    similarity is the engine-exact quantized dot (``batch_qdot``), so the
    mined set is deterministic and oracle-reproducible; ties break by
    neighbor id. Output: (anchor_id, negative_id, rank, qdot) —
    anchor rows with no different-label corpus vector produce no rows.

    Plan shape = ``knn_classify``: the corpus scans UN-shuffled against the
    broadcast anchor block, so anchors must be a broadcast-sized slice;
    corpus-sized anchor sweeps go through ``mine_hard_negatives_bucketed``.
    (A mapInPandas kernel variant was adjudicated against in round 13 —
    see ``knn_classify``.)
    """
    global _batch_qdot_udf
    if _batch_qdot_udf is None:
        from pyspark.sql.functions import pandas_udf

        def _qdot(qa: pd.Series, qb: pd.Series) -> pd.Series:
            return batch_qdot(qa, qb)

        _batch_qdot_udf = pandas_udf(_qdot, "double")

    q = anchors.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qv"),
        F.col(label_col).alias("qlabel"),
    )
    c = fan_out(labeled, id_col).select(
        F.col(id_col).alias("rid"),
        F.col(vec_col).alias("cv"),
        F.col(label_col).alias("rlabel"),
    )
    pairs = (
        c.join(F.broadcast(q), F.lit(True))
        .filter(
            (F.col("qid") != F.col("rid"))
            & ~F.col("rlabel").eqNullSafe(F.col("qlabel"))
        )
        .select("qid", "rid", _batch_qdot_udf("qv", "cv").alias("dot"))
    )
    return _rank_topk(pairs, k).select(
        F.col("qid").alias("anchor_id"),
        F.col("rid").alias("negative_id"),
        F.col("rk").alias("rank"),
        F.col("dot").alias("qdot"),
    )


def mine_hard_negatives_bucketed(
    labeled: DataFrame,
    anchors: DataFrame,
    dim: int,
    k: int = 1,
    method: str = "lsh",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    **ann_kwargs,
) -> DataFrame:
    """Hard-negative mining at corpus scale: ``_bucketed_scored``'s LSH/IVF
    candidates (pure equi-joins on bucket keys — never broadcast, never
    all-pairs), label-filtered BEFORE ranking so the top-k is taken among
    different-label candidates only. Same output shape and metric as the
    brute path; the only divergence is candidate recall, which
    ``hard_negative_agreement_check`` measures rather than assumes."""
    scored = _bucketed_scored(
        labeled, anchors, dim, method, id_col, vec_col, **ann_kwargs
    )
    lab = labeled.select(F.col(id_col).alias("rid"), F.col(label_col).alias("rlabel"))
    alab = anchors.select(F.col(id_col).alias("qid"), F.col(label_col).alias("qlabel"))
    filtered = (
        scored.join(lab, "rid")
        .join(alab, "qid")
        .filter(~F.col("rlabel").eqNullSafe(F.col("qlabel")))
        .select("qid", "rid", "dot")
    )
    return _rank_topk(filtered, k).select(
        F.col("qid").alias("anchor_id"),
        F.col("rid").alias("negative_id"),
        F.col("rk").alias("rank"),
        F.col("dot").alias("qdot"),
    )


def hard_negative_agreement_check(
    labeled: DataFrame,
    anchors: DataFrame,
    dim: int,
    min_agreement: float = 0.8,
    method: str = "lsh",
    sample_mod: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    **ann_kwargs,
) -> DataFrame:
    """(ok, agreement) single row: fraction of (sampled) anchors whose
    bucketed top-1 hard negative equals the brute top-1 — the sampled-
    oracle property check for the approximate miner (the brute side runs
    only on the ``sample_mod`` slice, so it stays fixture-sized)."""
    sample = (
        anchors.filter(F.col(id_col) % sample_mod == 0) if sample_mod else anchors
    )
    brute = mine_hard_negatives(
        labeled, sample, 1, id_col, vec_col, label_col
    ).select("anchor_id", F.col("negative_id").alias("brute_neg"))
    approx = mine_hard_negatives_bucketed(
        labeled, sample, dim, 1, method, id_col, vec_col, label_col, **ann_kwargs
    ).select("anchor_id", F.col("negative_id").alias("approx_neg"))
    j = brute.join(approx, "anchor_id", "left")
    return j.agg(
        F.round(F.avg(F.col("approx_neg").eqNullSafe(F.col("brute_neg")).cast("double")), 6).alias(
            "agreement"
        )
    ).select(
        (F.col("agreement") >= min_agreement).alias("ok"), "agreement"
    )


def knn_classify_bucketed(
    labeled: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    method: str = "lsh",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    **ann_kwargs,
) -> DataFrame:
    """Candidate-generated kNN label propagation for LARGE query sets —
    ``_bucketed_topk``'s candidates voted exactly like the brute path.
    Output: (vec_id, predicted_label, votes)."""
    topk = _bucketed_topk(
        labeled, queries, dim, k, method, id_col, vec_col, **ann_kwargs
    )
    lab = labeled.select(
        F.col(id_col).alias("rid"), F.col(label_col).alias("label")
    )
    return _majority_vote(topk.join(lab, "rid").select("qid", "label"), id_col)


def knn_agreement_check(
    labeled: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    min_agreement: float = 0.9,
    method: str = "lsh",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    sample_mod: int | None = None,
    **ann_kwargs,
) -> DataFrame:
    """(ok, agreement) single row: fraction of queries where the bucketed
    kNN predicts the same label as the brute-force path — the property-
    check oracle pattern for the approximate classifier (every sampled
    query must also receive a prediction: coverage is part of the
    property).

    ``sample_mod``: validate agreement on the deterministic query slice
    ``id % sample_mod == 0`` instead of every query. The PRODUCTION side
    (bucketed) still runs on the full query set — only the brute oracle
    side shrinks, which is what keeps the check affordable when queries ≈
    corpus (the brute pass is the all-pairs plan the bucketed path exists
    to avoid; running it over the full sweep would make the check cost
    exactly what it certifies against).

    SAMPLED-ORACLE-ONLY, NOT A PRODUCTION OPERATOR: the brute side
    broadcast-pairs the sampled query slice with ALL labeled rows — the
    same fixture-sized harness stance as the dedup brute verifies
    (``dedup.py``'s all-pairs oracles). Size ``sample_mod`` so the sampled
    slice stays honestly broadcastable; at corpus scale, deploy the
    bucketed path alone and run this check on a bounded sample as a
    monitoring job, never inline on the full sweep."""
    brute_queries = (
        queries
        if sample_mod is None
        else queries.filter(F.col(id_col) % int(sample_mod) == 0)
    )
    brute = knn_classify(labeled, brute_queries, k, id_col, vec_col, label_col).select(
        F.col(id_col).alias("qid"), F.col("predicted_label").alias("l_exact")
    )
    fast = knn_classify_bucketed(
        labeled, queries, dim, k, method, id_col, vec_col, label_col, **ann_kwargs
    ).select(F.col(id_col).alias("qid"), F.col("predicted_label").alias("l_fast"))
    # one pass over the brute subtree: a left join preserves brute's rows
    # 1:1 (fast has at most one row per qid), so total and the agreeing
    # subset come from a single aggregate instead of two full jobs
    row = brute.join(fast, "qid", "left").agg(
        F.count(F.lit(1)).alias("total"),
        F.count(F.when(F.col("l_exact") == F.col("l_fast"), 1)).alias("agree"),
    ).first()
    total, agree = int(row["total"]), int(row["agree"])
    agreement = agree / total if total else 1.0
    spark = labeled.sparkSession
    return spark.createDataFrame(
        [(bool(agreement >= min_agreement), float(round(agreement, 2)))],
        "ok boolean, agreement double",
    )


def knn_bucketed_recall_check(
    labeled: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    min_recall: float = 0.6,
    method: str = "lsh",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    **ann_kwargs,
) -> DataFrame:
    """(ok, recall) single row: neighbor-level recall of the bucketed top-k
    vs the brute-force top-k under the same quantized-dot metric.

    The primary property for the candidate-generated kNN path: recall
    measures exactly what the buckets lose (ranking is metric-identical by
    construction, so every divergence IS a candidate miss). Label-vote
    agreement (``knn_agreement_check``) is noisier — with near-uniform
    labels one missed neighbor can flip a 5-way plurality — so recall is
    the gated floor and agreement the diagnostic.
    """
    global _batch_qdot_udf
    if _batch_qdot_udf is None:
        from pyspark.sql.functions import pandas_udf

        def _qdot(qa: pd.Series, qb: pd.Series) -> pd.Series:
            return batch_qdot(qa, qb)

        _batch_qdot_udf = pandas_udf(_qdot, "double")

    q = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
    c = fan_out(labeled, id_col).select(
        F.col(id_col).alias("rid"), F.col(vec_col).alias("cv")
    )
    pairs = c.join(F.broadcast(q), F.lit(True)).select(
        "qid", "rid", _batch_qdot_udf("qv", "cv").alias("dot")
    )
    brute = _rank_topk(pairs, k).select("qid", "rid")
    fast = _bucketed_topk(
        labeled, queries, dim, k, method, id_col, vec_col, **ann_kwargs
    ).select("qid", "rid")
    total, hits = _hit_ratio(brute, fast, ["qid", "rid"])
    recall = hits / total if total else 1.0
    spark = labeled.sparkSession
    return spark.createDataFrame(
        [(bool(recall >= min_recall), float(round(recall, 2)))],
        "ok boolean, recall double",
    )


# ---------------------------------------------------------------------------
# PCA embedding compression (linear sibling of the PQ/int8 quantizers)
# ---------------------------------------------------------------------------


def pca_train(
    df: DataFrame,
    dim: int,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[np.ndarray, np.ndarray]:
    """Train a ``k``-component PCA over the embedding column.

    The covariance matrix is accumulated DISTRIBUTED as per-Arrow-batch
    partials — each batch emits one (count, sum-vector, sum-outer-product)
    row of bounded size (1 + dim + dim² doubles, independent of batch
    rows), the classic two-phase moment aggregation — and only those tiny
    partials reach the driver, where the dim×dim eigendecomposition is
    trivial. No vector ever leaves the executors; sample-based shortcuts
    aren't needed because the EXACT covariance costs one scan.

    Deterministic per layout: eigenvectors come from ``numpy.linalg.eigh``
    with a sign convention (largest-|component| entry positive), so
    repeated runs on the same partitioning are identical; ACROSS
    partitionings the axes agree only to float-summation tolerance
    (partial sums accumulate in batch order — the usual distributed-
    moments caveat), which is why ``pca_check`` records properties, not
    raw axes.

    Returns ``(mean[dim], components[k, dim])`` (rows = principal axes,
    descending eigenvalue).
    """
    import pandas as pd  # noqa: F811 - local alias for the UDF closure

    d = int(dim)

    def _partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            yield pd.DataFrame(
                {
                    "n": [float(len(x))],
                    "s": [x.sum(axis=0).tolist()],
                    "o": [(x.T @ x).reshape(-1).tolist()],
                }
            )

    parts = df.select(vec_col).mapInPandas(
        _partials, f"n double, s array<double>, o array<double>"
    ).collect()
    n = sum(r["n"] for r in parts)
    if n < 2:
        raise ValueError("pca_train needs at least 2 vectors")
    s = np.sum([np.array(r["s"]) for r in parts], axis=0)
    o = np.sum([np.array(r["o"]).reshape(d, d) for r in parts], axis=0)
    mean = s / n
    cov = o / n - np.outer(mean, mean)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][: int(k)]
    comps = vecs[:, order].T  # (k, dim)
    # sign convention: the largest-magnitude entry of each axis is positive
    for i in range(comps.shape[0]):
        j = np.argmax(np.abs(comps[i]))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    return mean, comps


def pca_project(
    df: DataFrame,
    mean: np.ndarray,
    components: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "projected",
) -> DataFrame:
    """(id, projected array<double>[k]) — center and project each vector
    onto the principal axes, one Arrow-batched matmul per batch. A
    dim→k compression is a (dim·8)→(k·8) bytes-per-row cut for every
    downstream scan/shuffle, on top of whatever quantizer follows."""
    m = np.asarray(mean, dtype=np.float64)
    c = np.asarray(components, dtype=np.float64)

    @pandas_udf("array<double>")
    def _proj(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        x = np.array(v.tolist(), dtype=np.float64) - m
        return pd.Series(list(x @ c.T))

    return df.select(F.col(id_col), _proj(F.col(vec_col)).alias(out_col))


def pca_check(
    df: DataFrame,
    dim: int,
    k: int,
    min_variance_kept: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(ok, variance_kept, orthonormal_ok) single row — the property
    oracle for PCA (axes have sign/rotation freedom no independent engine
    reproduces): kept-variance share Σλ_top-k / Σλ ≥ floor, and the
    component rows are orthonormal within 1e-8."""
    mean, comps = pca_train(df, dim, k, id_col, vec_col)
    proj = pca_project(df, mean, comps, id_col, vec_col)
    # variance kept = mean squared norm of projections / total variance
    stats = proj.select(
        F.aggregate(
            F.transform("projected", lambda x: x * x),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("p2")
    ).agg(F.avg("p2").alias("kept")).collect()[0]
    g = comps @ comps.T
    orth = bool(np.max(np.abs(g - np.eye(comps.shape[0]))) < 1e-8)
    # total variance from the same training pass would need a second agg;
    # recompute exactly via the centered second moment
    tot = (
        df.select(F.col(vec_col).alias("v"))
        .select(
            F.aggregate(
                F.transform("v", lambda x: x.cast("double") * x.cast("double")),
                F.lit(0.0),
                lambda a, x: a + x,
            ).alias("s2")
        )
        .agg(F.avg("s2").alias("m2"))
        .collect()[0]["m2"]
    )
    total_var = float(tot) - float(np.dot(mean, mean))
    kept_share = float(stats["kept"]) / total_var if total_var > 0 else 1.0
    spark = df.sparkSession
    return spark.createDataFrame(
        [(bool(kept_share >= min_variance_kept and orth),
          float(round(kept_share, 4)), orth)],
        "ok boolean, variance_kept double, orthonormal_ok boolean",
    )
