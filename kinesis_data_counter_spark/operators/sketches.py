"""Mergeable-sketch operators beyond HLL: exact-capable top-k and theta sets.

The reference's only sketch is HLL++ p=16 for ``approx_count_distinct``
(counter.go:206-208), merged across shards via IntermediateRecord
(counter.go:348-412). This module widens the same partial → exchange → merge
topology to the three other sketch families Spark 4 ships natively:

- ``approx_top_k_accumulate / _combine / _estimate`` — heavy hitters. The
  state is mergeable, so the per-shard accumulate plays the reference's
  shard-partial role and the combine plays the aggregate-stream merge.
  With ``max_items_tracked`` ≥ the true cardinality the counts are EXACT
  (the sketch only degrades once eviction starts); at 100 TB the guarantee
  degrades gracefully to "any key with frequency ≥ 1/max_items survives".
- ``theta_sketch_agg / theta_union_agg`` + scalar
  ``theta_union / theta_intersection / theta_difference`` — distinct
  counting like HLL, but closed under set algebra: |A ∩ B| and |A \\ B|
  are impossible with HLL sketches alone and one scalar call here.
- ``kll_sketch_agg_double / kll_merge_agg_double`` — rank statistics.
  Unlike ``percentile_approx`` (whose state dies with its job), a KLL
  state is a column that can cross a job/storage boundary and merge later
  — quantiles with the same two-level shard topology as the counters.

Scale notes:
- Both sketches do map-side partial aggregation: the shuffle carries one
  bounded-size state per (group × partition), not per input row. Top-k
  state is O(max_items_tracked); theta state is O(2^lgk) (default lgk=12).
- Everything stays JVM-side (Catalyst expressions, whole-stage codegen
  around the agg); no Python in the path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# Tracking capacity: exact for every test SF (≤1.5k distinct users) and a
# reasonable heavy-hitter budget at cluster scale (any key holding ≥1/4096
# of the stream is guaranteed to survive eviction).
DEFAULT_MAX_ITEMS = 4096


def _as_col(c: str | Column) -> Column:
    return F.col(c) if isinstance(c, str) else c


def topk_two_level(
    df: DataFrame,
    item_col: str | Column,
    k: int = 10,
    max_items_tracked: int = DEFAULT_MAX_ITEMS,
    shard_col: str | Column | None = None,
) -> DataFrame:
    """Top-k heavy hitters via the two-level sketch topology.

    Per-shard ``approx_top_k_accumulate`` → single ``approx_top_k_combine``
    → ``approx_top_k_estimate``, exploded to one row per item with a
    deterministic rank by (count desc, item asc). With ``shard_col=None``
    a single accumulate runs and Catalyst still splits it partial/final —
    the explicit shard level exists to mirror the reference's
    aggregate-stream hand-off (counter.go:348-412), where the combine step
    may run in a different job than the accumulate.

    Returns (rank int, item, cnt bigint), ``k`` rows (fewer if the input
    has fewer distinct items).
    """
    m, k = int(max_items_tracked), int(k)
    if shard_col is None:
        slim = df.select(_as_col(item_col).alias("__item"))
        partial = slim.agg(
            F.expr(f"approx_top_k_accumulate(__item, {m})").alias("state")
        )
    else:
        slim = df.select(
            _as_col(item_col).alias("__item"), _as_col(shard_col).alias("__shard")
        )
        partial = slim.groupBy("__shard").agg(
            F.expr(f"approx_top_k_accumulate(__item, {m})").alias("state")
        )
    combined = partial.agg(
        F.expr(f"approx_top_k_combine(state, {m})").alias("state")
    )
    # estimate the FULL tracked set, then cut to k under a deterministic
    # (cnt desc, item asc) rank — the sketch's own top-k picks an arbitrary
    # subset among items tied at the cutoff, which breaks reproducibility
    est = combined.select(
        F.explode(F.expr(f"approx_top_k_estimate(state, {m})")).alias("e")
    ).select(F.col("e.item").alias("item"), F.col("e.count").alias("cnt"))
    # single-row source → the unpartitioned window is cheap (≤ m rows)
    w = Window.orderBy(F.desc("cnt"), F.asc("item"))
    return est.select(
        F.row_number().over(w).cast("int").alias("rank"), "item", "cnt"
    ).where(F.col("rank") <= k)


def quantile_two_level(
    df: DataFrame,
    value_col: str | Column,
    quantiles: tuple[float, ...] = (0.5, 0.95, 0.99),
    group_col: str | Column | None = None,
    shard_col: str | Column | None = None,
    k: int = 200,
) -> DataFrame:
    """Mergeable quantiles via KLL — the partial → exchange → merge topology
    (counter.go:348-412's shard hand-off) applied to rank statistics.

    Per-shard ``kll_sketch_agg_double`` partials merge with
    ``kll_merge_agg_double`` exactly like the HLL/theta counters, which is
    what ``percentile_approx`` cannot do across a job/storage boundary: a
    KLL state is a first-class column that can be parqueted between jobs.
    State is O(k·log(n/k)) values (k=200 ≈ 1.65% normalized rank error);
    the shuffle carries one state per (group × shard), never rows. While a
    group's count stays under the compaction threshold the sketch holds
    every value and the quantiles are exact.

    Returns one row per (group, q): (group?, q double, est double).
    """
    cols = [_as_col(value_col).cast("double").alias("__v")]
    gb: list[str] = []
    if group_col is not None:
        cols.append(_as_col(group_col).alias("__g"))
        gb = ["__g"]
    if shard_col is not None:
        cols.append(_as_col(shard_col).alias("__shard"))
    slim = df.select(*cols)
    kc = F.lit(int(k))
    if shard_col is None:
        merged = slim.groupBy(*gb).agg(
            F.kll_sketch_agg_double("__v", kc).alias("sk")
        )
    else:
        partial = slim.groupBy(*gb, "__shard").agg(
            F.kll_sketch_agg_double("__v", kc).alias("sk")
        )
        merged = partial.groupBy(*gb).agg(
            F.kll_merge_agg_double("sk", kc).alias("sk")
        )
    qarr = F.array(
        *[
            F.struct(
                F.lit(float(q)).alias("q"),
                F.kll_sketch_get_quantile_double("sk", F.lit(float(q))).alias(
                    "est"
                ),
            )
            for q in quantiles
        ]
    )
    head = [F.col("__g").alias("group")] if gb else []
    return merged.select(*head, F.explode(qarr).alias("e")).select(
        *(["group"] if gb else []), F.col("e.q").alias("q"), F.col("e.est").alias("est")
    )


def theta_distinct_windowed(
    df: DataFrame,
    col: str | Column,
    window: str = "1 hour",
    ts_col: str = "ts",
    shard_col: str | Column | None = None,
) -> DataFrame:
    """Per-tumbling-window distinct count via theta sketches (A3/A4 shape).

    Same partial-sketch-per-shard → ``theta_union_agg`` merge → estimate
    topology as the HLL counter; exact while the sketch stays in exact mode
    (cardinality < 2^lgk = 4096 per group). Returns
    (window_start, window_end epoch-millis, approx bigint).
    """
    slim_cols = [_as_col(col).alias("__v"), F.col(ts_col).alias("__ts")]
    if shard_col is not None:
        slim_cols.append(_as_col(shard_col).alias("__shard"))
    slim = df.select(*slim_cols)
    win = F.window("__ts", window)
    if shard_col is None:
        merged = slim.groupBy(win.alias("window")).agg(
            F.expr("theta_sketch_agg(__v)").alias("sketch")
        )
    else:
        partial = slim.groupBy(win.alias("window"), F.col("__shard")).agg(
            F.expr("theta_sketch_agg(__v)").alias("sketch")
        )
        merged = partial.groupBy("window").agg(
            F.expr("theta_union_agg(sketch)").alias("sketch")
        )
    return merged.select(
        F.unix_millis("window.start").alias("window_start"),
        F.unix_millis("window.end").alias("window_end"),
        F.expr("cast(theta_sketch_estimate(sketch) as bigint)").alias("approx"),
    )


def theta_set_cardinalities(
    df: DataFrame, member_a: Column, member_b: Column
) -> DataFrame:
    """One-pass |A|, |B|, |A∩B|, |A\\B|, |A∪B| over two membership predicates.

    ``member_a`` / ``member_b`` are expressions yielding the set element
    when the row belongs to the set and NULL otherwise (aggregates skip
    nulls). One scan builds both sketches; the set algebra is scalar calls
    on the merged states — the operation HLL fundamentally cannot express.
    At 100 TB: the scan is the only data-sized cost; the algebra runs on
    two ≤32 KB states.
    """
    sk = df.select(member_a.alias("__a"), member_b.alias("__b")).agg(
        F.expr("theta_sketch_agg(__a)").alias("ska"),
        F.expr("theta_sketch_agg(__b)").alias("skb"),
    )
    return sk.select(
        F.expr("cast(theta_sketch_estimate(ska) as bigint)").alias("n_a"),
        F.expr("cast(theta_sketch_estimate(skb) as bigint)").alias("n_b"),
        F.expr(
            "cast(theta_sketch_estimate(theta_intersection(ska, skb)) as bigint)"
        ).alias("n_inter"),
        F.expr(
            "cast(theta_sketch_estimate(theta_difference(ska, skb)) as bigint)"
        ).alias("n_diff"),
        F.expr(
            "cast(theta_sketch_estimate(theta_union(ska, skb)) as bigint)"
        ).alias("n_union"),
    )


def topk_windowed(
    df: DataFrame,
    item_col: str | Column,
    ts_col: str = "ts",
    window: str = "1 hour",
    k: int = 5,
    max_items_tracked: int = DEFAULT_MAX_ITEMS,
) -> DataFrame:
    """Trending items: top-k heavy hitters per tumbling window.

    One ``approx_top_k_accumulate`` keyed by the window (Catalyst splits
    it partial/final, so the exchange carries one bounded sketch per
    window per map task — never raw items), estimated and cut to ``k``
    under the deterministic (count desc, item asc) rank inside each
    window. Below ``max_items_tracked`` distinct items per window the
    sketch is exact; above it, approximate with the sketch's guarantees —
    either way the rank cut is reproducible (the sketch's OWN top-k picks
    arbitrarily among cutoff ties).

    Returns (window_start, window_end, rank, item, cnt) epoch-milli rows.
    """
    m, k = int(max_items_tracked), int(k)
    slim = df.select(
        F.window(ts_col, window).alias("__w"), _as_col(item_col).alias("__item")
    ).filter(F.col("__item").isNotNull())
    st = slim.groupBy("__w").agg(
        F.expr(f"approx_top_k_accumulate(__item, {m})").alias("state")
    )
    est = st.select(
        "__w", F.explode(F.expr(f"approx_top_k_estimate(state, {m})")).alias("e")
    ).select(
        "__w", F.col("e.item").alias("item"), F.col("e.count").alias("cnt")
    )
    w = Window.partitionBy("__w").orderBy(F.desc("cnt"), F.asc("item"))
    return (
        est.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select(
            F.unix_millis("__w.start").alias("window_start"),
            F.unix_millis("__w.end").alias("window_end"),
            "rank",
            "item",
            "cnt",
        )
    )


def hll_rollup_hierarchy(
    df: DataFrame,
    value_col: str | Column,
    ts_col: str = "ts",
    base_window: str = "1 hour",
    day_window: str = "1 day",
    lg_k: int = 16,
) -> DataFrame:
    """Hour → day → total distinct-count rollup from ONE pass over the data.

    The hypertable-rollup pattern for distinct counts: raw rows are
    sketched once at the finest grain (``hll_sketch_agg`` per hour); every
    coarser level is built by merging the finer level's sketches with
    ``hll_union_agg`` — the day level unions 24 hourly sketches, the total
    unions the days. Raw data is scanned exactly once; each rollup stage
    moves only bounded sketch states (p=16 ≈ 64 KB dense, the reference's
    precision, counter.go:206-208). This is what a 100 TB continuous
    aggregate does: persist the hourly sketch table, serve any coarser
    window by unioning sketches, never re-scan history.

    Returns (level string, window_start bigint epoch-millis, approx bigint):
    one row per hour, one per day, one ``total`` row with window_start -1.
    """
    v = _as_col(value_col)
    hours = df.select(F.window(ts_col, base_window).alias("__w"), v.alias("__v")).groupBy(
        "__w"
    ).agg(F.hll_sketch_agg("__v", F.lit(lg_k)).alias("sketch"))
    hours = hours.persist()  # feeds all three levels; |hours| bounded rows
    hour_rows = hours.select(
        F.lit("hour").alias("level"),
        F.unix_millis("__w.start").alias("window_start"),
        F.hll_sketch_estimate("sketch").alias("approx"),
    )
    days = hours.groupBy(
        F.window(F.col("__w.start"), day_window).alias("__d")
    ).agg(F.hll_union_agg("sketch").alias("sketch"))
    days = days.persist()
    day_rows = days.select(
        F.lit("day").alias("level"),
        F.unix_millis("__d.start").alias("window_start"),
        F.hll_sketch_estimate("sketch").alias("approx"),
    )
    total_rows = days.agg(F.hll_union_agg("sketch").alias("sketch")).select(
        F.lit("total").alias("level"),
        F.lit(-1).cast("long").alias("window_start"),
        F.hll_sketch_estimate("sketch").alias("approx"),
    )
    return hour_rows.unionByName(day_rows).unionByName(total_rows)


def cms_partials(
    df: DataFrame,
    item_col: str | Column,
    depth: int = 4,
    hex_chars: int = 2,
    shard_col: str | Column | None = None,
) -> DataFrame:
    """Level-1 count-min sketch partials — the frequency twin of the
    reference's per-shard HLL hand-off (counter.go:483-512).

    A CMS is ``depth`` hash rows × ``width`` counters; a cell is the count
    of items hashing into that bucket, and a point estimate is the MIN over
    the depth rows (never an undercount; overcounts bounded by collisions,
    E[err] ≤ N/width per row). Here a bucket is the first ``hex_chars``
    chars of ``md5(salt_d || ':' || item)`` — width = 16^hex_chars — so the
    identical sketch is computable in any engine with md5 (the DuckDB
    oracle replays it bit-for-bit; same trick as the md5 sampling tickets).

    Output: one row per (shard_id, d, bucket) with its partial count —
    mergeable by plain ``sum``, exactly like the reference's mergeable
    RowCount states (counter.go:372-379). The exchange carries at most
    shards × depth × width bounded rows, never raw items; at 100 TB pick
    hex_chars=4 (width 65 536, ≈0.004% of N expected overcount per row).

    All JVM-side expressions (md5/substr/concat), no Python in the path.
    """
    v = _as_col(item_col).cast("string")
    cols = [v.alias("__item")]
    if shard_col is not None:
        cols.append(_as_col(shard_col).cast("string").alias("shard_id"))
    else:
        cols.append(F.lit("").alias("shard_id"))
    slim = df.select(*cols).filter(F.col("__item").isNotNull())
    rows = slim.select(
        "shard_id",
        F.explode(
            F.array(*[F.lit(d) for d in range(int(depth))])
        ).alias("d"),
        "__item",
    ).select(
        "shard_id",
        "d",
        F.substring(
            F.md5(F.concat(F.lit("cms"), F.col("d").cast("string"),
                           F.lit(":"), F.col("__item"))),
            1, int(hex_chars),
        ).alias("bucket"),
    )
    return rows.groupBy("shard_id", "d", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )


def cms_merge(partials: DataFrame) -> DataFrame:
    """Level-2: merge CMS partials across shards (≈ aggregateProcess,
    counter.go:348-412) — cellwise sum, the CMS merge operation."""
    return partials.groupBy("d", "bucket").agg(F.sum("cnt").alias("cnt"))


def cms_point_estimates(
    merged: DataFrame,
    items: DataFrame,
    item_col: str,
    depth: int = 4,
    hex_chars: int = 2,
) -> DataFrame:
    """Point-query a merged CMS for each row of ``items``.

    Re-derives each item's bucket per depth row, equi-joins the (d, bucket)
    cells, and takes the min across depth — the CMS estimate, guaranteed
    ≥ the true count. The join is items × depth rows against a bounded
    (depth × width) cell table: broadcast-sized by construction, so the
    probe never shuffles the item set.

    Returns one row per item: (item string, est bigint).
    """
    probes = items.select(
        F.col(item_col).cast("string").alias("item")
    ).filter(F.col("item").isNotNull()).distinct().select(
        "item",
        F.explode(F.array(*[F.lit(d) for d in range(int(depth))])).alias("d"),
    ).select(
        "item",
        "d",
        F.substring(
            F.md5(F.concat(F.lit("cms"), F.col("d").cast("string"),
                           F.lit(":"), F.col("item"))),
            1, int(hex_chars),
        ).alias("bucket"),
    )
    # merged CMS is ≤ depth × 16^hex_chars rows — always broadcastable.
    # LEFT join: a bucket with no cell row means nothing ever hashed there,
    # i.e. its count is 0 — so an unseen item correctly estimates 0 instead
    # of vanishing (inner join) or taking min over only non-empty cells.
    joined = probes.join(F.broadcast(merged), ["d", "bucket"], "left")
    return joined.groupBy("item").agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("bigint").alias("est")
    )


def cross_table_key_overlap(
    a: DataFrame, a_key: str, b: DataFrame, b_key: str
) -> DataFrame:
    """Estimate join-key overlap between two tables without joining them.

    One scan per side builds a theta sketch of its join-key domain; the
    scalar set algebra on the two ≤32 KB states estimates |keys(A)|,
    |keys(B)| and |keys(A) ∩ keys(B)| — the numbers a planner (or a data
    engineer sizing a backfill) needs to predict join selectivity and
    pick broadcast vs shuffle BEFORE paying for the join. At 100 TB the
    cost is two scans and a 1×1 join of sketch states; the exact
    alternative is a distinct + inner join of both key sets.

    Returns one row: (n_a, n_b, n_common bigint).
    """
    sa = a.agg(F.expr(f"theta_sketch_agg({a_key})").alias("ska"))
    sb = b.agg(F.expr(f"theta_sketch_agg({b_key})").alias("skb"))
    return sa.crossJoin(sb).select(
        F.expr("cast(theta_sketch_estimate(ska) as bigint)").alias("n_a"),
        F.expr("cast(theta_sketch_estimate(skb) as bigint)").alias("n_b"),
        F.expr(
            "cast(theta_sketch_estimate(theta_intersection(ska, skb)) as bigint)"
        ).alias("n_common"),
    )
