"""Sketch family beyond HLL: two-level approx_top_k and theta set algebra.

Covers both regimes: exact mode (tracked capacity ≥ cardinality — counts and
estimates must equal the plain GROUP BY answer) and the degraded regime
(eviction / sampling), where only the heavy-hitter guarantee survives.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from kinesis_data_counter_spark.operators import sketches as SK


def _events(spark, rows):
    return spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string, value double")


def test_topk_two_level_exact_matches_groupby(spark):
    rng = random.Random(7)
    # zipf-ish skew over 40 keys
    rows = [(rng.randint(0, rng.choice([3, 9, 39])),) for _ in range(4000)]
    df = spark.createDataFrame(rows, "user_id long").withColumn(
        "shard_id", F.pmod("user_id", F.lit(5))
    )
    got = SK.topk_two_level(df, "user_id", k=10, shard_col="shard_id").collect()
    exact = {r["user_id"]: r["n"] for r in df.groupBy("user_id").agg(F.count("*").alias("n")).collect()}
    want = sorted(exact.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert [(r["item"], r["cnt"]) for r in got] == want
    assert [r["rank"] for r in got] == list(range(1, 11))


def test_topk_without_shard_level_same_answer(spark):
    rows = [(i % 7,) for i in range(700)] + [(99,)] * 50
    df = spark.createDataFrame(rows, "user_id long")
    a = SK.topk_two_level(df, "user_id", k=3).collect()
    b = SK.topk_two_level(df.withColumn("s", F.pmod("user_id", F.lit(3))), "user_id", k=3, shard_col="s").collect()
    assert [(r["item"], r["cnt"]) for r in a] == [(r["item"], r["cnt"]) for r in b]


def test_topk_eviction_regime_keeps_heavy_hitter(spark):
    # 5000 distinct light keys + one key holding ~20% of the stream, but
    # only 64 tracked slots: the heavy hitter must survive eviction at rank 1
    rows = [(i,) for i in range(5000)] + [(777_777,)] * 1200
    df = spark.createDataFrame(rows, "user_id long")
    got = SK.topk_two_level(df, "user_id", k=1, max_items_tracked=64).collect()
    assert got[0]["item"] == 777_777
    # sketch over-counts evicted-then-reinserted keys, never undercounts its
    # own guarantee range; the heavy hitter's count is at least the truth
    assert got[0]["cnt"] >= 1200


def test_theta_distinct_windowed_exact_mode(spark):
    rows = [
        (u, f"2024-01-01 0{h}:{m:02d}:00")
        for u in range(30)
        for h, m in [(0, 5), (0, 40), (1, 10)]
        if (u + h + m) % 3 != 0
    ]
    df = spark.createDataFrame(rows, "user_id long, ts_s string").select(
        "user_id", F.col("ts_s").cast("timestamp").alias("ts")
    ).withColumn("shard_id", F.pmod("user_id", F.lit(4)))
    got = {
        (r["window_start"], r["window_end"]): r["approx"]
        for r in SK.theta_distinct_windowed(df, "user_id", "1 hour", "ts", "shard_id").collect()
    }
    exact = {
        (r["ws"], r["we"]): r["n"]
        for r in df.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count_distinct("user_id").alias("n"))
        .select(F.unix_millis("w.start").alias("ws"), F.unix_millis("w.end").alias("we"), "n")
        .collect()
    }
    assert got == exact


def test_theta_set_cardinalities_match_set_math(spark):
    rng = random.Random(11)
    rows = [
        (rng.randint(0, 99), rng.choice(["click", "view", "purchase"]), rng.uniform(0, 500.0))
        for _ in range(3000)
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, value double")
    a_set = {u for u, e, v in rows if e == "click" and v > 250}
    b_set = {u for u, e, v in rows if e == "purchase" and v > 250}
    got = SK.theta_set_cardinalities(
        df,
        F.when((F.col("event_type") == "click") & (F.col("value") > 250), F.col("user_id")),
        F.when((F.col("event_type") == "purchase") & (F.col("value") > 250), F.col("user_id")),
    ).collect()[0]
    assert got["n_a"] == len(a_set)
    assert got["n_b"] == len(b_set)
    assert got["n_inter"] == len(a_set & b_set)
    assert got["n_diff"] == len(a_set - b_set)
    assert got["n_union"] == len(a_set | b_set)


def test_theta_empty_set_edges(spark):
    df = spark.createDataFrame([(1, "view", 10.0)], "user_id long, event_type string, value double")
    got = SK.theta_set_cardinalities(
        df,
        F.when(F.col("event_type") == "click", F.col("user_id")),
        F.when(F.col("event_type") == "purchase", F.col("user_id")),
    ).collect()[0]
    assert (got["n_a"], got["n_b"], got["n_inter"], got["n_diff"], got["n_union"]) == (0, 0, 0, 0, 0)


def test_hll_rollup_levels_are_consistent(spark):
    import datetime as dt

    rows = [
        (dt.datetime(2021, 12, 1, h, m), u)
        for h in (0, 1, 2)
        for m in (0, 30)
        for u in range(h * 10, h * 10 + 20)  # hours overlap in users
    ]
    df = spark.createDataFrame(rows, "ts timestamp, user_id long")
    out = SK.hll_rollup_hierarchy(df, "user_id").collect()
    by_level = {}
    for r in out:
        by_level.setdefault(r.level, []).append(r)
    assert len(by_level["hour"]) == 3
    assert len(by_level["day"]) == 1
    assert len(by_level["total"]) == 1
    # p=16 sketches are exact at this cardinality
    assert sorted(r.approx for r in by_level["hour"]) == [20, 20, 20]
    exact_day = len({u for _, u in rows})
    assert by_level["day"][0].approx == exact_day
    assert by_level["total"][0].approx == exact_day
    assert by_level["total"][0].window_start == -1


def test_cross_table_key_overlap_exact_at_small_cardinality(spark):
    a = spark.createDataFrame([(i,) for i in range(100)] * 3, "k long")
    b = spark.createDataFrame([(i,) for i in range(60, 200)], "k long")
    got = SK.cross_table_key_overlap(a, "k", b, "k").collect()[0]
    assert (got.n_a, got.n_b, got.n_common) == (100, 140, 40)


def test_quantile_two_level_exact_under_compaction_threshold(spark):
    # few values per group: the KLL state holds every value, so quantiles
    # are exact — est == an actual input value at the requested rank
    rows = [(i % 2, float(v)) for i, v in enumerate(range(100))]
    df = spark.createDataFrame(rows, "g int, v double")
    got = {
        (r["group"], r["q"]): r["est"]
        for r in SK.quantile_two_level(
            df, "v", quantiles=(0.5,), group_col="g"
        ).collect()
    }
    # group 0 holds evens 0..98, group 1 odds 1..99; p50 of 50 values is
    # the 25th or 26th order statistic — accept either rank convention
    assert got[(0, 0.5)] in (48.0, 50.0)
    assert got[(1, 0.5)] in (49.0, 51.0)


def test_quantile_two_level_shard_merge_within_rank_tolerance(spark):
    # 30k values across 16 shards: merged-estimate rank must sit within
    # ±4% of the requested rank (k=200 guarantees ±1.65%)
    rng = random.Random(11)
    n = 30_000
    rows = [(i % 16, rng.gauss(0.0, 1.0)) for i in range(n)]
    df = spark.createDataFrame(rows, "shard int, v double")
    vals = sorted(v for _, v in rows)
    for r in SK.quantile_two_level(
        df, "v", quantiles=(0.5, 0.95, 0.99), shard_col="shard"
    ).collect():
        q, est = r["q"], r["est"]
        lo = vals[max(0, int((q - 0.04) * n) - 1)]
        hi = vals[min(n - 1, int((q + 0.04) * n))]
        assert lo <= est <= hi, (q, est, lo, hi)


def test_quantile_two_level_sharded_state_is_mergeable(spark):
    # the whole point vs percentile_approx: sharded partials merged later
    # must agree with the unsharded sketch within tolerance on the same data
    rows = [(i % 8, float(i) ** 1.5) for i in range(20_000)]
    df = spark.createDataFrame(rows, "shard int, v double")
    n = 20_000
    vals = sorted(float(i) ** 1.5 for i in range(n))
    one = {r["q"]: r["est"] for r in SK.quantile_two_level(df, "v").collect()}
    two = {
        r["q"]: r["est"]
        for r in SK.quantile_two_level(df, "v", shard_col="shard").collect()
    }
    for q in (0.5, 0.95, 0.99):
        lo = vals[max(0, int((q - 0.04) * n) - 1)]
        hi = vals[min(n - 1, int((q + 0.04) * n))]
        assert lo <= one[q] <= hi
        assert lo <= two[q] <= hi


# ---------------------------------------------------------------------------
# count-min sketch (cms_partials / cms_merge / cms_point_estimates)
# ---------------------------------------------------------------------------

def test_cms_never_undercounts_and_is_exact_without_collisions(spark):
    rng = random.Random(11)
    rows = [(f"k{rng.randint(0, 19)}",) for _ in range(5000)]
    df = spark.createDataFrame(rows, "item string")
    merged = SK.cms_merge(SK.cms_partials(df, "item", depth=4, hex_chars=2))
    est = {
        r["item"]: r["est"]
        for r in SK.cms_point_estimates(merged, df, "item").collect()
    }
    exact = {
        r["item"]: r["n"]
        for r in df.groupBy("item").agg(F.count("*").alias("n")).collect()
    }
    assert set(est) == set(exact)
    for k, n in exact.items():
        # the CMS guarantee: min over depth rows never undercounts
        assert est[k] >= n, k
    # 20 keys in 256 buckets × 4 rows: P(all 4 rows collide for some key)
    # is ~(19/256)^4 ≈ 3e-5 per key — with this fixed seed, all exact
    assert est == exact


def test_cms_sharded_partials_merge_to_the_unsharded_sketch(spark):
    rows = [(f"u{i % 50}", i % 7) for i in range(3000)]
    df = spark.createDataFrame(rows, "item string, shard int")
    one = SK.cms_merge(SK.cms_partials(df, "item"))
    two = SK.cms_merge(SK.cms_partials(df, "item", shard_col="shard"))
    a = {(r["d"], r["bucket"]): r["cnt"] for r in one.collect()}
    b = {(r["d"], r["bucket"]): r["cnt"] for r in two.collect()}
    assert a == b


def test_cms_overcount_bounded_in_collision_regime(spark):
    # 4000 distinct items in 256 buckets: heavy collisions by design.
    # Overcount per row is the sum of colliding keys; min-over-4-rows keeps
    # the estimate within the classical eps*N bound with room to spare.
    n = 4000
    df = spark.createDataFrame([(f"x{i}",) for i in range(n)], "item string")
    merged = SK.cms_merge(SK.cms_partials(df, "item", depth=4, hex_chars=2))
    probes = spark.createDataFrame([(f"x{i}",) for i in range(0, n, 100)], "item string")
    for r in SK.cms_point_estimates(merged, probes, "item").collect():
        assert r["est"] >= 1
        assert r["est"] <= 1 + 3 * (n / 256)  # 3× the expected row collision mass


def test_cms_unseen_item_estimates_zero_via_empty_cells(spark):
    # A true CMS answers point queries for ANY item: an unseen item whose
    # buckets are all empty must return 0 (empty cell == count 0), and one
    # whose buckets partially collide takes min over the zero cells too.
    df = spark.createDataFrame([("a",), ("a",), ("b",)], "item string")
    merged = SK.cms_merge(SK.cms_partials(df, "item", depth=4, hex_chars=2))
    probes = spark.createDataFrame(
        [("a",), ("never-seen-1",), ("never-seen-2",)], "item string"
    )
    est = {
        r["item"]: r["est"]
        for r in SK.cms_point_estimates(merged, probes, "item").collect()
    }
    assert set(est) == {"a", "never-seen-1", "never-seen-2"}
    assert est["a"] == 2
    # 2 occupied cells per row out of 256: collision on all 4 rows is ~1e-8
    assert est["never-seen-1"] == 0
    assert est["never-seen-2"] == 0


def test_cms_partials_bounded_rows(spark):
    # the exchange contract: at most shards × depth × width rows
    rows = [(f"k{i % 500}", i % 4) for i in range(2000)]
    df = spark.createDataFrame(rows, "item string, shard int")
    p = SK.cms_partials(df, "item", depth=4, hex_chars=2, shard_col="shard")
    assert p.count() <= 4 * 4 * 256
