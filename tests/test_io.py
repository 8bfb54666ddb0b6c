"""Curated write path: directory layout, pruning, and roundtrip fidelity."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from kinesis_data_counter_spark.io import write_curated
from kinesis_data_counter_spark.session import load_tables


def test_write_curated_layout_and_pruned_read(spark, sf_dir, tmp_path):
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    out = str(tmp_path / "curated")
    write_curated(
        docs, out, partition_by=("lang",), sort_by=("n_chars",),
        max_records_per_file=1000,
    )
    # hive-style one-directory-per-value layout
    langs = {r.lang for r in docs.select("lang").distinct().collect()}
    dirs = {d for d in os.listdir(out) if d.startswith("lang=")}
    assert dirs == {f"lang={l}" for l in langs}

    back = spark.read.parquet(out)
    # roundtrip fidelity (partition column is restored from the path)
    assert back.count() == docs.count()
    a = {(r.doc_id, r.lang, r.n_chars) for r in back.select("doc_id", "lang", "n_chars").collect()}
    b = {(r.doc_id, r.lang, r.n_chars) for r in docs.select("doc_id", "lang", "n_chars").collect()}
    assert a == b

    # a lang filter must become a PartitionFilter (pruning), not a data filter
    plan = (
        back.filter(F.col("lang") == "en")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters: [isnotnull(lang" in plan or "PartitionFilters: [" in plan
    pf = plan.split("PartitionFilters:", 1)[1][:120]
    assert "lang" in pf


def test_compact_dataset_merges_small_files(spark, tmp_path):
    from kinesis_data_counter_spark.io import compact_dataset

    path = str(tmp_path / "fragmented")
    df = spark.range(0, 10_000).selectExpr("id", "id % 7 AS grp", "id * 1.5 AS v")
    df.repartition(50).write.parquet(path)  # 50 tiny files

    stats = compact_dataset(spark, path, sort_by=("id",), target_file_mb=64)
    assert stats["files_before"] == 50
    assert stats["files_after"] < 5
    assert stats["rows"] == 10_000
    back = spark.read.parquet(path)
    assert back.count() == 10_000
    assert back.selectExpr("sum(id)").collect()[0][0] == sum(range(10_000))


def test_compact_dataset_preserves_partitioning(spark, tmp_path):
    from kinesis_data_counter_spark.io import compact_dataset

    path = str(tmp_path / "parts")
    df = spark.range(0, 2_000).selectExpr("id", "CAST(id % 3 AS STRING) AS lang")
    df.repartition(20).write.partitionBy("lang").parquet(path)
    before = spark.read.parquet(path).groupBy("lang").count().collect()

    stats = compact_dataset(spark, path, partition_by=("lang",), target_file_mb=64)
    assert stats["files_after"] <= 3  # one per partition dir
    import os
    assert sorted(d for d in os.listdir(path) if d.startswith("lang=")) == [
        "lang=0", "lang=1", "lang=2"
    ]
    after = spark.read.parquet(path).groupBy("lang").count().collect()
    assert {(r["lang"], r["count"]) for r in after} == {(r["lang"], r["count"]) for r in before}


def test_zorder_layout_skips_on_both_dimensions(spark, tmp_path):
    import pyarrow.parquet as pq
    import os

    from kinesis_data_counter_spark.io import write_zordered

    # two independent uniform dimensions
    df = spark.range(0, 40_000).selectExpr(
        "CAST(id % 200 AS LONG) AS a",
        "CAST((id * 7919) % 1000 AS LONG) AS b",
    )
    zpath = str(tmp_path / "zorder")
    lpath = str(tmp_path / "lexico")
    write_zordered(df, zpath, cols=("a", "b"), n_files=16)
    # baseline: range-partition + sort lexicographically by (a, b)
    (df.repartitionByRange(16, "a", "b").sortWithinPartitions("a", "b")
       .write.mode("overwrite").parquet(lpath))

    def files_possibly_containing(path, col, val):
        hits, total = 0, 0
        for f in os.listdir(path):
            if not f.endswith(".parquet"):
                continue
            total += 1
            md = pq.ParquetFile(os.path.join(path, f)).metadata
            idx = md.schema.names.index(col)
            stats = [md.row_group(i).column(idx).statistics for i in range(md.num_row_groups)]
            lo = min(s.min for s in stats)
            hi = max(s.max for s in stats)
            if lo <= val <= hi:
                hits += 1
        return hits, total

    za, zt = files_possibly_containing(zpath, "a", 100)
    zb, _ = files_possibly_containing(zpath, "b", 500)
    la, lt = files_possibly_containing(lpath, "a", 100)
    lb, _ = files_possibly_containing(lpath, "b", 500)

    # z-order: BOTH dims skip a majority of files
    assert za <= zt // 2, (za, zt)
    assert zb <= zt // 2, (zb, zt)
    # lexicographic: leading col skips, trailing col cannot
    assert la <= lt // 2
    assert lb >= lt - 1, (lb, lt)  # ~every file may contain any b
    # and the data survives the layout intact
    assert spark.read.parquet(zpath).count() == 40_000


def test_zorder_key_rejects_64bit_overflow(spark):
    import pytest

    from kinesis_data_counter_spark.io import zorder_key

    with pytest.raises(ValueError, match="bits"):
        zorder_key(["a", "b", "c", "d", "e"], bits=16)  # 80 bits > 63
    zorder_key(["a", "b", "c"], bits=21)  # 63 bits: allowed
