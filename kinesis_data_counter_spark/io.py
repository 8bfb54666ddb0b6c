"""Curated-dataset write path: partitioned, sorted, size-bounded parquet.

The output contract of a curation pipeline at 100 TB: data laid out so the
NEXT job's scans are cheap. Three levers, all engine-native:

- ``partitionBy(keys)``: one directory per key value → partition PRUNING at
  read time (a reader filtering ``lang = 'en'`` never opens other dirs).
  Keys must be low-cardinality (lang, split, date) — a high-cardinality
  partition key creates a small-file explosion.
- ``sortWithinPartitions(cols)``: rowgroup-level min/max statistics become
  selective → rowgroup SKIPPING for range predicates on the sort column.
- ``maxRecordsPerFile``: bounds file size regardless of task layout, so
  downstream split planning sees uniform work units.

``repartition(keys)`` before the write aligns task boundaries with
directory boundaries — without it every task can write a file into every
partition directory (tasks × partitions small files).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


def write_curated(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] = (),
    sort_by: Sequence[str] = (),
    max_records_per_file: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as a curated parquet dataset (see module doc)."""
    out = df
    if partition_by:
        out = out.repartition(*partition_by)
    if sort_by or partition_by:
        # the parquet writer requires task rows ordered by the partition
        # columns and INSERTS ITS OWN (unstable) sort when they are not —
        # which would destroy sort_by. Sorting by (partition_by ∥ sort_by)
        # satisfies the writer's requirement, so each output file keeps the
        # sort_by order and gets selective rowgroup min/max stats.
        out = out.sortWithinPartitions(*partition_by, *sort_by)
    w = out.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", str(max_records_per_file))
    w.parquet(path)


def compact_dataset(
    spark,
    path: str,
    partition_by: Sequence[str] = (),
    sort_by: Sequence[str] = (),
    target_file_mb: int = 128,
) -> dict:
    """Rewrite a parquet dataset into near-target-size files (compaction).

    Streaming sinks and fine-grained upserts accrete small files; at
    100 TB the resulting footer/open overhead dominates scan time long
    before data volume does (a 1 KB file costs the same task-scheduling
    and S3-GET latency as a 128 MB one). This job measures the dataset's
    real bytes-per-row, derives ``maxRecordsPerFile`` for the target file
    size, and rewrites through :func:`write_curated` (so partitioning and
    rowgroup sort order are preserved or newly imposed).

    The rewrite stages into ``<path>.__compacting`` and swaps directories
    with two renames. The swap is NOT atomic: there is a brief window in
    which ``path`` does not exist (a racing reader errors rather than
    seeing a partial mix), and a crash inside the window strands the data
    under ``<path>.__old`` — recoverable by hand, but a real deployment
    wanting transactional swaps needs a table format with a commit
    protocol; bare parquet directories cannot provide one.

    Returns ``{"files_before", "files_after", "rows", "bytes"}``.
    Local-filesystem paths only (os.walk); object stores would use the
    Hadoop FileSystem API instead. Row count and sizes come from parquet
    FOOTERS — the only full read of the data is the rewrite itself.
    """
    import os
    import shutil

    import pyarrow.parquet as pq

    def _layout(p: str) -> tuple[int, int, int]:
        n, b, r = 0, 0, 0
        for root, _dirs, files in os.walk(p):
            for f in files:
                if f.endswith(".parquet"):
                    fp = os.path.join(root, f)
                    n += 1
                    b += os.path.getsize(fp)
                    r += pq.ParquetFile(fp).metadata.num_rows
        return n, b, r

    files_before, bytes_total, rows = _layout(path)
    df = spark.read.parquet(path)
    if rows == 0:
        return {"files_before": files_before, "files_after": files_before,
                "rows": 0, "bytes": bytes_total}
    bytes_per_row = max(1.0, bytes_total / rows)
    max_records = max(1, int(target_file_mb * (1 << 20) / bytes_per_row))

    tmp = path.rstrip("/") + ".__compacting"
    out = df
    if not partition_by:
        # aim every task at ~target-size output; +1 avoids coalesce(0)
        n_files = int(rows // max_records) + 1
        out = out.coalesce(n_files)
    write_curated(
        out,
        tmp,
        partition_by=partition_by,
        sort_by=sort_by,
        max_records_per_file=max_records,
        mode="overwrite",
    )
    old = path.rstrip("/") + ".__old"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    files_after, _b, _r = _layout(path)
    return {"files_before": files_before, "files_after": files_after,
            "rows": rows, "bytes": bytes_total}


def zorder_key(cols: Sequence, bits: int = 16):
    """Morton (Z-order) interleave of normalized integer columns.

    Input columns must already be integers in [0, 2^bits) — see
    :func:`write_zordered` for the normalization step. Bit i of each column
    lands at bit (i × n_cols + position) of the key, so a range predicate
    on ANY single column maps to a bounded set of key ranges: sorting by
    the key clusters ALL dimensions at once, where a lexicographic
    sort_by=(a, b) clusters only ``a`` (and ``b`` merely within equal
    ``a``). That is the property that turns parquet min/max stats into
    file/rowgroup skipping for every filtered dimension, not just the
    leading one.

    Pure bitwise Catalyst expressions (shiftleft/or) — plan-size grows as
    bits × n_cols terms but stays inside whole-stage codegen.
    """
    from functools import reduce

    from pyspark.sql import functions as F

    n = len(cols)
    if int(bits) * n > 63:
        # JVM shiftleft wraps shift amounts mod 64 and bit 63 is the sign
        # bit — beyond this the key silently stops being a Morton order
        raise ValueError(
            f"zorder_key needs bits × n_cols ≤ 63 (got {bits} × {n}); "
            "lower bits= or split the clustering columns"
        )
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    terms = []
    for i in range(int(bits)):
        for j, c in enumerate(cs):
            bit = F.shiftright(c.cast("long"), i).bitwiseAND(F.lit(1))
            terms.append(F.shiftleft(bit, i * n + j))
    return reduce(lambda a, b: a.bitwiseOR(b), terms)


def write_zordered(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    n_files: int = 16,
    bits: int = 16,
    max_records_per_file: int | None = None,
) -> None:
    """Write ``df`` clustered on a Z-order curve over ``cols``.

    Each column is min-max normalized to ``bits``-bit integers (one tiny
    global agg collects the 2×n bounds to the driver), the Morton key is
    computed JVM-side, and the data is range-partitioned THEN sorted by the
    key — range partitioning gives files disjoint key ranges (file-level
    skipping), the within-partition sort gives rowgroup-level locality.
    The key column is dropped before writing.

    At 100 TB this is the layout lever for multi-dimension point-lookup /
    range workloads: a filter on any of ``cols`` prunes ~(1 - 1/2^bits)
    of files instead of scanning everything when the filter is not on the
    lexicographic leading column.
    """
    from pyspark.sql import functions as F

    bounds = df.agg(
        *[F.min(c).cast("double").alias(f"mn_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"mx_{c}") for c in cols],
    ).collect()[0]
    scaled = []
    top = (1 << int(bits)) - 1
    for c in cols:
        mn, mx = bounds[f"mn_{c}"], bounds[f"mx_{c}"]
        span = (mx - mn) or 1.0
        scaled.append(
            F.least(
                F.lit(top),
                F.floor((F.col(c).cast("double") - F.lit(mn)) / F.lit(span) * top),
            ).cast("long")
        )
    keyed = df.withColumn("__z", zorder_key(scaled, bits))
    out = keyed.repartitionByRange(int(n_files), "__z").sortWithinPartitions("__z")
    w = out.drop("__z").write.mode("overwrite")
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", str(max_records_per_file))
    w.parquet(path)
