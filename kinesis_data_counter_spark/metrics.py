"""Single-pass data-quality metrics: column profiles, key skew, drift
and expectations.

Each report is one aggregate over the data (or over a bounded sample of
it), never a scan per column or per rule, so it can run inline in a
curation funnel at corpus scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame


def profile_columns(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """One-pass column profile: (col_name, n_nulls, n_distinct, min_num,
    max_num) per column.

    The data-quality precheck a 100 TB ingest runs before anything else —
    null rates, key cardinalities, numeric ranges — folded into a SINGLE
    wide aggregate (one scan, partial+final like any hash agg) and
    unpivoted from the 1-row result with ``stack``. Timestamps profile as
    epoch-millis; non-numeric columns carry NULL ranges (their min/max
    would be engine-collation-dependent).
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    cols = list(cols or df.columns)
    num = (T.LongType, T.IntegerType, T.ShortType, T.ByteType,
           T.DoubleType, T.FloatType, T.DecimalType)
    aggs = []
    for c in cols:
        dt = df.schema[c].dataType
        if isinstance(dt, T.TimestampType):
            v = F.unix_millis(F.col(c)).cast("double")
        elif isinstance(dt, num):
            v = F.col(c).cast("double")
        else:
            v = F.lit(None).cast("double")
        aggs += [
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"__n_{c}"),
            F.count_distinct(F.col(c)).alias(f"__d_{c}"),
            F.min(v).alias(f"__lo_{c}"),
            F.max(v).alias(f"__hi_{c}"),
        ]
    one = df.agg(*aggs)
    stack = ", ".join(
        f"'{c}', __n_{c}, __d_{c}, __lo_{c}, __hi_{c}" for c in cols
    )
    return one.select(
        F.expr(
            f"stack({len(cols)}, {stack}) as "
            "(col_name, n_nulls, n_distinct, min_num, max_num)"
        )
    )


def profile_key_skew(
    df: DataFrame, key_col: str, top: int = 10, tasks: int = 32
) -> DataFrame:
    """Shuffle-skew precheck: the hottest ``top`` keys of ``key_col`` with
    their row share and a salt-factor hint.

    Before shuffling 100 TB on a key (join or groupBy), this one pass
    answers "will a single task drown": the per-key count pays the SAME
    hash exchange the real operation would, so its distribution IS the
    task-load distribution that operation will see. The top-N runs as
    TakeOrderedAndProject (per-partition heap + driver merge of
    partitions × top rows) — never a global sort of the key domain.

    ``salt_factor`` = ceil(share × tasks), clamped to ≥1: the number of
    salt buckets that bring the hot key's largest salted slice down to an
    average task's load at ``tasks``-way parallelism (windows.py's
    salted-aggregation pattern consumes exactly this number).

    Output: (rank int, key string, n bigint, share double, salt_factor int).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    counts = df.groupBy(F.col(key_col).cast("string").alias("key")).agg(
        F.count(F.lit(1)).alias("n")
    )
    top_df = counts.orderBy(F.desc("n"), F.asc("key")).limit(int(top))
    tot = counts.agg(F.sum("n").alias("__t"))
    w = Window.orderBy(F.desc("n"), F.asc("key"))  # ≤ top rows by now
    return (
        top_df.withColumn("rank", F.row_number().over(w).cast("int"))
        .crossJoin(F.broadcast(tot))
        .select(
            "rank",
            "key",
            "n",
            F.round(F.col("n") / F.col("__t"), 6).alias("share"),
            F.greatest(
                F.lit(1),
                F.ceil(F.col("n") * int(tasks) / F.col("__t")),
            )
            .cast("int")
            .alias("salt_factor"),
        )
    )


def drift_report(
    ref: DataFrame,
    cur: DataFrame,
    numeric_cols: tuple[str, ...] | list[str] = (),
    categorical_cols: tuple[str, ...] | list[str] = (),
    bins: int = 10,
    eps: float = 1e-6,
    threshold: float = 0.2,
    round_digits: int = 6,
) -> DataFrame:
    """Distribution-drift report between a reference slice and a current
    slice of the same table: per-column Population Stability Index plus a
    null-rate delta, the monitor a recurring ingest runs before trusting a
    new batch (the 0.1/0.2 PSI bands are the standard alert levels).

    Numeric columns are binned into ``bins`` fixed-width buckets derived
    from the REFERENCE slice's min/max (out-of-range current values clamp
    to the edge buckets — new mass outside the reference range must be
    *visible* as edge drift, not silently dropped); categorical columns
    bucket by value with NULL as its own bucket. PSI is
    ``Σ (p_cur − p_ref)·ln(p_cur/p_ref)`` over the bucket union, shares
    floored at ``eps`` so one-sided buckets contribute finite mass.

    Engine-portable by construction: buckets are exact integer counts,
    shares are one double division, and the sum is rounded to
    ``round_digits`` before the threshold comparison — an oracle replays
    it bit-for-bit.

    Plan shape: per side, ONE wide min/max aggregate (numeric bounds, a
    1-row broadcast) and ONE scan that ``stack``s the audited columns into
    (col, bucket) rows — row-local fan-out of width ``n_cols`` — followed
    by a (col, bucket)-keyed partial+final count agg. Bucket tables are
    ``n_cols × bins`` rows, so the join/PSI arithmetic is driver-trivial
    and broadcast; nothing downstream of the two scans depends on data
    size. No window, no sort, no Python.

    Returns (col_name string, kind numeric|categorical, psi double,
    null_delta double, drifted boolean).
    """
    from pyspark.sql import functions as F

    ncols, ccols = list(numeric_cols), list(categorical_cols)
    if not ncols and not ccols:
        raise ValueError("drift_report needs at least one audited column")
    k = int(bins)

    bounds = ref.agg(
        *[F.min(F.col(c).cast("double")).alias(f"__lo_{c}") for c in ncols],
        *[F.max(F.col(c).cast("double")).alias(f"__hi_{c}") for c in ncols],
    ) if ncols else None

    def buckets(df: DataFrame) -> DataFrame:
        d = df.crossJoin(F.broadcast(bounds)) if bounds is not None else df
        pieces = []
        for c in ncols:
            lo, hi = F.col(f"__lo_{c}"), F.col(f"__hi_{c}")
            width = (hi - lo) / F.lit(float(k))
            idx = F.least(
                F.lit(k - 1),
                F.greatest(
                    F.lit(0),
                    F.floor((F.col(c).cast("double") - lo) / width).cast("int"),
                ),
            )
            b = (
                F.when(F.col(c).isNull(), F.lit(None).cast("string"))
                # a zero-width reference range puts everything in bucket 0
                .when(hi == lo, F.lit("b0"))
                .otherwise(F.concat(F.lit("b"), F.lpad(idx.cast("string"), 4, "0")))
            )
            pieces.append((c, b))
        for c in ccols:
            pieces.append(
                (c, F.coalesce(F.col(c).cast("string"), F.lit("∅NULL")))
            )
        stacked = d.select(
            F.explode(
                F.array(*[
                    F.struct(F.lit(c).alias("col_name"), b.alias("bucket"))
                    for c, b in pieces
                ])
            ).alias("s")
        ).select("s.col_name", "s.bucket")
        return stacked.groupBy("col_name", "bucket").agg(
            F.count(F.when(F.col("bucket").isNotNull(), 1)).alias("n"),
            F.count(F.lit(1)).alias("n_all"),
        )

    def side(df: DataFrame, tag: str) -> tuple[DataFrame, DataFrame]:
        b = buckets(df)
        # null census: numeric NULLs surface as a NULL bucket (excluded
        # from PSI), categorical NULLs as the '∅NULL' sentinel bucket
        # (included in PSI) — null_delta must count BOTH, else a
        # categorical null-rate shift reports 0.0
        tot = b.groupBy("col_name").agg(
            F.sum(F.when(F.col("bucket").isNotNull(), F.col("n"))).alias(f"t_{tag}"),
            F.sum(
                F.when(F.col("bucket").isNull(), F.col("n_all"))
                .when(F.col("bucket") == "∅NULL", F.col("n"))
                .otherwise(0)
            ).alias(f"nn_{tag}"),
            F.sum("n_all").alias(f"all_{tag}"),
        )
        return (
            b.filter(F.col("bucket").isNotNull()).select(
                "col_name", "bucket", F.col("n").alias(f"n_{tag}")
            ),
            tot,
        )

    rb, rtot = side(ref, "ref")
    cb, ctot = side(cur, "cur")
    j = (
        rb.join(cb, ["col_name", "bucket"], "full_outer")
        .join(F.broadcast(rtot), "col_name")
        .join(F.broadcast(ctot), "col_name")
    )
    pr = F.greatest(F.coalesce(F.col("n_ref"), F.lit(0)) / F.col("t_ref"), F.lit(float(eps)))
    pc = F.greatest(F.coalesce(F.col("n_cur"), F.lit(0)) / F.col("t_cur"), F.lit(float(eps)))
    contrib = (pc - pr) * F.log(pc / pr)
    kind = F.when(
        F.col("col_name").isin(*ncols) if ncols else F.lit(False), "numeric"
    ).otherwise("categorical")
    return (
        j.groupBy("col_name")
        .agg(
            F.round(F.sum(contrib), round_digits).alias("psi"),
            F.round(
                F.first(F.col("nn_cur") / F.col("all_cur"))
                - F.first(F.col("nn_ref") / F.col("all_ref")),
                round_digits,
            ).alias("null_delta"),
        )
        .select(
            "col_name",
            kind.alias("kind"),
            "psi",
            "null_delta",
            (F.col("psi") > F.lit(float(threshold))).alias("drifted"),
        )
    )


def validate_expectations(
    df: DataFrame,
    expectations: list[dict],
    refs: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """Declarative data-quality validation — one report row per rule.

    The ingest-contract check a training pipeline runs before admitting a
    batch: every ROW-LOCAL rule (not_null / in_range / in_set / matches)
    is a ``count_if`` inside ONE wide aggregate over a single scan — no
    per-rule passes; ``unique`` adds one exact distinct aggregate per key
    set and ``foreign_key`` one broadcast anti-join count against the
    (dimension-sized) reference — each the minimal plan for its semantics.

    Expectation dicts::

        {"rule": "not_null",    "column": c}
        {"rule": "in_range",    "column": c, "min": x, "max": y}  # inclusive
        {"rule": "in_set",      "column": c, "values": [...]}
        {"rule": "matches",     "column": c, "pattern": regex}
        {"rule": "unique",      "columns": [c, ...]}
        {"rule": "foreign_key", "column": c, "ref": name, "ref_column": rc}

    ``refs`` maps ``ref`` names to reference DataFrames. NULLs follow SQL
    semantics: range/set/pattern rules skip NULLs (pair with ``not_null``
    to forbid them), a NULL never violates ``foreign_key``. Returns
    (rule, target, n_checked bigint, n_violations bigint, ok boolean).
    """
    from pyspark.sql import functions as F

    if not expectations:
        raise ValueError("expectations must be non-empty")
    refs = refs or {}
    row_aggs: list[Column] = []
    row_meta: list[tuple[str, str]] = []
    extra_rows: list[DataFrame] = []
    for e in expectations:
        rule = e["rule"]
        if rule == "not_null":
            c = F.col(e["column"])
            row_aggs += [F.count(F.lit(1)), F.count_if(c.isNull())]
            row_meta.append((rule, e["column"]))
        elif rule == "in_range":
            c = F.col(e["column"])
            bad = (c < F.lit(e["min"])) | (c > F.lit(e["max"]))
            row_aggs += [F.count(c), F.count_if(bad)]
            row_meta.append((rule, e["column"]))
        elif rule == "in_set":
            c = F.col(e["column"])
            row_aggs += [F.count(c), F.count_if(~c.isin(list(e["values"])))]
            row_meta.append((rule, e["column"]))
        elif rule == "matches":
            c = F.col(e["column"])
            row_aggs += [F.count(c), F.count_if(~c.rlike(e["pattern"]))]
            row_meta.append((rule, e["column"]))
        elif rule == "unique":
            cols = list(e["columns"])
            rep = df.agg(
                F.count(F.lit(1)).alias("__n"),
                F.count_distinct(*[F.col(c) for c in cols]).alias("__d"),
            ).select(
                F.lit(rule).alias("rule"),
                F.lit(",".join(cols)).alias("target"),
                F.col("__n").cast("long").alias("n_checked"),
                (F.col("__n") - F.col("__d")).cast("long").alias("n_violations"),
            )
            extra_rows.append(rep)
        elif rule == "foreign_key":
            c, ref_name, rc = e["column"], e["ref"], e["ref_column"]
            if ref_name not in refs:
                raise ValueError(f"foreign_key rule needs refs[{ref_name!r}]")
            ref_keys = F.broadcast(
                refs[ref_name].select(F.col(rc).alias("__rk")).distinct()
            )
            orphans = (
                df.select(F.col(c).alias("__fk"))
                .filter(F.col("__fk").isNotNull())
                .join(ref_keys, F.col("__fk") == F.col("__rk"), "left_anti")
            )
            rep = orphans.agg(F.count(F.lit(1)).alias("__v")).crossJoin(
                df.agg(F.count(F.col(c)).alias("__n"))
            ).select(
                F.lit(rule).alias("rule"),
                F.lit(c).alias("target"),
                F.col("__n").cast("long").alias("n_checked"),
                F.col("__v").cast("long").alias("n_violations"),
            )
            extra_rows.append(rep)
        else:
            raise ValueError(f"unknown expectation rule: {rule!r}")

    reports: list[DataFrame] = []
    if row_meta:
        wide = df.agg(*[a.alias(f"m{i}") for i, a in enumerate(row_aggs)])
        selects = []
        for j, (rule, col) in enumerate(row_meta):
            selects.append(
                F.struct(
                    F.lit(rule).alias("rule"),
                    F.lit(col).alias("target"),
                    F.col(f"m{2 * j}").cast("long").alias("n_checked"),
                    F.col(f"m{2 * j + 1}").cast("long").alias("n_violations"),
                )
            )
        reports.append(
            wide.select(F.explode(F.array(*selects)).alias("r")).select("r.*")
        )
    reports.extend(extra_rows)
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out.withColumn("ok", F.col("n_violations") == 0)
