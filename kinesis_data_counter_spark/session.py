"""SparkSession construction and fixture-table loading.

Scale notes: every config here is chosen so the same code runs unchanged on a
1000-executor cluster — AQE handles runtime re-planning (partition coalescing,
skew-join splitting), shuffle partitions default to cores locally but are a
plain conf knob for a cluster, and Arrow is enabled for the few Pandas-UDF
operators (similarity / multimodal paths).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables that should always be broadcast in joins at any SF:
# region is 5 rows and nation 25 rows at every TPC-H scale factor.
BROADCAST_TABLES = frozenset({"region", "nation"})


# The session get_spark built. While it is live, later calls return it
# as is: re-sending the builder conf costs a py4j round-trip per setting.
_built: SparkSession | None = None


def get_spark(
    app_name: str = "kinesis-data-counter-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    - UTC session timezone: required for oracle parity (DuckDB timestamps are
      UTC-naive) and for epoch-aligned tumbling windows (reference run.go:148-159
      truncates wall-clock time, which is epoch-aligned for sub-day windows).
    - AQE on: runtime partition coalescing + skew-join handling — this is the
      100TB insurance policy for skewed group keys.

    The first call builds the session with this conf; later calls return it
    while it is live, setting only an explicit ``shuffle_partitions``. A
    session built elsewhere gets the conf applied through the builder.
    """
    global _built
    if _built is not None and _built.sparkContext._jsc is not None:
        if shuffle_partitions is not None:
            _built.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
        return _built
    # executors spawn their own Python workers, which resolve imports via
    # PYTHONPATH — not the driver's sys.path. Exporting the package's
    # parent dir makes every Pandas-UDF/mapInPandas operator importable
    # no matter where the driver script was launched from (a cluster
    # deployment ships the package via pip/--py-files instead; this is a
    # no-op there since the prepended dir simply isn't on executors).
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_parent + (os.pathsep + existing if existing else "")
        )

    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # default cache holds 100 generated-code units; a multi-query workload
        # (the registry has ~50) evicts constantly and recompiles wide operators
        # (e.g. the 96-min MinHash aggregate) on every run — must be set before
        # the first codegen because the cache captures the size at JVM init
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # timezone-less parquet µs timestamps → TIMESTAMP (LTZ, UTC session),
        # not NTZ: keeps unix_millis/window() valid on fixture ts columns
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.ui.enabled", "false")
    )
    _built = builder.getOrCreate()
    return _built


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply the conf this engine depends on to an externally-created session.

    The driver harness passes us its own SparkSession; window arithmetic and
    unix_millis are epoch-based (TZ-independent), but timestamp-literal parsing
    and date extraction are session-TZ dependent, so pin UTC defensively.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    for k, v in (
        ("spark.sql.adaptive.enabled", "true"),
        # fixture events.ts is parquet TIMESTAMP(NANOS); Spark has no nanos
        # timestamp — read as long and convert explicitly in load_tables
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        # fixture timestamps are timezone-less parquet µs; with a UTC session
        # reading them as TIMESTAMP (LTZ) preserves the instant and keeps
        # unix_millis/window arithmetic valid (NTZ rejects unix_millis)
        ("spark.sql.parquet.inferTimestampNTZ.enabled", "false"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - conf may be locked down
            pass
    return spark


def load_tables(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Load the fixture parquet tables from an sf directory.

    Column pruning + predicate pushdown reach the parquet scan automatically
    because callers express everything declaratively on these DataFrames.
    """
    from pyspark.sql import functions as F  # local to avoid import cycles
    from pyspark.sql import types as T

    configure_session(spark)
    out: dict[str, DataFrame] = {}
    for name in tables:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        df = spark.read.parquet(path)
        # TIMESTAMP(NANOS) columns arrive as LONG nanos (nanosAsLong conf);
        # convert with integer division — DuckDB also truncates ns → µs, so
        # the oracle sees identical instants.
        for fld in df.schema.fields:
            if fld.name in _NANO_TS_COLUMNS.get(name, ()) and isinstance(
                fld.dataType, T.LongType
            ):
                df = df.withColumn(
                    fld.name, F.timestamp_micros(F.expr(f"{fld.name} div 1000"))
                )
            elif isinstance(fld.dataType, T.TimestampNTZType):
                # belt-and-suspenders vs inferTimestampNTZ: under the UTC
                # session TZ this cast preserves the instant exactly
                df = df.withColumn(fld.name, F.col(fld.name).cast(T.TimestampType()))
        out[name] = df
    return out


# fixture columns written as parquet TIMESTAMP(NANOS) (see TESTDATA.md)
_NANO_TS_COLUMNS = {"events": ("ts",)}


def _exchange_free_partitions(df: DataFrame) -> int | None:
    """Partition count of ``df``'s physical plan when it can be read off
    WITHOUT executing anything; None when it cannot.

    ``df.rdd.getNumPartitions()`` under AQE *finalizes the adaptive plan*,
    which eagerly EXECUTES every shuffle stage below it and then throws
    the result away (the caller's real action replans and re-runs them) —
    measured 3.3 s of discarded work for one composed quality→lang→dedup
    plan at sf0.1, paid once per ``fan_out`` call site; at cluster scale
    the same probe would pre-run the entire upstream pipeline. So the
    probe here never finalizes: the non-adaptive physical plan is built
    (planning only, no job), and its partition count is trusted only when
    the plan contains NO Exchange — i.e. it is scans/caches plus narrow
    ops, whose static count IS the runtime count (a 100 TB scan reports
    its real thousands of splits, which is exactly the
    no-op-at-cluster-scale case fan_out must detect). A plan WITH an
    exchange reports only the static ``spark.sql.shuffle.partitions``,
    which says nothing about the AQE-coalesced runtime count, so None is
    returned and the caller re-spreads unconditionally (measured: losing
    the re-spread serializes the downstream per-row-heavy stage locally
    and costs far more than the extra tiny exchange; at scale the input
    to a compute-bound stage is a gated subset and one exchange of it is
    the documented price of engaging every core).
    """
    plan = df._jdf.queryExecution().sparkPlan()
    plan_str = plan.toString()
    if "Exchange" in plan_str:
        # the OUTERMOST exchange (first in the top-down plan string) set
        # the plan's partitioning. A user-specified repartition
        # (REPARTITION_BY_COL/_NUM) is not AQE-coalescible, so its static
        # count is the runtime count and can be trusted; any other origin
        # (ENSURE_REQUIREMENTS) may be coalesced arbitrarily low.
        first_ex = next(
            ln for ln in plan_str.splitlines() if "Exchange" in ln
        )
        if "REPARTITION_BY" in first_ex:
            return plan.outputPartitioning().numPartitions()
        return None
    spark = df.sparkSession
    conf_key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(conf_key)
    try:
        spark.conf.set(conf_key, "false")
        return df.rdd.getNumPartitions()
    finally:
        spark.conf.set(conf_key, prev)


def fan_out(df: DataFrame, key=None, min_parts: int | None = None) -> DataFrame:
    """Give a compute-heavy stage at least session-level parallelism.

    A single-file, single-row-group local input plans as ONE scan task, so
    per-row-expensive downstream work (shingling + k-hash signatures,
    Pandas-UDF codecs, regex feature extraction) serializes on one core. A
    real deployment's input arrives in many splits and never hits this; one
    cheap exchange of the small local input restores that layout. No-op
    when the plan already has enough partitions — i.e. on any multi-split
    source — so at cluster scale this adds nothing.

    ``key`` (a column name/expr, normally the row id) selects HASH
    partitioning. Always pass one when available: keyless round-robin
    repartition first SORTS every partition on all columns for retry
    determinism (spark.sql.execution.sortBeforeRepartition) — measured 2×
    slower here on wide text/embedding rows than the hash exchange.

    Only use where per-row compute dominates the exchange cost (measured:
    ~3× faster for shingle/regex/Pandas-UDF stages, but SLOWER for plain
    columnar aggregation, where the scan-stage partial agg is cheaper than
    the extra shuffle).
    """
    if df.isStreaming:
        return df
    spark = df.sparkSession
    if min_parts is not None:
        n = min_parts
    else:
        # clamp by actual cores: on an externally-created session (the
        # driver harness) shuffle.partitions keeps its 200 default, and
        # 200 tiny tasks on a 32-core local session is pure overhead
        n = min(
            int(spark.conf.get("spark.sql.shuffle.partitions")),
            spark.sparkContext.defaultParallelism,
        )
    static_parts = _exchange_free_partitions(df)
    if static_parts is not None and static_parts >= n:
        return df
    if key is None:
        return df.repartition(n)
    from pyspark.sql import functions as F

    return df.repartition(n, F.col(key) if isinstance(key, str) else key)


def run_concurrently(thunks) -> list:
    """Run independent zero-argument callables (normally each one or more
    Spark actions) side by side; return their results in order.

    Actions only run one after another because driver code calls them one
    after another. Submitted from separate threads, independent jobs share
    the scheduler, so each job's tasks back-fill cores the others' stragglers
    leave idle (the reference's goroutine-per-counter join, counter.go:176-196).

    Bound: one plain thread per thunk, so the caller's input sizes it; the
    largest call site passes 5 (``stream_curate``'s tail writes). There is
    no worker cap because every caller submits a fixed, small set of jobs.
    A single thunk runs inline on the calling thread. Every thunk runs to completion before the first exception, in
    thunk order, is raised, so no job is left running behind the caller.
    """
    thunks = list(thunks)
    if len(thunks) <= 1:
        return [t() for t in thunks]
    from concurrent.futures import ThreadPoolExecutor

    # leaving the block waits for every thunk, failed or not
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(t) for t in thunks]
    return [f.result() for f in futures]


# bounded_collect's bounds, read at call time. Both sit well above every
# fast-path input the registry builds (connected_components pair graphs are
# ≤ ~1.6 MB, pagerank edge tables a few MB).
DRIVER_COLLECT_MAX_ROWS = 100_000
DRIVER_COLLECT_MAX_BYTES = 16 * 1024 * 1024


def bounded_collect(df: DataFrame) -> list | None:
    """``df.collect()`` when ``df`` is small enough to hold on the driver,
    else ``None`` (the caller then takes its distributed path).

    One aggregate reads the row count and the text size in bytes (the sum of
    ``octet_length(cast(c AS STRING))`` over every column); the collect runs
    only when both are within ``DRIVER_COLLECT_MAX_ROWS`` and
    ``DRIVER_COLLECT_MAX_BYTES``. Persist ``df`` first if it is expensive:
    the gate and the collect each read it.
    """
    from pyspark.sql import functions as F

    size = F.lit(0).cast("bigint")
    for c in df.columns:
        size = size + F.coalesce(F.octet_length(df[c].cast("string")), F.lit(0))
    gate = df.agg(
        F.count(F.lit(1)).alias("n"), F.sum(size).alias("bytes")
    ).collect()[0]
    if (
        gate["n"] > DRIVER_COLLECT_MAX_ROWS
        or (gate["bytes"] or 0) > DRIVER_COLLECT_MAX_BYTES
    ):
        return None
    return df.collect()
