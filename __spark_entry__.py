"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (the reference's README headline:
estimated unique users per tumbling window — README.md:70-77) at sf0.001.
``queries()`` / ``oracle_sql()`` expose the full operator registry from
``kinesis_data_counter_spark.plans.registry`` — one entry per implemented
operator from SURVEY.md §2 plus the Phase-5 training-data pipeline ops.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from kinesis_data_counter_spark.config import CounterSpec  # noqa: E402
from kinesis_data_counter_spark.operators.counter import build_counter  # noqa: E402
from kinesis_data_counter_spark.plans.registry import QUERIES, oracle_sql_map  # noqa: E402
from kinesis_data_counter_spark.session import load_tables  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: approx distinct users per 1-hour tumbling window (A3-A5)."""
    tables = load_tables(spark, SF_SMOKE, ("events",))
    spec = CounterSpec(
        id="unique_user_count",
        counter_type="approx_count_distinct",
        target_column="user_id",
        window="1 hour",
        input_stream_arn="arn:aws:kinesis:us-east-1:111122223333:stream/events",
    ).validate()
    return build_counter(tables["events"], spec, ts_col="ts")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator (see SURVEY.md §2 and §7 Phase 5)."""
    return {name: q.builder for name, q in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (omitted → rows-only check)."""
    return oracle_sql_map()
