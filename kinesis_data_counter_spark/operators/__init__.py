from kinesis_data_counter_spark.operators.counter import (
    assemble_counters,
    build_counter,
    counter_state,
    finalize_state,
    merge_partials,
    merge_state,
    partial_counter,
    union_counter_results,
)
from kinesis_data_counter_spark.operators.joins import asof_join
from kinesis_data_counter_spark.operators.windows import (
    salted_count,
    session_count,
    sliding_count,
)

__all__ = [
    "assemble_counters",
    "build_counter",
    "counter_state",
    "finalize_state",
    "merge_partials",
    "merge_state",
    "partial_counter",
    "union_counter_results",
    "asof_join",
    "salted_count",
    "session_count",
    "sliding_count",
]
