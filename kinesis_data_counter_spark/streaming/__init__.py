from kinesis_data_counter_spark.streaming.handler import (
    HandlerResponse,
    TimeWindowEvent,
    handle_time_window_event,
)
from kinesis_data_counter_spark.streaming.runner import run_counter_stream_once

__all__ = [
    "HandlerResponse",
    "TimeWindowEvent",
    "handle_time_window_event",
    "run_counter_stream_once",
]
