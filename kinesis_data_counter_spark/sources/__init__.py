from kinesis_data_counter_spark.sources.json_records import parse_json_records
from kinesis_data_counter_spark.sources.kpl import aggregate_records, deaggregate
from kinesis_data_counter_spark.sources.replay_source import (
    KinesisReplayDataSource,
    write_shard_files,
)

__all__ = [
    "parse_json_records",
    "aggregate_records",
    "deaggregate",
    "KinesisReplayDataSource",
    "write_shard_files",
]
