"""Benchmark harness for kinesis_data_counter_spark (see README.md)."""
