"""CLI entry point: ``python -m kinesis_data_counter_spark``.

Mirrors the reference CLI's surface (cmd/kinesis-data-counter/main.go):
`-stream` becomes ``--path`` (a parquet file/directory standing in for the
Kinesis stream — the only unbounded source this container can host),
``--window`` accepts Go-style durations (``1m``, ``30s``, ``1h``) or Spark
interval strings, and counters come either from flags (single counter) or
``--config`` YAML (multi-counter fan-out, ≈ the reference's config mode).
Results print as JSON lines on stdout exactly like the reference's default
io.Writer sink (run.go console output).

``--follow`` runs the streaming path (availableNow drain — bounded here,
continuous on a real stream); the reference's <15-minute window limit
(main.go:113-116) is enforced only in this mode, on ``--window`` or on
every routed config counter's window, where it originates: it
exists because the CLI buffers per-window state in memory, which Spark's
state store makes unnecessary in batch.
"""

from __future__ import annotations

import argparse
import io
import re
import sys

from kinesis_data_counter_spark.config import (
    Config,
    ConfigError,
    CounterSpec,
    parse_window,
)


def window_minutes(window: str) -> float:
    """Total minutes of a (possibly multi-unit) interval string.

    Accepts every form the CLI documents — ``10 minutes``, ``1 hour
    30 minutes`` — and raises ``ValueError`` (not a raw KeyError) on
    anything unparseable so callers can route it to the clean error path.
    """
    scale = {"second": 1 / 60, "minute": 1, "hour": 60, "day": 1440}
    pairs = re.findall(r"(\d+(?:\.\d+)?)\s*([a-zA-Z]+)", window)
    joined = "".join(f"{n} {u} " for n, u in pairs).strip()
    if not pairs or joined.replace(" ", "") != window.replace(" ", ""):
        raise ValueError(f"unparseable window: {window!r}")
    total = 0.0
    for n, unit in pairs:
        u = unit.lower().rstrip("s")
        if u not in scale:
            raise ValueError(f"unknown window unit {unit!r} in {window!r}")
        total += float(n) * scale[u]
    return total


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="kinesis_data_counter_spark",
        description="Windowed stream counting on Spark (reference-parity CLI)",
    )
    p.add_argument("--path", required=True, help="parquet file/dir standing in for the stream")
    p.add_argument("--window", default="1m", help="tumbling window (1m, 30s, '1 hour')")
    p.add_argument("--counter-id", default="counter")
    p.add_argument("--counter-type", default="count",
                   choices=["count", "approx_count_distinct"])
    p.add_argument("--target-column", default=None)
    p.add_argument("--target-expr", default=None)
    p.add_argument("--jq-expr", default=None)
    p.add_argument("--config", default=None, help="YAML config for multi-counter mode")
    p.add_argument("--stream-arn",
                   default="arn:aws:kinesis:us-east-1:000000000000:stream/cli-input",
                   help="ARN the input claims to be (drives config routing)")
    p.add_argument("--ts-col", default="ts")
    p.add_argument("--follow", action="store_true",
                   help="streaming mode (reference CLI semantics incl. <15m window limit)")
    return p


def _apply_env_defaults(parser) -> None:
    """≈ envToFlag (cmd/kinesis-data-counter/main.go:129-134): every flag
    falls back to KINESIS_DATA_COUNTER_<NAME> (dashes → underscores)."""
    import os

    for action in parser._actions:
        for opt in action.option_strings:
            if not opt.startswith("--"):
                continue
            env = "KINESIS_DATA_COUNTER_" + opt[2:].replace("-", "_").upper()
            if env in os.environ:
                v = os.environ[env]
                if isinstance(action.default, bool) or action.const is True:
                    parser.set_defaults(
                        **{action.dest: v.lower() in ("1", "true", "yes", "on")}
                    )
                else:
                    parser.set_defaults(**{action.dest: v})
                action.required = False  # an env-provided flag is satisfied


def main(argv: list[str] | None = None, out: io.TextIOBase | None = None) -> int:
    parser = build_parser()
    _apply_env_defaults(parser)
    args = parser.parse_args(argv)
    out = out or sys.stdout

    from kinesis_data_counter_spark.session import get_spark

    arn = args.stream_arn
    if args.config:
        from kinesis_data_counter_spark import __version__

        cfg = Config.load(args.config)
        try:
            # ≈ main.go:82: the config may pin which engine versions run it
            cfg.validate_version(__version__)
        except ConfigError as e:
            print(f"error: {e}", file=sys.stderr)
            return 2
        specs = cfg.counters_for_source(arn)
        if not specs:
            print("error: no counter in the config matches "
                  f"--stream-arn {arn}", file=sys.stderr)
            return 2
    else:
        if args.target_column is None and args.target_expr is None:
            args.target_column = "*"
        specs = [CounterSpec(
            id=args.counter_id,
            counter_type=args.counter_type,
            target_column=args.target_column,
            target_expr=args.target_expr,
            jq_expr=args.jq_expr,
            window=parse_window(args.window),
            input_stream_arn=arn,
        ).validate()]
    if args.follow:
        # reference CLI validation, main.go:113-116, on every window the
        # stream runs: each routed counter's, or --window's
        try:
            minutes = max(window_minutes(spec.window) for spec in specs)
        except ValueError as e:
            print(f"error: {e}", file=sys.stderr)
            return 2
        if minutes >= 15:
            print("error: streaming window must be < 15 minutes", file=sys.stderr)
            return 2

    spark = get_spark(app_name="kdc-cli")
    spark.sparkContext.setLogLevel("ERROR")

    if args.follow:
        # streaming fan-out ≈ the reference's goroutine-per-counter
        # (counter.go:176-196): each routed counter drains the same bounded
        # stream through its own query; each counter's rows serialize to
        # their own JSON objects before the union, like resp.MergeInto
        # of per-counter outputs. One sorted partition: config order, then
        # line.
        from functools import reduce

        from pyspark.sql import DataFrame
        from pyspark.sql import functions as F

        from kinesis_data_counter_spark.streaming.runner import run_counter_stream_once
        from kinesis_data_counter_spark.streaming.sinks import serialized_lines

        lines = reduce(DataFrame.union, [
            serialized_lines(run_counter_stream_once(
                spark, args.path, spec, ts_col=args.ts_col, event_source_arn=arn,
            )).select(F.lit(k).alias("__k"), "line")
            for k, spec in enumerate(specs)
        ]).coalesce(1).sortWithinPartitions("__k", "line")
        rows = lines.collect()
    else:
        from kinesis_data_counter_spark.operators.counter import counter_lines
        from kinesis_data_counter_spark.sqltext import Statement

        with Statement(spark) as q:
            records = _load_input(q, args.path, args.ts_col)
            rows = counter_lines(q, records, specs, arn, ts_col=args.ts_col).collect()
    for row in rows:
        print(row.line, file=out)
    return 0


def _load_input(q, path: str, ts_col: str) -> str:
    """The input's records as a SQL query bound on ``q``, loaded through
    the same nanos-aware path as the fixtures.

    A directory of ``shard-*.jsonl`` files is read as a batch of parsed
    records (``shard_records_sql``: one JVM text scan and one JSON decode
    per record, body fields lifted to columns) — the CLI then points at a
    (simulated) stream exactly like the reference's ``-stream`` flag, not
    just at parquet.
    """
    import os

    from kinesis_data_counter_spark.session import load_tables
    from kinesis_data_counter_spark.sources.replay_source import (
        is_shard_dir,
        shard_records_sql,
    )

    if is_shard_dir(path):
        return shard_records_sql(q, path, ts_col=ts_col)
    d, base = os.path.dirname(path), os.path.basename(path)
    name = base.removesuffix(".parquet")
    tables = load_tables(q.spark, d, (name,))
    df = tables[name] if name in tables else q.spark.read.parquet(path)
    return f"SELECT * FROM {q.rel(df)}"


if __name__ == "__main__":  # pragma: no cover
    raise SystemExit(main())
