"""JSON record decoding with bad-record routing (SURVEY.md §2 S4).

The reference parses each Kinesis record's bytes as a JSON object and, on
failure, reports the record's sequence number as a batchItemFailure instead
of failing the job (counter.go:241-252). The Spark formulation:
``from_json`` in PERMISSIVE mode with a ``_corrupt_record`` column — parse
failures become a filterable side output, and the job never dies on bad
input (SURVEY.md §2.6.7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kinesis_data_counter_spark.session import fan_out

CORRUPT_COL = "_corrupt_record"


def parse_json_records(
    df: DataFrame,
    schema: T.StructType,
    value_col: str = "value",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Parse a string/binary JSON column into typed columns + corrupt side.

    Output: ``keep_cols`` + the schema's fields + ``_corrupt_record``
    (NULL for clean rows, the raw payload for unparseable ones).
    """
    if CORRUPT_COL not in [f.name for f in schema.fields]:
        schema = T.StructType(list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType())])
    # per-row JSON parse dominates a small exchange; hash the payload
    df = fan_out(df, F.xxhash64(F.col(value_col)))
    raw = F.col(value_col).cast("string")
    parsed = F.from_json(
        raw, schema, {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": CORRUPT_COL}
    )
    out = df.select(
        *[F.col(c) for c in keep_cols],
        parsed.alias("__rec"),
        raw.alias("__raw"),
    )
    cols = [F.col(c) for c in keep_cols]
    cols += [F.col(f"__rec.{f.name}") for f in schema.fields if f.name != CORRUPT_COL]
    # from_json yields a NULL struct (not a populated corrupt column) for
    # input that isn't a JSON object at all — fold both failure shapes into
    # one corrupt side channel carrying the raw payload
    corrupt = F.when(
        F.col("__rec").isNull() | F.col(f"__rec.{CORRUPT_COL}").isNotNull(),
        F.col("__raw"),
    )
    cols.append(corrupt.alias(CORRUPT_COL))
    return out.select(*cols)
