"""Spark SQL statements with bound literals.

The counter core hands Catalyst whole queries as SQL text (one declarative
statement is planned once, where a chain of DataFrame calls is one py4j
round-trip and one eager analysis per step). ``Statement`` keeps values out
of that text: a literal — an ARN, a counter id, a window, a schema sample,
a jq string — is bound as a named parameter (``spark.sql(text, args)``),
and a DataFrame enters as a temporary view that lives until the statement
closes (a cached DataFrame stays cached); the DataFrames the statement
returned keep their analysed plans after that. Identifiers are
backtick-quoted by ``ident`` / ``column_ref``.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession


def ident(name: str) -> str:
    """``name`` as one quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def column_ref(name: str) -> str:
    """SQL text of ``F.col(name)``: a dotted name is a nested field path,
    and a name the caller already backtick-quoted passes through."""
    if "`" in name:
        return name
    return ".".join(ident(p) for p in name.split("."))


class Statement:
    """Bindings of the SQL statements run over one set of inputs.

    ``with Statement(spark) as q:`` — ``q.lit(v)`` returns the marker of a
    parameter bound to ``v``, ``q.rel(df)`` the name of a temporary view of
    ``df``, and ``q.sql(text)`` analyses ``text`` with every bound
    parameter. The views are dropped on exit.
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.args: dict[str, object] = {}
        self._markers: dict[tuple[type, object], str] = {}
        self._views: list[str] = []

    def lit(self, value: object) -> str:
        key = (type(value), value)
        if key not in self._markers:  # an equal value binds once
            name = f"p{len(self.args)}"
            self.args[name] = value
            self._markers[key] = f":{name}"
        return self._markers[key]

    def rel(self, df: DataFrame) -> str:
        name = f"kdc_{uuid.uuid4().hex}"
        df.createOrReplaceTempView(name)
        self._views.append(name)
        return name

    def sql(self, text: str) -> DataFrame:
        return self.spark.sql(text, self.args or None)

    def __enter__(self) -> "Statement":
        return self

    def __exit__(self, *exc) -> None:
        # the session catalog's drop: ``spark.catalog.dropTempView`` also
        # uncaches every cached plan equal to the view's, which would
        # unpersist the caller's DataFrame
        catalog = self.spark._jsparkSession.sessionState().catalog()
        for name in self._views:
            catalog.dropTempView(name)
