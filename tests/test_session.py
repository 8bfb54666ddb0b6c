"""The session helpers every concurrency and driver-collect site shares:
``run_concurrently`` and ``bounded_collect``."""

from __future__ import annotations

import inspect
import threading
import time
from pathlib import Path

import pytest

from kinesis_data_counter_spark import session
from kinesis_data_counter_spark.session import bounded_collect, run_concurrently


def test_thread_pool_lives_only_in_run_concurrently():
    # one concurrency idiom: a hand-written pool elsewhere would bring back
    # per-site bounds and error handling (and the module-global pool that
    # queued a third recall check behind two others)
    lines, start = inspect.getsourcelines(run_concurrently)
    allowed = range(start, start + len(lines))
    pkg = Path(session.__file__).resolve().parent
    stray = [
        f"{path.relative_to(pkg)}:{no}"
        for path in sorted(pkg.rglob("*.py"))
        for no, line in enumerate(path.read_text().splitlines(), 1)
        if "ThreadPoolExecutor" in line
        and not (path == Path(session.__file__).resolve() and no in allowed)
    ]
    assert "ThreadPoolExecutor" in inspect.getsource(run_concurrently)
    assert not stray, stray


def test_run_concurrently_returns_results_in_order():
    def slow(v, s):
        time.sleep(s)
        return v

    assert run_concurrently(
        [lambda: slow("a", 0.2), lambda: slow("b", 0.0), lambda: slow("c", 0.1)]
    ) == ["a", "b", "c"]
    assert run_concurrently([]) == []


def test_run_concurrently_raises_only_after_siblings_finish():
    sibling_done = threading.Event()

    def fails():
        raise ValueError("boom")

    def sibling():
        time.sleep(0.3)
        sibling_done.set()
        return 1

    with pytest.raises(ValueError, match="boom"):
        run_concurrently([fails, sibling])
    assert sibling_done.is_set()


def test_run_concurrently_raises_first_failure_in_thunk_order():
    def fails(msg, delay):
        time.sleep(delay)
        raise ValueError(msg)

    with pytest.raises(ValueError, match="first"):
        run_concurrently([lambda: fails("first", 0.2), lambda: fails("second", 0.0)])


def test_run_concurrently_single_thunk_runs_inline():
    caller = threading.get_ident()
    assert run_concurrently([threading.get_ident]) == [caller]
    # two thunks get their own threads
    assert caller not in run_concurrently([threading.get_ident] * 2)


def _one_partition(spark, rows, schema):
    # one input partition: the gate aggregate needs no exchange, so it is
    # exactly one job (a multi-partition input adds AQE's map-stage job,
    # the same as a plain count)
    return spark.createDataFrame(rows, schema).coalesce(1)


def test_bounded_collect_returns_rows_under_both_bounds(spark, spark_jobs):
    df = _one_partition(spark, [(i, f"v{i}") for i in range(20)], "k long, v string")
    gate, _ = spark_jobs(lambda: df.agg({"k": "count"}).collect())
    jobs, rows = spark_jobs(lambda: bounded_collect(df))
    assert sorted(map(tuple, rows)) == [(i, f"v{i}") for i in range(20)]
    assert len(gate) == 1
    # the gate, then the collect
    assert len(jobs) == 2


def test_bounded_collect_over_row_bound_is_none(spark, spark_jobs, monkeypatch):
    monkeypatch.setattr(session, "DRIVER_COLLECT_MAX_ROWS", 5)
    df = _one_partition(spark, [(i,) for i in range(6)], "k long")
    jobs, rows = spark_jobs(lambda: bounded_collect(df))
    assert rows is None
    assert len(jobs) == 1
    # a multi-partition input's gate costs what one global count costs
    wide = spark.range(0, 100, 1, 4)
    count_jobs, _ = spark_jobs(wide.count)
    gate_jobs, rows = spark_jobs(lambda: bounded_collect(wide))
    assert rows is None
    assert len(gate_jobs) == len(count_jobs)


def test_bounded_collect_over_byte_bound_is_none(spark, spark_jobs):
    # a few rows far under the row bound, but each string is 6 MiB: three
    # of them (18 MiB) exceed the 16 MiB byte bound
    assert session.DRIVER_COLLECT_MAX_ROWS >= 3
    df = _one_partition(spark, [(i,) for i in range(3)], "k long").selectExpr(
        "k", "repeat('x', 6 * 1024 * 1024) AS blob"
    )
    jobs, rows = spark_jobs(lambda: bounded_collect(df))
    assert rows is None
    assert len(jobs) == 1
    # two of them (12 MiB) fit
    assert len(bounded_collect(df.limit(2))) == 2


def test_bounded_collect_counts_every_column_and_nulls(spark, monkeypatch):
    # bytes are the text form of every column; NULL adds nothing
    df = spark.createDataFrame(
        [(12345, "ab", None), (None, None, [1, 2])], "a long, b string, c array<int>"
    )
    # "12345" + "ab" + "[1, 2]" = 5 + 2 + 6 = 13 bytes
    monkeypatch.setattr(session, "DRIVER_COLLECT_MAX_BYTES", 13)
    assert len(bounded_collect(df)) == 2
    monkeypatch.setattr(session, "DRIVER_COLLECT_MAX_BYTES", 12)
    assert bounded_collect(df) is None


def test_get_spark_returns_the_live_session_without_py4j_calls(spark):
    # a second get_spark() hands back the live session as is: no builder
    # conf crosses py4j again, and the conf the tests rely on still holds
    from py4j.clientserver import ClientServerConnection

    calls = []
    send = ClientServerConnection.send_command

    def counted(self, command, *a, **k):
        calls.append(command)
        return send(self, command, *a, **k)

    ClientServerConnection.send_command = counted
    try:
        again = session.get_spark()
    finally:
        ClientServerConnection.send_command = send
    assert again is spark
    assert calls == []
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
