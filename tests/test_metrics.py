"""Single-pass data-quality metrics."""

from __future__ import annotations

from pyspark.sql import functions as F



def test_profile_columns_one_pass(spark):
    from kinesis_data_counter_spark.metrics import profile_columns

    df = spark.createDataFrame(
        [(1, None, "a"), (2, 5.0, "b"), (3, 7.5, None), (3, 7.5, "b")],
        "k long, v double, s string",
    )
    prof = {r.col_name: r for r in profile_columns(df).collect()}
    assert prof["k"].n_nulls == 0 and prof["k"].n_distinct == 3
    assert prof["k"].min_num == 1.0 and prof["k"].max_num == 3.0
    assert prof["v"].n_nulls == 1 and prof["v"].n_distinct == 2
    assert prof["v"].max_num == 7.5
    assert prof["s"].n_nulls == 1 and prof["s"].n_distinct == 2
    assert prof["s"].min_num is None  # non-numeric: no collation-dependent range


def test_profile_key_skew_counts_and_salt(spark):
    from kinesis_data_counter_spark.metrics import profile_key_skew

    # one key holds 64/100 rows: share .64, salt = ceil(.64*32) = 21
    rows = [("hot",)] * 64 + [(f"k{i}",) for i in range(36)]
    df = spark.createDataFrame(rows, "k string")
    got = profile_key_skew(df, "k", top=3).collect()
    assert [(r["rank"], r["key"], r["n"]) for r in got] == [
        (1, "hot", 64), (2, "k0", 1), (3, "k1", 1)]
    assert got[0]["share"] == 0.64 and got[0]["salt_factor"] == 21
    assert got[1]["salt_factor"] == 1


def test_profile_key_skew_plan_has_no_global_sort(spark):
    from pyspark.sql import functions as F

    from kinesis_data_counter_spark.metrics import profile_key_skew

    df = spark.range(1000).select((F.col("id") % 7).alias("k"))
    plan = profile_key_skew(df, "k")._jdf.queryExecution().executedPlan().toString()
    # the top-N must be a per-partition heap, never a full key-domain sort
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


# ---------------------------------------------------------------------------
# round-4: validate_expectations
# ---------------------------------------------------------------------------

def test_validate_expectations_counts_each_rule(spark):
    from kinesis_data_counter_spark.metrics import validate_expectations

    df = spark.createDataFrame(
        [
            (1, 10, "O", "1-URGENT", 100),
            (2, None, "F", "5-LOW", 200),
            (3, 999, "X", "bad", -5),
            (3, 10, "O", "2-HIGH", 50),   # duplicate id 3
        ],
        "id long, custkey long, status string, prio string, amount long",
    )
    dim = spark.createDataFrame([(10,), (20,)], "ck long")
    rep = {
        (r["rule"], r["target"]): (r["n_checked"], r["n_violations"], r["ok"])
        for r in validate_expectations(
            df,
            [
                {"rule": "not_null", "column": "custkey"},
                {"rule": "in_range", "column": "amount", "min": 0, "max": 150},
                {"rule": "in_set", "column": "status", "values": ["O", "F"]},
                {"rule": "matches", "column": "prio", "pattern": "^[1-5]-"},
                {"rule": "unique", "columns": ["id"]},
                {"rule": "foreign_key", "column": "custkey", "ref": "dim",
                 "ref_column": "ck"},
            ],
            refs={"dim": dim},
        ).collect()
    }
    assert rep[("not_null", "custkey")] == (4, 1, False)
    # range/set/pattern skip NULLs: 4 non-null amounts, 200 and -5 violate
    assert rep[("in_range", "amount")] == (4, 2, False)
    assert rep[("in_set", "status")] == (4, 1, False)
    assert rep[("matches", "prio")] == (4, 1, False)
    assert rep[("unique", "id")] == (4, 1, False)
    # fk: NULL never violates; 999 is the only orphan among 3 non-nulls
    assert rep[("foreign_key", "custkey")] == (3, 1, False)


def test_validate_expectations_all_green_and_errors(spark):
    import pytest

    from kinesis_data_counter_spark.metrics import validate_expectations

    df = spark.createDataFrame([(1, 5)], "id long, v long")
    rep = validate_expectations(
        df,
        [{"rule": "not_null", "column": "v"},
         {"rule": "unique", "columns": ["id"]}],
    ).collect()
    assert all(r["ok"] for r in rep) and len(rep) == 2
    with pytest.raises(ValueError, match="unknown expectation"):
        validate_expectations(df, [{"rule": "nope", "column": "v"}])
    with pytest.raises(ValueError, match="refs"):
        validate_expectations(
            df, [{"rule": "foreign_key", "column": "v", "ref": "x",
                  "ref_column": "y"}]
        )
    # ADVICE r4: an empty expectations list raised an opaque IndexError
    with pytest.raises(ValueError, match="non-empty"):
        validate_expectations(df, [])


def test_drift_report_flags_shifted_numeric_column(spark):
    from kinesis_data_counter_spark.metrics import drift_report

    # ref uniform over [0,100); cur concentrated in [0,10) → massive PSI
    ref = spark.createDataFrame([(float(i % 100),) for i in range(200)], "v double")
    cur = spark.createDataFrame([(float(i % 10),) for i in range(200)], "v double")
    row = drift_report(ref, cur, numeric_cols=("v",)).collect()[0]
    assert row["kind"] == "numeric"
    assert row["drifted"] is True and row["psi"] > 1.0


def test_drift_report_identical_slices_have_zero_psi(spark):
    from kinesis_data_counter_spark.metrics import drift_report

    d = spark.createDataFrame(
        [(float(i % 50), str(i % 3)) for i in range(300)], "v double, c string"
    )
    rows = drift_report(d, d, numeric_cols=("v",), categorical_cols=("c",)).collect()
    assert {r["col_name"]: (r["psi"], r["drifted"]) for r in rows} == {
        "v": (0.0, False),
        "c": (0.0, False),
    }


def test_drift_report_null_delta_and_categorical_null_bucket(spark):
    from kinesis_data_counter_spark.metrics import drift_report

    # numeric: cur introduces 50% NULLs → null_delta 0.5, NULLs excluded
    # from binning; categorical: NULL becomes its own sentinel bucket
    # (PSI drift) AND its count feeds null_delta, so a categorical
    # null-rate shift reports on both channels
    ref = spark.createDataFrame(
        [(float(i % 10), "a") for i in range(100)], "v double, c string"
    )
    # NULL the second half (not every other row — that would keep only
    # even residues and genuinely drift the surviving shape)
    cur = spark.createDataFrame(
        [(float(i % 10) if i < 50 else None, "a" if i < 50 else None)
         for i in range(100)],
        "v double, c string",
    )
    rows = {r["col_name"]: r for r in drift_report(
        ref, cur, numeric_cols=("v",), categorical_cols=("c",)
    ).collect()}
    assert rows["v"]["null_delta"] == 0.5
    assert rows["v"]["psi"] == 0.0  # surviving values keep the ref shape
    assert rows["c"]["null_delta"] == 0.5
    assert rows["c"]["drifted"] is True  # the new NULL bucket is drift


def test_drift_report_out_of_range_values_clamp_to_edge_bins(spark):
    from kinesis_data_counter_spark.metrics import drift_report

    ref = spark.createDataFrame([(float(i),) for i in range(10)], "v double")
    cur = spark.createDataFrame([(1000.0,)] * 10, "v double")
    row = drift_report(ref, cur, numeric_cols=("v",)).collect()[0]
    assert row["drifted"] is True  # new mass lands visibly in the top bin


def test_drift_report_rejects_empty_column_lists(spark):
    import pytest

    from kinesis_data_counter_spark.metrics import drift_report

    d = spark.createDataFrame([(1.0,)], "v double")
    with pytest.raises(ValueError):
        drift_report(d, d)
