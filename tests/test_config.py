"""Config validation tests mirroring Restrict() rules (config.go:77-120)."""

import pytest

from kinesis_data_counter_spark.config import Config, ConfigError, CounterSpec, interpolate_env


def test_defaults_count_all():
    spec = CounterSpec(id="c").validate()
    assert spec.target_column == "*"
    assert spec.counter_type == "count"


def test_window_go_durations_normalized():
    assert CounterSpec(id="c", window="30s").validate().window == "30 seconds"
    assert CounterSpec(id="c", window="1 minute").validate().window == "1 minute"


def test_distinct_star_rejected():
    with pytest.raises(ConfigError):
        CounterSpec(id="c", counter_type="approx_count_distinct").validate()


def test_exclusive_column_expr():
    with pytest.raises(ConfigError):
        CounterSpec(id="c", target_column="x", target_expr="1").validate()


def test_bad_type():
    with pytest.raises(ConfigError):
        CounterSpec(id="c", counter_type="sum").validate()


def test_duplicate_ids():
    with pytest.raises(ConfigError):
        Config(counters=[CounterSpec(id="a"), CounterSpec(id="a")]).validate()


def test_env_interpolation():
    assert interpolate_env("${FOO}-$BAR-$MISSING", {"FOO": "x", "BAR": "y"}) == "x-y-"


def test_from_dict_matches_reference_fixture_shape():
    # shape of /root/reference/testdata/target_expr.yaml
    cfg = Config.from_dict(
        {
            "counters": [
                {
                    "id": "unique_user_count",
                    "input_stream_arn": "arn:aws:kinesis:*:*:stream/input-stream",
                    "output_stream_arn": "arn:aws:kinesis:ap-northeast-1:111122223333:stream/output-stream",
                    "target_expr": 'if(string_contains(path,"my_page"), user_id, nil)',
                    "counter_type": "approx_count_distinct",
                    "jq_expr": '{"time":.window_start, "name": "x", "value": .value}',
                }
            ]
        }
    )
    c = cfg.counters[0]
    assert c.matches_source("arn:aws:kinesis:us-east-1:999:stream/input-stream")
    assert not c.matches_source("arn:aws:kinesis:us-east-1:999:stream/other")


def test_routing_fan_out():
    cfg = Config(
        counters=[
            CounterSpec(id="a", input_stream_arn="arn:aws:kinesis:*:*:stream/s1").validate(),
            CounterSpec(id="b", input_stream_arn="arn:aws:kinesis:*:*:stream/*").validate(),
        ]
    )
    hits = cfg.counters_for_source("arn:aws:kinesis:r:1:stream/s1")
    assert [c.id for c in hits] == ["a", "b"]


def test_version_constraints_semantics():
    import pytest

    from kinesis_data_counter_spark.config import (
        Config,
        ConfigError,
        parse_version_constraints,
    )

    cfg = Config.from_dict(
        {"required_version": ">=0.1.0, <1.0.0",
         "counters": [{"id": "a", "counter_type": "count", "target_column": "*"}]}
    )
    cfg.validate_version("0.1.0")          # satisfied
    cfg.validate_version("v0.2.5-rc1")     # pre-release part dropped
    cfg.validate_version("current")        # unparseable running version: skip
    with pytest.raises(ConfigError):
        cfg.validate_version("1.0.0")
    # no constraint → always fine
    Config.from_dict({"counters": [{"id": "a", "counter_type": "count",
                                    "target_column": "*"}]}).validate_version("9.9")
    # malformed constraints rejected at load (config.go:56-59)
    with pytest.raises(ConfigError):
        Config.from_dict({"required_version": ">= not.a.version",
                          "counters": [{"id": "a", "counter_type": "count",
                                        "target_column": "*"}]})
    # pessimistic operator
    ck = parse_version_constraints("~> 1.2.3")
    assert all(c((1, 2, 9)) for c in ck)
    assert not all(c((1, 3, 0)) for c in ck)
