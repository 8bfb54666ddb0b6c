"""ARN matcher unit tests — ports the reference's table tests
(arn_test.go:11-92) plus validation cases (arn.go:30-42)."""

import pytest

from kinesis_data_counter_spark.arn import Arn, ARNError

MATCH_CASES = [
    ("arn:aws:kinesis:ap-northeast-1:111122223333:stream/input-stream",
     "arn:aws:kinesis:ap-northeast-1:111122223333:stream/input-stream", True),
    ("arn:aws:kinesis:ap-northeast-1:111122223333:stream/input-stream",
     "arn:aws:kinesis:ap-northeast-1:111122223333:stream/output-stream", False),
    ("arn:aws:kinesis:*:*:stream/input-stream",
     "arn:aws:kinesis:ap-northeast-1:111122223333:stream/input-stream", True),
    ("arn:aws:kinesis:*:*:stream/input-stream",
     "arn:aws:kinesis:ap-northeast-1:111122223333:stream/output-stream", False),
    ("arn:aws:kinesis:*:*:stream/*",
     "arn:aws:kinesis:ap-northeast-1:111122223333:stream/input-stream", True),
    ("arn:aws:*:ap-northeast-1:111122223333:*/hoge",
     "arn:aws:firehose:ap-northeast-1:111122223333:deliverystream/hoge", True),
    ("arn:aws:*:*:*:*/*",
     "arn:aws:firehose:ap-northeast-1:111122223333:deliverystream/hoge", True),
    ("*", "arn:aws:firehose:ap-northeast-1:111122223333:deliverystream/hoge", True),
]


@pytest.mark.parametrize("base,other,expected", MATCH_CASES)
def test_match(base, other, expected):
    assert Arn.parse_strict(base).match(other) is expected


@pytest.mark.parametrize(
    "arn,name",
    [
        ("arn:aws:firehose:ap-northeast-1:111122223333:deliverystream/output-stream-system",
         "output-stream-system"),
        ("arn:aws:kinesis:ap-northeast-1:111122223333:stream/output-stream",
         "output-stream"),
    ],
)
def test_stream_name(arn, name):
    assert Arn.parse_strict(arn).stream_name == name


@pytest.mark.parametrize(
    "bad",
    [
        "arn:aws:s3:::bucket/key",               # not a stream service
        "arn:gov:kinesis:r:a:stream/x",          # partition not aws
        "arn:aws:kinesis:r:a:table/x",           # wrong resource prefix
        "not-an-arn",
    ],
)
def test_parse_strict_rejects(bad):
    with pytest.raises(ARNError):
        Arn.parse_strict(bad)


def test_bare_star_properties():
    a = Arn.parse_strict("*")
    assert a.is_ambiguous
    assert a.match("arn:aws:kinesis:r:acct:stream/any")
