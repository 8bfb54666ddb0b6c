"""Counter configuration: the declarative layer of the engine.

Mirrors the reference's YAML config model (reference config.go:25-38) and its
``Restrict()`` validation rules (config.go:77-120):

- a counter needs exactly one of ``target_column`` / ``target_expr``
- ``counter_type`` ∈ {count, approx_count_distinct}
- ``approx_count_distinct`` over ``target_column="*"`` is rejected
  (config.go:106-108; SURVEY.md §2.6.5)
- ARNs are validated as kinesis/firehose stream ARNs (arn.go:30-42)
- expressions are compiled eagerly so syntax errors fail at load time
  (config.go:93-99, 112-118)

Env-var interpolation: the reference loads config through
``go-config-with-env``; we implement ``${VAR}`` / ``$VAR`` substitution with
``string.Template``-like semantics before YAML parsing.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field
from typing import Any

from kinesis_data_counter_spark.arn import Arn
from kinesis_data_counter_spark.expr import translate_target_expr
from kinesis_data_counter_spark.jq import parse_jq_program

COUNT = "count"
APPROX_COUNT_DISTINCT = "approx_count_distinct"
COUNTER_TYPES = (COUNT, APPROX_COUNT_DISTINCT)

_ENV_RX = re.compile(r"\$\{(?P<braced>[A-Za-z_][A-Za-z0-9_]*)\}|\$(?P<plain>[A-Za-z_][A-Za-z0-9_]*)")


class ConfigError(ValueError):
    """Invalid counter configuration."""


def interpolate_env(text: str, env: dict[str, str] | None = None) -> str:
    env = os.environ if env is None else env  # type: ignore[assignment]

    def sub(m: re.Match[str]) -> str:
        name = m.group("braced") or m.group("plain")
        return env.get(name, "")

    return _ENV_RX.sub(sub, text)


@dataclass
class CounterSpec:
    """One standing query ≈ reference CounterConfig (config.go:25-38).

    The reference's SipHash key has no counterpart: the HLL sketch hashes
    with Datasketches' own seed, and ``from_dict`` ignores the key.
    """

    id: str
    counter_type: str = COUNT
    input_stream_arn: str = "*"
    output_stream_arn: str | None = None
    aggregate_stream_arn: str | None = None
    target_column: str | None = None
    target_expr: str | None = None
    jq_expr: str | None = None
    # engine extension (the reference fixes it by CLI flag):
    window: str = "1 minute"  # tumbling window size (run.go:148-159)

    # populated by validate():
    _input_arn: Arn | None = field(default=None, repr=False, compare=False)

    def validate(self) -> "CounterSpec":
        if not self.id:
            raise ConfigError("counter id is required")
        if self.counter_type not in COUNTER_TYPES:
            raise ConfigError(
                f"counter {self.id}: counter_type must be one of {COUNTER_TYPES}, "
                f"got {self.counter_type!r}"
            )
        has_col = self.target_column is not None and self.target_column != ""
        has_expr = self.target_expr is not None and self.target_expr.strip() != ""
        if has_col and has_expr:
            raise ConfigError(
                f"counter {self.id}: target_column and target_expr are exclusive"
            )
        if not has_col and not has_expr:
            # reference defaults target_column to "*" (config.go:86-88)
            self.target_column = "*"
            has_col = True
        if (
            self.counter_type == APPROX_COUNT_DISTINCT
            and has_col
            and self.target_column == "*"
        ):
            # SURVEY.md §2.6.5 / config.go:106-108
            raise ConfigError(
                f"counter {self.id}: approx_count_distinct requires a target "
                "column or expression, not '*'"
            )
        if has_expr:
            # compile eagerly → load-time syntax errors (config.go:93-99)
            translate_target_expr(self.target_expr)  # raises on bad tokens
        if self.jq_expr:
            parse_jq_program(self.jq_expr)  # raises if outside subset
        self._input_arn = Arn.parse_strict(self.input_stream_arn)
        for a in (self.output_stream_arn, self.aggregate_stream_arn):
            if a:
                Arn.parse_strict(a)
        return self

    @property
    def input_arn(self) -> Arn:
        if self._input_arn is None:
            self._input_arn = Arn.parse_strict(self.input_stream_arn)
        return self._input_arn

    def matches_source(self, event_source_arn: str) -> bool:
        """ARN-glob routing (reference counter.go:174, 186; arn.go:61-86)."""
        return self.input_arn.match(event_source_arn)


def _parse_version(s: str) -> tuple[int, ...] | None:
    """Dotted numeric version; pre-release after '-' dropped (config.go:127)."""
    core = s.strip().lstrip("vV").split("-", 1)[0]
    if not core:
        return None
    parts = core.split(".")
    if not all(p.isdigit() for p in parts):
        return None
    return tuple(int(p) for p in parts)


_CONSTRAINT_RX = re.compile(r"^\s*(~>|>=|<=|!=|==|=|>|<)?\s*([vV]?[\w.\-]+)\s*$")


def parse_version_constraints(spec: str):
    """Compile a hashicorp-style constraint list (">= 0.2.0, < 1.0.0").

    Supported operators: ``>= <= > < = == != ~>`` (pessimistic: ``~> 1.2``
    allows 1.x, ``~> 1.2.3`` allows 1.2.x). Raises ``ConfigError`` on
    malformed constraints — the reference rejects these at config load
    (config.go:56-59).
    """
    checks = []
    for part in spec.split(","):
        m = _CONSTRAINT_RX.match(part)
        ver = _parse_version(m.group(2)) if m else None
        if m is None or ver is None:
            raise ConfigError(f"required_version has invalid format: {part.strip()!r}")
        op = m.group(1) or "="

        def mk(op: str, ver: tuple[int, ...]):
            def pad(v, n):
                return tuple(v) + (0,) * (n - len(v))

            def check(x: tuple[int, ...]) -> bool:
                n = max(len(x), len(ver))
                a, b = pad(x, n), pad(ver, n)
                if op in ("=", "=="):
                    return a == b
                if op == "!=":
                    return a != b
                if op == ">":
                    return a > b
                if op == ">=":
                    return a >= b
                if op == "<":
                    return a < b
                if op == "<=":
                    return a <= b
                # ~> : at least ver, below the next increment of its
                # second-to-last component
                upper = list(ver[:-1]) or [ver[0]]
                upper[-1] += 1
                return a >= pad(ver, n) and a < pad(tuple(upper), n)

            return check

        checks.append(mk(op, ver))
    return checks


@dataclass
class Config:
    counters: list[CounterSpec] = field(default_factory=list)
    required_version: str | None = None

    def validate_version(self, version: str) -> "Config":
        """≈ Config.ValidateVersion (config.go:122-138): no constraint or an
        unparseable running version (e.g. "current") skips the check; a
        parseable version failing the constraints is an error."""
        if not self.required_version:
            return self
        v = _parse_version(version)
        if v is None:  # "current", dev builds — always allowed
            return self
        if not all(c(v) for c in parse_version_constraints(self.required_version)):
            raise ConfigError(
                f"version {version} does not satisfy constraints "
                f"required_version: {self.required_version}"
            )
        return self

    @classmethod
    def load(cls, path: str, env: dict[str, str] | None = None) -> "Config":
        import yaml  # local import: optional dependency for file-based configs

        with open(path, encoding="utf-8") as f:
            raw = interpolate_env(f.read(), env)
        return cls.from_dict(yaml.safe_load(raw))

    @classmethod
    def from_dict(cls, data: dict[str, Any]) -> "Config":
        counters = [
            CounterSpec(
                id=c.get("id", ""),
                counter_type=c.get("counter_type", COUNT),
                input_stream_arn=c.get("input_stream_arn", "*"),
                output_stream_arn=c.get("output_stream_arn"),
                aggregate_stream_arn=c.get("aggregate_stream_arn"),
                target_column=c.get("target_column"),
                target_expr=(c.get("target_expr") or None),
                jq_expr=(c.get("jq_expr") or None),
                window=c.get("window", "1 minute"),
            )
            for c in data.get("counters", [])
        ]
        cfg = cls(counters=counters, required_version=data.get("required_version"))
        if cfg.required_version:
            parse_version_constraints(cfg.required_version)  # reject bad syntax at load
        return cfg.validate()

    def validate(self) -> "Config":
        if not self.counters:
            raise ConfigError("config has no counters")
        seen: set[str] = set()
        for c in self.counters:
            c.validate()
            if c.id in seen:
                raise ConfigError(f"duplicate counter id {c.id!r}")
            seen.add(c.id)
        return self

    def counters_for_source(self, event_source_arn: str) -> list[CounterSpec]:
        """Multi-counter fan-out routing (reference counter.go:170-204)."""
        return [c for c in self.counters if c.matches_source(event_source_arn)]
