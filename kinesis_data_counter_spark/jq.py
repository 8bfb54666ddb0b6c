"""jq-subset output transform → DataFrame projection.

The reference pipes every output object through an optional jq program
(reference config.go:112-118 compile; counter.go:439-466 run). The shapes its
fixtures and README actually use (testdata/jq_expr.yaml:9, README.md:98-99)
are object construction with literal keys and ``.field`` / literal values:

    {"time": .window_start, "name": "access_log.user_count", "value": .value}

Round 3 widens the compiled subset to the common gojq surface beyond that:
**pipelines** (``stage | stage``), **select(...)** filters with
comparisons / ``and`` / ``or``, **arithmetic** (``+ - * / %`` with unary
minus and parentheses), and **string interpolation** (``"\\(.a)-\\(.b)"``) —
all compiled to Spark SQL text (``jq_sql``: one expression per program,
its literals bound as parameters), so the transform stays JVM-side and
codegen-eligible instead of a per-row Python jq interpreter. The CLI's
statement and ``apply_jq`` use the same text. Semantics are pinned by
differential tests against the real jq binary
(tests/test_jq_differential.py).

Multi-output iteration ``.path[]`` over an array-of-objects field is also
compiled — to ``flatten``, the array shape of gojq's 0..n-outputs
iterator loop (counter.go:439-466). NULL arrays iterate to nothing, i.e.
the error-suppressing ``.path[]?`` form of jq (a per-row runtime error has
no sane distributed equivalent).

Still outside the subset (raise :class:`JqUnsupported`): bare ``.[]``
(rows are objects, not arrays), array indexing (``.a[0]``), functions
other than ``select``, string concatenation with ``+`` (use
interpolation), nested object values, and scalar pipelines (a program
must end record-shaped — the reference emits records, not bare values).
Callers fall back to ``apply_jq_generic`` for programs beyond the
subset: it runs the dependency-free pure-Python mini-jq interpreter
(:mod:`kinesis_data_counter_spark.jq_eval` — paths, streams, reduce,
try/catch, ~45 builtins, differential-pinned against the real jq binary)
via ``mapInPandas``, preferring the optional ``jq`` Python binding when
installed. The compiled subset stays the hot path: it is JVM-side
SQL, the interpreter is per-row Python for output shaping.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from kinesis_data_counter_spark.sqltext import Statement, ident


class JqUnsupported(ValueError):
    """jq program outside the supported compiled subset."""


_IDENT = r"[A-Za-z_][A-Za-z0-9_]*"


# ---------------------------------------------------------------------------
# Widened subset: pipelines, select, arithmetic, string interpolation
# (tokenizer → recursive-descent parser → AST → SQL compiler + a pure-dict
# evaluator so the Lambda-handler per-record path stays in lockstep)
# ---------------------------------------------------------------------------

# AST nodes are plain tuples:
#   ("lit", value)              JSON literal
#   ("path", (p1, p2, ...))     .a.b.c   (() = identity ".")
#   ("bin", op, left, right)    op ∈ == != < <= > >= + - * / % and or
#   ("neg", expr)               unary minus
#   ("interp", [str|ast, ...])  "x\(expr)y"
#   ("obj", [(key, expr), ...]) object construction
#   ("select", expr)            select(...) stage
#   ("identity",)               "." stage

_NUM_RX = re.compile(r"\d+(?:\.\d+)?(?:[eE][+-]?\d+)?")
_PATH_TOKEN_RX = re.compile(rf"\.{_IDENT}(?:\.{_IDENT})*")
_IDENT_RX = re.compile(_IDENT)
_OPS = ("==", "!=", "<=", ">=", "|", "{", "}", "(", ")", ",", ":",
        "<", ">", "+", "-", "*", "/", "%")


def _tokenize(src: str) -> list[tuple[str, object]]:
    toks: list[tuple[str, object]] = []
    i, n = 0, len(src)
    while i < n:
        ch = src[i]
        if ch.isspace():
            i += 1
            continue
        if ch == '"':
            parts, i = _scan_string(src, i)
            toks.append(("str", parts))
            continue
        m = _PATH_TOKEN_RX.match(src, i)
        if m:
            toks.append(("path", tuple(p for p in m.group(0).split(".") if p)))
            i = m.end()
            continue
        if ch == ".":
            if i + 1 < n and src[i + 1] == "[":
                raise JqUnsupported(
                    f"bare '.[]' is not supported (rows are objects, not "
                    f"arrays — iterate a field with '.path[]'): {src[i:]!r}"
                )
            toks.append(("dot", "."))
            i += 1
            continue
        if src.startswith("[]", i):
            # '[]' and '[]?' compile identically: the distributed form has
            # no per-row error channel, so iteration is always the
            # error-suppressing '?' variant (module docstring)
            toks.append(("op", "[]"))
            i += 3 if src.startswith("[]?", i) else 2
            continue
        m = _NUM_RX.match(src, i)
        if m:
            toks.append(("num", json.loads(m.group(0))))
            i = m.end()
            continue
        m = _IDENT_RX.match(src, i)
        if m:
            toks.append(("ident", m.group(0)))
            i = m.end()
            continue
        for op in _OPS:  # longest-match first (list is ordered)
            if src.startswith(op, i):
                toks.append(("op", op))
                i += len(op)
                break
        else:
            raise JqUnsupported(f"cannot tokenize at: {src[i:]!r}")
    return toks


def _scan_string(src: str, i: int) -> tuple[list, int]:
    """Scan a double-quoted jq string starting at ``src[i]``; returns
    (parts, next_index) where parts mix literal strs and embedded ASTs."""
    assert src[i] == '"'
    parts: list = []
    buf: list[str] = []
    i += 1
    n = len(src)
    while i < n:
        ch = src[i]
        if ch == '"':
            if buf:
                parts.append("".join(buf))
            return parts, i + 1
        if ch == "\\":
            if i + 1 >= n:
                break
            nxt = src[i + 1]
            if nxt == "(":  # interpolation: find the matching close paren
                j, depth, in_str = i + 2, 1, False
                while j < n and depth:
                    c = src[j]
                    if in_str:
                        if c == "\\":
                            j += 1
                        elif c == '"':
                            in_str = False
                    elif c == '"':
                        in_str = True
                    elif c == "(":
                        depth += 1
                    elif c == ")":
                        depth -= 1
                    j += 1
                if depth:
                    raise JqUnsupported(f"unterminated interpolation: {src[i:]!r}")
                if buf:
                    parts.append("".join(buf))
                    buf = []
                parts.append(_parse_expr_src(src[i + 2 : j - 1]))
                i = j
                continue
            if nxt in '"\\/':
                buf.append(nxt)
            elif nxt in "bfnrt":
                buf.append(json.loads(f'"\\{nxt}"'))
            elif nxt == "u":
                buf.append(json.loads(f'"{src[i:i+6]}"'))
                i += 6
                continue
            else:
                raise JqUnsupported(f"unsupported escape: \\{nxt}")
            i += 2
            continue
        buf.append(ch)
        i += 1
    raise JqUnsupported("unterminated string literal")


def _parse_expr_src(src: str):
    p = _Parser(_tokenize(src))
    ast = p.parse_expr()
    p.expect_end()
    return ast


class _Parser:
    def __init__(self, toks: list[tuple[str, object]]):
        self.toks = toks
        self.pos = 0

    def peek(self):
        return self.toks[self.pos] if self.pos < len(self.toks) else (None, None)

    def next(self):
        t = self.peek()
        self.pos += 1
        return t

    def accept(self, kind: str, val: object = None) -> bool:
        k, v = self.peek()
        if k == kind and (val is None or v == val):
            self.pos += 1
            return True
        return False

    def expect(self, kind: str, val: object = None):
        k, v = self.next()
        if k != kind or (val is not None and v != val):
            raise JqUnsupported(f"expected {val or kind}, got {v!r}")
        return v

    def expect_end(self) -> None:
        if self.pos != len(self.toks):
            raise JqUnsupported(f"trailing tokens: {self.toks[self.pos:]!r}")

    # program := stage ('|' stage)*
    def parse_program(self) -> list:
        stages = [self.parse_stage()]
        while self.accept("op", "|"):
            stages.append(self.parse_stage())
        self.expect_end()
        return stages

    def parse_stage(self):
        k, v = self.peek()
        if k == "ident" and v == "select":
            self.next()
            self.expect("op", "(")
            cond = self.parse_expr()
            self.expect("op", ")")
            return ("select", cond)
        if k == "op" and v == "{":
            return self.parse_object()
        if k == "dot":
            self.next()
            return ("identity",)
        if k == "path":
            self.next()
            if self.accept("op", "[]"):
                return ("iterate", v)
            return ("path", v)
        raise JqUnsupported(
            f"unsupported stage (only select/object/path/'.path[]'/'.'): {v!r}"
        )

    def parse_object(self):
        self.expect("op", "{")
        pairs: list[tuple[str, object]] = []
        if not self.accept("op", "}"):
            while True:
                pairs.append(self.parse_pair())
                if self.accept("op", "}"):
                    break
                self.expect("op", ",")
        return ("obj", pairs)

    def parse_pair(self):
        k, v = self.next()
        if k == "ident":
            key = v
        elif k == "str":
            if any(not isinstance(p, str) for p in v):
                raise JqUnsupported("interpolated object keys are not supported")
            key = "".join(v) if v else ""
        else:
            raise JqUnsupported(f"bad object key: {v!r}")
        self.expect("op", ":")
        return (key, self.parse_obj_value())

    def parse_obj_value(self):
        # jq's object-value grammar is NOT a full expression: arithmetic
        # must be parenthesized ({v: (.a * 2)} parses, {v: .a * 2} is a jq
        # syntax error) — pinned by the differential tests
        if self.accept("op", "-"):
            return ("neg", self.parse_obj_value())
        k, v = self.peek()
        if k == "op" and v == "(":
            self.next()
            node = self.parse_expr()
            self.expect("op", ")")
            return node
        if k in ("num", "str", "path") or (
            k == "ident" and v in ("true", "false", "null")
        ):
            return self.parse_primary()
        raise JqUnsupported(f"object value must be path/literal/(expr): {v!r}")

    # precedence: or < and < comparison < +- < */% < unary- < primary
    def parse_expr(self):
        node = self.parse_and()
        while self.accept("ident", "or"):
            node = ("bin", "or", node, self.parse_and())
        return node

    def parse_and(self):
        node = self.parse_cmp()
        while self.accept("ident", "and"):
            node = ("bin", "and", node, self.parse_cmp())
        return node

    def parse_cmp(self):
        node = self.parse_add()
        k, v = self.peek()
        if k == "op" and v in ("==", "!=", "<", "<=", ">", ">="):
            self.next()
            node = ("bin", v, node, self.parse_add())
        return node

    def parse_add(self):
        node = self.parse_mul()
        while True:
            k, v = self.peek()
            if k == "op" and v in ("+", "-"):
                self.next()
                node = ("bin", v, node, self.parse_mul())
            else:
                return node

    def parse_mul(self):
        node = self.parse_unary()
        while True:
            k, v = self.peek()
            if k == "op" and v in ("*", "/", "%"):
                self.next()
                node = ("bin", v, node, self.parse_unary())
            else:
                return node

    def parse_unary(self):
        if self.accept("op", "-"):
            return ("neg", self.parse_unary())
        return self.parse_primary()

    def parse_primary(self):
        k, v = self.next()
        if k == "num":
            return ("lit", v)
        if k == "str":
            if all(isinstance(p, str) for p in v):
                return ("lit", "".join(v))
            return ("interp", v)
        if k == "ident":
            if v in ("true", "false"):
                return ("lit", v == "true")
            if v == "null":
                return ("lit", None)
            raise JqUnsupported(f"unsupported function/identifier: {v!r}")
        if k == "path":
            return ("path", v)
        if k == "dot":
            raise JqUnsupported("bare '.' inside an expression is not supported")
        if k == "op" and v == "(":
            node = self.parse_expr()
            self.expect("op", ")")
            return node
        raise JqUnsupported(f"unexpected token: {v!r}")


def parse_jq_program(program: str) -> list:
    """Parse the widened subset into a stage list; raise JqUnsupported
    otherwise. Stages are select / object construction / struct-typed
    path re-roots / '.' — the transform always produces records, like the
    reference's output path (a scalar-valued path stage fails at compile
    time with a struct-type check)."""
    src = program.strip()
    return _Parser(_tokenize(src)).parse_program()


# --- SQL compiler ----------------------------------------------------------

# The lambda variable bound to the current object in each stage's
# higher-order function. Stage bodies reference only it and bound
# parameters, never a column, so it shadows nothing.
_OBJ = "o"


def _schema_subtype(schema, parts: tuple[str, ...]):
    """The StructField dataType at ``parts``, or None when absent."""
    cur = schema
    for p in parts:
        if not isinstance(cur, T.StructType):
            return None
        match = next((f for f in cur.fields if f.name == p), None)
        if match is None:
            return None
        cur = match.dataType
    return cur


def _resolve_path(parts: tuple[str, ...], schema) -> str:
    """``.a.b.c`` → a field path of the current object; a missing field
    compiles to NULL (jq semantics for absent object keys)."""
    if _schema_subtype(schema, parts) is None:
        return "NULL"
    return _OBJ + "".join("." + ident(p) for p in parts)


def _truthy(sql: str) -> str:
    # jq: null and false are falsy; everything else would be truthy, but the
    # compiled subset only admits boolean-typed conditions, so coalescing
    # null→false is the whole rule
    return f"coalesce({sql}, false)"


def _compile_expr(ast, schema, q: Statement) -> str:
    """SQL text of one expression over the current object (a struct of
    ``schema``); every literal is a parameter bound on ``q``."""
    kind = ast[0]
    if kind == "lit":
        return q.lit(ast[1])
    if kind == "path":
        return _resolve_path(ast[1], schema)
    if kind == "neg":
        return f"(- {_compile_expr(ast[1], schema, q)})"
    if kind == "interp":
        parts = [
            q.lit(p) if isinstance(p, str)
            else f"CAST({_compile_expr(p, schema, q)} AS STRING)"
            for p in ast[1]
        ]
        return f"concat({', '.join(parts)})" if parts else q.lit("")
    if kind == "bin":
        op = ast[1]
        left, right = _compile_expr(ast[2], schema, q), _compile_expr(ast[3], schema, q)
        if op == "==":
            return f"({left} <=> {right})"  # jq: null == null is true
        if op == "!=":
            return f"(NOT ({left} <=> {right}))"
        if op in ("and", "or"):
            return f"({_truthy(left)} {op.upper()} {_truthy(right)})"
        if op == "/":
            # jq division is exact: ints divide to floats when needed
            return f"(CAST({left} AS DOUBLE) / CAST({right} AS DOUBLE))"
        if op in ("<", "<=", ">", ">=", "+", "-", "*", "%"):
            return f"({left} {op} {right})"
    raise JqUnsupported(f"cannot compile node: {ast!r}")  # pragma: no cover


def jq_sql(program: str | None, obj: str, schema: T.StructType, q: Statement) -> str | None:
    """SQL text of the array of objects ``program`` emits for one input
    object ``obj`` (SQL text of a struct of ``schema``); None for identity.

    Each stage is one higher-order function over the current objects:
    ``select`` → ``filter``, object construction → ``transform`` into a
    ``named_struct``, ``.path`` (struct-typed) → ``transform`` re-rooting,
    ``.path[]`` (array of objects) → ``flatten``: gojq's iterator loop
    (counter.go:439-466), 0..n objects per input, where a NULL array
    iterates to nothing. The pipeline is one expression, so it runs inside
    whatever projection holds it, with no Python in the row loop.
    """
    stages = [st for st in parse_jq_program(program) if st[0] != "identity"] if program else []
    if not stages:
        return None
    arr = f"array({obj})"
    for st in stages:
        kind = st[0]
        if kind == "select":
            cond = _truthy(_compile_expr(st[1], schema, q))
            arr = f"filter({arr}, {_OBJ} -> {cond})"
        elif kind == "obj":
            pairs = ", ".join(
                f"{q.lit(k)}, {_compile_expr(e, schema, q)}" for k, e in st[1]
            )
            arr = f"transform({arr}, {_OBJ} -> named_struct({pairs}))"
            # later stages only ask whether a field exists and whether it
            # is an object or an array of objects: only a path value can be
            schema = T.StructType([
                T.StructField(k, (e[0] == "path" and _schema_subtype(schema, e[1]))
                              or T.NullType())
                for k, e in st[1]
            ])
        elif kind == "path":
            sub = _schema_subtype(schema, st[1])
            if not isinstance(sub, T.StructType):
                raise JqUnsupported(
                    f"path stage {'.'.join(st[1])!r} must be struct-typed "
                    "(scalar pipelines unsupported)"
                )
            arr = f"transform({arr}, {_OBJ} -> {_resolve_path(st[1], schema)})"
            schema = sub
        elif kind == "iterate":
            sub = _schema_subtype(schema, st[1])
            if not isinstance(sub, T.ArrayType) or not isinstance(
                sub.elementType, T.StructType
            ):
                raise JqUnsupported(
                    f"iterate stage {'.'.join(st[1])!r}[] must be an "
                    "array of objects"
                )
            path = _resolve_path(st[1], schema)
            arr = f"flatten(transform({arr}, {_OBJ} -> coalesce({path}, array())))"
            schema = sub.elementType
    return arr


def apply_jq(df: DataFrame, program: str | None) -> DataFrame:
    """Apply a compiled jq-subset program; identity when None/'.'.

    The program compiles to one ``jq_sql`` expression over each row as an
    object, whose 0..n output objects ``inline`` into rows: one generator
    in one projection, with the program's literals bound as parameters.
    """
    with Statement(df.sparkSession) as q:
        arr = jq_sql(program, "struct(*)", df.schema, q)
        if arr is None:
            return df
        return q.sql(f"SELECT inline({arr}) FROM {q.rel(df)}")


# --- dict evaluator (Lambda-handler per-record path) -----------------------


def eval_jq_stream(program: str | None, obj: dict) -> list[dict]:
    """Evaluate the compiled subset on ONE input object, returning 0..n
    output objects — the dict twin of ``apply_jq`` including multi-output
    ``.path[]`` iteration (each stage maps every current record to 0..n
    next records, exactly like gojq's iterator loop)."""
    if not program:
        return [obj]
    outs: list[dict] = [obj]
    for st in parse_jq_program(program):
        kind = st[0]
        if kind == "identity":
            continue
        nxt_outs: list[dict] = []
        for cur in outs:
            if kind == "select":
                if _eval_truthy(_eval_expr(st[1], cur)):
                    nxt_outs.append(cur)
            elif kind == "obj":
                nxt_outs.append({k: _eval_expr(e, cur) for k, e in st[1]})
            elif kind == "path":
                nxt = _eval_path(st[1], cur)
                if not isinstance(nxt, dict):
                    raise JqUnsupported(
                        f"path stage {'.'.join(st[1])!r} must yield an object"
                    )
                nxt_outs.append(nxt)
            elif kind == "iterate":
                arr = _eval_path(st[1], cur)
                if arr is None:
                    continue  # NULL array ≡ empty, matching explode
                if not isinstance(arr, list) or any(
                    not isinstance(e, dict) for e in arr
                ):
                    raise JqUnsupported(
                        f"iterate stage {'.'.join(st[1])!r}[] must be an "
                        "array of objects"
                    )
                nxt_outs.extend(arr)
        outs = nxt_outs
    return outs


def eval_jq_object(program: str | None, obj: dict) -> dict | None:
    """Single-output form of :func:`eval_jq_stream` (the Lambda-handler
    path, handler.py — counter output rows are flat, so iteration can
    never multiply them): the transformed dict, or None when a ``select``
    filtered it out. A program that emits more than one record here is a
    caller bug — use ``eval_jq_stream``."""
    outs = eval_jq_stream(program, obj)
    if len(outs) > 1:
        raise JqUnsupported(
            "program is multi-output; use eval_jq_stream for '.path[]'"
        )
    return outs[0] if outs else None


def _eval_path(parts: tuple[str, ...], obj):
    cur = obj
    for p in parts:
        cur = cur.get(p) if isinstance(cur, dict) else None
    return cur


def _eval_truthy(v) -> bool:
    return v is not None and v is not False


def _eval_expr(ast, obj):
    kind = ast[0]
    if kind == "lit":
        return ast[1]
    if kind == "path":
        return _eval_path(ast[1], obj)
    if kind == "neg":
        v = _eval_expr(ast[1], obj)
        return -v if v is not None else None
    if kind == "interp":
        out = []
        for p in ast[1]:
            if isinstance(p, str):
                out.append(p)
            else:
                v = _eval_expr(p, obj)
                # match the Spark cast-to-string the compiled path uses
                out.append("" if v is None else
                           str(v).lower() if isinstance(v, bool) else str(v))
        return "".join(out)
    if kind == "bin":
        op = ast[1]
        ln, rn = _eval_expr(ast[2], obj), _eval_expr(ast[3], obj)
        if op == "==":
            return ln == rn
        if op == "!=":
            return ln != rn
        if op == "and":
            return _eval_truthy(ln) and _eval_truthy(rn)
        if op == "or":
            return _eval_truthy(ln) or _eval_truthy(rn)
        if ln is None or rn is None:
            return None  # SQL-style null propagation, matching the compiled SQL
        if op == "<":
            return ln < rn
        if op == "<=":
            return ln <= rn
        if op == ">":
            return ln > rn
        if op == ">=":
            return ln >= rn
        if op == "+":
            return ln + rn
        if op == "-":
            return ln - rn
        if op == "*":
            return ln * rn
        if op == "/":
            return ln / rn
        if op == "%":
            import math

            return int(math.fmod(ln, rn))  # SQL %: sign follows the dividend
    raise JqUnsupported(f"cannot evaluate node: {ast!r}")  # pragma: no cover


def apply_jq_generic(df: DataFrame, program: str) -> DataFrame:
    """Full-generality jq fallback: run a real jq program per row.

    For programs outside the projection subset (pipes, filters, iteration —
    ``apply_jq`` raises :class:`JqUnsupported` on them). Each row is
    serialized to a JSON object, run through the jq program, and every
    emitted output becomes one row of JSON text (jq programs may emit
    0..n outputs per input, mirroring the reference's iterator loop,
    counter.go:439-466). Output schema is a single ``value: STRING``
    column — jq output is dynamically typed, so downstream code re-parses
    with ``from_json`` under whatever schema it expects.

    Engine choice (Arrow-batched via ``mapInPandas``, program compiled
    ONCE per executor, not per row): the optional ``jq`` Python binding
    when installed, else the dependency-free pure-Python mini-jq
    interpreter (:mod:`kinesis_data_counter_spark.jq_eval`, differential-
    tested against the real jq binary). The interpreter covers ``..``
    recursion, try/catch, ``reduce``, user ``def``s, the regex builtins,
    path assignment (``= |= += …``, ``del``, ``setpath``/``paths``),
    slices, ``foreach``, ``label``/``break``, the ``@format`` strings,
    the loop builtins, the full libm math family, the stream-events and
    structural derivations (``walk``/``tostream``/``fromstream``/
    ``truncate_stream``/``combinations``/``transpose``), and the UTC
    datetime family; ``input``/
    ``inputs`` (which need a record stream) raise :class:`JqUnsupported`
    at driver time on THIS per-record path — run those through
    :func:`apply_jq_stream` instead. Wall-clock builtins
    (``now``/``localtime``) stay compile-gated everywhere: they would
    break deterministic replay.
    """
    from collections.abc import Iterator

    import pandas as pd

    cols = df.columns
    compiled_src = program
    try:
        import jq as _jq  # type: ignore

        has_binding = True
    except ImportError:
        has_binding = False
        # parse on the driver NOW so unsupported programs fail fast
        from kinesis_data_counter_spark.jq_eval import compile_program

        compile_program(compiled_src)

    def _batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if has_binding:  # pragma: no cover - binding absent in this container
            prog = _jq.compile(compiled_src)
            run = prog.input
            fmt = lambda o: json.dumps(o, separators=(",", ":"))  # noqa: E731
        else:
            from kinesis_data_counter_spark.jq_eval import compile_program, dumps

            mini = compile_program(compiled_src)
            run, fmt = mini, dumps
        for pdf in batches:
            out: list[str] = []
            for rec in pdf[cols].to_dict("records"):
                for emitted in run(_plain_json(rec)):
                    out.append(fmt(emitted))
            yield pd.DataFrame({"value": pd.array(out, dtype=object)})

    return df.mapInPandas(_batches, "value string")


def apply_jq_stream(
    df: DataFrame, program: str, null_input: bool = True
) -> DataFrame:
    """jq's INPUT-STREAM model (``input``/``inputs``) per PARTITION.

    Each partition's records form one jq input stream: with
    ``null_input=True`` (jq -n) the program runs once per partition on
    ``null`` and reads records via ``input``/``inputs``; otherwise jq's
    default main loop runs — each unconsumed record becomes ``.`` for one
    program pass, which may itself consume more via ``input``. Output is
    ``value: STRING`` JSON lines, like :func:`apply_jq_generic`.

    DETERMINISM CONTRACT — this is ``mapPartitions`` semantics: outputs
    depend on partitioning and intra-partition order. Use it for
    (a) order/partition-insensitive programs (commutative-associative
    ``reduce inputs`` folds whose per-partition results are then merged —
    the partial/final shape counter.go's two-level topology uses), or
    (b) streams made deterministic first (``repartition(1)`` +
    ``sortWithinPartitions`` on a bounded, already-aggregated input —
    the jq-CLI-on-a-file shape). The program compiles on the driver
    (``allow_inputs=True``), so any construct outside the interpreter
    still fails before executor work is scheduled.
    """
    from collections.abc import Iterator

    import pandas as pd

    from kinesis_data_counter_spark.jq_eval import compile_program, dumps

    cols = df.columns
    compile_program(program, allow_inputs=True)  # driver-time fail-fast

    def _part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prog = compile_program(program, allow_inputs=True)

        def records():
            for pdf in batches:
                for rec in pdf[cols].to_dict("records"):
                    yield _plain_json(rec)

        out = [dumps(o) for o in prog.stream(records(), null_input=null_input)]
        yield pd.DataFrame({"value": pd.array(out, dtype=object)})

    return df.mapInPandas(_part, "value string")


def _plain_json(v):
    """Arrow/pandas batch values → plain JSON types (numpy scalars/arrays
    and struct Rows appear inside ``to_dict`` records; jq evaluation and
    serialization need pure Python)."""
    import numpy as np
    import pandas as pd

    if isinstance(v, dict):
        return {k: _plain_json(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)) or isinstance(v, np.ndarray):
        return [_plain_json(x) for x in v]
    if isinstance(v, np.bool_):
        return bool(v)
    if isinstance(v, np.integer):
        return int(v)
    if isinstance(v, np.floating):
        return float(v)
    if v is pd.NA or v is pd.NaT or (isinstance(v, float) and v != v):
        return None
    return v
