"""Guards for the driver-facing contract surfaces.

These catch drift that the per-query tests can't: a query silently losing
its oracle (degrading the correctness gate to rows-only), documentation
pointing at queries that no longer exist, or bench.py breaking its one-line
JSON output protocol that the driver parses per round.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_every_query_has_an_oracle():
    from kinesis_data_counter_spark.plans.registry import QUERIES

    missing = [n for n, q in QUERIES.items() if not q.oracle]
    assert missing == [], f"queries degraded to rows-only checks: {missing}"


def test_coverage_doc_names_resolve():
    from kinesis_data_counter_spark.plans.registry import QUERIES

    text = open(os.path.join(REPO, "COVERAGE.md")).read()
    referenced = set(re.findall(r"`([a-z0-9_]+)`", text))
    known = set(QUERIES)
    # only check tokens that look like query names (exist-or-near-miss set:
    # anything with a family prefix used by the registry)
    prefixes = tuple(
        {n.split("_", 1)[0] for n in known}
    )
    candidates = {
        t for t in referenced
        if t.startswith(prefixes) and "_" in t and not t.endswith((".py", ".md"))
    }
    # a candidate that matches no registry entry but is clearly meant to be
    # one (appears in a queries() column) would be doc drift; allow
    # non-query identifiers by requiring at least the known ones to resolve
    ghosts = {
        t for t in candidates
        if t not in known
        and not any(t in n or n in t for n in known)
        and t not in {
            # legitimate non-query identifiers mentioned in COVERAGE.md
            "counter_state", "merge_partials", "partial_counter",
            "build_counter", "union_counter_results", "assemble_counters",
            "counter_test",
            "stateful_running_counts", "write_curated",
            "hll_sketch_agg", "hll_union_agg", "hll_sketch_estimate",
            "approx_count_distinct",
            "arn_test", "session_window", "transformWithState",
            "applyInPandasWithState", "batchItemFailures", "config_pipeline",
            "knn_classify_bucketed",
        }
    }
    assert ghosts == set(), f"COVERAGE.md references unknown queries: {ghosts}"


PACKAGE = "kinesis_data_counter_spark"
# Code outside the package that runs it: everything these files name is reached.
ENTRY_PATHS = ("__spark_entry__.py", "bench.py", "examples", "perfbench")
# The Lambda runtime calls the handler by name.
ENTRY_DEFS = ("handle_time_window_event", "make_intermediate_event")
# Package defs that no entry point reaches but that stay, with the reason.
ALLOWED = {
    "translate_target_expr_duckdb": "DuckDB twin of the target-expression "
    "translation; the test_expr* differentials compare Spark against it",
    "console_writer": "reference sink dispatch, stdout (counter.go:514-555, "
    "COVERAGE K1)",
    "firehose_writer": "reference sink dispatch, Firehose PutRecordBatch "
    "(counter.go:514-555, COVERAGE K3)",
    "writer_for_arn": "reference sink dispatch by ARN service "
    "(counter.go:514-555, COVERAGE K1-K3)",
}


def _python_files(path):
    if path.endswith(".py"):
        yield path
        return
    for d, dirs, files in os.walk(path):
        dirs[:] = [x for x in dirs if x not in ("tests", "__pycache__")]
        yield from (os.path.join(d, f) for f in files if f.endswith(".py"))


def _names(nodes):
    """Every identifier the nodes load: bare names and attribute names."""
    import ast

    out = set()
    for node in nodes:
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
    return out


def _unreached(extra_roots=()):
    """Package top-level defs and classes that no entry point reaches.

    Name-based and transitive: the roots are the entry files, the handler
    entry points and each package module's top-level code (decorators,
    defaults and base classes included, since they run at import). An
    import statement is not a use, so an ``__init__`` re-export reaches
    nothing; ``from … import a as b`` makes a use of ``b`` reach ``a``.
    """
    import ast

    defs, aliases = {}, {}
    roots = set(ENTRY_DEFS) | set(extra_roots)

    def note_aliases(tree):
        for n in ast.walk(tree):
            if isinstance(n, ast.ImportFrom):
                for a in n.names:
                    if a.asname:
                        aliases.setdefault(a.asname, set()).add(a.name)

    for path in _python_files(os.path.join(REPO, PACKAGE)):
        tree = ast.parse(open(path).read())
        note_aliases(tree)
        for st in tree.body:
            if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs.setdefault(st.name, []).append((path, st))
                at_import = list(st.decorator_list)
                if isinstance(st, ast.ClassDef):
                    at_import += st.bases + [k.value for k in st.keywords]
                else:
                    at_import += st.args.defaults + [
                        d for d in st.args.kw_defaults if d is not None
                    ]
                roots |= _names(at_import)
            elif not isinstance(st, (ast.Import, ast.ImportFrom)):
                roots |= _names([st])
    for entry in ENTRY_PATHS:
        for path in _python_files(os.path.join(REPO, entry)):
            tree = ast.parse(open(path).read())
            note_aliases(tree)
            roots |= _names([tree])

    seen, todo = set(), list(roots)
    while todo:
        name = todo.pop()
        if name not in seen:
            seen.add(name)
            todo.extend(aliases.get(name, ()))
            for _, node in defs.get(name, ()):
                todo.extend(_names([node]))
    return {
        name: sorted(os.path.relpath(p, REPO) for p, _ in where)
        for name, where in defs.items()
        if name not in seen
    }


def test_every_package_def_is_reached():
    # the allowlist holds only defs that really are unreached, so an entry
    # that gains a caller leaves it instead of going stale
    unreached = _unreached()
    stale = sorted(set(ALLOWED) - set(unreached))
    assert stale == [], f"ALLOWED names that are reached or gone: {stale}"
    # defs reached only through an allowed def (its helpers) are fine
    dead = _unreached(extra_roots=ALLOWED)
    assert dead == {}, f"package defs no entry point reaches: {dead}"


def test_bench_emits_one_json_line_at_tiny_sf():
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_BENCH_RUNS="1",
        # the contract under test is the OUTPUT SHAPE (one JSON line,
        # per-query seconds) — provable on a 24-query subset in ~1/4 the
        # wall time; the full query set runs in the real per-round bench
        SPARK_BENCH_SUBSET="24",
        # the strict quiet gate (r11) correctly refuses to run while a
        # pytest process is alive — which is exactly the situation this
        # subprocess is in. Opt out explicitly: the shape contract is the
        # thing under test, not the timing quality (the forced line is
        # stamped quiet_gate=forced and never tracked round-over-round).
        SPARK_BENCH_LOAD_WAIT="0",
        SPARK_BENCH_FORCE="1",
    )
    history = os.path.join(REPO, "BENCH_LOCAL.json")
    with open(history, "rb") as fh:
        before = fh.read()
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        capture_output=True,
        text=True,
        timeout=900,
        env=env,
        cwd=REPO,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    # a forced line is never compared, so the tracked history is untouched
    with open(history, "rb") as fh:
        assert fh.read() == before
    json_lines = [
        ln for ln in out.stdout.replace("\r", "\n").splitlines()
        if ln.startswith("{")
    ]
    assert len(json_lines) >= 1, out.stdout[-2000:]
    # the LAST line is what the driver's 2,000-char stdout tail parses: it
    # must be a self-contained contract-shaped summary AND fit the window.
    # When the full result line overflows the window (the standing __ notes
    # grew it past 2,000 chars even for this 24-query subset in r11),
    # bench.py prints the compact top-5 summary last — both shapes satisfy
    # the driver contract
    d = json.loads(json_lines[-1])
    assert len(json_lines[-1]) < 2000, "last line must fit the driver tail"
    assert d["metric"] == "total_bench_seconds"
    assert d["unit"] == "sec"
    assert isinstance(d["value"], (int, float)) and d["value"] > 0
    assert d["sf"] == 0.001
    assert len(d["queries"]) >= 5
    assert all(isinstance(v, (int, float)) for v in d["queries"].values())
    # the line says how many cores it ran on
    assert d["cpus"]["nproc"] >= 1 and d["cpus"]["default_parallelism"] >= 1
    assert d["cpus"]["spark_graft_cpus"] == os.environ.get("SPARK_GRAFT_CPUS")
    # the FULL per-query map must still be emitted on some line (the
    # tracked-history twin of what BENCH_LOCAL.json records)
    full = [json.loads(ln) for ln in json_lines]
    assert any(len(f.get("queries", {})) >= 20 for f in full), [
        len(f.get("queries", {})) for f in full
    ]


def test_queries_survive_a_bare_driver_session():
    """The grading driver builds its OWN SparkSession — no codegen-cache,
    AQE, or TZ confs from kdc.get_spark(). Representative queries must
    still hash-match their oracles through configure_session alone
    (UTC pin + nanosAsLong happen inside load_tables)."""
    script = r"""
import json, sys
sys.path.insert(0, %(repo)r)
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[4]")
         .appName("bare-driver-sim")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
import duckdb, pandas as pd
import __spark_entry__ as e
sf = "/root/testdata/sf0.001"
con = duckdb.connect()
for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
    import os
    p = f"{sf}/{t}.parquet"
    if os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
qs, os_ = e.queries(), e.oracle_sql()
names = ["counter_count_all", "counter_count_expr", "tpch_q1",
         "rollup_time_hierarchy", "udaf_weighted_median", "text_token_stats",
         # fan_out users: a bare session keeps shuffle.partitions=200, so
         # these also prove the defaultParallelism clamp
         "text_quality", "dedup_minhash_lsh", "corpus_pack_sequences"]
for name in names:
    sdf = qs[name](spark, sf).toPandas()
    odf = con.execute(os_[name]).df()
    cols = sorted(sdf.columns)
    assert cols == sorted(odf.columns), (name, cols, sorted(odf.columns))
    s = sdf[cols].sort_values(by=cols).reset_index(drop=True)
    o = odf[cols].sort_values(by=cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(s, o, check_dtype=False, check_exact=True)
print("BARE_SESSION_OK", len(names))
""" % {"repo": REPO}
    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=REPO,
        env={**os.environ, "TZ": "America/New_York"},  # hostile driver TZ
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "BARE_SESSION_OK" in out.stdout
