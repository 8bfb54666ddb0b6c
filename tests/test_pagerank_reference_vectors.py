"""Third-engine pin for the PageRank power iteration (VERDICT r8 task 3).

The Spark-vs-DuckDB twin (pagerank / pagerank_sql) shares one mental model
by construction — both were written from the same per-iteration recurrence,
so a defect in the recurrence itself (wrong dangling handling, wrong
damping placement, off-by-one iteration) would survive the differential.
This file pins ``operators.web.pagerank`` against two INDEPENDENT
references:

1. Hand-derived closed-form iterates on three small graphs, computed BY
   HAND from the published recurrence (Page, Brin, Motwani, Winograd 1999,
   "The PageRank Citation Ranking", with the standard uniform dangling-mass
   redistribution; Langville & Meyer 2006 §4.5 give the dangling
   correction):

       rank_0(v)   = round(1/n, 6)
       rank_{k+1}(v) = round((1-d)/n
                            + d * (sum_{u->v} rank_k(u)/out(u) + dm_k/n), 6)
       dm_k        = sum of rank_k over nodes with out(u) = 0

   damping d = 0.5 makes every hand iterate an exact binary fraction with
   <= 6 decimal digits, so the per-iteration 6-digit rounding is a no-op
   and the pins carry no rounding ambiguity.

2. A structurally independent numpy MATRIX reimplementation of the same
   recurrence (dense adjacency, vectorized over all nodes at once — a
   different decomposition than the engine's edge-join/groupBy), run
   differentially on seeded random graphs with dangling nodes.

Falsifier: a deliberately divergent matrix variant that DROPS the dangling
redistribution (the classic implementation defect — rank mass leaks out of
the system) must produce different ranks on every graph that has a
dangling node, proving the differential discriminates the correction term.
"""

from __future__ import annotations

import random

import numpy as np
import pytest

from kinesis_data_counter_spark import session
from kinesis_data_counter_spark.operators.web import pagerank

# ---------------------------------------------------------------------------
# 1. hand-derived closed-form iterates
# ---------------------------------------------------------------------------

# Graph B: A->B. n=2, d=0.5, base=(1-d)/n=0.25; B is dangling.
#   r0: A=B=0.5
#   iter1: dm=0.5, dm/n=0.25; inflow(B)=0.5
#     A = 0.25 + 0.5*(0    + 0.25) = 0.375
#     B = 0.25 + 0.5*(0.5  + 0.25) = 0.625
#   iter2: dm=0.625, dm/n=0.3125; inflow(B)=0.375
#     A = 0.25 + 0.5*(0      + 0.3125) = 0.40625
#     B = 0.25 + 0.5*(0.375  + 0.3125) = 0.59375
GRAPH_B_EDGES = [("A", "B")]
GRAPH_B_EXPECT = {
    0: {"A": 0.5, "B": 0.5},
    1: {"A": 0.375, "B": 0.625},
    2: {"A": 0.40625, "B": 0.59375},
}

# Graph C: A->B, A->C, B->C (plus a DUPLICATE A->B edge that must collapse
# before degree counting). n=3, d=0.5, base=1/6; C is dangling.
#   r0 = round(1/3, 6) = 0.333333 each; out: A=2, B=1, C=0
#   iter1: dm=0.333333, dm/n=0.111111
#     inflow(B) = 0.333333/2            = 0.1666665
#     inflow(C) = 0.333333/2 + 0.333333 = 0.4999995
#     A = 1/6 + 0.5*(0         + 0.111111) = 0.2222221666.. -> 0.222222
#     B = 1/6 + 0.5*(0.1666665 + 0.111111) = 0.3055554166.. -> 0.305555
#     C = 1/6 + 0.5*(0.4999995 + 0.111111) = 0.4722219166.. -> 0.472222
GRAPH_C_EDGES = [("A", "B"), ("A", "B"), ("A", "C"), ("B", "C")]
GRAPH_C_EXPECT_I1 = {"A": 0.222222, "B": 0.305555, "C": 0.472222}

# Graph D: 3-cycle A->B->C->A at the engine's default d=0.85. Uniform rank
# is the exact fixed point: 0.05 + 0.85*0.333333 = 0.33333305 -> rounds
# back to 0.333333 every iteration, for ANY number of iterations.
GRAPH_D_EDGES = [("A", "B"), ("B", "C"), ("C", "A")]


def _ranks(spark, edges, damping, iters):
    df = spark.createDataFrame(edges, "src string, dst string")
    out = pagerank(df, damping=damping, iters=iters, checkpoint=False)
    return {r["node"]: r["rank"] for r in out.collect()}


def test_hand_iterates_graph_b(spark):
    for iters, expect in GRAPH_B_EXPECT.items():
        assert _ranks(spark, GRAPH_B_EDGES, 0.5, iters) == expect, iters


def test_hand_iterates_graph_c_with_duplicate_edge(spark):
    assert _ranks(spark, GRAPH_C_EDGES, 0.5, 1) == GRAPH_C_EXPECT_I1


def test_cycle_fixed_point_default_damping(spark):
    for iters in (0, 1, 4):
        assert _ranks(spark, GRAPH_D_EDGES, 0.85, iters) == {
            "A": 0.333333, "B": 0.333333, "C": 0.333333,
        }


def test_degrees_graph_b(spark):
    df = spark.createDataFrame(GRAPH_B_EDGES, "src string, dst string")
    rows = {r["node"]: r for r in pagerank(df, 0.5, 1, checkpoint=False).collect()}
    assert (rows["A"]["out_deg"], rows["A"]["in_deg"]) == (1, 0)
    assert (rows["B"]["out_deg"], rows["B"]["in_deg"]) == (0, 1)


# ---------------------------------------------------------------------------
# 2. independent matrix reimplementation (numpy, dense)
# ---------------------------------------------------------------------------


def _matrix_pagerank(edges, damping, iters, drop_dangling=False):
    """Dense-matrix power iteration with the same per-round 6-digit
    rounding. ``drop_dangling=True`` is the FALSIFIER variant: rank mass
    of out-degree-0 nodes is discarded instead of redistributed."""
    e = sorted({(s, d) for s, d in edges if s is not None and d is not None})
    nodes = sorted({s for s, _ in e} | {d for _, d in e})
    ix = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    A = np.zeros((n, n))
    for s, d in e:
        A[ix[d], ix[s]] = 1.0  # column u -> row v for edge u->v
    out = A.sum(axis=0)
    r = np.round(np.full(n, 1.0 / n), 6)
    base = (1.0 - damping) / n
    for _ in range(iters):
        dm = 0.0 if drop_dangling else r[out == 0].sum()
        share = np.divide(r, out, out=np.zeros(n), where=out > 0)
        r = np.round(base + damping * (A @ share + dm / n), 6)
    return dict(zip(nodes, r.tolist()))


def _random_graph(rng, n_nodes, n_edges):
    nodes = [f"n{i}" for i in range(n_nodes)]
    return [(rng.choice(nodes), rng.choice(nodes)) for _ in range(n_edges)]


def test_matrix_differential_on_random_graphs(spark):
    rng = random.Random(20260815)
    for trial in range(6):
        n = rng.randint(3, 12)
        edges = _random_graph(rng, n, rng.randint(n, 3 * n))
        iters = rng.randint(0, 3)
        d = rng.choice([0.5, 0.85])
        got = _ranks(spark, edges, d, iters)
        ref = _matrix_pagerank(edges, d, iters)
        assert got.keys() == ref.keys(), trial
        for v in got:
            # both engines round to 6 per iteration; allow one final-digit
            # ulp where the unrounded value sits on a rounding boundary
            assert abs(got[v] - ref[v]) <= 1.5e-6, (trial, v, got[v], ref[v])


# ---------------------------------------------------------------------------
# 3. bounded-graph driver fast path (round 13): bit-identical to the loop
# ---------------------------------------------------------------------------


def test_round_half_up6_matches_spark_round(spark):
    # the fast path's _round_half_up6 must reproduce Catalyst's
    # round(DOUBLE, 6) — BigDecimal.valueOf (shortest repr) + HALF_UP —
    # including the exact .5 boundaries where Python's round()/numpy
    # (half-even) diverge: 0.0000025 -> 0.000003 under HALF_UP, 0.000002
    # under half-even.
    from pyspark.sql import functions as F

    from kinesis_data_counter_spark.operators.web import _round_half_up6

    values = [
        0.0000025, 0.0000035, 0.0000005, 0.1234565, 0.1234575,
        0.3333335, 1.0 / 3.0, 2.0 / 3.0, 0.1 + 0.2, 1e-7, 9.9999995,
        0.47222191666, 0.305555416, 123.4567894999, 0.0,
    ]
    df = spark.createDataFrame([(v,) for v in values], "x double")
    got = [r["r"] for r in df.select(F.round("x", 6).alias("r")).collect()]
    assert got == [_round_half_up6(v) for v in values]
    # sanity: the rounding MODE discriminates at the decimal level
    # BigDecimal.valueOf operates on (shortest-repr strings, where the
    # ".5" midpoint is exact): HALF_UP sends 2.5e-6 up, half-even down —
    # so a half-even implementation of the fast path would diverge
    from decimal import ROUND_HALF_EVEN, Decimal

    q = Decimal("0.000001")
    assert float(Decimal("2.5e-6").quantize(q, rounding=ROUND_HALF_EVEN)) == 2e-6
    assert _round_half_up6(0.0000025) == 3e-6


def test_driver_fast_path_matches_distributed_loop(spark, monkeypatch):
    # checkpoint=True (default) takes the bounded-collect driver fast
    # path; checkpoint=False keeps the distributed loop. Full rows —
    # node, rank, out_deg, in_deg — must be BIT-identical across graphs
    # exercising dangling nodes, duplicate edges, self-loops, NULL
    # endpoints, cycles, the empty graph, and seeded random topologies.
    rng = random.Random(20260818)
    cases = [
        (GRAPH_B_EDGES, 0.5, 2),
        (GRAPH_C_EDGES, 0.5, 1),
        (GRAPH_D_EDGES, 0.85, 4),
        ([("A", "A"), ("A", "B"), (None, "C"), ("C", None)], 0.85, 3),
        ([], 0.85, 3),
    ]
    for _ in range(4):
        n = rng.randint(3, 14)
        cases.append(
            (_random_graph(rng, n, rng.randint(n, 3 * n)), 0.85, 3)
        )
    for edges, d, iters in cases:
        df = spark.createDataFrame(edges, "src string, dst string")
        fast = sorted(
            map(tuple, pagerank(df, damping=d, iters=iters).collect())
        )
        dist = sorted(
            map(
                tuple,
                pagerank(df, damping=d, iters=iters, checkpoint=False).collect(),
            )
        )
        assert fast == dist, (edges, d, iters)
    # realistic size: hundreds of nodes over ten rounds, where summation
    # order and rounding ties have room to diverge. The distributed side is
    # the checkpointed loop, forced by the shared row bound: the lazy
    # checkpoint=False lineage doubles every round (2^10 plan copies here)
    for _ in range(2):
        n = rng.randint(200, 600)
        df = spark.createDataFrame(
            _random_graph(rng, n, rng.randint(n, 3 * n)), "src string, dst string"
        )
        fast = sorted(map(tuple, pagerank(df, iters=10).collect()))
        with monkeypatch.context() as m:
            m.setattr(session, "DRIVER_COLLECT_MAX_ROWS", -1)
            loop = sorted(map(tuple, pagerank(df, iters=10).collect()))
        assert fast == loop, n


def test_byte_bound_sends_pagerank_down_the_distributed_loop(spark, monkeypatch):
    # a graph far under the row bound but over the (shrunk) byte bound is
    # not collected: the default checkpointed call takes the distributed
    # loop, which must still equal the driver fast path
    from kinesis_data_counter_spark.operators import web

    rng = random.Random(20261018)
    df = spark.createDataFrame(
        _random_graph(rng, 60, 150), "src string, dst string"
    )
    fast = sorted(map(tuple, pagerank(df, iters=4).collect()))
    gate = []

    def spy(frame):
        gate.append(session.bounded_collect(frame))
        return gate[-1]

    monkeypatch.setattr(session, "DRIVER_COLLECT_MAX_BYTES", 100)
    monkeypatch.setattr(web, "bounded_collect", spy)
    loop = sorted(map(tuple, pagerank(df, iters=4).collect()))
    assert gate == [None]
    assert loop == fast


def test_falsifier_no_dangling_redistribution_differs():
    # every hand-pinned graph with a dangling node must expose the defect
    for edges, d, iters, expect in [
        (GRAPH_B_EDGES, 0.5, 1, GRAPH_B_EXPECT[1]),
        (GRAPH_B_EDGES, 0.5, 2, GRAPH_B_EXPECT[2]),
        (GRAPH_C_EDGES, 0.5, 1, GRAPH_C_EXPECT_I1),
    ]:
        honest = _matrix_pagerank(edges, d, iters)
        assert honest == pytest.approx(expect, abs=1e-9)
        broken = _matrix_pagerank(edges, d, iters, drop_dangling=True)
        assert broken != honest, (edges, iters)
