"""Third-engine pin for SimHash combination banding (VERDICT r11 task 6).

``dedup.simhash_pairs`` (Manku/Jain/Das Sarma, "Detecting Near-Duplicates
for Web Crawling", WWW 2007 §3) has free semantic choices its DuckDB twin
cannot discriminate — the twin recomputes exact hamming over the SAME
signature table, so the banding arithmetic (which pairs ever become
candidates) is pinned only by the implementation itself:

- block LAYOUT: the ``bits``-wide fingerprint splits LSB-first into
  ``blocks`` ranges via divmod — the first ``bits % blocks`` blocks are
  one bit wider (remainder-FIRST);
- table KEYS: one equi-join table per (blocks − d)-subset of blocks
  (``itertools.combinations`` order), keyed on the subset's block values
  — the pigeonhole guarantee is that ≤ d differing bits leave at least
  one such subset untouched;
- exact-hamming verify (bit_count of XOR, summed across 64-bit words)
  and the first-agreeing-table emit rule (each pair once, no distinct).

This file pins all of them against an independent plain-Python loop
reimplementation on hand-built signatures (bypassing the text → shingle
stage, which the DuckDB twin and the 64-bit worked examples in
test_dedup.py already cover), plus a brute-force completeness sweep, with
a discriminating falsifier: a variant that keys tables on one-block-LARGER
subsets (blocks − d + 1 — a plausible off-by-one in the pigeonhole
arithmetic) MISSES a crafted pair whose d differing bits land in d
distinct blocks, while the shipped rule finds it.
"""

from __future__ import annotations

from itertools import combinations

import pytest

BITS = 64
D = 3          # max hamming
M = 6          # blocks -> C(6, 3) = 20 tables on ~32-bit keys
# divmod(64, 6) = (10, 4): remainder-FIRST widths, LSB-first starts
WIDTHS = [11, 11, 11, 11, 10, 10]
STARTS = [0, 11, 22, 33, 44, 54]


def blocks_of(sig: int) -> list[int]:
    return [(sig >> s) & ((1 << w) - 1) for s, w in zip(STARTS, WIDTHS)]


def pairs_loop(sigs: dict[int, int], subset_size: int) -> set[tuple]:
    """Independent banding reimplementation: candidates from equal block
    subsets of ``subset_size`` blocks, exact popcount verify, set dedup.
    ``subset_size = M - D`` is the shipped (pigeonhole-correct) rule; the
    falsifier passes M - D + 1."""
    buckets: dict[tuple, list[int]] = {}
    for doc, sig in sigs.items():
        blk = blocks_of(sig)
        for ti, combo in enumerate(combinations(range(M), subset_size)):
            key = (ti, tuple(blk[b] for b in combo))
            buckets.setdefault(key, []).append(doc)
    out = set()
    for docs in buckets.values():
        for i, a in enumerate(docs):
            for b in docs[i + 1:]:
                lo, hi = min(a, b), max(a, b)
                ham = bin(sigs[lo] ^ sigs[hi]).count("1")
                if ham <= D:
                    out.add((lo, hi, ham))
    return out


def pairs_brute(sigs: dict[int, int]) -> set[tuple]:
    ids = sorted(sigs)
    return {
        (a, b, bin(sigs[a] ^ sigs[b]).count("1"))
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if bin(sigs[a] ^ sigs[b]).count("1") <= D
    }


def _flip(sig: int, *bit_positions: int) -> int:
    for p in bit_positions:
        sig ^= 1 << p
    return sig


def _fixture_sigs() -> dict[int, int]:
    """Seeded random signatures + planted near-pairs at hamming 0..4,
    with the differing bits deliberately scattered across 1..4 DISTINCT
    blocks (block boundaries at STARTS) so every banding table shape is
    exercised."""
    import random

    rng = random.Random(0xC12)
    sigs = {i: rng.getrandbits(63) for i in range(60)}
    base = rng.getrandbits(63)
    sigs[100], sigs[101] = base, base                       # hamming 0
    sigs[102], sigs[103] = base, _flip(base, 5)             # 1 bit, block 0
    sigs[104], sigs[105] = base, _flip(base, 5, 25)         # blocks 0,2
    sigs[106], sigs[107] = base, _flip(base, 5, 25, 60)     # blocks 0,2,5
    sigs[108], sigs[109] = base, _flip(base, 5, 25, 47, 60) # hamming 4: OUT
    # adjacent bits inside ONE block (hamming 2, single-block diff)
    sigs[110], sigs[111] = base, _flip(base, 34, 35)
    return sigs


def _spark_pairs(spark, sigs: dict[int, int]) -> set[tuple]:
    from kinesis_data_counter_spark.operators.dedup import simhash_pairs

    sig_df = spark.createDataFrame(
        [(d, s) for d, s in sigs.items()], "doc_id long, simhash long"
    )
    rows = simhash_pairs(
        None, max_hamming=D, signatures=sig_df, bits=BITS, blocks=M
    ).collect()
    got = [(r.a_id, r.b_id, r.hamming) for r in rows]
    assert len(got) == len(set(got)), "first-agreeing-table rule emitted dups"
    return set(got)


def test_spark_matches_loop_reference_and_brute_force(spark):
    sigs = _fixture_sigs()
    loop = pairs_loop(sigs, M - D)
    brute = pairs_brute(sigs)
    # pigeonhole completeness: banding loses NOTHING within radius D
    assert loop == brute
    assert _spark_pairs(spark, sigs) == brute


def test_planted_pairs_land_where_constructed():
    sigs = _fixture_sigs()
    got = pairs_loop(sigs, M - D)
    planted = {p for p in got if p[0] >= 100}
    assert {(100, 101, 0), (102, 103, 1), (104, 105, 2), (106, 107, 3),
            (110, 111, 2)} <= planted
    assert not any({a, b} == {108, 109} for a, b, _ in got)  # hamming 4


def test_block_layout_is_remainder_first_lsb(spark):
    # a pair differing ONLY inside the last (10-bit) block must appear as
    # a candidate via every table whose subset avoids block 5 — under a
    # remainder-LAST layout ([10,10,11,...]) bit 54 would sit in block 4
    # and a carefully placed second diff would change the candidate set.
    # Pin the exact layout constants first, then one straddling example.
    assert sum(WIDTHS) == BITS and len(WIDTHS) == M
    base = 0x123456789ABCDEF
    sigs = {1: base, 2: _flip(base, 54)}  # bit 54 = first bit of block 5
    assert blocks_of(sigs[1])[:5] == blocks_of(sigs[2])[:5]
    assert blocks_of(sigs[1])[5] != blocks_of(sigs[2])[5]
    assert _spark_pairs(spark, sigs) == {(1, 2, 1)}


def test_falsifier_larger_subset_variant_misses_pigeonhole_pair():
    # d=3 differing bits in 3 DISTINCT blocks: exactly M-D=3 blocks agree,
    # so no (M-D+1)-block subset can agree — the off-by-one variant has
    # no table for this pair and silently DROPS a true near-duplicate.
    base = 0x7EDCBA9876543210
    sigs = {1: base, 2: _flip(base, 5, 25, 60)}  # blocks 0, 2, 5
    correct = pairs_loop(sigs, M - D)
    wrong = pairs_loop(sigs, M - D + 1)
    assert correct == {(1, 2, 3)}
    assert wrong == set()
    assert correct != wrong
