"""Web-provenance operators: URL parsing, blocklist, per-domain cap."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kinesis_data_counter_spark.operators.web import (
    blocklist_filter,
    domain_cap,
    host_of,
    registered_domain,
)


def _parse(spark, urls):
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    rows = df.select(
        host_of(F.col("url")).alias("h"),
        registered_domain(F.col("url")).alias("d"),
    ).collect()
    return [(r["h"], r["d"]) for r in rows]


def test_host_and_registered_domain_messy_urls(spark):
    got = _parse(
        spark,
        [
            "https://www.news.example.com/a/b?q=1#f",
            "http://user:pw@Sub.Example.CO.UK:8080/x",
            "ftp://files.example.org",
            "https://a.b.c.d.example.net/deep",
            "https://example.com",
            "https://co.uk/odd",
            "not a url",
            "https://localhost/dev",
        ],
    )
    assert got == [
        ("www.news.example.com", "example.com"),
        ("sub.example.co.uk", "example.co.uk"),
        ("files.example.org", "example.org"),
        ("a.b.c.d.example.net", "example.net"),
        ("example.com", "example.com"),
        # bare multi-label suffix: fewer labels than eTLD+1 needs → host
        ("co.uk", "co.uk"),
        (None, None),
        ("localhost", "localhost"),
    ]


def test_blocklist_filter_drops_only_blocked_and_keeps_malformed(spark):
    df = spark.createDataFrame(
        [
            (1, "https://spam.bad.com/x"),
            (2, "https://ok.good.com/y"),
            (3, "no-scheme"),
        ],
        "doc_id long, url string",
    )
    blocked = spark.createDataFrame([("bad.com",)], "domain string")
    got = sorted(r["doc_id"] for r in blocklist_filter(df, blocked).collect())
    assert got == [2, 3]


def test_domain_cap_exact_md5_selection_and_bypass(spark):
    # hot.com has 5 docs, cap=3 → exactly the 3 smallest md5 tickets keep;
    # cold.org has 2 docs → under cap, bypasses the window, all keep
    import hashlib

    rows = [(i, "https://www.hot.com/p") for i in range(5)] + [
        (10, "https://cold.org/a"),
        (11, "https://cold.org/b"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = {r["doc_id"]: (r["domain"], r["kept"]) for r in domain_cap(df, cap=3).collect()}
    tickets = sorted(
        (hashlib.md5(f"cap:{i}".encode()).hexdigest(), i) for i in range(5)
    )
    expect_keep = {i for _, i in tickets[:3]}
    for i in range(5):
        assert got[i] == ("hot.com", i in expect_keep)
    assert got[10] == ("cold.org", True)
    assert got[11] == ("cold.org", True)


def test_domain_cap_retains_malformed_urls(spark):
    # malformed URLs (no scheme://) have NULL registered_domain; they are
    # NOT one domain, so the cap doesn't group them — every row must come
    # back kept=True with domain NULL, even when their count exceeds cap
    rows = [(i, f"not a url {i}") for i in range(5)] + [
        (10, "https://hot.com/a"),
        (11, "https://hot.com/b"),
        (12, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = {
        r["doc_id"]: (r["domain"], r["kept"])
        for r in domain_cap(df, cap=2).collect()
    }
    assert len(got) == 8, "no row may vanish"
    for i in list(range(5)) + [12]:
        assert got[i] == (None, True)
    assert got[10] == ("hot.com", True)
    assert got[11] == ("hot.com", True)


class TestCanonicalUrl:
    CASES = [
        # messy -> canonical: case, www, default port, tracking params,
        # param sort, fragment, trailing slash
        (
            "HTTP://WWW.NeWs.Example.COM:80/Story/42/?utm_source=m&b=2&a=1&gclid=x#f",
            "http://news.example.com/Story/42?a=1&b=2",
        ),
        ("https://news.example.com:443/s?b=2&a=1", "https://news.example.com/s?a=1&b=2"),
        # non-default port and userinfo: port kept, credentials dropped
        ("https://user:pw@Site.org:8443/a//", "https://site.org:8443/a"),
        ("http://example.com/", "http://example.com"),
        # tracking-only query vanishes entirely (no dangling '?')
        ("http://example.com/?ref=tw&fbclid=1", "http://example.com"),
        # 'reference' is NOT the tracker 'ref' — anchored key match
        ("http://example.com/?reference=1", "http://example.com?reference=1"),
        # '@' after the query start is data, not userinfo — the host
        # must not jump past it (two distinct hosts must NOT collapse)
        ("http://example.com?x=a@b", "http://example.com?x=a@b"),
        ("http://other.org?x=a@b", "http://other.org?x=a@b"),
        ("not a url", None),
        (None, None),
    ]

    def test_spark_canonicalization(self, spark):
        from kinesis_data_counter_spark.operators.web import canonical_url

        df = spark.createDataFrame([(u,) for u, _ in self.CASES], "raw string")
        got = [r.c for r in df.select(canonical_url(F.col("raw")).alias("c")).collect()]
        assert got == [want for _, want in self.CASES]

    def test_sql_twin_matches_spark(self, spark):
        import duckdb

        from kinesis_data_counter_spark.operators.web import canonical_url_sql

        con = duckdb.connect()
        con.execute("CREATE TABLE t(raw VARCHAR)")
        con.executemany("INSERT INTO t VALUES (?)", [(u,) for u, _ in self.CASES])
        got = [r[0] for r in con.execute(
            f"SELECT {canonical_url_sql('raw')} FROM t"
        ).fetchall()]
        assert got == [want for _, want in self.CASES]

    def test_dedup_key_collapses_variants(self, spark):
        from kinesis_data_counter_spark.operators.web import canonical_url

        variants = [
            "http://a.com/x?p=1&utm_campaign=spring",
            "HTTP://WWW.A.COM:80/x/?p=1",
            "http://a.com/x#section-2?p=1",  # fragment swallows the rest
        ]
        df = spark.createDataFrame([(u,) for u in variants], "raw string")
        keys = {r.c for r in df.select(canonical_url(F.col("raw")).alias("c")).collect()}
        # first two collapse; the fragment-mangled third differs by design
        assert "http://a.com/x?p=1" in keys and len(keys) == 2


def test_canonical_url_random_differential_and_idempotence(spark):
    # seeded generator over the URL grammar: scheme x case x www x
    # userinfo x port x path-depth/trailing-slash x params (tracking,
    # real, valueless, odd chars) x fragment. Spark and DuckDB must
    # agree char-for-char, and canonicalization must be a projection
    # onto its own fixed points (canonical(canonical(u)) == canonical(u))
    import random

    import duckdb

    from kinesis_data_counter_spark.operators.web import (
        canonical_url,
        canonical_url_sql,
    )

    rng = random.Random(601)
    urls = []
    for _ in range(250):
        scheme = rng.choice(["http", "HTTP", "https", "HtTpS", "ftp"])
        www = rng.choice(["", "www.", "WWW."])
        user = rng.choice(["", "u@", "u:p@"])
        host = rng.choice(["Ex.COM", "a.b.example.org", "x.net"])
        port = rng.choice(["", ":80", ":443", ":8080", ":8443"])
        depth = rng.randint(0, 3)
        path = "".join(f"/P{rng.randint(0, 9)}" for _ in range(depth))
        path += rng.choice(["", "/", "//"])
        pool = ["utm_source=a", "utm_x", "gclid=1", "ref=t", "reference=2",
                "b=2", "a=1", "a=", "z", "k=v%20w"]
        n = rng.randint(0, 4)
        q = "&".join(rng.sample(pool, n)) if n else ""
        frag = rng.choice(["", "#f", "#s?fake=1"])
        urls.append(f"{scheme}://{user}{www}{host}{port}{path}"
                    + (f"?{q}" if q else "") + frag)

    df = spark.createDataFrame([(u,) for u in urls], "raw string")
    got = [r.c for r in df.select(canonical_url(F.col("raw")).alias("c")).collect()]

    con = duckdb.connect()
    con.execute("CREATE TABLE t(raw VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(u,) for u in urls])
    want = [r[0] for r in con.execute(
        f"SELECT {canonical_url_sql('raw')} FROM t"
    ).fetchall()]
    assert got == want

    df2 = spark.createDataFrame([(u,) for u in got], "raw string")
    twice = [r.c for r in df2.select(canonical_url(F.col("raw")).alias("c")).collect()]
    assert twice == got


class TestPagerank:
    def test_two_cycle_symmetry_and_mass(self, spark):
        from kinesis_data_counter_spark.operators.web import pagerank

        e = spark.createDataFrame([("a", "b"), ("b", "a")], "src string, dst string")
        out = {r.node: r for r in pagerank(e, iters=4).collect()}
        # symmetric graph -> equal ranks, total mass = 1
        assert out["a"].rank == out["b"].rank == pytest.approx(0.5, abs=1e-6)
        assert out["a"].out_deg == out["a"].in_deg == 1

    def test_dangling_node_mass_is_redistributed(self, spark):
        from kinesis_data_counter_spark.operators.web import pagerank

        # b is dangling: its rank must re-enter the graph, total mass
        # stays 1 each iteration (the standard correction)
        e = spark.createDataFrame([("a", "b")], "src string, dst string")
        rows = pagerank(e, iters=3).collect()
        assert sum(r.rank for r in rows) == pytest.approx(1.0, abs=1e-5)
        out = {r.node: r for r in rows}
        assert out["b"].out_deg == 0
        assert out["b"].rank > out["a"].rank  # b receives a's full outflow

    def test_duplicate_edges_collapse(self, spark):
        from kinesis_data_counter_spark.operators.web import pagerank

        e1 = spark.createDataFrame(
            [("a", "b"), ("a", "b"), ("a", "c"), ("b", "a"), ("c", "a")],
            "src string, dst string",
        )
        e2 = spark.createDataFrame(
            [("a", "b"), ("a", "c"), ("b", "a"), ("c", "a")],
            "src string, dst string",
        )
        r1 = sorted((r.node, r.rank) for r in pagerank(e1, iters=3).collect())
        r2 = sorted((r.node, r.rank) for r in pagerank(e2, iters=3).collect())
        assert r1 == r2  # link spam buys nothing

    def test_sql_twin_random_graph_differential(self, spark):
        import random

        import duckdb

        from kinesis_data_counter_spark.operators.web import pagerank, pagerank_sql

        rng = random.Random(77)
        edges = list(
            {(f"n{rng.randint(0, 29)}", f"n{rng.randint(0, 34)}") for _ in range(120)}
        )
        df = spark.createDataFrame(edges, "src string, dst string")
        got = sorted(
            (r.node, r.rank, r.out_deg, r.in_deg)
            for r in pagerank(df, damping=0.85, iters=3).collect()
        )
        con = duckdb.connect()
        con.execute("CREATE TABLE g(src VARCHAR, dst VARCHAR)")
        con.executemany("INSERT INTO g VALUES (?, ?)", edges)
        want = sorted(
            tuple(r)
            for r in con.execute(pagerank_sql("g", damping=0.85, iters=3)).fetchall()
        )
        assert got == want


def test_pagerank_bad_args_raise_clearly(spark):
    from kinesis_data_counter_spark.operators.web import pagerank

    e = spark.createDataFrame([("a", "b")], "src string, dst string")
    with pytest.raises(ValueError, match="damping"):
        pagerank(e, damping=0.0)
    with pytest.raises(ValueError, match="iters"):
        pagerank(e, iters=-1)


def test_host_of_does_not_treat_query_at_sign_as_userinfo(spark):
    got = _parse(spark, ["http://example.com?x=a@b", "http://e.org/p#f@x"])
    assert got == [("example.com", "example.com"), ("e.org", "e.org")]


def test_pagerank_empty_graph_returns_empty(spark):
    from kinesis_data_counter_spark.operators.web import pagerank

    e = spark.createDataFrame([(None, None)], "src string, dst string")
    out = pagerank(e, iters=3)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["node", "rank", "out_deg", "in_deg"]


def test_host_of_differential_vs_urllib(spark):
    # third-implementation check: the Spark regex and the DuckDB twin
    # share their blind spots by construction (the query-'@' bug proved
    # it), so pin host extraction against stdlib urllib.parse, which
    # shares no code with either
    import random
    from urllib.parse import urlparse

    rng = random.Random(909)
    urls = []
    for _ in range(300):
        scheme = rng.choice(["http", "https", "ftp"])
        user = rng.choice(["", "u@", "u:p@", "a@b@"])  # multi-@ userinfo
        host = rng.choice(["Ex.COM", "a.b.example.org", "x.net", "localhost"])
        port = rng.choice(["", ":80", ":8080"])
        path = rng.choice(["", "/p", "/p/q/"])
        q = rng.choice(["", "?x=1", "?x=a@b", "?u=m@example.com&y=2"])
        frag = rng.choice(["", "#f", "#f@g", "#s?t@u"])
        urls.append(f"{scheme}://{user}{host}{port}{path}{q}{frag}")

    from kinesis_data_counter_spark.operators.web import host_of

    df = spark.createDataFrame([(u,) for u in urls], "raw string")
    got = [r.h for r in df.select(host_of(F.col("raw")).alias("h")).collect()]
    want = [urlparse(u).hostname for u in urls]
    mismatches = [
        (u, g, w) for u, g, w in zip(urls, got, want) if g != w
    ]
    assert not mismatches, mismatches[:5]


def test_rank_weighted_mix_math_and_sink_exclusion(spark):
    from kinesis_data_counter_spark.operators.web import rank_weighted_mix

    ranks = spark.createDataFrame(
        [("a.com", 0.64), ("b.com", 0.16), ("sink.net", 0.2)],
        "node string, rank double",
    )
    counts = spark.createDataFrame(
        [("a.com", 100), ("b.com", 10)], "domain string, n_docs long"
    )
    rows = {r.domain: r for r in rank_weighted_mix(ranks, counts, budget=44).collect()}
    assert "sink.net" not in rows  # ranked but docless -> excluded
    # weights sqrt(0.64)=0.8, sqrt(0.16)=0.4 over the MATCHED set only
    assert rows["a.com"].share == round(0.8 / 1.2, 6)
    assert rows["b.com"].share == round(0.4 / 1.2, 6)
    # b.com: 44 * (1/3) / 10 > 1 -> clamped; authority oversamples it
    assert rows["b.com"].keep_rate == 1.0
    assert rows["a.com"].keep_rate == round(44 * (0.8 / 1.2) / 100, 6)
    assert rows["b.com"].expected_kept == 10.0
