"""Web-provenance curation: URL → registered domain, per-domain rollups,
blocklist filtering, and per-domain document caps.

Web-scale corpora (C4, RefinedWeb, Dolma) gate documents by where they
came from before looking at what they say: a registered-domain key powers
opt-out/blocklist enforcement, per-domain quality statistics, and the
anti-concentration cap that stops one mirror farm from dominating the
training mix. Everything here is built-in expressions — URL parsing is
regexp + array slicing inside whole-stage codegen, never a Python UDF.

Scale notes:
- Domain extraction is row-local (zero shuffle).
- ``blocklist_filter`` broadcasts the block set (legal/opt-out lists are
  small) — no shuffle of the corpus.
- ``domain_cap`` is ONE scan + ONE shuffle: a single domain-partitioned
  rank window (NULL domains salted to singleton partitions); under-cap
  domains pass automatically because their ranks can never exceed the
  cap, and over-cap mega-domains are bounded by the concentration the
  cap removes.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kinesis_data_counter_spark.session import bounded_collect


def _round_half_up6(x: float) -> float:
    """Python twin of Spark's ``round(x, 6)`` on DOUBLE: Catalyst rounds
    through ``BigDecimal.valueOf(x)`` (= shortest decimal repr, exactly
    ``repr(x)`` in Python) then HALF_UP at scale 6 — NOT banker's
    rounding, so ``round()``/numpy (half-even) diverge on exact .5
    boundaries. Pinned by test_pagerank_reference_vectors' differential."""
    return float(
        Decimal(repr(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
    )

# multi-label public suffixes the two-label default would mis-split; a
# production deployment swaps in the full Mozilla public-suffix list via
# ``extra_suffixes`` (it's data, not code — the algorithm is unchanged)
DEFAULT_MULTI_SUFFIXES: tuple[str, ...] = (
    "co.uk", "org.uk", "ac.uk", "gov.uk",
    "com.au", "net.au", "org.au",
    "co.jp", "ne.jp", "or.jp",
    "com.br", "com.cn", "com.mx", "co.in", "co.kr", "co.nz",
)

_HOST_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#]*@)?([^/:?#]+)"


def host_of(url: Column) -> Column:
    """Lower-cased host of an absolute URL: scheme and optional userinfo
    stripped, terminated by port / path / query / fragment. Malformed
    URLs (no ``scheme://``) yield NULL, not garbage."""
    h = F.lower(F.regexp_extract(url, _HOST_RE, 1))
    return F.when(h == "", F.lit(None).cast("string")).otherwise(h)


def registered_domain(
    url: Column,
    extra_suffixes: tuple[str, ...] = DEFAULT_MULTI_SUFFIXES,
) -> Column:
    """eTLD+1 of a URL: the last two host labels, or the last three when
    the last two form a listed multi-label public suffix (``co.uk`` and
    friends). Hosts with fewer labels than needed return the whole host;
    malformed URLs return NULL. Pure array arithmetic — row-local."""
    h = host_of(url)
    labels = F.split(h, r"\.")
    n = F.size(labels)
    last2 = F.array_join(F.slice(labels, -2, 2), ".")
    take = F.when(last2.isin(*extra_suffixes), 3).otherwise(2)
    return F.when(h.isNull(), F.lit(None).cast("string")).when(
        n <= take, h
    ).otherwise(F.array_join(F.slice(labels, -take, 3), "."))


def blocklist_filter(
    df: DataFrame,
    blocked: DataFrame,
    url_col: str = "url",
    extra_suffixes: tuple[str, ...] = DEFAULT_MULTI_SUFFIXES,
) -> DataFrame:
    """Drop documents whose registered domain is on the block list
    (opt-outs, spam domains, PII-heavy hosts). ``blocked`` is a one-column
    (``domain``) frame; legal lists are small, so it broadcasts into a
    LEFT ANTI join — the corpus never shuffles. Malformed-URL docs
    (NULL domain) can never match a block entry and are retained — route
    them through a quality gate instead of silently dropping them here."""
    d = df.withColumn(
        "__dom", registered_domain(F.col(url_col), extra_suffixes)
    )
    out = d.join(
        F.broadcast(blocked.select(F.col("domain").alias("__dom")).distinct()),
        "__dom",
        "left_anti",
    )
    return out.drop("__dom")


def domain_cap(
    df: DataFrame,
    cap: int,
    url_col: str = "url",
    id_col: str = "doc_id",
    extra_suffixes: tuple[str, ...] = DEFAULT_MULTI_SUFFIXES,
) -> DataFrame:
    """Anti-concentration cap: keep at most ``cap`` documents per
    registered domain, selected deterministically by md5 ticket (a seeded
    shuffle, not "first N in scan order" — scan order is not stable).

    ONE scan, ONE shuffle: rank-by-ticket in a single window partitioned
    by domain; ``kept = rank <= cap`` is automatically true for every row
    of an under-cap domain (its ranks never exceed its count), so no
    count join or branch split is needed. An earlier two-phase variant
    (per-domain count agg + under/over-cap branch union) routed under-cap
    rows around the window sort, but its DAG forked above the scan and
    re-executed the parse+scan FIVE times — at corpus scale, five scans
    cost far more than within-partition sorts of long-tail domains whose
    groups are tiny by definition. Over-cap mega-domains serialize into
    one window task in BOTH designs (each domain's rank is inherently one
    partition); the cap keeps that bounded to exactly the concentration
    it exists to remove, and a domain too large even to sort should be
    composed with a per-partition local-rank prefilter first.

    Returns the input plus (domain string, kept boolean) — callers filter
    on ``kept`` or keep the flag for accounting.

    Malformed URLs (``registered_domain`` → NULL) are NOT one domain — they
    are unrelated unparseable strings, so the cap does not apply to them as
    a group. A NULL window key would lump them into one skewed partition,
    so the partition key salts NULL domains by their (unique) ticket —
    singleton partitions, trivially rank 1 — and they are retained with
    ``kept=True`` and ``domain`` NULL even when ``cap`` is 0; compose with
    a quality gate to reject them explicitly.
    """
    d = df.withColumn(
        "__dom", registered_domain(F.col(url_col), extra_suffixes)
    ).withColumn(
        "__ticket",
        F.md5(F.concat(F.lit("cap:"), F.col(id_col).cast("string"))),
    )
    # 'd:'/'t:' prefixes keep a (pathological) 32-hex-char domain from
    # colliding with a ticket-salted NULL key
    part = F.coalesce(
        F.concat(F.lit("d:"), F.col("__dom")),
        F.concat(F.lit("t:"), F.col("__ticket")),
    )
    w = Window.partitionBy(part).orderBy("__ticket", id_col)
    return (
        d.withColumn(
            "kept",
            F.col("__dom").isNull() | (F.row_number().over(w) <= cap),
        )
        .withColumn("domain", F.col("__dom"))
        .drop("__dom", "__ticket")
    )


# query params that identify a click, not a resource — dropping them is the
# core of URL-level dedup (the same article arrives once per newsletter blast
# otherwise). Anchored: the key must MATCH, not merely contain, a tracker.
TRACKING_PARAM_RE = (
    r"^(utm_[^=&]*|gclid|fbclid|msclkid|igshid|mc_cid|mc_eid|ref|ref_src|spm)"
    r"(=.*)?$"
)


def canonical_url(url: Column) -> Column:
    """Canonical form of an absolute URL — the key for URL-level dedup.

    Rules (each engine-portable codegen regex/array work, no UDF):
    scheme + host lowercase; leading ``www.`` dropped; userinfo dropped;
    default ports (http:80 / https:443) dropped, others kept; fragment
    dropped; tracking params (``TRACKING_PARAM_RE``) dropped; surviving
    query params sorted lexicographically; trailing path slashes dropped
    (so ``/docs/`` == ``/docs`` and the bare root is the empty path).
    Malformed URLs (no ``scheme://``) yield NULL.

    Web pipelines dedup on this key BEFORE any content pass — it's free
    (row-local, zero shuffle) and collapses the click-tracking variant
    explosion that would otherwise multiply every popular page.
    """
    scheme = F.lower(F.regexp_extract(url, r"^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    hostport = F.lower(
        F.regexp_extract(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#]*@)?([^/?#]+)", 1)
    )
    host = F.regexp_replace(
        F.regexp_extract(hostport, r"^([^:]+)", 1), r"^www\.", ""
    )
    port = F.regexp_extract(hostport, r":([0-9]+)$", 1)
    keep_port = (
        (port != "")
        & ~((scheme == "http") & (port == "80"))
        & ~((scheme == "https") & (port == "443"))
    )
    path = F.regexp_replace(
        F.regexp_extract(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)", 1),
        r"/+$",
        "",
    )
    # the query starts at a '?' BEFORE any '#' — a '?' inside the
    # fragment is fragment text, not a query
    params = F.filter(
        F.split(F.regexp_extract(url, r"^[^#?]*\?([^#]*)", 1), "&"),
        lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE),
    )
    query = F.array_join(F.array_sort(params), "&")
    rebuilt = F.concat(
        scheme,
        F.lit("://"),
        host,
        F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit("")),
        path,
        F.when(query != "", F.concat(F.lit("?"), query)).otherwise(F.lit("")),
    )
    return F.when(scheme == "", F.lit(None).cast("string")).otherwise(rebuilt)


def canonical_url_sql(url_expr: str) -> str:
    """The identical canonicalization as one ANSI-SQL expression (the
    DuckDB oracle twin — same regexes, same drop/sort rules)."""
    scheme = f"lower(regexp_extract({url_expr}, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1))"
    hostport = (
        f"lower(regexp_extract({url_expr},"
        " '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#]*@)?([^/?#]+)', 1))"
    )
    host = (
        f"regexp_replace(regexp_extract({hostport}, '^([^:]+)', 1),"
        " '^www\\.', '')"
    )
    port = f"regexp_extract({hostport}, ':([0-9]+)$', 1)"
    keep_port = (
        f"({port} <> '' AND NOT ({scheme} = 'http' AND {port} = '80')"
        f" AND NOT ({scheme} = 'https' AND {port} = '443'))"
    )
    path = (
        f"regexp_replace(regexp_extract({url_expr},"
        " '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1), '/+$', '')"
    )
    params = (
        f"list_filter(str_split(regexp_extract({url_expr}, '^[^#?]*\\?([^#]*)', 1), '&'),"
        f" p -> p <> '' AND NOT regexp_matches(p,"
        " '^(utm_[^=&]*|gclid|fbclid|msclkid|igshid|mc_cid|mc_eid|ref|ref_src|spm)(=.*)?$'))"
    )
    query = f"array_to_string(list_sort({params}), '&')"
    return (
        f"CASE WHEN {scheme} = '' THEN NULL ELSE"
        f" {scheme} || '://' || {host}"
        f" || CASE WHEN {keep_port} THEN ':' || {port} ELSE '' END"
        f" || {path}"
        f" || CASE WHEN {query} <> '' THEN '?' || {query} ELSE '' END"
        " END"
    )


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iters: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    broadcast_max_nodes: int = 1_000_000,
    checkpoint: bool = True,
) -> DataFrame:
    """Domain-authority PageRank over a (src, dst) edge table — the
    centrality signal web-scale curation stacks (Common-Crawl-derived
    corpora) use to weight domains before content filtering.

    Fixed ``iters`` power iterations with damping; duplicate edges
    collapse first (authority follows links, not link spam). Dangling
    nodes (no out-edges) redistribute their rank uniformly — the
    standard correction, one broadcast scalar per iteration. Every
    iteration ROUNDS ranks to 6 digits, so the whole float trajectory
    is engine-replayable (the rounded-logp discipline) and iterations
    stay comparable across any summation order.

    Scale shape: the node and degree tables derive from one
    edge-distinct aggregation; each iteration is ONE shuffle — an
    equi-join of edges with the current node-keyed rank table, then a
    groupBy(dst) with map-side combine. The broadcast hint on the rank
    table is SIZE-GATED on the already-computed node count
    (``broadcast_max_nodes``, default 1M ≈ tens of MB per executor —
    domain graphs sit far under it): below the gate every node-keyed
    join broadcasts; above it the hint is dropped and Catalyst plans
    shuffled hash / sort-merge equi-joins, so a billion-node graph runs
    the same logical plan without OOMing the executors on a forced
    broadcast. ``iters`` bounds the stage count (a driver loop; each
    round is materialized and its lineage truncated with
    localCheckpoint, the dedup_clusters discipline; the edge and node
    tables are persisted across iterations). ``checkpoint=False`` keeps
    the full lazy lineage instead — only for plan inspection / tiny
    graphs; production runs truncate.

    Returns (node, rank, out_deg, in_deg).
    """
    if not 0.0 < damping <= 1.0:
        raise ValueError(f"damping must be in (0, 1], got {damping}")
    if iters < 0:
        raise ValueError(f"iters must be >= 0, got {iters}")
    e = edges.select(
        F.col(src_col).cast("string").alias("src"),
        F.col(dst_col).cast("string").alias("dst"),
    ).where(F.col(src_col).isNotNull() & F.col(dst_col).isNotNull()).distinct()
    e = e.persist()
    # Bounded-graph fast path: the distributed loop pays ~2 scheduled
    # jobs per power iteration (dangling collect + the next round's first
    # action) plus node-count/degree jobs — ~0.3-0.5 s of fixed scheduling
    # latency each even on a 21-node domain graph. When the DISTINCT edge
    # set is small enough to collect, the gate (which materializes the
    # persisted edges) + one cached collect computes the identical
    # trajectory on the driver: same per-round HALF_UP
    # 6-digit rounding (Catalyst's BigDecimal.valueOf semantics —
    # _round_half_up6), exact fsum for the two order-sensitive sums (the
    # 6-digit round absorbs summation-order ulps, the same tolerance
    # argument the unrolled-CTE DuckDB oracle already relies on).
    # Bit-identical outputs are pinned by the committed differential in
    # tests/test_pagerank_reference_vectors.py; graphs above the bound
    # take the unchanged distributed loop, as does ``checkpoint=False``
    # (the documented keep-the-lazy-lineage mode — plan inspection and
    # the differential's distributed side both need the real loop).
    rows = bounded_collect(e) if checkpoint else None
    if rows is not None:
        out = _pagerank_driver(edges.sparkSession, rows, damping, iters)
        e.unpersist()
        return out
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n_nodes = nodes.count()
    if n_nodes == 0:
        # the SQL twin yields zero rows on an empty/all-NULL edge table —
        # match it instead of dividing by zero in the base rank
        e.unpersist()
        nodes.unpersist()
        return edges.sparkSession.createDataFrame(
            [], "node string, rank double, out_deg bigint, in_deg bigint"
        )
    out_deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )
    in_deg = e.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).alias("in_deg")
    )
    base = (1.0 - damping) / n_nodes
    # node-count-gated broadcast: identity above the gate so Catalyst
    # plans a plain (shuffled) equi-join for huge graphs
    _bc = F.broadcast if n_nodes <= broadcast_max_nodes else (lambda df: df)
    ranks = nodes.join(_bc(out_deg), "node", "left").select(
        "node",
        F.coalesce(F.col("out_deg"), F.lit(0)).alias("out_deg"),
        F.round(F.lit(1.0 / n_nodes), 6).alias("rank"),
    )
    for _ in range(iters):
        # truncate lineage each round (the dedup_clusters iteration
        # discipline) — the rank table is |domains|-sized. LAZY checkpoint:
        # the dangling-mass collect below is this round's first action and
        # materializes it, so each iteration costs ONE job instead of two
        # (eager checkpoint + collect) — the connected_components
        # convergence-agg pattern.
        if checkpoint:
            ranks = ranks.localCheckpoint(eager=False)
        dangling = (
            ranks.where(F.col("out_deg") == 0).agg(
                F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm")
            )
        ).collect()[0]["dm"]
        contrib = (
            e.join(_bc(ranks), e.src == ranks.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("rank") / F.col("out_deg")).alias("inflow"))
        )
        ranks = ranks.select("node", "out_deg").join(
            _bc(contrib), "node", "left"
        ).select(
            "node",
            "out_deg",
            F.round(
                F.lit(base)
                + F.lit(damping)
                * (F.coalesce(F.col("inflow"), F.lit(0.0)) + F.lit(dangling / n_nodes)),
                6,
            ).alias("rank"),
        )
    out = ranks.join(_bc(in_deg), "node", "left").select(
        "node",
        "rank",
        F.col("out_deg").cast("bigint").alias("out_deg"),
        F.coalesce(F.col("in_deg"), F.lit(0)).cast("bigint").alias("in_deg"),
    )
    if checkpoint:
        out = out.localCheckpoint()
        e.unpersist()
        nodes.unpersist()
    return out


def _pagerank_driver(spark, edge_rows, damping: float, iters: int) -> DataFrame:
    """Driver-side twin of the distributed pagerank loop for bounded
    graphs: identical formula, identical per-round HALF_UP rounding,
    exact (fsum) summation where the distributed plan's float-sum order
    is arbitrary. ``edge_rows`` are the collected DISTINCT non-NULL
    (src, dst) string rows."""
    import math

    schema = "node string, rank double, out_deg bigint, in_deg bigint"
    edges = [(r[0], r[1]) for r in edge_rows]
    if not edges:
        return spark.createDataFrame([], schema)
    out_deg: dict = {}
    in_deg: dict = {}
    for s, d in edges:
        out_deg[s] = out_deg.get(s, 0) + 1
        in_deg[d] = in_deg.get(d, 0) + 1
    nodes = set(out_deg) | set(in_deg)
    n = len(nodes)
    base = (1.0 - damping) / n
    rank = dict.fromkeys(nodes, _round_half_up6(1.0 / n))
    for _ in range(iters):
        dangling = math.fsum(rank[v] for v in nodes if v not in out_deg)
        dang_per = dangling / n
        inflow: dict = {}
        for s, d in edges:
            inflow.setdefault(d, []).append(rank[s] / out_deg[s])
        rank = {
            v: _round_half_up6(
                base
                + damping * (math.fsum(inflow.get(v, ())) + dang_per)
            )
            for v in nodes
        }
    rows = [
        (v, rank[v], out_deg.get(v, 0), in_deg.get(v, 0)) for v in sorted(nodes)
    ]
    return spark.createDataFrame(rows, schema)


def pagerank_sql(
    edges_cte: str,
    damping: float = 0.85,
    iters: int = 3,
) -> str:
    """The identical fixed-iteration PageRank as unrolled ANSI SQL CTEs.
    ``edges_cte`` must be the NAME of a CTE/view with (src, dst)
    columns; returns a full SELECT ending in (node, rank, out_deg,
    in_deg). Iterations are unrolled (r0..r{iters}) — same per-round
    6-digit rounding, same uniform dangling redistribution."""
    d = damping
    parts = [
        f"e AS (SELECT DISTINCT src, dst FROM {edges_cte}"
        " WHERE src IS NOT NULL AND dst IS NOT NULL)",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "nn AS (SELECT count(*) AS n FROM nodes)",
        "od AS (SELECT src AS node, count(*) AS out_deg FROM e GROUP BY 1)",
        "idg AS (SELECT dst AS node, count(*) AS in_deg FROM e GROUP BY 1)",
        "r0 AS (SELECT nodes.node, coalesce(od.out_deg, 0) AS out_deg,"
        " round(1.0 / nn.n, 6) AS rank"
        " FROM nodes LEFT JOIN od USING (node) CROSS JOIN nn)",
    ]
    for k in range(iters):
        p, c = f"r{k}", f"r{k + 1}"
        parts.append(
            f"dm{k} AS (SELECT coalesce(sum(rank), 0) AS dm FROM {p}"
            " WHERE out_deg = 0)"
        )
        parts.append(
            f"in{k} AS (SELECT e.dst AS node, sum({p}.rank / {p}.out_deg)"
            f" AS inflow FROM e JOIN {p} ON e.src = {p}.node GROUP BY 1)"
        )
        parts.append(
            f"{c} AS (SELECT {p}.node, {p}.out_deg,"
            f" round((1.0 - {d}) / nn.n + {d} * (coalesce(in{k}.inflow, 0)"
            f" + dm{k}.dm / nn.n), 6) AS rank"
            f" FROM {p} LEFT JOIN in{k} USING (node)"
            f" CROSS JOIN nn CROSS JOIN dm{k})"
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT r{iters}.node, r{iters}.rank,"
        f" CAST(r{iters}.out_deg AS BIGINT) AS out_deg,"
        " CAST(coalesce(idg.in_deg, 0) AS BIGINT) AS in_deg"
        f" FROM r{iters} LEFT JOIN idg USING (node)"
    )


def rank_weighted_mix(
    ranks: DataFrame,
    doc_counts: DataFrame,
    alpha: float = 0.5,
    budget: int = 150,
    round_digits: int = 6,
) -> DataFrame:
    """Authority-weighted domain sampling rates — PageRank composed into
    the mixing stage: target share of domain d ∝ rank_d^alpha, keep rate
    ``min(1, budget·share/n_docs)`` (the temperature_mix_rates rule with
    authority replacing raw size, so high-centrality domains are
    oversampled relative to their volume).

    ``ranks``: (node, rank) from :func:`pagerank`; ``doc_counts``:
    (domain, n_docs). Domains are matched by INNER join — a ranked node
    with no documents (a pure link sink) has nothing to sample and drops
    out, and the weight normalizer is computed over the matched set
    only. Both tables are domain-sized: every join/broadcast is tiny
    regardless of corpus size.

    Returns (domain, n_docs, rank, share, keep_rate, expected_kept),
    rounded like the sampling-family operators so the SQL twin replays
    it exactly.
    """
    j = doc_counts.join(
        F.broadcast(ranks.select(F.col("node").alias("domain"), "rank")), "domain"
    )
    w = F.pow(F.col("rank"), F.lit(float(alpha)))
    z = j.agg(F.sum(F.pow(F.col("rank"), F.lit(float(alpha)))).alias("__z"))
    j = j.crossJoin(F.broadcast(z))
    share = w / F.col("__z")
    rate = F.least(
        F.lit(1.0), F.lit(float(budget)) * share / F.col("n_docs")
    )
    return j.select(
        "domain",
        "n_docs",
        "rank",
        F.round(share, round_digits).alias("share"),
        F.round(rate, round_digits).alias("keep_rate"),
        F.round(rate * F.col("n_docs"), 2).alias("expected_kept"),
    )
