"""The link graph and the URL space: synthetic and extracted link pages,
PageRank (plain, personalized as TrustRank, incremental), HITS, label
propagation, degree, reciprocity and triangle audits, the crawl
frontier and its schedule, recrawl cadence and the composed crawl
plan, redirects, canonical clusters, sitemaps and feeds, and the
URL-space audits (templates, pagination, registrable domains,
parameters, typosquats, subdomain fan-out).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from readembedability_spark.harness import (
    html_page,
    salted_extract,
    synthetic_pages,
)
from readembedability_spark.queries import (
    _iterate,
    _local_checkpoint,
    _parts_for,
    _persist,
    _resize,
    _t,
    _unroll,
    q,
)
from readembedability_spark.schemas import local_table
from readembedability_spark.text_signals import (
    alpha_ratio,
    synthetic_host,
)


_PR_ITERS = 3
_PR_DAMP = 0.85

#: one unrolled PageRank iteration, parameterized by table names so
#: the same update serves the plain graph (_pr_iters_sql) and both
#: phases of q_pagerank_incremental:
#: rank = (1-d)/N + d * (Σ_in rank/deg + dangling_mass/N).
_PR_GEN_ITER_SQL = """
    {dm}{t} AS (
      SELECT COALESCE(SUM(rp.r), 0) AS m
      FROM {r}{p} rp JOIN {sinks} USING (v)),
    {r}{t} AS (
      SELECT {nodes}.v,
             {teleport} / {nn}.n
               + {damp} * (COALESCE(SUM(rp.r / {deg}.d), 0)
                           + MAX({dm}{t}.m) / {nn}.n)
               AS r
      FROM {nodes} CROSS JOIN {nn} CROSS JOIN {dm}{t}
      LEFT JOIN {edges} ON {edges}.dst = {nodes}.v
      LEFT JOIN {r}{p} rp ON rp.v = {edges}.src
      LEFT JOIN {deg} ON {deg}.src = {edges}.src
      GROUP BY {nodes}.v, {nn}.n)
"""


def _pr_gen_iters(iters, r, dm, nodes, nn, edges, deg, sinks) -> str:
    return _unroll(
        _PR_GEN_ITER_SQL,
        iters,
        r=r,
        dm=dm,
        nodes=nodes,
        nn=nn,
        edges=edges,
        deg=deg,
        sinks=sinks,
        teleport=round(1 - _PR_DAMP, 2),
        damp=_PR_DAMP,
    )


def _pr_iters_sql() -> str:
    return _pr_gen_iters(
        _PR_ITERS, "r", "dm", "nodes", "nn", "edges", "deg", "sinks"
    )


#: shared oracle prelude for the synthetic rule graph: edge rules,
#: node set, out-degrees and the sink set — reused verbatim by
#: q_pagerank and q_trustrank so both oracles walk the SAME graph.
_PR_GRAPH_SQL = """
    edges AS (
      SELECT DISTINCT src, dst FROM (
        SELECT event_id % 50 AS src, (event_id * 7 + 3) % 50 AS dst
        FROM events
        UNION ALL
        SELECT event_id % 50 AS src,
               (event_id % 50 * 3 + event_id % 7) % 50 AS dst
        FROM events)
      WHERE src <> dst AND src % 11 <> 0),
    nodes AS (SELECT DISTINCT src AS v FROM edges
              UNION SELECT DISTINCT dst FROM edges),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
    sinks AS (
      SELECT nodes.v FROM nodes LEFT JOIN deg ON deg.src = nodes.v
      WHERE deg.src IS NULL)"""


@q(
    f"""
    WITH {_PR_GRAPH_SQL},
    r0 AS (SELECT v, 1.0 / nn.n AS r FROM nodes CROSS JOIN nn),
    {_pr_iters_sql()}
    SELECT v AS node, ROUND(r, 6) AS pr FROM r{_PR_ITERS}
    """,
)
def q_pagerank(spark, sf_dir):
    """PageRank power iteration (the weighted-propagation graph op
    beside connected components — domain authority over the link graph
    is a classic crawl-curation prior): a deterministic synthetic link
    graph derived from events (two edge rules so degrees are
    non-uniform; out-edges of nodes ≡ 0 mod 11 are dropped so the graph
    contains real SINKS), damping 0.85, exactly _PR_ITERS unrolled
    iterations so the oracle mirrors them. Each iteration is one
    edges⋈ranks join (shuffle keyed by dst) plus a groupBy(v), PLUS the
    dangling-mass term (VERDICT r03 #8): sink nodes' rank is summed
    (1-row broadcast per iteration) and redistributed uniformly —
    without it rank mass leaks every iteration on any real web graph,
    where sinks are the norm (PDFs, images, crawl-frontier leaves)."""
    return _pagerank(spark, _rule_edges(spark, sf_dir))


def _rule_edges(spark, sf_dir, ev_filter=None):
    """The synthetic rule graph (mirrors _PR_GRAPH_SQL's edges CTE) —
    shared by q_pagerank and q_trustrank. ``ev_filter`` restricts the
    EVENT rows before the edge rules apply (q_pagerank_incremental's
    prior-crawl subgraph); None keeps the full graph."""
    ev = _t(spark, sf_dir, "events")
    if ev_filter is not None:
        ev = ev.filter(ev_filter)
    ruleA = ev.select(
        (F.col("event_id") % 50).alias("src"),
        ((F.col("event_id") * 7 + 3) % 50).alias("dst"),
    )
    ruleB = ev.select(
        (F.col("event_id") % 50).alias("src"),
        ((F.col("event_id") % 50 * 3 + F.col("event_id") % 7) % 50).alias("dst"),
    )
    return (
        ruleA.unionByName(ruleB)
        .filter(
            (F.col("src") != F.col("dst")) & (F.col("src") % 11 != 0)
        )
        .distinct()
    )


def _graph_nodes(edges):
    """(edges, nodes, rank_parts) — the shared preamble of every graph
    fixpoint operator (_pagerank / q_hits / q_label_prop): checkpoint
    the iteration-invariant edge table, derive + persist the node set,
    and size the per-round score-table partitioning from the node
    count (VERDICT r04 #3 — on the synthetic 50-node graph this
    resolves to 1 partition; a billion-node web graph fans the score
    table out instead of funneling every round's checkpoint through a
    single task). One copy so a sizing fix reaches all three loops."""
    edges = _local_checkpoint(edges, eager=False)  # tiny; frozen across iterations
    nodes = _persist(
        edges.select(F.col("src").alias("v"))
        .union(edges.select(F.col("dst").alias("v")))
        .distinct()
    )
    rank_parts = _parts_for(nodes.count())
    return edges, _resize(nodes, rank_parts), rank_parts


def _pagerank(spark, edges, seeds=None):
    """Rounded (node, pr) projection of `_pagerank_loop` — the shape
    every gate query returns."""
    r = _pagerank_loop(spark, edges, seeds=seeds)
    return r.select(F.col("v").alias("node"), F.round("r", 6).alias("pr"))


def _pagerank_loop(spark, edges, seeds=None, iters=_PR_ITERS, init=None):
    """The PageRank power-iteration loop over any (src, dst) edge
    table, returning the RAW (v, r) rank table — shared by q_pagerank
    (synthetic rule graph), q_pagerank_links (the graph EXTRACTED from
    pages by A-23) and q_pagerank_incremental (warm-start admission).

    With `seeds` (a (v)-column DataFrame) the teleport vector is
    PERSONALIZED: mass jumps (and dangling mass returns) only to seed
    nodes, each at 1/|seeds| — the TrustRank variant (q_trustrank).
    The uniform path is kept expression-identical to its long-green
    hash (teleport (1−d)/n as a single division), while the seeded
    path multiplies by the per-node teleport share s(v), mirroring
    its own oracle exactly.

    With `init` (a (v, r) DataFrame) the loop WARM-STARTS: r0(v) =
    init.r where present else 1/n (new nodes enter at the uniform
    share). The PageRank update is an affine contraction, so the
    fixpoint is init-independent — a near-fixpoint init just needs
    far fewer iterations (`iters`) to re-converge, which is the whole
    economics of incremental admission."""
    # nodes/deg/sinks are iteration-invariant and referenced inside
    # every iteration's lineage — persisted once so no per-iteration
    # recompute (each carries a shuffle of its own); preamble shared
    # via _graph_nodes.
    edges, nodes, rank_parts = _graph_nodes(edges)
    nn = nodes.agg(F.count("*").alias("n"))
    deg = _resize(
        _persist(edges.groupBy("src").agg(F.count("*").alias("d"))),
        rank_parts,
    )
    # sink set is iteration-invariant: nodes with no out-edges
    sinks = _persist(
        nodes.join(deg.select(F.col("src").alias("v")), "v", "left_anti")
    )
    # every round rebuilds rank over `base`, spreading the teleport and
    # the dangling mass uniformly (1/n) or, with seeds, by the per-node
    # teleport share s(v)
    base = nodes.crossJoin(F.broadcast(nn))

    def spread(x):
        return x / F.col("n") if seeds is None else x * F.col("s")

    if seeds is not None:
        # per-node teleport share s(v) = 1/|seeds| on seeds else 0 —
        # iteration-invariant, node-count-sized, persisted once (it is
        # read twice per iteration: teleport term + dangling return)
        ns = F.broadcast(seeds.agg(F.count("*").alias("ns")))
        base = _persist(
            _resize(
                nodes.join(
                    seeds.select(F.col("v"), F.lit(1).alias("_seed")),
                    "v",
                    "left",
                ).crossJoin(ns)
                .select(
                    "v",
                    F.when(
                        F.col("_seed").isNotNull(),
                        F.lit(1.0) / F.col("ns"),
                    )
                    .otherwise(F.lit(0.0))
                    .alias("s"),
                ),
                rank_parts,
            )
        )
        r = base.select("v", F.col("s").alias("r"))
    elif init is not None:
        r = base.join(
            init.select("v", F.col("r").alias("_ri")), "v", "left"
        ).select(
            "v", F.coalesce(F.col("_ri"), F.lit(1.0) / F.col("n")).alias("r")
        )
    else:
        r = base.select("v", (F.lit(1.0) / F.col("n")).alias("r"))

    def step(r):
        contrib = (
            edges.join(r.select(F.col("v").alias("src"), "r"), "src")
            .join(deg, "src")
            .groupBy(F.col("dst").alias("v"))
            .agg(F.sum(F.col("r") / F.col("d")).alias("inflow"))
        )
        # dangling mass: rank sitting on sinks this iteration — a
        # 1-row aggregate, broadcast and redistributed
        dm = r.join(sinks, "v").agg(
            F.coalesce(F.sum("r"), F.lit(0.0)).alias("m")
        )
        inflow = F.coalesce("inflow", F.lit(0.0))
        return (
            base.crossJoin(F.broadcast(dm))
            .join(contrib, "v", "left")
            .select(
                "v",
                (
                    spread(F.lit(1 - _PR_DAMP))
                    + F.lit(_PR_DAMP) * (inflow + spread(F.col("m")))
                ).alias("r"),
            )
        )

    # each round reads r twice (contrib + dangling mass); the core's
    # per-round anchor keeps that linear (measured 13x wall at sf0.1
    # without it), on a rank table sized rank_parts = f(node count)
    return _iterate(r, step, iters, rank_parts)[0]


#: one unrolled TrustRank iteration: rank = (1-d)·s(v) + d·(Σ_in r/deg
#: + dangling_mass·s(v)) — identical to _PR_GEN_ITER_SQL except both
#: the teleport and the dangling return are weighted by the
#: personalized seed share s(v) instead of the uniform 1/n.
_TR_ITER_SQL = """
    tdm{t} AS (
      SELECT COALESCE(SUM(rp.r), 0) AS m
      FROM s{p} rp JOIN sinks USING (v)),
    s{t} AS (
      SELECT nodes.v,
             {teleport} * sv.s
               + {damp} * (COALESCE(SUM(rp.r / deg.d), 0)
                           + MAX(tdm{t}.m) * sv.s)
               AS r
      FROM nodes JOIN sv ON sv.v = nodes.v CROSS JOIN tdm{t}
      LEFT JOIN edges ON edges.dst = nodes.v
      LEFT JOIN s{p} rp ON rp.v = edges.src
      LEFT JOIN deg ON deg.src = edges.src
      GROUP BY nodes.v, sv.s)
"""


@q(
    f"""
    WITH {_PR_GRAPH_SQL},
    r0 AS (SELECT v, 1.0 / nn.n AS r FROM nodes CROSS JOIN nn),
    {_pr_iters_sql()},
    seeds AS (SELECT v FROM nodes WHERE v % 7 = 2),
    ns AS (SELECT COUNT(*) AS n FROM seeds),
    sv AS (SELECT nodes.v,
                  CASE WHEN nodes.v % 7 = 2 THEN 1.0 / ns.n
                       ELSE 0.0 END AS s
           FROM nodes CROSS JOIN ns),
    s0 AS (SELECT v, s AS r FROM sv),
    {_unroll(_TR_ITER_SQL, _PR_ITERS, teleport=round(1 - _PR_DAMP, 2),
             damp=_PR_DAMP)}
    SELECT pr.v AS node, pr.pr, tr.trust,
           CASE WHEN pr.pr > 0
                THEN ROUND((pr.pr - tr.trust) / pr.pr, 6)
                ELSE 0.0 END AS spam_mass,
           pr.v % 7 = 2 AS is_seed
    FROM (SELECT v, ROUND(r, 6) AS pr FROM r{_PR_ITERS}) pr
    JOIN (SELECT v, ROUND(r, 6) AS trust FROM s{_PR_ITERS}) tr
      ON pr.v = tr.v
    """,
)
def q_trustrank(spark, sf_dir):
    """TrustRank + spam mass over the synthetic rule graph (the
    crawl-stack spam demotion beside raw authority: personalized
    PageRank seeded at a trusted host whitelist — Gyöngyi/Garcia-Molina
    /Pedersen, VLDB 2004). Seeds = nodes ≡ 2 (mod 7) (a deterministic
    stand-in for a curated whitelist); teleport AND the dangling-mass
    return are personalized to the seed share s(v) = 1/|seeds|, so
    trust only enters the graph through seeds and flows along links.
    spam_mass = (pr − trust)/pr — the fraction of a node's authority
    NOT reachable from trusted seeds; high-pr/high-spam_mass nodes are
    the classic link-spam candidates.

    Plan: TWO _pagerank power loops over the SAME checkpointed edge
    table (uniform + personalized — nodes/deg/sinks each persisted
    per loop, rank tables node-count-partitioned), then one
    node-keyed equi-join of two rounded rank vectors. Per-iteration
    cost is identical to q_pagerank (one dst-keyed shuffle + a 1-row
    dangling broadcast); the seed-share table is node-count-sized and
    persisted once. spam_mass is computed from the 6-digit-rounded
    ranks (identical doubles in both engines); the ELSE 0.0 guard only
    matters beyond ~10^6 nodes where (1−d)/n itself rounds to 0 — at
    that scale the rounding would move into the consumer anyway."""
    edges = _persist(_rule_edges(spark, sf_dir))
    seeds = (
        edges.select(F.col("src").alias("v"))
        .union(edges.select(F.col("dst").alias("v")))
        .distinct()
        .filter(F.col("v") % 7 == 2)
    )
    pr = _pagerank(spark, edges)
    tr = _pagerank(spark, edges, seeds=seeds).withColumnsRenamed(
        {"pr": "trust"}
    )
    return pr.join(tr, "node").select(
        "node",
        "pr",
        "trust",
        F.when(
            F.col("pr") > 0,
            F.round(
                (F.col("pr") - F.col("trust")) / F.col("pr"), 6
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("spam_mass"),
        (F.col("node") % 7 == 2).alias("is_seed"),
    )

#: link-pages synthesis constants: 20 hosts, dst host = (7·doc+3) mod 20
#: (6d ≡ 17 (mod 20) has no solution, so src host ≠ dst host for every
#: doc); hosts ≡ 0 (mod 7) publish no out-links → real sinks at the
#: host level, exercising the dangling-mass term on EXTRACTED edges.
_LINK_HOSTS = 20


def _link_pages(spark, sf_dir):
    """Host-varied pages carrying six anchors per doc — one relative
    (resolves against the page url, L-3), one absolute cross-host
    (never an existing page: 6d ≡ 17 (mod 20) has no solution), one
    absolute pointing at the NEXT doc's real page url (doc_id+1 —
    exists for every doc but the last, so the frontier query has both
    seen and unseen targets), one cross-host AD anchor carrying a
    rel nofollow/sponsored/ugc token rotating on doc_id % 3 (L-8 —
    flagged true, and EXCLUDED by every endorsement consumer: edges,
    frontier, anchor index), one mailto: and one fragment-only (both
    dropped, L-2/L-4) — so the driver gate exercises every L-rule
    through the REAL mapInPandas extractor, the same oracle trick as
    the flagship (harness.html_page, anchors after the content div)."""
    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    src = (F.col("doc_id") % _LINK_HOSTS).cast("string")
    dst = ((F.col("doc_id") * 7 + 3) % _LINK_HOSTS).cast("string")
    nxt_host = ((F.col("doc_id") + 1) % _LINK_HOSTS).cast("string")
    nxt_id = (F.col("doc_id") + 1).cast("string")
    # ad host ≠ src host for every doc: 5d+2 ≡ d (mod 20) needs
    # 4d ≡ 18 (mod 20), unsolvable (gcd(4,20)=4 ∤ 18)
    ad_host = ((F.col("doc_id") * 5 + 2) % _LINK_HOSTS).cast("string")
    rel = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("nofollow"))
        .when(F.col("doc_id") % 3 == 1, F.lit("sponsored"))
        .otherwise(F.lit("ugc noopener"))
    )
    url = F.concat(F.lit("https://h"), src, F.lit(".example.com/d/"), did)
    html = html_page(
        after=[
            F.lit('<a href="/local/'),
            did,
            F.lit('">l</a> <a href="https://h'),
            dst,
            F.lit(".example.com/d/"),
            did,
            # the cross-host anchor's TEXT is the doc's first word —
            # gives q_anchor_text_index a non-trivial per-host term
            # distribution the oracle can replay from the text column
            F.lit('">'),
            F.split("text", " ").getItem(0),
            F.lit('</a> <a href="https://h'),
            nxt_host,
            F.lit(".example.com/d/"),
            nxt_id,
            F.lit('">n</a> <a rel="'),
            rel,
            F.lit('" href="https://h'),
            ad_host,
            F.lit(".example.com/ad/"),
            did,
            F.lit('">ad</a> <a href="mailto:u@example.com">m</a>'
                  ' <a href="#top">t</a>'),
        ]
    )
    return synthetic_pages(docs, url, html)


def _extracted_links(spark, sf_dir):
    """(url, li, link, nofollow) through the full extraction stage;
    endorsement consumers (edges, frontier, anchor index) filter
    ``~nofollow`` (L-8)."""
    return (
        salted_extract(_link_pages(spark, sf_dir))
        .select(
            "url",
            F.posexplode(F.arrays_zip("links", "link_nofollow")),
        )
        .select(
            "url",
            (F.col("pos") + 1).cast("long").alias("li"),
            F.col("col.links").alias("link"),
            F.col("col.link_nofollow").alias("nofollow"),
        )
    )


#: generic url → host pattern of the frontier cores; on the synthetic
#: link pages it yields the same hosts as the synthesis-shaped
#: patterns the rank queries use.
HOST_RE = r"https?://([^/?#]+)"


def unseen_links_from(links, pages):
    """Distinct outbound ``link``s of ``links`` that are not a page
    ``url`` — a url-keyed anti-join with no broadcast assumption on
    either side."""
    return (
        links.select("link")
        .distinct()
        .join(pages.select("url"), F.col("link") == F.col("url"), "left_anti")
    )


def frontier_counts_from(unseen):
    """(host, n_unseen): the unseen links rolled up per target host."""
    return unseen.groupBy(
        F.regexp_extract("link", HOST_RE, 1).alias("host")
    ).agg(F.count("*").cast("long").alias("n_unseen"))


def frontier_schedule_from(unseen, counts, authority, k):
    """Authority-prioritized, politeness-capped crawl schedule: at most
    ``k`` unseen links per host (ROW_NUMBER <= k, planned as a
    WindowGroupLimit that pre-prunes map-side), priority = host
    authority x unseen count. ``counts`` is frontier_counts_from's
    (host, n_unseen) and ``authority`` a (host, authority) table; both
    are host-cardinality, equi-joined with no forced broadcast, and a
    host with no authority schedules at priority 0."""
    fh = unseen.select(
        F.regexp_extract("link", HOST_RE, 1).alias("host"), "link"
    )
    w = Window.partitionBy("host").orderBy("link")
    ranked = fh.withColumn(
        "slot", F.row_number().over(w).cast("long")
    ).filter(F.col("slot") <= k)
    return (
        ranked.join(counts, "host")
        .join(authority, "host", "left")
        .select(
            "host",
            "slot",
            "link",
            "n_unseen",
            F.round(
                F.coalesce("authority", F.lit(0.0)) * F.col("n_unseen"), 6
            ).alias("priority"),
        )
    )


@q(
    f"""
    WITH base AS (
      SELECT doc_id, CAST(doc_id % {_LINK_HOSTS} AS VARCHAR) AS s,
             CAST((doc_id * 7 + 3) % {_LINK_HOSTS} AS VARCHAR) AS t,
             CAST((doc_id + 1) % {_LINK_HOSTS} AS VARCHAR) AS u,
             CAST((doc_id * 5 + 2) % {_LINK_HOSTS} AS VARCHAR) AS ad
      FROM documents)
    SELECT 'https://h' || s || '.example.com/d/'
             || CAST(doc_id AS VARCHAR) AS url,
           CAST(1 AS BIGINT) AS li,
           'https://h' || s || '.example.com/local/'
             || CAST(doc_id AS VARCHAR) AS link,
           CAST(FALSE AS BOOLEAN) AS nofollow
    FROM base
    UNION ALL
    SELECT 'https://h' || s || '.example.com/d/'
             || CAST(doc_id AS VARCHAR),
           CAST(2 AS BIGINT),
           'https://h' || t || '.example.com/d/'
             || CAST(doc_id AS VARCHAR),
           CAST(FALSE AS BOOLEAN)
    FROM base
    UNION ALL
    SELECT 'https://h' || s || '.example.com/d/'
             || CAST(doc_id AS VARCHAR),
           CAST(3 AS BIGINT),
           'https://h' || u || '.example.com/d/'
             || CAST(doc_id + 1 AS VARCHAR),
           CAST(FALSE AS BOOLEAN)
    FROM base
    UNION ALL
    SELECT 'https://h' || s || '.example.com/d/'
             || CAST(doc_id AS VARCHAR),
           CAST(4 AS BIGINT),
           'https://h' || ad || '.example.com/ad/'
             || CAST(doc_id AS VARCHAR),
           CAST(TRUE AS BOOLEAN)
    FROM base
    """,
)
def q_extract_links(spark, sf_dir):
    """Outbound-link extraction (A-23) through the REAL extractor,
    driver-hash-checked: every page carries a relative anchor (must
    resolve against the page url), an absolute cross-host anchor
    (kept verbatim minus fragment), a rel-flagged ad anchor (L-8 —
    nofollow/sponsored/ugc rotating per doc, surfaced as the
    positionally aligned boolean) and two junk anchors (mailto:,
    '#top' — must be dropped), so the oracle states the exact
    (url, position, link, nofollow) rows in pure SQL. The links and
    link_nofollow columns ride the existing Arrow batch — zero extra
    passes over the corpus."""
    return _extracted_links(spark, sf_dir)


@q(
    f"""
    WITH edges AS (
      SELECT DISTINCT src, dst FROM (
        SELECT doc_id % {_LINK_HOSTS} AS src,
               (doc_id * 7 + 3) % {_LINK_HOSTS} AS dst
        FROM documents
        UNION ALL
        SELECT doc_id % {_LINK_HOSTS} AS src,
               (doc_id + 1) % {_LINK_HOSTS} AS dst
        FROM documents)
      WHERE src <> dst AND src % 7 <> 0),
    nodes AS (SELECT DISTINCT src AS v FROM edges
              UNION SELECT DISTINCT dst FROM edges),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
    sinks AS (
      SELECT nodes.v FROM nodes LEFT JOIN deg ON deg.src = nodes.v
      WHERE deg.src IS NULL),
    r0 AS (SELECT v, 1.0 / nn.n AS r FROM nodes CROSS JOIN nn),
    {_pr_iters_sql()}
    SELECT v AS node, ROUND(r, 6) AS pr FROM r{_PR_ITERS}
    """,
)
def q_pagerank_links(spark, sf_dir):
    """Domain-authority PageRank over the link graph EXTRACTED by A-23
    (not a synthetic rule graph): host-level edges come from the
    extractor's links column — src host parsed from the page url, dst
    host from each outbound link, self-loops dropped, hosts ≡ 0 mod 7
    suppressed as publishers so the graph has real sinks — then the
    exact _pagerank loop (damping 0.85, dangling-mass redistribution,
    rank-table partitions derived from node count). This is the
    end-to-end pipeline a crawl-curation prior ships: extract →
    host-edge projection → power iteration, all driver-hash-checked
    against DuckDB replaying the synthesis arithmetic."""
    # L-8: nofollow/sponsored edges carry no endorsement — excluded
    # from the authority graph (the ad anchor never becomes an edge)
    links = _extracted_links(spark, sf_dir).filter(~F.col("nofollow"))
    return _pagerank(spark, _host_edges(links))


#: the numeric host id of a synthetic ``https://h<n>.example.com/`` url
_NUM_HOST_RE = r"https://h(\d+)\.example\.com/"


def _host_edges(links):
    """Distinct (src, dst) host-id edges of a (url, link) table:
    self-loops dropped and hosts ≡ 0 mod 7 kept as sinks (no out-edges).
    The authority graph of q_pagerank_links and q_frontier_schedule."""
    return (
        links.select(
            F.regexp_extract("url", _NUM_HOST_RE, 1).cast("long").alias("src"),
            F.regexp_extract("link", _NUM_HOST_RE, 1).cast("long").alias("dst"),
        )
        .filter((F.col("src") != F.col("dst")) & (F.col("src") % 7 != 0))
        .distinct()
    )


@q(
    f"""
    WITH base AS (
      SELECT doc_id, CAST(doc_id % {_LINK_HOSTS} AS VARCHAR) AS s,
             CAST((doc_id * 7 + 3) % {_LINK_HOSTS} AS VARCHAR) AS t,
             CAST((doc_id + 1) % {_LINK_HOSTS} AS VARCHAR) AS u
      FROM documents),
    links AS (
      SELECT 'https://h' || s || '.example.com/local/'
               || CAST(doc_id AS VARCHAR) AS link FROM base
      UNION ALL
      SELECT 'https://h' || t || '.example.com/d/'
               || CAST(doc_id AS VARCHAR) FROM base
      UNION ALL
      SELECT 'https://h' || u || '.example.com/d/'
               || CAST(doc_id + 1 AS VARCHAR) FROM base),
    pages AS (
      SELECT 'https://h' || s || '.example.com/d/'
               || CAST(doc_id AS VARCHAR) AS url FROM base),
    frontier AS (
      SELECT DISTINCT l.link FROM links l
      LEFT JOIN pages p ON p.url = l.link
      WHERE p.url IS NULL)
    SELECT regexp_extract(link, 'https://(h[0-9]+\\.example\\.com)/', 1)
             AS host,
           CAST(COUNT(*) AS BIGINT) AS n_unseen
    FROM frontier GROUP BY 1
    """,
)
def q_crawl_frontier(spark, sf_dir):
    """Crawl-frontier discovery over EXTRACTED links — the third
    member of the extract→graph family and the op a crawler scheduler
    actually runs: distinct outbound links minus the urls already in
    the corpus (left-anti join on url), rolled up per target host.
    The synthesis plants one link per doc at the NEXT doc's real page
    url, so the anti-join genuinely separates seen (doc_id+1 exists)
    from unseen targets (/local/ paths, the cross-host rule with no
    fixed point, and the last doc's successor). At 100 TB both sides
    are url-keyed: the anti-join shuffles on url and AQE handles the
    frontier's host skew; no broadcast assumption on either side."""
    links = _extracted_links(spark, sf_dir).filter(
        ~F.col("nofollow")  # L-8: don't crawl paid links
    )
    return frontier_counts_from(
        unseen_links_from(links, _link_pages(spark, sf_dir))
    )


@q(
    f"""
    WITH base AS (
      SELECT doc_id, CAST(doc_id % {_LINK_HOSTS} AS VARCHAR) AS s,
             CAST((doc_id * 7 + 3) % {_LINK_HOSTS} AS VARCHAR) AS t,
             CAST((doc_id + 1) % {_LINK_HOSTS} AS VARCHAR) AS u,
             string_split(text, ' ')[1] AS w1
      FROM documents),
    anchors AS (
      -- the COALESCE/<>'' guard mirrors the Spark side's term <> ''
      -- filter: a doc whose text is empty (or starts with a space)
      -- yields an empty first word and must not index
      SELECT 'h' || t || '.example.com' AS host, w1 AS term
      FROM base WHERE t <> s AND COALESCE(w1, '') <> ''
      UNION ALL
      SELECT 'h' || u || '.example.com', 'n' FROM base WHERE u <> s)
    SELECT host, term, CAST(COUNT(*) AS BIGINT) AS n
    FROM anchors GROUP BY host, term
    """,
)
def q_anchor_text_index(spark, sf_dir):
    """Anchor-text index over EXTRACTED cross-host anchors (L-7) —
    the classic web-scale retrieval signal: what OTHER sites' link
    text says about a host is a labeled (query, document) pair for
    training retrieval/ranking models. Same-host (navigational)
    anchors and empty texts are excluded; the rollup is
    (target host, term) → count. The synthesis gives each cross-host
    anchor the linking doc's first word, so the oracle replays the
    term distribution from the text column while Spark reads it off
    the REAL extractor's anchor_texts array (positionally aligned
    with links). At 100 TB: one extraction pass (the column rides the
    existing Arrow batch), one explode, one (host, term)-keyed
    map-side-combining shuffle."""
    host_re = r"https://(h\d+\.example\.com)/"
    z = (
        salted_extract(_link_pages(spark, sf_dir))
        .select(
            "url",
            F.explode(
                F.arrays_zip("links", "anchor_texts", "link_nofollow")
            ).alias("z"),
        )
        .select(
            F.regexp_extract("url", host_re, 1).alias("src"),
            F.regexp_extract(F.col("z.links"), host_re, 1).alias("host"),
            F.col("z.anchor_texts").alias("term"),
            F.col("z.link_nofollow").alias("nofollow"),
        )
    )
    return (
        z.filter(
            (F.col("host") != "")
            & (F.col("host") != F.col("src"))
            & (F.col("term") != "")
            # L-8: paid/unendorsed anchor text is spam fodder — the
            # retrieval index only learns from followed links
            & ~F.col("nofollow")
        )
        .groupBy("host", "term")
        .agg(F.count("*").cast("long").alias("n"))
    )


#: politeness cap: at most this many frontier urls scheduled per host
#: per crawl round (the q_host_quota WindowGroupLimit shape).
_SCHEDULE_K = 3


@q(
    f"""
    WITH base AS (
      SELECT doc_id, CAST(doc_id % {_LINK_HOSTS} AS VARCHAR) AS s,
             CAST((doc_id * 7 + 3) % {_LINK_HOSTS} AS VARCHAR) AS t,
             CAST((doc_id + 1) % {_LINK_HOSTS} AS VARCHAR) AS u
      FROM documents),
    links AS (
      SELECT 'https://h' || s || '.example.com/local/'
               || CAST(doc_id AS VARCHAR) AS link FROM base
      UNION ALL
      SELECT 'https://h' || t || '.example.com/d/'
               || CAST(doc_id AS VARCHAR) FROM base
      UNION ALL
      SELECT 'https://h' || u || '.example.com/d/'
               || CAST(doc_id + 1 AS VARCHAR) FROM base),
    pages AS (
      SELECT 'https://h' || s || '.example.com/d/'
               || CAST(doc_id AS VARCHAR) AS url FROM base),
    frontier AS (
      SELECT DISTINCT l.link FROM links l
      LEFT JOIN pages p ON p.url = l.link
      WHERE p.url IS NULL),
    edges AS (
      SELECT DISTINCT src, dst FROM (
        SELECT doc_id % {_LINK_HOSTS} AS src,
               (doc_id * 7 + 3) % {_LINK_HOSTS} AS dst
        FROM documents
        UNION ALL
        SELECT doc_id % {_LINK_HOSTS} AS src,
               (doc_id + 1) % {_LINK_HOSTS} AS dst
        FROM documents)
      WHERE src <> dst AND src % 7 <> 0),
    nodes AS (SELECT DISTINCT src AS v FROM edges
              UNION SELECT DISTINCT dst FROM edges),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
    sinks AS (
      SELECT nodes.v FROM nodes LEFT JOIN deg ON deg.src = nodes.v
      WHERE deg.src IS NULL),
    r0 AS (SELECT v, 1.0 / nn.n AS r FROM nodes CROSS JOIN nn),
    {_pr_iters_sql()},
    authority AS (
      SELECT 'h' || CAST(v AS VARCHAR) || '.example.com' AS host,
             ROUND(r, 6) AS pr
      FROM r{_PR_ITERS}),
    fh AS (
      SELECT regexp_extract(link,
               'https://(h[0-9]+\\.example\\.com)/', 1) AS host, link
      FROM frontier),
    counts AS (SELECT host, COUNT(*) AS n_unseen FROM fh GROUP BY host),
    ranked AS (
      SELECT host, link,
             ROW_NUMBER() OVER (PARTITION BY host ORDER BY link) AS slot
      FROM fh)
    SELECT r.host, CAST(r.slot AS BIGINT) AS slot, r.link,
           CAST(c.n_unseen AS BIGINT) AS n_unseen,
           ROUND(COALESCE(a.pr, 0.0) * c.n_unseen, 6) AS priority
    FROM ranked r JOIN counts c USING (host)
    LEFT JOIN authority a ON a.host = r.host
    WHERE r.slot <= {_SCHEDULE_K}
    """,
)
def q_frontier_schedule(spark, sf_dir):
    """Authority-prioritized crawl schedule (VERDICT r05 missing #3) —
    the artifact a crawl scheduler actually consumes, composing three
    driver-green operators over ONE extraction pass: A-23 links feed
    BOTH the host-authority PageRank (the q_pagerank_links edge rule)
    and the unseen-url frontier (the q_crawl_frontier anti-join); each
    frontier host gets priority = authority x unseen count, and the
    per-host url list is politeness-capped at _SCHEDULE_K slots
    (ROW_NUMBER <= K, planned as a WindowGroupLimit so hot frontier
    hosts pre-prune map-side exactly like q_host_quota). At 100 TB:
    the extracted link table is persisted once; counts and authority
    are host-cardinality (~1e8 rows) equi-joined on host with NO
    forced broadcast (AQE decides — the same table that made the
    crawl-graph job's forced-broadcast annotate stage wrong, VERDICT
    r05 wrong #1); the slot cap bounds the schedule at K x hosts
    rows. Hosts absent from the rank table (unlinked/new) schedule at
    priority 0 via the left join, so discovery never starves."""
    # L-8: the schedule neither ranks authority over nofollow edges
    # nor spends crawl budget on paid links
    links = _persist(
        _extracted_links(spark, sf_dir)
        .filter(~F.col("nofollow"))
        .select("url", "link")
    )
    authority = _pagerank(spark, _host_edges(links)).select(
        F.concat(
            F.lit("h"), F.col("node").cast("string"), F.lit(".example.com")
        ).alias("host"),
        F.col("pr").alias("authority"),
    )
    unseen = unseen_links_from(links, _link_pages(spark, sf_dir))
    return frontier_schedule_from(
        unseen, frontier_counts_from(unseen), authority, _SCHEDULE_K
    )


@q(
    """
    WITH raw AS (
      SELECT event_id,
             CASE WHEN event_id % 2 = 0
               THEN 'https://HOST' || CAST(event_id % 500 AS VARCHAR)
                    || '.Example.COM/page/' || CAST(event_id % 500 AS VARCHAR)
                    || '?ref=' || CAST(event_id % 500 AS VARCHAR)
                    || '&utm_source=feed&utm_campaign=x#frag'
               ELSE 'https://host' || CAST(event_id % 500 AS VARCHAR)
                    || '.example.com/page/' || CAST(event_id % 500 AS VARCHAR)
                    || '?ref=' || CAST(event_id % 500 AS VARCHAR)
             END AS u
      FROM events),
    step1 AS (SELECT regexp_replace(u, '#.*$', '') AS u FROM raw),
    step2 AS (
      SELECT lower(regexp_extract(u, '^https?://[^/]+'))
             || regexp_replace(u, '^https?://[^/]+', '') AS u
      FROM step1),
    norm AS (
      SELECT regexp_replace(u, '[?&]utm_[^&#]*', '', 'g') AS norm_url
      FROM step2)
    SELECT norm_url, COUNT(*) AS n FROM norm GROUP BY norm_url
    """,
)
def q_url_normalize(spark, sf_dir):
    """URL normalization for crawl dedup (the canonical-URL family,
    A-12's table-side sibling): strip fragments, lowercase the
    scheme+authority (ONLY — paths stay case-sensitive), drop utm_*
    tracking params — collapsing raw variants of the same page onto one
    canonical key, then count per key. Row-local regexes (pipelines run
    this as the first projection on the url column before any dedup
    shuffle). Patterns avoid backreferences and rely on `^`-anchored
    replaces so Spark's replace-all and DuckDB's replace-first
    semantics cannot diverge; the multi-occurrence utm strip uses the
    explicit 'g' flag in the oracle."""
    ev = _t(spark, sf_dir, "events")
    b = (F.col("event_id") % 500).cast("string")
    raw = F.when(
        F.col("event_id") % 2 == 0,
        F.concat(
            F.lit("https://HOST"), b, F.lit(".Example.COM/page/"), b,
            F.lit("?ref="), b, F.lit("&utm_source=feed&utm_campaign=x#frag"),
        ),
    ).otherwise(
        F.concat(
            F.lit("https://host"), b, F.lit(".example.com/page/"), b,
            F.lit("?ref="), b,
        )
    )
    u1 = F.regexp_replace(raw, r"#.*$", "")
    auth = F.regexp_extract(u1, r"^https?://[^/]+", 0)
    rest = F.regexp_replace(u1, r"^https?://[^/]+", "")
    u2 = F.concat(F.lower(auth), rest)
    norm = F.regexp_replace(u2, r"[?&]utm_[^&#]*", "")
    return (
        ev.select(norm.alias("norm_url"))
        .groupBy("norm_url")
        .agg(F.count("*").alias("n"))
    )


@q(
    """
    WITH scored AS (
      SELECT 'host' || CAST(doc_id % 50 AS VARCHAR) || '.example.com' AS host,
             len(string_split(text, ' ')) AS n_tokens,
             length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0
               / NULLIF(length(text), 0) AS alpha_ratio
      FROM documents)
    SELECT host, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           ROUND(AVG(alpha_ratio), 4) AS mean_alpha,
           CAST(AVG(alpha_ratio) < 0.7 AS BOOLEAN) AS blocked
    FROM scored GROUP BY host
    """,
)
def q_host_stats(spark, sf_dir):
    """Per-host quality rollup → blocklist derivation (curation
    pipelines gate whole domains, not just documents: a host whose MEAN
    quality is low is boilerplate/spam even when single pages pass).
    One groupBy(host) with map-side partial aggregation; the host key
    is Zipf-skewed on real crawls — AQE skew handling applies, and the
    aggregate state is tiny (4 numbers/host). The derived blocklist is
    what q_resume_anti-style broadcast anti-joins consume upstream."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(
            synthetic_host().alias("host"),
            F.size(F.split("text", " ")).alias("n_tokens"),
            alpha_ratio().alias("alpha_ratio"),
        )
        .groupBy("host")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.round(F.avg("alpha_ratio"), 4).alias("mean_alpha"),
            (F.avg("alpha_ratio") < 0.7).alias("blocked"),
        )
    )


@q(
    f"""
    WITH {_PR_GRAPH_SQL},
    recip AS (
      SELECT e1.src, COUNT(*) AS n_recip
      FROM edges e1 JOIN edges e2
        ON e2.src = e1.dst AND e2.dst = e1.src
      GROUP BY e1.src),
    outd AS (SELECT src, COUNT(*) AS out_deg FROM edges GROUP BY src)
    SELECT outd.src AS node,
           CAST(outd.out_deg AS BIGINT) AS out_deg,
           CAST(COALESCE(recip.n_recip, 0) AS BIGINT) AS n_recip,
           ROUND(COALESCE(recip.n_recip, 0) * 1.0 / outd.out_deg, 4)
             AS recip_rate,
           COALESCE(recip.n_recip, 0) * 2 > outd.out_deg AS farm_suspect
    FROM outd LEFT JOIN recip USING (src)
    """,
)
def q_graph_reciprocity(spark, sf_dir):
    """Link reciprocity per host over the same rule graph q_pagerank /
    q_trustrank walk: the fraction of a host's out-links that point
    back (edge (a,b) with (b,a) also present). Real crawl curation
    uses this as a link-farm signal complementary to TrustRank — farms
    inflate authority by EXCHANGING links, so a high-reciprocity,
    high-degree host is suspect even when its raw PageRank looks
    organic; the farm_suspect flag (reciprocity > 1/2) is an exact
    integer compare (2·n_recip > out_deg), no float threshold.

    Plan/scale: ONE self-equi-join of the edge table keyed on the
    (src, dst) composite — the key is the EDGE, so the shuffle is flat
    even when host degrees are Zipf-skewed — plus two map-side
    combining host rollups and a host-keyed left join; linear in |E|
    with no windows, no broadcast requirement, AQE skew-split applies.
    At 100 TB the edges input is the A-23 extraction output that
    already feeds q_pagerank_links/q_frontier_schedule — one persisted
    pass serves all graph signals."""
    edges = _persist(_rule_edges(spark, sf_dir))
    e2 = edges.select(
        F.col("src").alias("r_src"), F.col("dst").alias("r_dst")
    )
    recip = (
        edges.join(
            e2,
            (F.col("r_src") == F.col("dst"))
            & (F.col("r_dst") == F.col("src")),
        )
        .groupBy("src")
        .agg(F.count("*").alias("n_recip"))
    )
    outd = edges.groupBy("src").agg(F.count("*").alias("out_deg"))
    n_recip = F.coalesce("n_recip", F.lit(0))
    return outd.join(recip, "src", "left").select(
        F.col("src").alias("node"),
        F.col("out_deg").cast("long").alias("out_deg"),
        n_recip.cast("long").alias("n_recip"),
        F.round(n_recip * F.lit(1.0) / F.col("out_deg"), 4)
        .alias("recip_rate"),
        (n_recip * 2 > F.col("out_deg")).alias("farm_suspect"),
    )


@q(
    f"""
    WITH {_PR_GRAPH_SQL},
    degs AS (
      SELECT 'out' AS direction, src AS v, CAST(COUNT(*) AS BIGINT) AS deg
      FROM edges GROUP BY src
      UNION ALL
      SELECT 'in' AS direction, dst AS v, CAST(COUNT(*) AS BIGINT) AS deg
      FROM edges GROUP BY dst)
    SELECT direction,
           CAST(length(bin(deg)) - 1 AS BIGINT) AS size_class,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(SUM(deg) AS BIGINT) AS n_edges
    FROM degs GROUP BY direction, size_class
    """,
)
def q_degree_distribution(spark, sf_dir):
    """In/out degree distribution of the link graph in exact
    power-of-two classes (size_class = ⌊log2 deg⌋ via binary-string
    length — no float log, same trick as q_lsh_bucket_stats): the
    shape audit read BEFORE running PageRank/TrustRank at scale —
    a heavy top out-degree class means scrape-y hub pages that need
    the per-host out-link cap, a heavy top in-degree class means the
    contrib shuffle will skew on dst and AQE skew-split / salting is
    worth enabling. Walks the SAME rule graph as q_pagerank /
    q_trustrank / q_graph_reciprocity so the classes line up with
    those queries' nodes.

    Plan/scale: two map-side combining degree rollups (keyed src /
    dst — the natural edge partitioning), then a ≤2×64-key class
    rollup. Linear in |E|, no joins, no windows; degree skew lands
    in the COUNT aggregates where combining absorbs it."""
    edges = _persist(_rule_edges(spark, sf_dir))
    outd = edges.groupBy(F.col("src").alias("v")).agg(
        F.count("*").cast("long").alias("deg")
    ).select(F.lit("out").alias("direction"), "v", "deg")
    ind = edges.groupBy(F.col("dst").alias("v")).agg(
        F.count("*").cast("long").alias("deg")
    ).select(F.lit("in").alias("direction"), "v", "deg")
    degs = outd.unionByName(ind)
    return (
        degs.select(
            "direction",
            (F.length(F.conv(F.col("deg"), 10, 2)) - 1)
            .cast("long")
            .alias("size_class"),
            "deg",
        )
        .groupBy("direction", "size_class")
        .agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.sum("deg").cast("long").alias("n_edges"),
        )
    )


#: one unrolled HITS iteration: auth ∝ Σ_in hub, hub ∝ Σ_out auth,
#: each L1-normalized by its 1-row sum so scores stay comparable
#: across iterations (and the fixpoint is the principal eigenvector
#: pair of AᵀA / AAᵀ).
_HITS_ITER_SQL = """
    ap{t} AS (
      SELECT nodes.v, COALESCE(SUM(h{p}.r), 0) AS r
      FROM nodes
      LEFT JOIN edges ON edges.dst = nodes.v
      LEFT JOIN h{p} ON h{p}.v = edges.src
      GROUP BY nodes.v),
    asum{t} AS (SELECT SUM(r) AS s FROM ap{t}),
    a{t} AS (SELECT v, r / asum{t}.s AS r FROM ap{t} CROSS JOIN asum{t}),
    hp{t} AS (
      SELECT nodes.v, COALESCE(SUM(a{t}.r), 0) AS r
      FROM nodes
      LEFT JOIN edges ON edges.src = nodes.v
      LEFT JOIN a{t} ON a{t}.v = edges.dst
      GROUP BY nodes.v),
    hsum{t} AS (SELECT SUM(r) AS s FROM hp{t}),
    h{t} AS (SELECT v, r / hsum{t}.s AS r FROM hp{t} CROSS JOIN hsum{t})
"""


def _hits_half_step(nodes, edges, scores, frm, to, rank_parts):
    """One L1-normalized HITS half-step: every node's new score is the
    sum of ``scores`` over the edges whose ``to`` end it is, read at
    their ``frm`` end (src → dst gives authorities from hubs, dst → src
    hubs from authorities). The unnormalized table is read twice (its
    L1 sum and the normalized projection), so it is the per-step
    checkpoint; the normalized projection is a single-read broadcast
    over it and is not materialized."""
    flow = (
        nodes.join(
            edges.join(scores.select(F.col("v").alias(frm), "r"), frm)
            .groupBy(F.col(to).alias("v"))
            .agg(F.sum("r").alias("flow")),
            "v",
            "left",
        )
        .select("v", F.coalesce("flow", F.lit(0.0)).alias("r"))
    )
    flow = _local_checkpoint(_resize(flow, rank_parts), eager=False)
    total = flow.agg(F.sum("r").alias("s"))
    return flow.crossJoin(F.broadcast(total)).select(
        "v", (F.col("r") / F.col("s")).alias("r")
    )


@q(
    f"""
    WITH {_PR_GRAPH_SQL},
    h0 AS (SELECT v, 1.0 / nn.n AS r FROM nodes CROSS JOIN nn),
    {_unroll(_HITS_ITER_SQL, _PR_ITERS)}
    SELECT h.v AS node,
           ROUND(h.r, 6) AS hub,
           ROUND(a.r, 6) AS auth
    FROM h{_PR_ITERS} h JOIN a{_PR_ITERS} a USING (v)
    """,
)
def q_hits(spark, sf_dir):
    """HITS hubs & authorities over the SAME rule graph q_pagerank /
    q_trustrank walk: auth(v) ∝ Σ hub over in-links, hub(v) ∝ Σ auth
    over out-links, L1-normalized each half-step, _PR_ITERS mutual
    iterations mirrored exactly in the oracle. The crawl-curation
    read: PageRank scores the page you WANT, HITS separates the page
    that POINTS WELL (hub — directory/listing pages worth crawling
    for frontier discovery even when their own content is thin) from
    the page pointed AT (authority) — and a node high on hub AND auth
    inside one neighborhood is the link-farm signature TrustRank's
    seed-distance misses when farms interlink densely
    (q_graph_reciprocity's exchange signal, graded continuously).

    Plan/scale: per half-step ONE edges⋈scores equi-join (shuffle
    keyed dst then src — the same flat edge-keyed exchanges PageRank
    ships) + a node-keyed combining rollup + a 1-row L1 sum broadcast
    for the normalization; scores are localCheckpoint'ed per
    iteration like the PageRank loop (each table feeds its sum AND
    the next half-step, so the unchecked lineage doubles per round).
    No degree division, no windows; in-degree skew lands in the
    combining SUM."""
    edges, nodes, rank_parts = _graph_nodes(_rule_edges(spark, sf_dir))
    nn = nodes.agg(F.count("*").alias("n"))
    h = nodes.crossJoin(F.broadcast(nn)).select(
        "v", (F.lit(1.0) / F.col("n")).alias("r")
    )
    a = None
    for _ in range(_PR_ITERS):
        a = _hits_half_step(nodes, edges, h, "src", "dst", rank_parts)
        h = _hits_half_step(nodes, edges, a, "dst", "src", rank_parts)
    return (
        h.select(F.col("v"), F.round("r", 6).alias("hub"))
        .join(
            a.select("v", F.round("r", 6).alias("auth")), "v"
        )
        .select(F.col("v").alias("node"), "hub", "auth")
    )


_LP_ROUNDS = 3

#: one unrolled synchronous label-propagation round: each non-seed
#: node takes the majority label among its in-neighbors' current
#: labels (ties → smallest label); seeds are clamped. The top-1
#: window partitions on the node and ranks its ≤|labels| per-label
#: counts — the same bounded-partition construction as
#: q_host_lang_entropy's dominant language.
_LP_ITER_SQL = """
    cnt{t} AS (
      SELECT e.dst AS v, lp.lab, COUNT(*) AS c
      FROM edges e JOIN lp{p} lp ON lp.v = e.src
      WHERE lp.lab IS NOT NULL
      GROUP BY e.dst, lp.lab),
    top{t} AS (
      SELECT v, lab FROM (
        SELECT v, lab,
               ROW_NUMBER() OVER (PARTITION BY v
                                  ORDER BY c DESC, lab) AS rn
        FROM cnt{t}) WHERE rn = 1),
    lp{t} AS (
      SELECT n.v,
             CASE WHEN n.v % 5 = 0 THEN n.v % 3 ELSE t.lab END AS lab
      FROM nodes n LEFT JOIN top{t} t ON t.v = n.v)
"""


@q(
    f"""
    WITH {_PR_GRAPH_SQL},
    lp0 AS (
      SELECT v, CASE WHEN v % 5 = 0 THEN v % 3 END AS lab FROM nodes),
    {_unroll(_LP_ITER_SQL, _LP_ROUNDS)}
    SELECT v AS node,
           CAST(lab AS BIGINT) AS label,
           v % 5 = 0 AS is_seed,
           lab IS NOT NULL AS labeled
    FROM lp{_LP_ROUNDS}
    """,
)
def q_label_prop(spark, sf_dir):
    """Semi-supervised label propagation over the shared rule graph:
    topic/spam labels known for a seed set (rule: nodes ≡ 0 mod 5
    carry label v mod 3) spread to unlabeled nodes, each round
    replacing a non-seed node's label with the MAJORITY label among
    its in-neighbors (deterministic tie-break: smallest label; seeds
    clamped; {_LP_ROUNDS} synchronous rounds mirrored exactly in the
    oracle). This is the crawl-curation workhorse for stretching a
    small labeled set — a few hand-labeled spam/quality/topic hosts
    classify the whole link graph — complementing the CONTENT
    classifier (q_model_score) with a pure GRAPH signal, and unlike
    PageRank/HITS it is integer-exact end to end (majority counts and
    labels, no floats anywhere).

    Plan/scale: per round ONE edges⋈labels equi-join (shuffle keyed
    src then the dst-keyed count rollup — flat, edge-keyed) + a top-1
    window whose partitions are the ≤|labels| per-node count rows
    (bounded by the label alphabet, NOT the graph — the
    q_host_lang_entropy construction) + a node-keyed left join;
    labels are localCheckpoint'ed per round (read by count AND
    carry-forward). Rounds are a fixed small constant — label
    propagation saturates in a few hops on web graphs."""
    edges, nodes, rank_parts = _graph_nodes(_rule_edges(spark, sf_dir))
    seed_lab = F.when(F.col("v") % 5 == 0, F.col("v") % 3)
    w = Window.partitionBy("v").orderBy(F.desc("c"), F.asc("lab"))

    def propagate(lp):
        cnt = (
            edges.join(
                lp.filter(F.col("lab").isNotNull()).select(
                    F.col("v").alias("src"), "lab"
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("v"), "lab")
            .agg(F.count("*").alias("c"))
        )
        top = (
            cnt.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("v", F.col("lab").alias("t_lab"))
        )
        return nodes.join(top, "v", "left").select(
            "v", F.coalesce(seed_lab, F.col("t_lab")).alias("lab")
        )

    lp0 = nodes.select("v", seed_lab.alias("lab"))
    lp, _ = _iterate(lp0, propagate, _LP_ROUNDS, rank_parts)
    return lp.select(
        F.col("v").alias("node"),
        F.col("lab").cast("long").alias("label"),
        (F.col("v") % 5 == 0).alias("is_seed"),
        F.col("lab").isNotNull().alias("labeled"),
    )


#: incremental re-convergence budget: a near-fixpoint warm start needs
#: far fewer power iterations than a cold restart — that gap is the
#: entire economics of per-batch authority updates.
_PR_INC_ITERS = 2


@q(
    f"""
    WITH oedges AS (
      SELECT DISTINCT src, dst FROM (
        SELECT event_id % 50 AS src, (event_id * 7 + 3) % 50 AS dst
        FROM events WHERE event_id % 5 <> 0
        UNION ALL
        SELECT event_id % 50 AS src,
               (event_id % 50 * 3 + event_id % 7) % 50 AS dst
        FROM events WHERE event_id % 5 <> 0)
      WHERE src <> dst AND src % 11 <> 0),
    onodes AS (SELECT DISTINCT src AS v FROM oedges
               UNION SELECT DISTINCT dst FROM oedges),
    onn AS (SELECT COUNT(*) AS n FROM onodes),
    odeg AS (SELECT src, COUNT(*) AS d FROM oedges GROUP BY src),
    osinks AS (
      SELECT onodes.v FROM onodes LEFT JOIN odeg ON odeg.src = onodes.v
      WHERE odeg.src IS NULL),
    o0 AS (SELECT v, 1.0 / onn.n AS r FROM onodes CROSS JOIN onn),
    {_pr_gen_iters(_PR_ITERS, "o", "om", "onodes", "onn",
                   "oedges", "odeg", "osinks")},
    {_PR_GRAPH_SQL},
    i0 AS (SELECT nodes.v, COALESCE(o{_PR_ITERS}.r, 1.0 / nn.n) AS r
           FROM nodes CROSS JOIN nn
           LEFT JOIN o{_PR_ITERS} ON o{_PR_ITERS}.v = nodes.v),
    {_pr_gen_iters(_PR_INC_ITERS, "i", "im", "nodes", "nn",
                   "edges", "deg", "sinks")}
    SELECT fin.v AS node, ROUND(fin.r, 6) AS pr,
           onodes.v IS NULL AS is_new
    FROM i{_PR_INC_ITERS} fin LEFT JOIN onodes ON onodes.v = fin.v
    """,
)
def q_pagerank_incremental(spark, sf_dir):
    """Incremental PageRank admission (VERDICT r07 #6) — the graph
    sibling of q_dedup_incremental's O(batch) admission: when a new
    crawl batch lands, host authority is UPDATED from the prior ranks
    instead of recomputed from scratch. Prior crawl = the rule graph
    restricted to events with event_id % 5 != 0, converged for
    _PR_ITERS rounds from uniform; the batch unions in the remaining
    edges, and the full graph re-converges for only _PR_INC_ITERS
    rounds WARM-STARTED from the prior ranks (new nodes enter at the
    uniform 1/n share). The PageRank update is an affine contraction,
    so the fixpoint is init-independent — the warm start just lands
    near it, which is why 2 rounds suffice where a cold restart needs
    the full budget (pinned by test_round8's fixpoint-convergence
    test). is_new flags nodes the batch introduced.

    Plan/scale: both phases ride the SHARED `_pagerank_loop` (edge
    join + 1-row dangling broadcast + per-round localCheckpoint; cost
    class identical to q_pagerank per round). At 10^9 hosts the win is
    the ROUND COUNT: prior ranks are a table you already have, the
    batch union is O(batch) edges, and re-convergence is ~2 rounds —
    the full-restart alternative re-pays every round on every batch.
    Oracle: the same warm + incremental unroll via the
    table-parameterized iteration template."""
    old_filter = F.col("event_id") % 5 != 0
    old_edges = _rule_edges(spark, sf_dir, ev_filter=old_filter)
    full_edges = _rule_edges(spark, sf_dir)
    warm = _pagerank_loop(spark, old_edges)
    r = _pagerank_loop(
        spark, full_edges, iters=_PR_INC_ITERS, init=warm
    )
    old_nodes = (
        old_edges.select(F.col("src").alias("v"))
        .union(old_edges.select(F.col("dst").alias("v")))
        .distinct()
    )
    return (
        r.join(old_nodes.withColumn("_old", F.lit(1)), "v", "left")
        .select(
            F.col("v").alias("node"),
            F.round("r", 6).alias("pr"),
            F.col("_old").isNull().alias("is_new"),
        )
    )


@q(
    """
    WITH f AS (
      SELECT user_id AS host, ts,
             CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END AS changed
      FROM events),
    h AS (
      SELECT host,
             CAST(COUNT(*) AS BIGINT) AS n_fetches,
             CAST(SUM(changed) AS BIGINT) AS n_changes,
             epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS span_us
      FROM f GROUP BY host HAVING COUNT(*) >= 2 AND
            epoch_us(MAX(ts)) - epoch_us(MIN(ts)) > 0),
    est AS (
      SELECT host, n_fetches, n_changes,
             span_us / 3600000000.0 AS span_hours,
             -ln((n_fetches - n_changes + 0.5) / (n_fetches + 0.5))
               / (span_us / 3600000000.0 / (n_fetches - 1))
               AS lam
      FROM h)
    SELECT host, n_fetches, n_changes,
           ROUND(span_hours, 4) AS span_hours,
           ROUND(lam, 6) AS lambda_per_hour,
           ROUND(LEAST(168.0, 1.0 / lam), 4) AS recrawl_hours
    FROM est
    """,
)
def q_recrawl_schedule(spark, sf_dir):
    """Change-rate-driven recrawl scheduling (Cho & Garcia-Molina
    2003): per host, estimate the Poisson page-change rate λ from a
    revisit history — n fetches over a span, X of which observed a
    change — with the bias-corrected estimator
    λ̂ = −ln((n − X + ½)/(n + ½)) / Ī, Ī the mean inter-fetch
    interval; the recrawl interval is 1/λ̂ capped at a week. This is
    the frequency half of crawl scheduling (q_frontier_schedule ranks
    WHO to fetch; this decides HOW OFTEN to come back). The revisit
    log is the events stream (host = user_id, deterministic change
    indicator event_id % 3 = 0); the continuity correction keeps λ̂
    finite at X = 0 (never-changing hosts get the cap) and X = n
    (always-changing hosts get the fetch cadence itself).

    Determinism: n and X are exact integers; the span is exact
    integer MICROSECONDS (epoch_us / timestampdiff — the TS columns
    are TIMESTAMP_NTZ), so both engines feed ln identical doubles.
    Plan/scale: ONE map-side-combining groupBy(host) with min/max/sum
    state, then row-local math over the host table — no window, no
    per-event shuffle beyond the rollup, any host cardinality."""
    ev = _t(spark, sf_dir, "events")
    f = ev.select(
        F.col("user_id").alias("host"),
        "ts",
        F.when(F.col("event_id") % 3 == 0, 1).otherwise(0).alias("changed"),
    )
    h = (
        f.groupBy("host")
        .agg(
            F.count("*").cast("long").alias("n_fetches"),
            F.sum("changed").cast("long").alias("n_changes"),
            F.expr("timestampdiff(MICROSECOND, min(ts), max(ts))").alias(
                "span_us"
            ),
        )
        .filter((F.col("n_fetches") >= 2) & (F.col("span_us") > 0))
    )
    span_hours = F.col("span_us") / F.lit(3600000000.0)
    lam = -F.log(
        (F.col("n_fetches") - F.col("n_changes") + 0.5)
        / (F.col("n_fetches") + 0.5)
    ) / (span_hours / (F.col("n_fetches") - 1))
    return h.select(
        "host",
        "n_fetches",
        "n_changes",
        F.round(span_hours, 4).alias("span_hours"),
        F.round(lam, 6).alias("lambda_per_hour"),
        # a never-changing host has lam = 0 exactly: DuckDB's 1.0/0.0
        # is +inf (LEAST caps it at the week); Spark ANSI throws on
        # double divide-by-zero, so try_divide -> NULL, and LEAST
        # skips NULLs -> the same 168.0 in both engines
        F.round(
            F.least(F.lit(168.0), F.try_divide(F.lit(1.0), lam)), 4
        ).alias("recrawl_hours"),
    )


def _redir_url_expr(idx):
    """Synthetic capture url for rule index ``idx`` — the ONE shape the
    redirect gate's Spark synthesis and its closed-form oracle share."""
    return F.concat(
        F.lit("https://r"),
        (idx % 97).cast("string"),
        F.lit(".example.com/p/"),
        idx.cast("string"),
    )


@q(
    """
    WITH RECURSIVE edges AS (
      SELECT doc_id AS src,
             CASE WHEN doc_id % 64 = 62 THEN doc_id + 1
                  WHEN doc_id % 8 <> 0 THEN doc_id - 1 END AS dst
      FROM documents),
    walk AS (
      SELECT doc_id, doc_id AS cur, 0 AS hops FROM documents
      UNION ALL
      SELECT w.doc_id, e.dst, w.hops + 1
      FROM walk w JOIN edges e ON e.src = w.cur
      WHERE e.dst IS NOT NULL AND w.hops < 8),
    final AS (
      SELECT doc_id, arg_max(cur, hops) AS cur, MAX(hops) AS hops
      FROM walk GROUP BY doc_id)
    SELECT 'https://r' || CAST(f.doc_id % 97 AS VARCHAR)
             || '.example.com/p/' || CAST(f.doc_id AS VARCHAR) AS url,
           'https://r' || CAST(f.cur % 97 AS VARCHAR)
             || '.example.com/p/' || CAST(f.cur AS VARCHAR) AS final_url,
           CAST(f.hops AS BIGINT) AS hops,
           NOT EXISTS (SELECT 1 FROM edges e
                       WHERE e.src = f.cur AND e.dst IS NOT NULL)
             AS resolved
    FROM final f
    """,
)
def q_redirect_resolve(spark, sf_dir):
    """Redirect-chain resolution by pointer doubling — the crawl-side
    canonicalization every archive/crawler runs before dedup: each
    capture's 3xx target chain is collapsed to its final landing url
    so the capture index, dedup keys and the link graph all speak in
    final urls. Chains are resolved with the classic parallel
    pointer-jumping recurrence (Wyllie list ranking): round k joins
    the current successor table with itself on ``dst = src``, so every
    page reaches min(2^k, chain length) hops in k rounds — chains up
    to L hops need only ceil(log2 L) key-partitioned equi-joins, never
    an L-step sequential walk. Cycles (redirect loops — they exist in
    every real crawl) never terminate pointer jumping by themselves;
    the round cap IS the guard: after the final round a page whose
    current target still has an outgoing redirect is flagged
    ``resolved = false`` with its (deterministic) hop count at the
    cap, exactly how a production resolver reports loop pages.

    Synthesis: page i redirects to page i-1 unless i ≡ 0 (mod 8)
    (terminal), giving chains 0..7 hops long; pages with i ≡ 62
    (mod 64) instead redirect UP to i+1, planting a real 2-cycle
    (62↔63) whose members must come out resolved=false with hops
    pinned at 2^3 = 8. A chain ends at the first target that is not a
    page of the table. The oracle walks the same redirects one hop at
    a time (a recursive CTE capped at 8 hops) — final landing page,
    exact hop count, cycle flag — so a resolver that walks the wrong
    direction, miscounts hops, or fails to flag loops hash-fails
    every affected row.

    Plan/scale: 3 doubling rounds = 3 shuffle equi-joins on the url
    key (each side the successor table, partitioned identically — AQE
    coalesces the tiny test exchanges), then one left join back to
    the page set and one left anti-style probe against the out-edge
    set for the cycle flag. At 10^12 captures with a 32-hop cap this
    is 5 doubling rounds over the redirect subset (a few percent of
    captures) — no collect, no iteration proportional to chain
    length, no skew beyond the url key's own distribution."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    dst_idx = F.when(i % 64 == 62, i + 1).when(i % 8 != 0, i - 1)
    edges = (
        docs.select(
            _redir_url_expr(i).alias("src"),
            _redir_url_expr(dst_idx).alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
        .withColumn("hops", F.lit(1).cast("long"))
    )

    def jump(r):
        b = r.select(
            F.col("src").alias("b_src"),
            F.col("dst").alias("b_dst"),
            F.col("hops").alias("b_hops"),
        )
        return r.join(b, F.col("dst") == F.col("b_src"), "left").select(
            "src",
            F.coalesce("b_dst", "dst").alias("dst"),
            (F.col("hops") + F.coalesce(F.col("b_hops"), F.lit(0)))
            .cast("long")
            .alias("hops"),
        )

    # the self-join reads r twice; the core's per-round anchor keeps
    # every round ONE keyed equi-join instead of the doubling join tree
    r, _ = _iterate(edges, jump, 3)  # covers chains up to 2^3 hops (cap = 8)
    pages = docs.select(_redir_url_expr(i).alias("url"))
    resolved = pages.join(r, pages.url == r.src, "left").select(
        "url",
        F.coalesce("dst", "url").alias("final_url"),
        F.coalesce("hops", F.lit(0).cast("long")).alias("hops"),
    )
    # srcs are unique (≤1 redirect per page), so this probe is an
    # existence test: a final target that still redirects = loop page
    out_edges = edges.select(F.col("src").alias("t_src"))
    return resolved.join(
        out_edges, resolved.final_url == out_edges.t_src, "left"
    ).select(
        "url",
        "final_url",
        "hops",
        F.col("t_src").isNull().alias("resolved"),
    )


@q(
    f"""
    WITH {_PR_GRAPH_SQL},
    und AS (
      SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
      FROM edges),
    nd AS (
      SELECT x, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT u AS x FROM und UNION ALL SELECT v FROM und)
      GROUP BY x),
    ori AS (
      SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
                  THEN u ELSE v END AS a,
             CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
                  THEN v ELSE u END AS b
      FROM und
      JOIN nd du ON du.x = u
      JOIN nd dv ON dv.x = v),
    tri AS (
      SELECT o1.a AS a, o1.b AS b1, o2.b AS b2
      FROM ori o1
      JOIN ori o2 ON o1.a = o2.a AND o1.b < o2.b
      JOIN und e ON e.u = least(o1.b, o2.b)
               AND e.v = greatest(o1.b, o2.b)),
    tx AS (
      SELECT a AS node FROM tri
      UNION ALL SELECT b1 FROM tri
      UNION ALL SELECT b2 FROM tri),
    tc AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS t FROM tx GROUP BY node)
    SELECT nd.x AS node,
           nd.d AS degree,
           CAST(COALESCE(tc.t, 0) AS BIGINT) AS n_triangles,
           CAST(CASE WHEN nd.d >= 2
                THEN COALESCE(tc.t, 0) * 2000000 // (nd.d * (nd.d - 1))
                ELSE 0 END AS BIGINT) AS clustering_ppm
    FROM nd LEFT JOIN tc ON tc.node = nd.x
    """,
)
def q_graph_triangles(spark, sf_dir):
    """Triangle counting + local clustering coefficient over the host
    link graph — the cohesion audit link-spam hunters read next to
    reciprocity (q_graph_reciprocity): organic topical neighborhoods
    close triangles (high clustering), cross-linking farms built from
    star templates mostly don't, and a node with huge degree but
    near-zero clustering is the classic splog hub. Counted once per
    triangle via DEGREE ORIENTATION (the node-iterator bound): every
    undirected edge is oriented from its lower-(degree, id) endpoint,
    so each triangle has exactly ONE pivot with two outgoing edges;
    wedges are pivot-keyed out-neighbor pairs and a triangle is a
    wedge whose closing edge exists. Clustering coefficient is exact
    integer ppm (2T·10^6 DIV d(d−1), zero for degree < 2).

    Plan/scale: undirected dedup + degree rollup, one self-join of the
    oriented edge list on the pivot key, one closing-edge equi-join on
    the (b1, b2) pair key, then a node rollup — every exchange is
    keyed, nothing is broadcast-sized by assumption. Degree
    orientation is WHY this survives a web graph: out-degree under the
    (d, id) order is O(sqrt(m)) even at celebrity-host skew, so the
    wedge fan-out per pivot is bounded and the hub that would explode
    a naive neighbor-join receives its edges instead of emitting
    them."""
    e = _rule_edges(spark, sf_dir)
    und = e.select(
        F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
    ).distinct()
    und = _local_checkpoint(und, eager=False)  # consumed three times below
    nd = (
        und.select(F.col("u").alias("x"))
        .unionByName(und.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count("*").cast("long").alias("d"))
    )
    du = nd.select(F.col("x").alias("u"), F.col("d").alias("du"))
    dv = nd.select(F.col("x").alias("v"), F.col("d").alias("dv"))
    j = und.join(du, "u").join(dv, "v")
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    ori = j.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("b"),
    )
    o1 = ori.select("a", F.col("b").alias("b1"))
    o2 = ori.select("a", F.col("b").alias("b2"))
    wedges = o1.join(o2, "a").filter(F.col("b1") < F.col("b2"))
    closing = und.select(F.col("u").alias("b1"), F.col("v").alias("b2"))
    tri = wedges.join(closing, ["b1", "b2"])
    tx = (
        tri.select(F.col("a").alias("node"))
        .unionByName(tri.select(F.col("b1").alias("node")))
        .unionByName(tri.select(F.col("b2").alias("node")))
    )
    tc = tx.groupBy("node").agg(F.count("*").cast("long").alias("t"))
    out = nd.join(tc, nd.x == tc.node, "left").select(
        F.col("x").alias("node"),
        F.col("d").alias("degree"),
        F.coalesce("t", F.lit(0).cast("long")).alias("n_triangles"),
    )
    return out.withColumn(
        "clustering_ppm",
        F.when(
            F.col("degree") >= 2,
            F.expr("n_triangles * 2000000 DIV (degree * (degree - 1))"),
        )
        .otherwise(F.lit(0))
        .cast("long"),
    )


@q(
    """
    WITH cap AS (
      SELECT doc_id,
             'https://site' || CAST((doc_id // 4) % 25 AS VARCHAR)
               || '.example.com/art/' || CAST(doc_id // 4 AS VARCHAR)
               AS canonical_url,
             CASE doc_id % 4
               WHEN 0 THEN ''
               WHEN 1 THEN '?utm_source=feed'
               WHEN 2 THEN '/amp'
               ELSE '?m=1'
             END AS suffix,
             n_chars
      FROM documents),
    cap2 AS (
      SELECT canonical_url,
             canonical_url || suffix AS url,
             n_chars
      FROM cap
      -- every 5th family never captured its canonical (keeper falls
      -- back to the lexicographic minimum alias)
      WHERE NOT (doc_id % 4 = 0 AND (doc_id // 4) % 5 = 0))
    SELECT canonical_url,
           CAST(COUNT(*) AS BIGINT) AS n_captures,
           MAX(url = canonical_url) AS canonical_captured,
           COALESCE(MIN(CASE WHEN url = canonical_url THEN url END),
                    MIN(url)) AS keeper_url,
           CAST(SUM(n_chars)
                - COALESCE(MIN(CASE WHEN url = canonical_url
                                    THEN n_chars END),
                           MIN(n_chars)) AS BIGINT) AS dup_chars
    FROM cap2 GROUP BY canonical_url
    """,
)
def q_canonical_clusters(spark, sf_dir):
    """Canonical-URL alias consolidation — the table-side consumer of
    the extractor's A-12 rel=canonical field (q_url_normalize is its
    SYNTACTIC sibling; this is the semantic one): AMP pages, mobile
    mirrors and tracking-param variants all DECLARE the same
    canonical, so grouping captures by the extracted canonical
    collapses each alias family into one cluster, elects a keeper (the
    canonical itself when captured, else the lexicographic minimum —
    deterministic, no window needed), and prices the duplicate
    character mass a crawler re-fetched. Synthesis plants 4-variant
    families (clean / utm / /amp / ?m=1) per article, with partial
    families at the corpus edge, so a wrong keeper rule or alias
    grouping hash-fails.

    Plan/scale: row-local url construction + ONE hash aggregate keyed
    by the canonical url with map-side partials; the keeper election
    is conditional MIN aggregates inside the same pass (no window, no
    self-join, no collect). At 10^12 captures this is a scan plus one
    keyed exchange; AQE absorbs canonical-key skew (viral articles)
    the same way every hash-agg in the repo does."""
    docs = _t(spark, sf_dir, "documents")
    canon = F.concat(
        F.lit("https://site"),
        F.expr("(doc_id DIV 4) % 25").cast("string"),
        F.lit(".example.com/art/"),
        F.expr("doc_id DIV 4").cast("string"),
    )
    suffix = (
        F.when(F.col("doc_id") % 4 == 0, F.lit(""))
        .when(F.col("doc_id") % 4 == 1, F.lit("?utm_source=feed"))
        .when(F.col("doc_id") % 4 == 2, F.lit("/amp"))
        .otherwise(F.lit("?m=1"))
    )
    cap = docs.filter(
        ~((F.col("doc_id") % 4 == 0) & (F.expr("(doc_id DIV 4) % 5") == 0))
    ).select(
        canon.alias("canonical_url"),
        F.concat(canon, suffix).alias("url"),
        "n_chars",
    )
    is_canon = F.col("url") == F.col("canonical_url")
    return cap.groupBy("canonical_url").agg(
        F.count("*").alias("n_captures"),
        F.max(is_canon).alias("canonical_captured"),
        F.coalesce(
            F.min(F.when(is_canon, F.col("url"))), F.min("url")
        ).alias("keeper_url"),
        (
            F.sum("n_chars")
            - F.coalesce(
                F.min(F.when(is_canon, F.col("n_chars"))), F.min("n_chars")
            )
        )
        .cast("long")
        .alias("dup_chars"),
    )


@q(
    """
    WITH ent AS (
      SELECT 'site' || CAST(event_id % 40 AS VARCHAR)
               || '.example.com' AS host,
             '<url><loc>https://site' || CAST(event_id % 40 AS VARCHAR)
               || '.example.com/item/' || CAST(event_id % 25 AS VARCHAR)
               || '</loc><lastmod>' || strftime(ts, '%Y-%m-%d')
               || '</lastmod><priority>0.'
               || CAST(event_id % 9 + 1 AS VARCHAR)
               || '</priority></url>' AS entry
      FROM events
    ), sm AS (
      SELECT host,
             '<?xml version="1.0"?><urlset>'
               || string_agg(entry, '' ORDER BY entry)
               || '</urlset>' AS xml
      FROM ent GROUP BY host
    ), parsed AS (
      SELECT host,
             regexp_extract_all(xml, '<loc>([^<]+)</loc>', 1) AS locs,
             regexp_extract_all(xml, '<lastmod>([^<]+)</lastmod>', 1) AS mods,
             regexp_extract_all(xml, '<priority>0\\.([0-9])</priority>', 1)
               AS prios
      FROM sm
    )
    SELECT host,
           CAST(len(locs) AS BIGINT) AS n_urls,
           CAST(len(list_distinct(locs)) AS BIGINT) AS n_distinct_urls,
           list_aggregate(mods, 'max') AS latest_lastmod,
           CAST(CAST(list_aggregate(
                  list_transform(prios, x -> CAST(x AS BIGINT)), 'sum')
                AS BIGINT) * 100000 // len(prios) AS BIGINT) AS priority_ppm
    FROM parsed
    """,
)
def q_sitemap_parse(spark, sf_dir):
    """Sitemap XML parse + per-host audit — the frontier seeding
    source every crawler consumes: each host publishes a sitemap
    urlset (synthesized deterministically from events: <loc> with
    duplicate entries so the distinct count differs, <lastmod> dates,
    <priority> digits), and the operator PARSES the XML back out with
    regexp extraction (no XML lib — the fields sitemaps.org defines
    are regular) reporting per host the URL count, distinct-URL count
    (duplicate <loc> entries are a real-world sitemap defect),
    freshest lastmod (the recrawl trigger) and mean priority in exact
    integer ppm.

    Plan/scale: ONE hash aggregate builds the per-host document
    (string_agg ordered — at archive scale the sitemap is already one
    row per host, so the build stage disappears and only the row-local
    parse remains); the parse itself is whole-stage-codegen JVM regexp
    over each host's document with no further shuffle — the output
    grain IS the aggregation key. At 10^8 hosts this is a scan + one
    exchange; no window, no join, no Python."""
    ev = _t(spark, sf_dir, "events")
    hostn = (F.col("event_id") % 40).cast("string")
    entry = F.concat(
        F.lit("<url><loc>https://site"),
        hostn,
        F.lit(".example.com/item/"),
        (F.col("event_id") % 25).cast("string"),
        F.lit("</loc><lastmod>"),
        F.date_format("ts", "yyyy-MM-dd"),
        F.lit("</lastmod><priority>0."),
        (F.col("event_id") % 9 + 1).cast("string"),
        F.lit("</priority></url>"),
    )
    sm = (
        ev.select(
            F.concat(F.lit("site"), hostn, F.lit(".example.com")).alias(
                "host"
            ),
            entry.alias("entry"),
        )
        .groupBy("host")
        .agg(
            F.concat(
                F.lit('<?xml version="1.0"?><urlset>'),
                F.array_join(F.array_sort(F.collect_list("entry")), ""),
                F.lit("</urlset>"),
            ).alias("xml")
        )
    )
    locs = F.regexp_extract_all(
        F.col("xml"), F.lit(r"<loc>([^<]+)</loc>"), F.lit(1)
    )
    mods = F.regexp_extract_all(
        F.col("xml"), F.lit(r"<lastmod>([^<]+)</lastmod>"), F.lit(1)
    )
    prios = F.regexp_extract_all(
        F.col("xml"), F.lit(r"<priority>0\.([0-9])</priority>"), F.lit(1)
    )
    parsed = sm.select(
        "host",
        locs.alias("locs"),
        mods.alias("mods"),
        F.aggregate(
            F.transform(prios, lambda x: x.cast("long")),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ).alias("prio_sum"),
        F.size(prios).cast("long").alias("n_prio"),
    )
    return parsed.select(
        "host",
        F.size("locs").cast("long").alias("n_urls"),
        F.size(F.array_distinct("locs")).cast("long").alias(
            "n_distinct_urls"
        ),
        F.array_max("mods").alias("latest_lastmod"),
        F.expr("prio_sum * 100000 DIV n_prio").alias("priority_ppm"),
    )


@q(
    """
    WITH u AS (
      SELECT 'h' || CAST(event_id % 5 AS VARCHAR)
               || '.example.com' AS host,
             CASE event_id % 4
               WHEN 0 THEN '/post/' || CAST(event_id AS VARCHAR)
               WHEN 1 THEN '/tag/t' || CAST(event_id % 13 AS VARCHAR)
               WHEN 2 THEN '/obj/'
                 || substr(md5(CAST(event_id % 57 AS VARCHAR)), 1, 12)
               ELSE '/archive/' || CAST(2000 + event_id % 25 AS VARCHAR)
                 || '/' || CAST(event_id % 12 + 1 AS VARCHAR)
             END AS path
      FROM events
    )
    SELECT host,
           regexp_replace(
             regexp_replace(path, '[0-9a-f]{8,}', '{h}', 'g'),
             '[0-9]+', '{n}', 'g') AS template,
           CAST(COUNT(*) AS BIGINT) AS n_urls,
           CAST(COUNT(DISTINCT path) AS BIGINT) AS n_distinct_urls,
           MIN(path) AS sample_path
    FROM u GROUP BY host, template
    """,
)
def q_url_templates(spark, sf_dir):
    """URL path-template mining — the URL-space compression audit a
    crawler runs to understand a site's shape: numeric path segments
    generalize to `{n}` and long hex identifiers (object digests,
    session ids) to `{h}`, so `/post/81234` and `/post/9` land in one
    `/post/{n}` template. Rule ORDER matters and is pinned identically
    in both engines: the hex rule runs first (a ≥8-char [0-9a-f] run
    is an id even when all-digit), then the digit rule. Per (host,
    template) the audit reports crawl volume, distinct concrete URLs
    (volume ≫ distinct flags recrawl churn; distinct ≫ templates
    flags a parametric crawl trap) and a deterministic sample.

    Plan/scale: template derivation is row-local JVM regexp
    (whole-stage codegen); ONE hash aggregate on (host, template) with
    map-side partials — COUNT(DISTINCT path) expands to the standard
    two-level aggregate whose first level is keyed by the very string
    it distincts, so skewed templates still partial-aggregate
    map-side. At 10^12 URLs: scan + one exchange, output bounded by
    the template universe (tiny), no window, no join."""
    ev = _t(spark, sf_dir, "events")
    m4 = F.col("event_id") % 4
    path = (
        F.when(
            m4 == 0,
            F.concat(F.lit("/post/"), F.col("event_id").cast("string")),
        )
        .when(
            m4 == 1,
            F.concat(
                F.lit("/tag/t"), (F.col("event_id") % 13).cast("string")
            ),
        )
        .when(
            m4 == 2,
            F.concat(
                F.lit("/obj/"),
                F.substring(
                    F.md5(
                        (F.col("event_id") % 57)
                        .cast("string")
                        .cast("binary")
                    ),
                    1,
                    12,
                ),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("/archive/"),
                (F.lit(2000) + F.col("event_id") % 25).cast("string"),
                F.lit("/"),
                (F.col("event_id") % 12 + 1).cast("string"),
            )
        )
    )
    u = ev.select(
        F.concat(
            F.lit("h"),
            (F.col("event_id") % 5).cast("string"),
            F.lit(".example.com"),
        ).alias("host"),
        path.alias("path"),
    )
    tmpl = F.regexp_replace(
        F.regexp_replace("path", r"[0-9a-f]{8,}", "{h}"),
        r"[0-9]+",
        "{n}",
    )
    return (
        u.select("host", "path", tmpl.alias("template"))
        .groupBy("host", "template")
        .agg(
            F.count("*").cast("long").alias("n_urls"),
            F.countDistinct("path").cast("long").alias("n_distinct_urls"),
            F.min("path").alias("sample_path"),
        )
    )


@q(
    """
    WITH u AS (
      SELECT 'h' || CAST(event_id % 6 AS VARCHAR)
               || '.example.com' AS host,
             '/list/' || CAST(event_id % 8 AS VARCHAR) AS base,
             'https://h' || CAST(event_id % 6 AS VARCHAR)
               || '.example.com/list/' || CAST(event_id % 8 AS VARCHAR)
               || '?page='
               || CAST(CASE WHEN event_id % 8 % 5 = 0
                            THEN ((event_id // 100) % 4) * 3 + 1
                            ELSE (event_id * 7) % 13 + 1 END
                       AS VARCHAR) AS url
      FROM events
    ), p AS (
      SELECT host, base,
             CAST(regexp_extract(url, '[?&]page=([0-9]+)', 1) AS BIGINT)
               AS page
      FROM u
    )
    SELECT host, base,
           CAST(COUNT(*) AS BIGINT) AS n_captures,
           CAST(COUNT(DISTINCT page) AS BIGINT) AS n_pages,
           CAST(MIN(page) AS BIGINT) AS min_page,
           CAST(MAX(page) AS BIGINT) AS max_page,
           CAST(MAX(page) - COUNT(DISTINCT page) AS BIGINT) AS n_missing,
           (MIN(page) = 1 AND MAX(page) = COUNT(DISTINCT page))
             AS is_complete
    FROM p GROUP BY host, base
    """,
)
def q_pagination_chains(spark, sf_dir):
    """Pagination-chain completeness audit — did the crawler fetch
    every page of each paginated listing? URLs carry a `?page=N`
    parameter (synthesized so most chains cover pages 1..13 densely
    while every fifth base only ever emits pages {1,4,7,10} — a
    GAPPED chain the audit must flag); the operator parses the page
    number back out of the raw URL and reports, per (host, listing
    base), the capture count, distinct pages seen, min/max page, the
    missing-page count (max − distinct, exact under a 1-based dense
    ideal) and a completeness verdict. Gapped chains are the signal a
    recrawl scheduler turns into targeted frontier entries.

    Plan/scale: page extraction is row-local JVM regexp; ONE hash
    aggregate on (host, base) with map-side partials (the DISTINCT
    page expands to the standard two-level plan). At 10^12 captures:
    scan + one exchange keyed by listing — no join, no window."""
    ev = _t(spark, sf_dir, "events")
    page = F.when(
        F.col("event_id") % 8 % 5 == 0,
        (F.expr("event_id DIV 100") % 4) * 3 + 1,
    ).otherwise((F.col("event_id") * 7) % 13 + 1)
    u = ev.select(
        F.concat(
            F.lit("h"),
            (F.col("event_id") % 6).cast("string"),
            F.lit(".example.com"),
        ).alias("host"),
        F.concat(
            F.lit("/list/"), (F.col("event_id") % 8).cast("string")
        ).alias("base"),
        F.concat(
            F.lit("https://h"),
            (F.col("event_id") % 6).cast("string"),
            F.lit(".example.com/list/"),
            (F.col("event_id") % 8).cast("string"),
            F.lit("?page="),
            page.cast("string"),
        ).alias("url"),
    )
    p = u.select(
        "host",
        "base",
        F.regexp_extract("url", r"[?&]page=([0-9]+)", 1)
        .cast("long")
        .alias("page"),
    )
    return p.groupBy("host", "base").agg(
        F.count("*").cast("long").alias("n_captures"),
        F.countDistinct("page").cast("long").alias("n_pages"),
        F.min("page").cast("long").alias("min_page"),
        F.max("page").cast("long").alias("max_page"),
        (F.max("page") - F.countDistinct("page"))
        .cast("long")
        .alias("n_missing"),
        (
            (F.min("page") == 1)
            & (F.max("page") == F.countDistinct("page"))
        ).alias("is_complete"),
    )


#: Multi-label public suffixes (the PSL subset the synthetic corpus
#: exercises; the real Public Suffix List is ~9k rows — still a
#: broadcast-sized dim). Single-label TLDs need no row: the default
#: branch already takes the last two labels.
_PSL_SUFFIXES = ["co.uk", "ac.uk", "github.io", "com.au"]

_PSL_VALUES_SQL = ", ".join(f"('{s}')" for s in _PSL_SUFFIXES)


@q(
    f"""
    WITH psl(suffix) AS (VALUES {_PSL_VALUES_SQL}),
    hosts AS (
      SELECT CASE event_id % 3 WHEN 0 THEN 'www.' WHEN 1 THEN 'blog.'
                               ELSE '' END
               || 's' || CAST(event_id % 30 AS VARCHAR) || '.'
               || CASE event_id % 5 WHEN 0 THEN 'com' WHEN 1 THEN 'org'
                                    WHEN 2 THEN 'co.uk'
                                    WHEN 3 THEN 'github.io'
                                    ELSE 'com.au' END AS host
      FROM events
    ), lab AS (
      SELECT host, string_split(host, '.') AS l FROM hosts
    ), keyed AS (
      SELECT host, l,
             l[-2] || '.' || l[-1] AS last2,
             CASE WHEN len(l) >= 3 THEN l[-3] || '.' || l[-2] || '.'
                                          || l[-1] END AS last3
      FROM lab
    ), reg AS (
      SELECT host,
             CASE WHEN psl.suffix IS NOT NULL THEN keyed.last3
                  ELSE keyed.last2 END AS registrable,
             CASE WHEN psl.suffix IS NOT NULL THEN psl.suffix
                  ELSE keyed.l[-1] END AS public_suffix
      FROM keyed LEFT JOIN psl ON keyed.last2 = psl.suffix
    )
    SELECT registrable, public_suffix,
           CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts,
           CAST(COUNT(*) AS BIGINT) AS n_captures
    FROM reg GROUP BY registrable, public_suffix
    """,
)
def q_registrable_domain(spark, sf_dir):
    """Registrable-domain (eTLD+1) rollup — the grain every
    site-level policy actually wants: `www.s1.co.uk` and
    `blog.s1.co.uk` are ONE registrant, and naive last-two-label
    grouping would wrongly merge every `*.co.uk` site into one.
    Hosts are reduced against a public-suffix table (multi-label
    suffixes only; single-label TLDs take the default branch): if the
    host's last two labels are a listed public suffix the registrable
    domain is the last THREE labels, else the last two. Per
    (registrable, public_suffix) the rollup counts distinct hosts
    (subdomain spread) and captures — the input grain for host
    quotas, quality priors and politeness budgets that should bind
    per REGISTRANT, not per subdomain.

    Plan/scale: label splitting is row-local; the suffix lookup is an
    explicit broadcast LEFT join against the ~9k-row PSL dim (never a
    shuffle); the rollup is ONE hash aggregate. At 10^12 captures:
    scan + broadcast probe + one exchange on the registrable key."""
    ev = _t(spark, sf_dir, "events")
    psl = F.broadcast(
        local_table(
            spark,
            [(s,) for s in _PSL_SUFFIXES], "suffix string"
        )
    )
    host = F.concat(
        F.when(F.col("event_id") % 3 == 0, F.lit("www."))
        .when(F.col("event_id") % 3 == 1, F.lit("blog."))
        .otherwise(F.lit("")),
        F.lit("s"),
        (F.col("event_id") % 30).cast("string"),
        F.lit("."),
        F.when(F.col("event_id") % 5 == 0, F.lit("com"))
        .when(F.col("event_id") % 5 == 1, F.lit("org"))
        .when(F.col("event_id") % 5 == 2, F.lit("co.uk"))
        .when(F.col("event_id") % 5 == 3, F.lit("github.io"))
        .otherwise(F.lit("com.au")),
    )
    lab = ev.select(host.alias("host")).withColumn(
        "l", F.split("host", r"\.")
    )
    keyed = lab.select(
        "host",
        "l",
        F.concat_ws(
            ".", F.element_at("l", -2), F.element_at("l", -1)
        ).alias("last2"),
        F.when(
            F.size("l") >= 3,
            F.concat_ws(
                ".",
                F.element_at("l", -3),
                F.element_at("l", -2),
                F.element_at("l", -1),
            ),
        ).alias("last3"),
    )
    reg = keyed.join(psl, keyed.last2 == psl.suffix, "left").select(
        "host",
        F.when(F.col("suffix").isNotNull(), F.col("last3"))
        .otherwise(F.col("last2"))
        .alias("registrable"),
        F.when(F.col("suffix").isNotNull(), F.col("suffix"))
        .otherwise(F.element_at("l", -1))
        .alias("public_suffix"),
    )
    return reg.groupBy("registrable", "public_suffix").agg(
        F.countDistinct("host").cast("long").alias("n_hosts"),
        F.count("*").cast("long").alias("n_captures"),
    )


@q(
    """
    WITH cap AS (
      SELECT event_id % 180 AS url_id,
             'h' || CAST((event_id % 180) % 12 AS VARCHAR)
               || '.example.com' AS host,
             ts, event_id,
             substr(md5(CAST(event_id % 180 AS VARCHAR) || '-'
                        || CAST(CASE WHEN event_id % 180 % 3 = 0
                                     THEN (event_id // 180) % 2
                                     ELSE 0 END
                                AS VARCHAR)), 1, 8) AS digest
      FROM events
    ), ranked AS (
      SELECT url_id, host, digest,
             ROW_NUMBER() OVER (PARTITION BY url_id
                                ORDER BY ts DESC, event_id DESC) AS rn,
             LEAD(digest) OVER (PARTITION BY url_id
                                ORDER BY ts DESC, event_id DESC)
               AS prev_digest,
             COUNT(*) OVER (PARTITION BY url_id) AS n_caps
      FROM cap
    ), latest AS (
      SELECT host,
             CASE WHEN n_caps = 1 THEN 'new'
                  WHEN digest = prev_digest THEN 'unchanged'
                  ELSE 'changed' END AS status
      FROM ranked WHERE rn = 1
    )
    SELECT host,
           CAST(SUM(CASE WHEN status = 'new' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_new,
           CAST(SUM(CASE WHEN status = 'changed' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_changed,
           CAST(SUM(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_unchanged,
           CAST(SUM(CASE WHEN status = 'changed' THEN 1 ELSE 0 END)
                  * 1000000
                  // NULLIF(SUM(CASE WHEN status <> 'new'
                                     THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS churn_ppm
    FROM latest GROUP BY host
    """,
)
def q_crawl_delta(spark, sf_dir):
    """Crawl-batch delta report — what changed between the two most
    recent captures of each URL: per URL the latest capture is
    classified `new` (first-ever capture), `changed` (content digest
    differs from the previous capture) or `unchanged`, then rolled up
    per host with an exact-integer churn ratio (changed / revisited,
    in ppm). Digests are synthesized so every third URL alternates
    content by capture parity (real churn) while the rest are stable
    — both branches of the classifier fire. This is the incremental
    sibling of q_stale_captures: delta says WHAT moved this batch,
    staleness says what to fetch next.

    Plan/scale: one window over the per-URL capture history (the
    partition is a URL's capture count — bounded by retention policy,
    never corpus-sized) computing row_number + lead + count in a
    single pass on one sort order, then ONE hash aggregate on host.
    At 10^12 captures: scan + one exchange on url_id for the window +
    one on host for the rollup; no joins, no Python."""
    ev = _t(spark, sf_dir, "events")
    url_id = F.col("event_id") % 180
    digest = F.substring(
        F.md5(
            F.concat(
                url_id.cast("string"),
                F.lit("-"),
                F.when(url_id % 3 == 0, F.expr("event_id DIV 180") % 2)
                .otherwise(F.lit(0))
                .cast("string"),
            ).cast("binary")
        ),
        1,
        8,
    )
    cap = ev.select(
        url_id.alias("url_id"),
        F.concat(
            F.lit("h"),
            (url_id % 12).cast("string"),
            F.lit(".example.com"),
        ).alias("host"),
        "ts",
        "event_id",
        digest.alias("digest"),
    )
    w = Window.partitionBy("url_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    wall = Window.partitionBy("url_id")
    ranked = cap.select(
        "host",
        "digest",
        F.row_number().over(w).alias("rn"),
        F.lead("digest").over(w).alias("prev_digest"),
        F.count("*").over(wall).alias("n_caps"),
    )
    latest = ranked.filter(F.col("rn") == 1).select(
        "host",
        F.when(F.col("n_caps") == 1, F.lit("new"))
        .when(F.col("digest") == F.col("prev_digest"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
        .alias("status"),
    )
    agg = latest.groupBy("host").agg(
        F.sum(F.when(F.col("status") == "new", 1).otherwise(0))
        .cast("long")
        .alias("n_new"),
        F.sum(F.when(F.col("status") == "changed", 1).otherwise(0))
        .cast("long")
        .alias("n_changed"),
        F.sum(F.when(F.col("status") == "unchanged", 1).otherwise(0))
        .cast("long")
        .alias("n_unchanged"),
    )
    return agg.select(
        "host",
        "n_new",
        "n_changed",
        "n_unchanged",
        F.expr(
            "n_changed * 1000000 DIV nullif(n_changed + n_unchanged, 0)"
        ).alias("churn_ppm"),
    )


@q(
    """
    WITH d AS (
      SELECT doc_id,
             'h' || CAST(doc_id % 37 AS VARCHAR) || '.example.com'
               AS host,
             md5(CASE WHEN doc_id % 7 = 0
                      THEN 'solo-' || CAST(doc_id AS VARCHAR)
                      ELSE 'fam-' || CAST(doc_id // 4 AS VARCHAR)
                 END) AS digest
      FROM documents
    )
    SELECT digest,
           CAST(COUNT(*) AS BIGINT) AS n_copies,
           CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts,
           CAST(MIN(doc_id) AS BIGINT) AS primary_doc,
           arg_min(host, doc_id) AS primary_host,
           CAST(COUNT(DISTINCT host) * 1000000 // COUNT(*) AS BIGINT)
             AS spread_ppm
    FROM d GROUP BY digest
    HAVING COUNT(DISTINCT host) >= 2
    """,
)
def q_syndication(spark, sf_dir):
    """Cross-host syndication detection — the same content digest
    appearing on ≥2 hosts marks a syndication cluster (wire copy,
    scraper mirrors, CDN vanity domains): per digest the audit counts
    copies and distinct hosts, elects the PRIMARY attribution
    deterministically (min_by on doc_id — the earliest capture; real
    pipelines keep only the primary and drop mirror copies before
    training) and reports host spread in exact ppm. Content families
    are synthesized at `doc_id DIV 4` grain (4 consecutive docs land
    on 4 DIFFERENT hosts mod 37, so clusters genuinely cross hosts)
    with every 7th doc a singleton — filtered out by the ≥2-host
    predicate, exercising the negative branch.

    Plan/scale: ONE logical aggregate on the content digest — the
    DISTINCT-host count expands to the standard two-level physical
    plan (partial keyed by (digest, host), final on digest; two
    exchanges, both digest-prefixed so skew follows cluster size, not
    corpus size) — then a row-local HAVING filter. At 10^12 docs the
    digest shuffle is the same key exact dedup already pays, so a
    combined curation pass shares it; no window, no join."""
    docs = _t(spark, sf_dir, "documents")
    fam = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(F.lit("solo-"), F.col("doc_id").cast("string")),
    ).otherwise(
        F.concat(F.lit("fam-"), F.expr("doc_id DIV 4").cast("string"))
    )
    d = docs.select(
        "doc_id",
        F.concat(
            F.lit("h"),
            (F.col("doc_id") % 37).cast("string"),
            F.lit(".example.com"),
        ).alias("host"),
        F.md5(fam.cast("binary")).alias("digest"),
    )
    return (
        d.groupBy("digest")
        .agg(
            F.count("*").cast("long").alias("n_copies"),
            F.countDistinct("host").cast("long").alias("n_hosts"),
            F.min("doc_id").cast("long").alias("primary_doc"),
            F.expr("min_by(host, doc_id)").alias("primary_host"),
            F.expr(
                "CAST(COUNT(DISTINCT host) * 1000000 DIV COUNT(*) "
                "AS BIGINT)"
            ).alias("spread_ppm"),
        )
        .filter(F.col("n_hosts") >= 2)
    )


@q(
    """
    WITH links AS (
      SELECT 't' || CAST(event_id % 20 AS VARCHAR)
               || '.example.com' AS target,
             's' || CAST(event_id % 50 AS VARCHAR)
               || '.example.com' AS src_host,
             CASE WHEN event_id % 20 % 5 = 0
                       AND (event_id // 20) % 10 < 8
                  THEN 'buy cheap widgets'
                  ELSE 'anchor' || CAST(event_id % 7 AS VARCHAR)
             END AS anchor
      FROM events
    ), per_anchor AS (
      SELECT target, anchor,
             CAST(COUNT(*) AS BIGINT) AS n_links,
             CAST(COUNT(DISTINCT src_host) AS BIGINT) AS n_src_hosts
      FROM links GROUP BY target, anchor
    ), ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY target
                                ORDER BY n_links DESC, anchor ASC) AS rn,
             CAST(SUM(n_links) OVER (PARTITION BY target) AS BIGINT)
               AS total_links,
             CAST(COUNT(*) OVER (PARTITION BY target) AS BIGINT)
               AS n_anchors
      FROM per_anchor
    )
    SELECT target, n_anchors, total_links AS n_inlinks,
           anchor AS top_anchor, n_src_hosts AS top_anchor_hosts,
           CAST(n_links * 1000000 // total_links AS BIGINT)
             AS top_share_ppm,
           n_links * 2 > total_links AS is_spammy
    FROM ranked WHERE rn = 1
    """,
)
def q_anchor_spam(spark, sf_dir):
    """Anchor-text over-optimization audit — the classic paid-link /
    SEO-farm signal: organic inlinks carry diverse anchor text, while
    a manipulated target's inlinks repeat one money phrase. Per
    target the audit finds the dominant anchor (deterministic
    election: links desc, anchor asc), its share of all inlinks in
    exact ppm, how many distinct source hosts push it, and flags
    targets whose top anchor exceeds half their inlinks (integer
    cross-multiplied threshold — no division). Synthesis plants the
    money phrase on every 5th target at exactly 80% density — keyed to
    the CAPTURE index (event_id DIV 20), since any event_id % m key is
    constant within a target class (the dead-modular-class trap) — so
    spam targets still carry a real organic mixture around it.

    Plan/scale: ONE hash aggregate on (target, anchor) — the
    per-anchor grain, where COUNT(DISTINCT src_host) expands
    map-side — then one window over each target's ANCHOR ALPHABET
    (bounded by distinct anchors per target, never by inlink count:
    the 10^12-edge case rolls up before the window sees it). Both
    window functions share one sort order and one exchange."""
    ev = _t(spark, sf_dir, "events")
    tgt_n = F.col("event_id") % 20
    links = ev.select(
        F.concat(
            F.lit("t"), tgt_n.cast("string"), F.lit(".example.com")
        ).alias("target"),
        F.concat(
            F.lit("s"),
            (F.col("event_id") % 50).cast("string"),
            F.lit(".example.com"),
        ).alias("src_host"),
        F.when(
            (tgt_n % 5 == 0) & (F.expr("event_id DIV 20") % 10 < 8),
            F.lit("buy cheap widgets"),
        )
        .otherwise(
            F.concat(
                F.lit("anchor"), (F.col("event_id") % 7).cast("string")
            )
        )
        .alias("anchor"),
    )
    per_anchor = links.groupBy("target", "anchor").agg(
        F.count("*").cast("long").alias("n_links"),
        F.countDistinct("src_host").cast("long").alias("n_src_hosts"),
    )
    w = Window.partitionBy("target").orderBy(
        F.desc("n_links"), F.asc("anchor")
    )
    wt = Window.partitionBy("target")
    ranked = per_anchor.select(
        "*",
        F.row_number().over(w).alias("rn"),
        F.sum("n_links").over(wt).cast("long").alias("total_links"),
        F.count("*").over(wt).cast("long").alias("n_anchors"),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "target",
        "n_anchors",
        F.col("total_links").alias("n_inlinks"),
        F.col("anchor").alias("top_anchor"),
        F.col("n_src_hosts").alias("top_anchor_hosts"),
        F.expr("n_links * 1000000 DIV total_links").alias(
            "top_share_ppm"
        ),
        (F.col("n_links") * 2 > F.col("total_links")).alias("is_spammy"),
    )


@q(
    """
    WITH alt AS (
      SELECT event_id % 60 AS cluster_id,
             CASE WHEN event_id % 11 = 0 THEN 'x-default'
                  ELSE CASE (event_id // 60) % 4 WHEN 0 THEN 'en'
                                                 WHEN 1 THEN 'de'
                                                 WHEN 2 THEN 'fr'
                                                 ELSE 'ja' END
             END AS hreflang
      FROM events
      WHERE NOT (event_id % 60 % 3 = 0 AND (event_id // 60) % 4 = 3
                 AND event_id % 11 <> 0)
    )
    SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
           CAST(COUNT(DISTINCT CASE WHEN hreflang <> 'x-default'
                                    THEN hreflang END) AS BIGINT)
             AS n_langs,
           string_agg(DISTINCT hreflang, ',' ORDER BY hreflang)
             AS langs_csv,
           MAX(hreflang = 'x-default') AS has_xdefault,
           COUNT(DISTINCT CASE WHEN hreflang <> 'x-default'
                               THEN hreflang END) = 4 AS is_complete
    FROM alt GROUP BY cluster_id
    """,
)
def q_hreflang_clusters(spark, sf_dir):
    """hreflang alternate-cluster completeness audit — multilingual
    sites declare language variants via rel=alternate hreflang groups,
    and an INCOMPLETE group (a language missing its variant) is both
    an SEO defect and a signal for the mixture allocator that a
    translation is crawlable elsewhere. Per cluster the audit counts
    distinct real languages (x-default excluded), emits the sorted
    language set, whether an x-default fallback exists, and a
    completeness verdict against the site's 4-language ideal —
    synthesis drops the 'ja' variant from every 3rd cluster so the
    incomplete branch fires.

    Plan/scale: ONE logical aggregate on cluster_id (the DISTINCT
    lang count and the DISTINCT ordered string_agg expand to the
    standard two-level plan; the language alphabet bounds per-group
    state at any corpus size). At 10^12 alternate declarations: scan
    + the cluster-keyed exchange, no window, no join."""
    ev = _t(spark, sf_dir, "events")
    cluster = F.col("event_id") % 60
    member = F.expr("event_id DIV 60") % 4
    lang = F.when(F.col("event_id") % 11 == 0, F.lit("x-default")).otherwise(
        F.when(member == 0, F.lit("en"))
        .when(member == 1, F.lit("de"))
        .when(member == 2, F.lit("fr"))
        .otherwise(F.lit("ja"))
    )
    alt = ev.filter(
        ~(
            (cluster % 3 == 0)
            & (member == 3)
            & (F.col("event_id") % 11 != 0)
        )
    ).select(cluster.cast("long").alias("cluster_id"), lang.alias("hreflang"))
    real = F.when(F.col("hreflang") != "x-default", F.col("hreflang"))
    return alt.groupBy("cluster_id").agg(
        F.countDistinct(real).cast("long").alias("n_langs"),
        F.array_join(F.array_sort(F.collect_set("hreflang")), ",").alias(
            "langs_csv"
        ),
        F.max(F.col("hreflang") == "x-default").alias("has_xdefault"),
        (F.countDistinct(real) == 4).alias("is_complete"),
    )


@q(
    """
    WITH ent AS (
      SELECT event_id % 30 AS h,
             event_id % 30 % 2 = 0 AS is_rss,
             'g' || CAST(event_id // 30 % 120 AS VARCHAR) AS gid,
             't' || CAST(event_id % 17 AS VARCHAR) AS title,
             strftime(ts, '%Y-%m-%d %H:%M:%S') AS d,
             'https://site' || CAST(event_id % 30 AS VARCHAR)
               || '.example.com/a/' || CAST(event_id % 50 AS VARCHAR)
               AS link
      FROM events),
    body AS (
      SELECT h, is_rss,
             CASE WHEN is_rss
               THEN '<item><guid>' || gid || '</guid><title>' || title
                 || '</title><pubDate>' || d || '</pubDate><link>'
                 || link || '</link></item>'
               ELSE '<entry><id>' || gid || '</id><title>' || title
                 || '</title><updated>' || d || '</updated><link href="'
                 || link || '"/></entry>' END AS entry
      FROM ent),
    feed AS (
      SELECT h, is_rss,
             CASE WHEN is_rss
               THEN '<rss version="2.0"><channel>'
                 || string_agg(entry, '' ORDER BY entry)
                 || '</channel></rss>'
               ELSE '<feed xmlns="http://www.w3.org/2005/Atom">'
                 || string_agg(entry, '' ORDER BY entry)
                 || '</feed>' END AS xml
      FROM body GROUP BY h, is_rss),
    parsed AS (
      SELECT h,
             CASE WHEN xml LIKE '<rss%' THEN 'rss' ELSE 'atom' END
               AS format,
             regexp_extract_all(
               xml, '<(?:guid|id)>([^<]+)</(?:guid|id)>', 1) AS ids,
             regexp_extract_all(
               xml, '<(?:pubDate|updated)>([^<]+)<', 1) AS dates,
             CASE WHEN xml LIKE '<rss%'
               THEN regexp_extract_all(xml, '<link>([^<]+)</link>', 1)
               ELSE regexp_extract_all(xml, '<link href="([^"]+)"/>', 1)
             END AS links
      FROM feed)
    SELECT 'site' || CAST(h AS VARCHAR) || '.example.com' AS host,
           format,
           CAST(len(ids) AS BIGINT) AS n_entries,
           CAST(len(list_distinct(ids)) AS BIGINT) AS n_distinct_ids,
           list_aggregate(dates, 'max') AS latest_entry,
           CAST(len(list_distinct(links)) AS BIGINT) AS n_distinct_links
    FROM parsed
    """,
)
def q_feed_parse(spark, sf_dir):
    """RSS/Atom feed PARSING — the consumer of q_extract_feeds'
    discovery step: each host publishes a syndication feed in ONE of
    the two wire formats (even hosts RSS 2.0 <item>/<guid>/<pubDate>,
    odd hosts Atom <entry>/<id>/<updated>, synthesized
    deterministically from events), and the operator format-DISPATCHES
    on the root element then parses entries back out with JVM regexp
    (the entry fields both specs define are regular — no XML lib,
    the q_sitemap_parse precedent), reporting per feed: the detected
    format, entry count, distinct-id count (duplicate guids are the
    classic aggregator-dedup defect), freshest entry timestamp (the
    poll-scheduling signal) and distinct outbound links. The id and
    date patterns are format-agnostic alternations; the link pattern
    differs structurally (<link>text</link> vs <link href="..."/>) so
    it is chosen with a row-local CASE over two foldable-literal
    extractions (Spark's regexp needs a constant pattern).

    Plan/scale: ONE hash aggregate builds the per-host feed document
    (at archive scale the feed arrives as one fetched blob per host,
    so the build stage disappears); parse + audit are row-local
    whole-stage-codegen regexp over each feed with no further
    shuffle — the output grain is the aggregation key. No window, no
    join, no Python."""
    ev = _t(spark, sf_dir, "events")
    h = F.col("event_id") % 30
    is_rss = h % 2 == 0
    gid = F.concat(F.lit("g"), F.expr("event_id DIV 30 % 120").cast("string"))
    title = F.concat(F.lit("t"), (F.col("event_id") % 17).cast("string"))
    d = F.date_format("ts", "yyyy-MM-dd HH:mm:ss")
    link = F.concat(
        F.lit("https://site"),
        h.cast("string"),
        F.lit(".example.com/a/"),
        (F.col("event_id") % 50).cast("string"),
    )
    entry = F.when(
        is_rss,
        F.concat(
            F.lit("<item><guid>"), gid, F.lit("</guid><title>"), title,
            F.lit("</title><pubDate>"), d, F.lit("</pubDate><link>"),
            link, F.lit("</link></item>"),
        ),
    ).otherwise(
        F.concat(
            F.lit("<entry><id>"), gid, F.lit("</id><title>"), title,
            F.lit("</title><updated>"), d, F.lit('</updated><link href="'),
            link, F.lit('"/></entry>'),
        )
    )
    feed = (
        ev.select(h.alias("h"), is_rss.alias("is_rss"), entry.alias("entry"))
        .groupBy("h", "is_rss")
        .agg(
            F.concat(
                F.when(
                    F.col("is_rss"), F.lit('<rss version="2.0"><channel>')
                ).otherwise(
                    F.lit('<feed xmlns="http://www.w3.org/2005/Atom">')
                ),
                F.array_join(F.array_sort(F.collect_list("entry")), ""),
                F.when(F.col("is_rss"), F.lit("</channel></rss>")).otherwise(
                    F.lit("</feed>")
                ),
            ).alias("xml")
        )
    )
    xml = F.col("xml")
    fmt = F.when(xml.startswith("<rss"), F.lit("rss")).otherwise(
        F.lit("atom")
    )
    ids = F.regexp_extract_all(
        xml, F.lit(r"<(?:guid|id)>([^<]+)</(?:guid|id)>"), F.lit(1)
    )
    dates = F.regexp_extract_all(
        xml, F.lit(r"<(?:pubDate|updated)>([^<]+)<"), F.lit(1)
    )
    links_rss = F.regexp_extract_all(
        xml, F.lit(r"<link>([^<]+)</link>"), F.lit(1)
    )
    links_atom = F.regexp_extract_all(
        xml, F.lit(r'<link href="([^"]+)"/>'), F.lit(1)
    )
    links = F.when(xml.startswith("<rss"), links_rss).otherwise(links_atom)
    return feed.select(
        F.concat(
            F.lit("site"), F.col("h").cast("string"), F.lit(".example.com")
        ).alias("host"),
        fmt.alias("format"),
        F.size(ids).cast("long").alias("n_entries"),
        F.size(F.array_distinct(ids)).cast("long").alias("n_distinct_ids"),
        F.array_max(dates).alias("latest_entry"),
        F.size(F.array_distinct(links)).cast("long").alias(
            "n_distinct_links"
        ),
    )


@q(
    """
    WITH RECURSIVE hosts AS (
      SELECT DISTINCT doc_id % 100 AS h FROM documents),
    edges AS (
      SELECT h AS src, h + 1 AS dst FROM hosts WHERE h % 10 < 9
      UNION ALL
      SELECT h, h + 3 FROM hosts WHERE h % 10 <= 6),
    bfs AS (
      SELECT h, 0 AS depth FROM hosts
      WHERE (h // 10) % 2 = 0 AND h % 10 = 0
      UNION ALL
      SELECT e.dst, b.depth + 1
      FROM bfs b JOIN edges e ON e.src = b.h
      WHERE b.depth < 4)
    SELECT hosts.h AS host_id,
           CAST(COALESCE(MIN(bfs.depth), -1) AS BIGINT) AS depth,
           MIN(bfs.depth) IS NOT NULL AS reachable
    FROM hosts LEFT JOIN bfs ON bfs.h = hosts.h
    GROUP BY hosts.h
    """,
)
def q_link_depth(spark, sf_dir):
    """Click-depth BFS from the seed set — the crawl-quality signal
    (Google's "crawl depth", CommonCrawl's fetch-depth column) that
    ranks pages by how many link hops separate them from trusted
    seeds; unlike q_redirect_resolve's pointer-jumping (single
    successor per node) this is true frontier BFS over a
    multi-successor graph with min-distance semantics. Synthetic host
    graph (doc_id % 100 → 100 hosts in 10 decades): within each
    decade host r links to r+1 (r<9) and r+3 (r<=6); seeds are the
    r=0 hosts of EVEN decades only, so odd decades are provably
    unreachable (depth -1) and the shortest path to r must mix +3 and
    +1 steps (min = r//3 + r%3, max 4 at r=8) — a BFS that expands
    only one edge type, walks the wrong direction, or keeps
    first-visit instead of min depth hash-fails. The oracle runs the
    same 4-round BFS as a recursive CTE over the hosts present.

    Plan/scale: 4 BFS rounds (= the planted graph's eccentricity
    bound), each ONE keyed equi-join frontier-expansion plus a
    min-combine hash aggregate, with per-round localCheckpoint so the
    executed plan stays one join per round (the q_redirect_resolve /
    _pagerank_loop discipline). At 10^9 hosts each round is one
    shuffle on the host key; the distance table never exceeds the
    host inventory, and the round count is the seed-set eccentricity
    cap a production crawler configures (typically <= 16), never a
    data-dependent loop."""
    hosts = (
        _t(spark, sf_dir, "documents")
        .select((F.col("doc_id") % 100).alias("h"))
        .distinct()
    )
    r = F.col("h") % 10
    e1 = hosts.filter(r < 9).select(
        F.col("h").alias("src"), (F.col("h") + 1).alias("dst")
    )
    e3 = hosts.filter(r <= 6).select(
        F.col("h").alias("src"), (F.col("h") + 3).alias("dst")
    )
    edges = e1.unionAll(e3)

    def expand(dist):
        nxt = dist.join(edges, dist.h == edges.src).select(
            F.col("dst").alias("h"),
            (F.col("depth") + 1).cast("long").alias("depth"),
        )
        return (
            dist.unionAll(nxt)
            .groupBy("h")
            .agg(F.min("depth").cast("long").alias("depth"))
        )

    seeds = hosts.filter((F.expr("h DIV 10") % 2 == 0) & (r == 0))
    dist0 = seeds.select("h", F.lit(0).cast("long").alias("depth"))
    dist, _ = _iterate(dist0, expand, 4)  # the planted graph's eccentricity
    return hosts.join(dist, "h", "left").select(
        F.col("h").cast("long").alias("host_id"),
        F.coalesce("depth", F.lit(-1)).cast("long").alias("depth"),
        F.col("depth").isNotNull().alias("reachable"),
    )


@q(
    """
    WITH hosts AS (
      SELECT DISTINCT event_id % 40 AS h FROM events),
    x AS (
      SELECT h,
             range(0, h % 7 + 5) AS declared,
             list_transform(range(0, h % 5 + 7), j -> j * 2) AS crawled
      FROM hosts),
    m AS (
      SELECT h, declared, crawled,
             list_filter(declared,
                         u -> list_contains(crawled, u)) AS matched
      FROM x)
    SELECT 'site' || CAST(h AS VARCHAR) || '.example.com' AS host,
           CAST(len(declared) AS BIGINT) AS n_declared,
           CAST(len(crawled) AS BIGINT) AS n_crawled,
           CAST(len(matched) AS BIGINT) AS n_matched,
           CAST(len(declared) - len(matched) AS BIGINT) AS n_missing,
           CAST(len(crawled) - len(matched) AS BIGINT) AS n_orphan,
           CAST(len(matched) * 1000000 // len(declared) AS BIGINT)
             AS coverage_ppm
    FROM m
    """,
)
def q_sitemap_coverage(spark, sf_dir):
    """Sitemap-vs-crawl coverage gap — the audit that closes the loop
    between the sitemap family (q_sitemap_parse extracts what the host
    DECLARES) and the capture family (q_crawl_delta tracks what the
    crawler FETCHED): per host, the declared URL set and the crawled
    URL set are reconciled into matched / missing (declared but never
    fetched — frontier debt, the sitemap's whole point) / orphan
    (fetched but not declared — either sitemap rot or crawler waste),
    plus coverage in exact integer ppm. Both defect branches fire on
    every synthetic host by construction (declared = 0..h%7+4, crawled
    = evens 0..2*(h%5+6): odd declared items are always missing, the
    even tail is always orphaned — no dead class, two coprime-ish
    moduli vary the set sizes independently).

    Plan/scale: both URL sets are row-local arrays on the host grain
    (a real deployment joins the parsed sitemap against the capture
    index host-keyed — one co-partitioned join; here the sets derive
    row-locally so the ONLY exchange is the synthesis DISTINCT), and
    the reconciliation is array land (intersect/size) inside
    whole-stage codegen. No window, no Python, nothing scales with
    corpus size except the host grain itself."""
    hosts = (
        _t(spark, sf_dir, "events")
        .select((F.col("event_id") % 40).alias("h"))
        .distinct()
    )
    h = F.col("h")
    x = hosts.select(
        h,
        F.sequence(F.lit(0).cast("long"), h % 7 + 4).alias("declared"),
        F.transform(
            F.sequence(F.lit(0).cast("long"), h % 5 + 6),
            lambda j: j * 2,
        ).alias("crawled"),
    ).withColumn(
        "matched", F.array_intersect("declared", "crawled")
    )
    return x.select(
        F.concat(
            F.lit("site"), h.cast("string"), F.lit(".example.com")
        ).alias("host"),
        F.size("declared").cast("long").alias("n_declared"),
        F.size("crawled").cast("long").alias("n_crawled"),
        F.size("matched").cast("long").alias("n_matched"),
        (F.size("declared") - F.size("matched"))
        .cast("long")
        .alias("n_missing"),
        (F.size("crawled") - F.size("matched"))
        .cast("long")
        .alias("n_orphan"),
        F.expr(
            "size(matched) * 1000000L DIV size(declared)"
        ).alias("coverage_ppm"),
    )


@q(
    """
    WITH hosts AS (
      SELECT DISTINCT event_id % 97 AS h FROM events),
    m AS (
      SELECT 'site' || CAST(h AS VARCHAR) || '.example.com' AS host,
             CASE WHEN h % 4 = 0 THEN 99
                  WHEN h >= 90 THEN 100 + h
                  ELSE h % 29 END AS sn
      FROM hosts)
    SELECT '10.0.' || CAST(sn AS VARCHAR) || '.0/24' AS subnet,
           CAST(COUNT(*) AS BIGINT) AS n_hosts,
           array_to_string(list_sort(list(host))[1:3], ',')
             AS sample_hosts,
           CASE WHEN COUNT(*) >= 10 THEN 'farm'
                WHEN COUNT(*) >= 2 THEN 'shared'
                ELSE 'dedicated' END AS coloc_class
    FROM m GROUP BY sn
    """,
)
def q_ip_colocation(spark, sf_dir):
    """IP-colocation host clustering — the infrastructure-level spam
    signal the content-level detectors (q_anchor_spam,
    q_graph_reciprocity) cannot see: hosts resolving into the same
    /24 subnet share hosting, and a subnet with dozens of
    cross-linking hosts is the classic link-farm footprint (one
    operator, many "independent" domains). Host→subnet assignment is
    synthesized deterministically with all three regimes live: every
    4th host lands in the mega-farm subnet (≈25 hosts), hosts ≥ 90
    (mod 4 ≠ 0) get dedicated singleton subnets, the rest spread 2-3
    per subnet over 29 shared-hosting subnets — farm / shared /
    dedicated all fire (dead-class discipline). Per subnet: host
    count, a deterministic 3-host sample (sorted, sliced) and the
    class the downstream authority-damping join keys on.

    Plan/scale: one hash aggregate on the subnet key (a real
    deployment joins a host→IP resolution table host-keyed first —
    broadcast-sized at any corpus, since hosts ≪ captures). The
    sorted sample is bounded per group only by collect_list over
    co-located HOSTS (not captures) — at web scale the hottest /24
    holds thousands of hosts, not billions; if that ever skewed, the
    slice-of-3 becomes a bounded top-k window. No Python, one
    exchange past the synthesis DISTINCT."""
    hosts = (
        _t(spark, sf_dir, "events")
        .select((F.col("event_id") % 97).alias("h"))
        .distinct()
    )
    h = F.col("h")
    m = hosts.select(
        F.concat(
            F.lit("site"), h.cast("string"), F.lit(".example.com")
        ).alias("host"),
        F.when(h % 4 == 0, F.lit(99).cast("long"))
        .when(h >= 90, (h + 100))
        .otherwise(h % 29)
        .alias("sn"),
    )
    agg = m.groupBy("sn").agg(
        F.count("*").cast("long").alias("n_hosts"),
        F.array_join(
            F.slice(F.array_sort(F.collect_list("host")), 1, 3), ","
        ).alias("sample_hosts"),
    )
    return agg.select(
        F.concat(
            F.lit("10.0."), F.col("sn").cast("string"), F.lit(".0/24")
        ).alias("subnet"),
        "n_hosts",
        "sample_hosts",
        F.when(F.col("n_hosts") >= 10, F.lit("farm"))
        .when(F.col("n_hosts") >= 2, F.lit("shared"))
        .otherwise(F.lit("dedicated"))
        .alias("coloc_class"),
    )


@q(
    """
    WITH d AS (
      SELECT doc_id,
             'src' || CAST(doc_id % 5 AS VARCHAR) AS source,
             (doc_id * 13) % 1460 AS age_days
      FROM documents),
    b AS (
      SELECT source, age_days // 90 AS halflives,
             CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM d GROUP BY source, age_days // 90),
    w AS (
      SELECT source, CAST(halflives AS BIGINT) AS halflives, n_docs,
             CAST(1000000 // (CAST(1 AS BIGINT) << halflives)
                  AS BIGINT) AS w_micro,
             CAST(n_docs * (1000000 // (CAST(1 AS BIGINT) << halflives))
                  AS BIGINT) AS mass
      FROM b)
    SELECT source, halflives, n_docs, w_micro, mass,
           CAST(mass * 1000000 // SUM(mass) OVER (PARTITION BY source)
                AS BIGINT) AS share_ppm
    FROM w
    """,
)
def q_freshness_weights(spark, sf_dir):
    """Freshness-decay sampling weights — the temporal mixture knob a
    pretraining curator turns next to the source mixture
    (q_mixture_weights) and the token budget (q_token_budget_mixture):
    stale pages should not sample at the rate of fresh ones. Each
    document's age (synthesized deterministically: (doc_id*13) mod
    1460 days — 13 coprime with 1460, so ages sweep the full 4-year
    range with no dead residue) is bucketed into 90-day half-lives and
    weighted by EXACT step decay w = 1e6 >> halflives (power-of-two
    denominators keep every weight, mass and share an exact integer —
    no float exp(), no cross-engine drift by construction). Per
    (source, half-life bucket): doc count, per-doc weight, total mass
    and the bucket's normalized share of its source's sampling mass in
    ppm — the row the weighted sampler consumes directly.

    Plan/scale: one (source, bucket) hash aggregate — map-side
    partials, ≤ |sources|·17 output rows at ANY corpus size — then a
    window over that bounded grain (≤ 17 rows per source partition)
    for the normalization. The corpus is touched exactly once; the
    decay math is row-local integer shift arithmetic."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    d = docs.select(
        F.concat(F.lit("src"), (F.col("doc_id") % 5).cast("string")).alias(
            "source"
        ),
        F.expr("(doc_id * 13) % 1460 DIV 90").alias("halflives"),
    )
    b = d.groupBy("source", "halflives").agg(
        F.count("*").cast("long").alias("n_docs")
    )
    w_micro = F.expr("1000000L DIV shiftleft(1L, CAST(halflives AS INT))")
    w = b.select(
        "source",
        F.col("halflives").cast("long").alias("halflives"),
        "n_docs",
        w_micro.alias("w_micro"),
        (F.col("n_docs") * w_micro).cast("long").alias("mass"),
    )
    return w.select(
        "source",
        "halflives",
        "n_docs",
        "w_micro",
        "mass",
        F.expr(
            "mass * 1000000L DIV (SUM(mass) OVER (PARTITION BY source))"
        ).alias("share_ppm"),
    )


@q(
    """
    WITH urls AS (
      SELECT event_id,
             CASE event_id % 6
               WHEN 0 THEN 'utm_source=news&utm_medium=email&id=42'
               WHEN 1 THEN 'gclid=abc123&page=2'
               WHEN 2 THEN 'fbclid=xyz&ref=home'
               WHEN 3 THEN 'q=widgets&sort=price'
               WHEN 4 THEN 'sessionid=s19&q=gadgets'
               ELSE '' END AS qs
      FROM events),
    params AS (
      SELECT event_id,
             string_split(unnest(string_split(qs, '&')), '=')[1] AS param
      FROM urls WHERE qs <> ''),
    cls AS (
      SELECT event_id, param,
             CASE
               WHEN param LIKE 'utm\\_%' ESCAPE '\\'
                 OR param IN ('gclid', 'fbclid', 'msclkid')
                 THEN 'tracking'
               WHEN param IN ('sessionid', 'phpsessid', 'sid')
                 THEN 'session'
               ELSE 'functional' END AS param_class
      FROM params)
    SELECT param, param_class,
           CAST(COUNT(*) AS BIGINT) AS n_urls,
           CAST(COUNT(*) * 1000000
                // (SELECT COUNT(*) FROM events) AS BIGINT)
             AS carry_ppm
    FROM cls GROUP BY param, param_class
    """,
)
def q_url_params_census(spark, sf_dir):
    """URL query-parameter census — the evidence table behind
    `q_url_normalize`'s strip rules: before a normalizer may delete
    utm_* from 10^12 urls it must show those params never carry
    routing information, and the census is that audit. Query strings
    (six surface forms; one url has NO query string and must
    contribute zero param rows, not an empty-string param) are split
    on '&', exploded to one row per parameter, and the NAME (text
    before '=') is classified: tracking (utm_ prefix — the LIKE
    escape matters, '_' is a wildcard — plus the click-id family),
    session tokens, else functional. Per (param, class): url count
    and carriage rate in ppm of ALL urls (including query-less ones —
    the denominator a strip-rule's blast radius is quoted against).

    Plan/scale: split+explode are row-local (bounded 3 params/url);
    ONE hash aggregate on the bounded param alphabet; the ppm
    denominator is a broadcast-sized scalar (count of the input),
    not a second pass over exploded rows."""
    ev = _t(spark, sf_dir, "events")
    m = F.col("event_id") % 6
    qs = (
        F.when(m == 0, F.lit("utm_source=news&utm_medium=email&id=42"))
        .when(m == 1, F.lit("gclid=abc123&page=2"))
        .when(m == 2, F.lit("fbclid=xyz&ref=home"))
        .when(m == 3, F.lit("q=widgets&sort=price"))
        .when(m == 4, F.lit("sessionid=s19&q=gadgets"))
        .otherwise(F.lit(""))
    )
    urls = ev.select("event_id", qs.alias("qs"))
    total = urls.agg(F.count("*").cast("long").alias("_tot"))
    params = (
        urls.where(F.col("qs") != "")
        .select(
            "event_id",
            F.explode(F.split("qs", "&")).alias("kv"),
        )
        .select(
            "event_id",
            F.split("kv", "=").getItem(0).alias("param"),
        )
    )
    cls = params.select(
        "param",
        F.when(
            F.col("param").startswith("utm_")
            | F.col("param").isin("gclid", "fbclid", "msclkid"),
            "tracking",
        )
        .when(
            F.col("param").isin("sessionid", "phpsessid", "sid"),
            "session",
        )
        .otherwise("functional")
        .alias("param_class"),
    )
    return (
        cls.groupBy("param", "param_class")
        .agg(F.count("*").cast("long").alias("n_urls"))
        .crossJoin(F.broadcast(total))
        .select(
            "param",
            "param_class",
            "n_urls",
            F.expr("n_urls * 1000000 DIV _tot")
            .cast("long")
            .alias("carry_ppm"),
        )
    )


@q(
    """
    WITH links AS (
      SELECT event_id % 23 AS src_host,
             'd' || CAST((event_id * 7) % 200 AS VARCHAR) AS dst
      FROM events),
    status AS (
      SELECT 'd' || CAST(t AS VARCHAR) AS dst,
             CASE t % 10 WHEN 7 THEN 404 WHEN 8 THEN 410
                         WHEN 9 THEN 500 ELSE 200 END AS status
      FROM (SELECT unnest(generate_series(0, 199)) AS t)),
    joined AS (
      SELECT l.src_host, s.status >= 400 AS rotten
      FROM links l JOIN status s USING (dst))
    SELECT src_host,
           CAST(COUNT(*) AS BIGINT) AS n_links,
           CAST(COALESCE(SUM(CASE WHEN rotten THEN 1 END), 0)
                AS BIGINT) AS n_rotten,
           CAST(COALESCE(SUM(CASE WHEN rotten THEN 1 END), 0)
                * 1000000 // COUNT(*) AS BIGINT) AS rot_ppm
    FROM joined GROUP BY src_host
    """,
)
def q_link_rot(spark, sf_dir):
    """Link-rot audit — the outlink-health ledger that decides which
    pages need re-extraction (a page whose citations died carries
    less verifiable weight) and which dst urls deserve archive
    backfill: the outlink fact table (one row per link, synthesized
    with a x7 stride so each source host spreads its links across
    the whole target space) joins the per-target STATUS dimension
    (200 targets, 30% dead across three failure modes) and rolls up
    per source host: link count, rotten count, rot rate in ppm.

    Plan/scale: the status side is the latest-capture-status rollup
    of the crawl table — at 10^12 links vs 10^9 targets this is the
    canonical BIG-fact/SMALLER-dim join; here the dim is
    generate_series-sized so Catalyst broadcasts it (no exchange on
    the link side), and at true scale the same plan pre-buckets BOTH
    tables on dst so the join is co-partitioned and shuffle-free;
    the per-host rollup is ONE hash aggregate whose map-side
    partials collapse links inside the scan task."""
    ev = _t(spark, sf_dir, "events")
    links = ev.select(
        (F.col("event_id") % 23).alias("src_host"),
        F.concat(
            F.lit("d"), ((F.col("event_id") * 7) % 200).cast("string")
        ).alias("dst"),
    )
    status = spark.range(0, 200).select(
        F.concat(F.lit("d"), F.col("id").cast("string")).alias("dst"),
        F.when(F.col("id") % 10 == 7, 404)
        .when(F.col("id") % 10 == 8, 410)
        .when(F.col("id") % 10 == 9, 500)
        .otherwise(200)
        .alias("status"),
    )
    joined = links.join(F.broadcast(status), "dst").select(
        "src_host", (F.col("status") >= 400).alias("rotten")
    )
    return joined.groupBy("src_host").agg(
        F.count("*").cast("long").alias("n_links"),
        F.coalesce(F.sum(F.when(F.col("rotten"), 1)), F.lit(0))
        .cast("long")
        .alias("n_rotten"),
        F.expr(
            "COALESCE(SUM(CASE WHEN rotten THEN 1 END), 0)"
            " * 1000000 DIV COUNT(*)"
        )
        .cast("long")
        .alias("rot_ppm"),
    )


@q(
    """
    WITH links AS (
      SELECT event_id % 13 AS host,
             CASE event_id % 6
               WHEN 0 THEN '<a href="/x" rel="nofollow">x</a>'
               WHEN 1 THEN '<a href="/x" rel="sponsored">x</a>'
               WHEN 2 THEN '<a href="/x" rel="ugc nofollow">x</a>'
               WHEN 3 THEN '<a href="/x" rel="noopener">x</a>'
               WHEN 4 THEN '<a href="/x">x</a>'
               ELSE '<a href="/x" rel="nofollow sponsored">x</a>'
             END AS a
      FROM events),
    rels AS (
      SELECT host,
             regexp_extract(a, 'rel="([^"]*)"', 1) AS rel
      FROM links),
    probes AS (
      SELECT host,
             regexp_matches(rel, '\\bnofollow\\b') AS is_nofollow,
             regexp_matches(rel, '\\bsponsored\\b') AS is_sponsored,
             regexp_matches(rel, '\\bugc\\b') AS is_ugc
      FROM rels)
    SELECT host,
           CAST(COUNT(*) AS BIGINT) AS n_links,
           CAST(COALESCE(SUM(CASE WHEN is_nofollow THEN 1 END), 0)
                AS BIGINT) AS n_nofollow,
           CAST(COALESCE(SUM(CASE WHEN is_sponsored THEN 1 END), 0)
                AS BIGINT) AS n_sponsored,
           CAST(COALESCE(SUM(CASE WHEN is_ugc THEN 1 END), 0)
                AS BIGINT) AS n_ugc,
           CAST(COALESCE(SUM(CASE WHEN NOT (is_nofollow
                OR is_sponsored OR is_ugc) THEN 1 END), 0)
                AS BIGINT) AS n_follow,
           CAST(COALESCE(SUM(CASE WHEN is_nofollow THEN 1 END), 0)
                * 1000000 // COUNT(*) AS BIGINT) AS nofollow_ppm
    FROM probes GROUP BY host
    """,
)
def q_anchor_rel_census(spark, sf_dir):
    """Anchor rel-attribute census — the link-graph hygiene signal
    PageRank-style scoring consumes (a nofollow/sponsored/ugc edge
    must not carry endorsement weight) and a spam auditor reads per
    host (a host whose outlinks are overwhelmingly followed paid
    links is selling them): rel values are MULTI-VALUED ('ugc
    nofollow' asserts both), so the census is three independent
    word-bounded probes over the captured attribute value — NOT a
    precedence class; a link counts toward every qualifier it
    carries, and 'follow' means none of the three (rel="noopener" is
    a security hint, not a ranking qualifier, and must land in
    follow — the word-boundary probe is what keeps 'nofollow' from
    matching inside other tokens). Per host: link count, each
    qualifier's count, the follow remainder, and the nofollow rate
    in ppm.

    Plan/scale: one regexp capture + three boolean probes in a
    codegen'd projection; ONE hash aggregate on host with map-side
    partials."""
    ev = _t(spark, sf_dir, "events")
    m = F.col("event_id") % 6
    a = (
        F.when(m == 0, F.lit('<a href="/x" rel="nofollow">x</a>'))
        .when(m == 1, F.lit('<a href="/x" rel="sponsored">x</a>'))
        .when(m == 2, F.lit('<a href="/x" rel="ugc nofollow">x</a>'))
        .when(m == 3, F.lit('<a href="/x" rel="noopener">x</a>'))
        .when(m == 4, F.lit('<a href="/x">x</a>'))
        .otherwise(
            F.lit('<a href="/x" rel="nofollow sponsored">x</a>')
        )
    )
    rels = ev.select(
        (F.col("event_id") % 13).alias("host"),
        F.regexp_extract(a, r'rel="([^"]*)"', 1).alias("rel"),
    )
    probes = rels.select(
        "host",
        F.col("rel").rlike(r"\bnofollow\b").alias("is_nofollow"),
        F.col("rel").rlike(r"\bsponsored\b").alias("is_sponsored"),
        F.col("rel").rlike(r"\bugc\b").alias("is_ugc"),
    )
    return probes.groupBy("host").agg(
        F.count("*").cast("long").alias("n_links"),
        F.coalesce(F.sum(F.when(F.col("is_nofollow"), 1)), F.lit(0))
        .cast("long")
        .alias("n_nofollow"),
        F.coalesce(F.sum(F.when(F.col("is_sponsored"), 1)), F.lit(0))
        .cast("long")
        .alias("n_sponsored"),
        F.coalesce(F.sum(F.when(F.col("is_ugc"), 1)), F.lit(0))
        .cast("long")
        .alias("n_ugc"),
        F.coalesce(
            F.sum(
                F.when(
                    ~(
                        F.col("is_nofollow")
                        | F.col("is_sponsored")
                        | F.col("is_ugc")
                    ),
                    1,
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("n_follow"),
        F.expr(
            "COALESCE(SUM(CASE WHEN is_nofollow THEN 1 END), 0)"
            " * 1000000 DIV COUNT(*)"
        )
        .cast("long")
        .alias("nofollow_ppm"),
    )


def typosquat_min_dist_from(labels, brands, key="event_id"):
    """Shared typosquat-scoring core: `labels` carries (<key>,
    label), `brands` is the curated broadcast dimension (brand) —
    returns (<key>, label, min_dist), the minimum Levenshtein
    distance of each label against the whole dimension. Broadcast
    nested-loop the label side streams through once; the per-label
    MIN collapses the brand fan-out immediately. Used by the
    q_typosquat gate and jobs/frontier_hygiene.py (one rule
    source)."""
    return (
        labels.crossJoin(F.broadcast(brands))
        .groupBy(key, "label")
        .agg(
            F.min(F.levenshtein("label", "brand")).alias("min_dist")
        )
    )


#: The curated brand dimension the typosquat gate and
#: jobs/frontier_hygiene.py share; the gate's SQL oracle embeds the
#: same four rows as VALUES (SQL cannot import).
TYPOSQUAT_BRANDS = ["paypal", "google", "amazon", "github"]


def subdomain_fanout_from(hosts):
    """Shared subdomain-fanout core: `hosts` carries (registrable,
    subdomain [, ...]) — returns per registrable the DISTINCT
    subdomain count, page count and the fan-out class (single / few
    / many / explosion; explosion is the wildcard-farm signature
    whose registrables get ONE shared crawl budget). Used by the
    q_subdomain_explosion gate and jobs/frontier_hygiene.py."""
    per_dom = hosts.groupBy("registrable").agg(
        F.countDistinct("subdomain").cast("long").alias("n_subs"),
        F.count("*").cast("long").alias("n_pages"),
    )
    return per_dom.select(
        "registrable",
        "n_subs",
        "n_pages",
        F.when(F.col("n_subs") == 1, "single")
        .when(F.col("n_subs") <= 8, "few")
        .when(F.col("n_subs") <= 32, "many")
        .otherwise("explosion")
        .alias("fanout_class"),
    )


@q(
    """
    WITH brands(brand) AS (
      VALUES ('paypal'), ('google'), ('amazon'), ('github')),
    labels AS (
      SELECT event_id,
             CASE event_id % 6
               WHEN 0 THEN 'paypal'
               WHEN 1 THEN 'paypa1'
               WHEN 2 THEN 'gooogle'
               WHEN 3 THEN 'github'
               WHEN 4 THEN 'news'
               ELSE 'amazn' END AS label
      FROM events),
    dists AS (
      SELECT l.event_id, l.label,
             MIN(levenshtein(l.label, b.brand)) AS min_dist
      FROM labels l CROSS JOIN brands b
      GROUP BY l.event_id, l.label),
    cls AS (
      SELECT label, min_dist,
             CASE WHEN min_dist = 0 THEN 'brand'
                  WHEN min_dist <= 2 THEN 'typosquat'
                  ELSE 'unrelated' END AS squat_class
      FROM dists)
    SELECT squat_class,
           CAST(COUNT(*) AS BIGINT) AS n_pages,
           CAST(COUNT(DISTINCT label) AS BIGINT) AS n_labels,
           CAST(MIN(min_dist) AS BIGINT) AS min_dist,
           CAST(MAX(min_dist) AS BIGINT) AS max_dist
    FROM cls GROUP BY squat_class
    """,
)
def q_typosquat(spark, sf_dir):
    """Typosquat detection — the phishing-adjacent frontier filter
    that complements the homoglyph probe (q_script_mix catches
    mixed-SCRIPT spoofs; this catches same-script edit-distance
    spoofs like 'paypa1' and 'gooogle' that no script census can
    see): every hostname label is scored against a curated brand
    dimension by minimum Levenshtein distance — 0 is the brand
    itself, 1-2 is squatting range (one fat-finger or one
    duplication), 3+ is unrelated. The brand side is a handful of
    rows, so the all-pairs scoring is a broadcast nested-loop the
    label side streams through once; the per-label MIN collapses the
    brand fan-out immediately.

    Plan/scale: broadcast cross join (|brands| per label row — the
    dimension is curated and tiny) + per-label min aggregate + the
    bounded class census; at 10^9 labels the only exchange is the
    label-keyed partial-min collapse."""
    ev = _t(spark, sf_dir, "events")
    m = F.col("event_id") % 6
    labels = ev.select(
        "event_id",
        F.when(m == 0, F.lit("paypal"))
        .when(m == 1, F.lit("paypa1"))
        .when(m == 2, F.lit("gooogle"))
        .when(m == 3, F.lit("github"))
        .when(m == 4, F.lit("news"))
        .otherwise(F.lit("amazn"))
        .alias("label"),
    )
    brands = local_table(
        spark,
        [(b,) for b in TYPOSQUAT_BRANDS], "brand string"
    )
    dists = typosquat_min_dist_from(labels, brands)
    cls = dists.select(
        "label",
        "min_dist",
        F.when(F.col("min_dist") == 0, "brand")
        .when(F.col("min_dist") <= 2, "typosquat")
        .otherwise("unrelated")
        .alias("squat_class"),
    )
    return cls.groupBy("squat_class").agg(
        F.count("*").cast("long").alias("n_pages"),
        F.countDistinct("label").cast("long").alias("n_labels"),
        F.min("min_dist").cast("long").alias("min_dist"),
        F.max("min_dist").cast("long").alias("max_dist"),
    )


@q(
    """
    WITH hosts AS (
      SELECT 'dom' || (event_id % 10) AS registrable,
             CASE
               WHEN event_id % 10 < 5 THEN 'www'
               WHEN event_id % 10 < 8
                 THEN 's' || ((event_id // 10) % 4)
               WHEN event_id % 10 = 8
                 THEN 'm' || ((event_id // 10) % 16)
               ELSE 'u' || ((event_id // 10) % 64)
             END AS subdomain
      FROM events),
    per_dom AS (
      SELECT registrable,
             CAST(COUNT(DISTINCT subdomain) AS BIGINT) AS n_subs,
             CAST(COUNT(*) AS BIGINT) AS n_pages
      FROM hosts GROUP BY registrable),
    cls AS (
      SELECT registrable, n_subs, n_pages,
             CASE WHEN n_subs = 1 THEN 'single'
                  WHEN n_subs <= 8 THEN 'few'
                  WHEN n_subs <= 32 THEN 'many'
                  ELSE 'explosion' END AS fanout_class
      FROM per_dom)
    SELECT fanout_class,
           CAST(COUNT(*) AS BIGINT) AS n_domains,
           CAST(MAX(n_subs) AS BIGINT) AS max_subdomains,
           CAST(SUM(n_pages) AS BIGINT) AS n_pages
    FROM cls GROUP BY fanout_class
    """,
)
def q_subdomain_explosion(spark, sf_dir):
    """Subdomain-explosion detection — the frontier-budget guard
    against wildcard-DNS farms (a spam operation serves every
    `anything.domain.tld`, and a crawler that treats subdomains as
    independent hosts hands the farm an unbounded politeness budget
    and an unbounded frontier): per registrable domain, the DISTINCT
    subdomain count classes into single / few (a normal www+api+cdn
    spread) / many / explosion — the explosion class is the
    wildcard-farm signature and its registrables get ONE shared
    crawl budget instead of per-host budgets. Page mass per class
    says how much of the frontier the farms already occupy.

    Plan/scale: two-level aggregate — the heavy exchange is the
    registrable-keyed distinct collapse (subdomain cardinality per
    group is exactly what distinct-agg partials bound); the class
    census is 4 rows."""
    ev = _t(spark, sf_dir, "events")
    r = F.col("event_id") % 10
    hosts = ev.select(
        F.concat(F.lit("dom"), r.cast("string")).alias("registrable"),
        # four live fan-out arms: 1 / 4 / 16 / 64 distinct — the 16
        # arm exists because the 9..32 'many' class would otherwise
        # be structurally dead (the recurring dead-class trap)
        F.when(r < 5, F.lit("www"))
        .when(
            r < 8,
            F.concat(
                F.lit("s"), F.expr("(event_id DIV 10) % 4").cast("string")
            ),
        )
        .when(
            r == 8,
            F.concat(
                F.lit("m"),
                F.expr("(event_id DIV 10) % 16").cast("string"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("u"),
                F.expr("(event_id DIV 10) % 64").cast("string"),
            )
        )
        .alias("subdomain"),
    )
    cls = subdomain_fanout_from(hosts)
    return cls.groupBy("fanout_class").agg(
        F.count("*").cast("long").alias("n_domains"),
        F.max("n_subs").cast("long").alias("max_subdomains"),
        F.sum("n_pages").cast("long").alias("n_pages"),
    )
