"""Robots exclusion and crawl politeness: robots.txt rule parsing and the
longest-match verdict (plain and wildcard rules), the rules snapshot
the compliance job shares, politeness and Retry-After audits, bandwidth
apportioning, the robots-filtered frontier, and the crawl plan that
composes authority, robots verdicts and recrawl cadence.
"""

from __future__ import annotations

import re as _re
from functools import partial

from pyspark.sql import Window
from pyspark.sql import functions as F

from readembedability_spark.queries import (
    REGISTRY,
    _build_concurrently,
    _t,
    q,
)
from readembedability_spark.schemas import local_table
from readembedability_spark.textops.graph import (
    _LINK_HOSTS,
    _NUM_HOST_RE,
    _extracted_links,
    _link_pages,
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
      WHERE p.url IS NULL),
    hosts AS (
      SELECT DISTINCT
             regexp_extract(link,
               'https://h([0-9]+)\\.example\\.com/', 1) AS hn
      FROM frontier),
    robots AS (
      SELECT hn,
             'User-agent: *' || chr(10) ||
             CASE WHEN CAST(hn AS BIGINT) % 4 = 0
                  THEN 'Disallow: /local/' || chr(10) ELSE '' END ||
             CASE WHEN CAST(hn AS BIGINT) % 4 = 1
                  THEN 'Disallow: /d/' || chr(10) ELSE '' END ||
             'Crawl-delay: 1' AS txt
      FROM hosts),
    rules AS (
      SELECT hn,
             list_transform(
               list_filter(string_split(txt, chr(10)),
                           l -> starts_with(l, 'Disallow: ')),
               l -> substr(l, 11)) AS dis
      FROM robots),
    fh AS (
      SELECT regexp_extract(link,
               'https://h([0-9]+)\\.example\\.com/', 1) AS hn,
             regexp_replace(link, 'https://[^/]+', '') AS path
      FROM frontier),
    marked AS (
      SELECT fh.hn,
             len(list_filter(r.dis, p -> starts_with(fh.path, p))) > 0
               AS blocked
      FROM fh JOIN rules r ON r.hn = fh.hn)
    SELECT 'h' || hn || '.example.com' AS host,
           CAST(SUM(CASE WHEN blocked THEN 0 ELSE 1 END) AS BIGINT)
             AS n_allowed,
           CAST(SUM(CASE WHEN blocked THEN 1 ELSE 0 END) AS BIGINT)
             AS n_blocked
    FROM marked GROUP BY 1
    """,
)
def q_frontier_robots(spark, sf_dir):
    """Robots-compliance filtering over the crawl frontier — the gate
    between frontier discovery and the schedule that real crawlers
    are legally/operationally bound by: each frontier host publishes
    a robots.txt (synthesized deterministically: hosts ≡ 0 mod 4
    disallow /local/, ≡ 1 mod 4 disallow /d/), the PARSER extracts
    the `Disallow:` prefix list — line split + filter + transform,
    all JVM-side higher-order functions, no UDF — and every unseen
    url is matched path-prefix-against its host's rules. Emits
    per-host allowed/blocked counts (the schedule would consume the
    allowed set). At 100 TB: the robots table is host-cardinality
    (fetched, here synthesized), the frontier joins it host-keyed —
    the same no-forced-broadcast discipline as q_frontier_schedule —
    and the prefix match is row-local after the join. The oracle
    replays the same parse with DuckDB list lambdas over the SAME
    synthesized robots text, so the parse rule itself is
    cross-engine-locked."""
    links = (
        _extracted_links(spark, sf_dir)
        .filter(~F.col("nofollow"))
        .select("link")
        .distinct()
    )
    pages = _link_pages(spark, sf_dir).select("url")
    frontier = links.join(
        pages, F.col("link") == F.col("url"), "left_anti"
    ).select(
        F.regexp_extract("link", _NUM_HOST_RE, 1).alias("hn"),
        F.regexp_replace("link", r"https://[^/]+", "").alias("path"),
    )
    hosts = frontier.select("hn").distinct()
    nl = "\n"
    txt = F.concat(
        F.lit("User-agent: *" + nl),
        F.when(
            F.col("hn").cast("long") % 4 == 0,
            F.lit("Disallow: /local/" + nl),
        ).otherwise(F.lit("")),
        F.when(
            F.col("hn").cast("long") % 4 == 1,
            F.lit("Disallow: /d/" + nl),
        ).otherwise(F.lit("")),
        F.lit("Crawl-delay: 1"),
    )
    rules = hosts.select("hn", _disallow_prefixes(txt).alias("dis"))
    marked = frontier.join(rules, "hn").select(
        "hn", _disallowed("path", "dis").alias("blocked")
    )
    return marked.groupBy(
        F.concat(F.lit("h"), F.col("hn"), F.lit(".example.com")).alias(
            "host"
        )
    ).agg(
        F.sum(F.when(F.col("blocked"), 0).otherwise(1))
        .cast("long")
        .alias("n_allowed"),
        F.sum(F.when(F.col("blocked"), 1).otherwise(0))
        .cast("long")
        .alias("n_blocked"),
    )


def _disallow_prefixes(txt):
    """The `Disallow:` path prefixes of a robots.txt text column: its
    lines, kept when they start with "Disallow: ", cut after that tag.
    q_frontier_robots and q_robots_crawl_debt parse with this."""
    return F.transform(
        F.filter(
            F.split(txt, "\n"), lambda line: line.startswith("Disallow: ")
        ),
        lambda line: F.substring(line, 11, 2147483647),
    )


def _disallowed(path, prefixes):
    """True when the path column starts with any of the prefixes."""
    return F.exists(prefixes, lambda p: F.col(path).startswith(p))


@q(
    f"""
    WITH auth AS (SELECT node, pr FROM ({REGISTRY["q_pagerank_links"].sql})),
    rob AS (SELECT host, n_allowed, n_blocked
            FROM ({REGISTRY["q_frontier_robots"].sql})),
    rec AS (SELECT host AS hn, recrawl_hours
            FROM ({REGISTRY["q_recrawl_schedule"].sql})),
    j AS (
      SELECT 'h' || CAST(a.node AS VARCHAR) || '.example.com' AS host,
             a.pr AS authority,
             COALESCE(r.n_allowed, 0) AS n_allowed,
             COALESCE(r.n_blocked, 0) AS n_blocked,
             rec.recrawl_hours
      FROM auth a
      LEFT JOIN rob r
        ON r.host = 'h' || CAST(a.node AS VARCHAR) || '.example.com'
      LEFT JOIN rec ON rec.hn = a.node),
    f AS (
      SELECT *,
             n_allowed > 0 AND COALESCE(recrawl_hours <= 24.0, TRUE)
               AS fetch_now
      FROM j)
    SELECT host, authority, n_allowed, n_blocked, recrawl_hours, fetch_now,
           CASE WHEN fetch_now THEN CAST(ROW_NUMBER() OVER (
             PARTITION BY fetch_now ORDER BY authority DESC, host)
             AS BIGINT) END AS priority
    FROM f
    """,
)
def q_crawl_plan(spark, sf_dir):
    """Composed crawl plan — the CRAWL-half sibling of
    q_admission_policy: per host, blend (1) link-graph authority
    (q_pagerank_links — who is worth fetching), (2) robots compliance
    (q_frontier_robots — who may be fetched: hosts with zero allowed
    frontier urls are never due), and (3) the change-rate cadence
    (q_recrawl_schedule — who is due NOW: recrawl interval ≤ 24 h, or
    no revisit history yet) into one fetch_now decision with an
    authority-ranked priority. This is the artifact a crawler's
    scheduler actually consumes; each signal remains independently
    driver-gated, and the composition is value-level (the oracle
    nests the three constituent oracles verbatim, the ann_recall
    pattern), so the plan can never drift from its parts.

    Plan/scale: three host-cardinality tables joined host-keyed (no
    forced broadcast — the q_frontier_schedule discipline), one
    row-local CASE, one window over the host table bounded by host
    cardinality (at 10^8 hosts production would range-partition the
    priority sort; the rank is only needed within the due set)."""
    # the three constituent signals are independent (authority runs an
    # extraction pass + the PageRank loop eagerly at build); construct
    # them concurrently so their eager jobs back-fill each other's
    # stragglers (guide §2.6 — the q_ann_recall pattern)
    auth, rob, rec = _build_concurrently(
        spark,
        *(
            partial(REGISTRY[name].spark, spark, sf_dir)
            for name in (
                "q_pagerank_links", "q_frontier_robots", "q_recrawl_schedule"
            )
        ),
    )
    rec = rec.select(F.col("host").alias("hn"), "recrawl_hours")
    host_str = F.concat(
        F.lit("h"), F.col("node").cast("string"), F.lit(".example.com")
    )
    j = (
        auth.select("node", host_str.alias("host"), F.col("pr").alias("authority"))
        .join(rob, "host", "left")
        .join(rec, F.col("node") == F.col("hn"), "left")
        .select(
            "host",
            "authority",
            F.coalesce("n_allowed", F.lit(0).cast("long")).alias("n_allowed"),
            F.coalesce("n_blocked", F.lit(0).cast("long")).alias("n_blocked"),
            "recrawl_hours",
        )
    )
    fetch_now = (F.col("n_allowed") > 0) & F.coalesce(
        F.col("recrawl_hours") <= 24.0, F.lit(True)
    )
    f = j.withColumn("fetch_now", fetch_now)
    w = Window.partitionBy("fetch_now").orderBy(
        F.desc("authority"), F.asc("host")
    )
    return f.select(
        "host",
        "authority",
        "n_allowed",
        "n_blocked",
        "recrawl_hours",
        "fetch_now",
        F.when(
            F.col("fetch_now"), F.row_number().over(w).cast("long")
        ).alias("priority"),
    )


@q(
    """
    WITH cap AS (
      SELECT 'h' || CAST(event_id % 25 AS VARCHAR)
               || '.example.com' AS host,
             CAST(event_id % 25 AS VARCHAR) AS hn,
             CASE event_id % 3
               WHEN 0 THEN '/local/' || CAST(event_id % 50 AS VARCHAR)
               WHEN 1 THEN '/d/' || CAST(event_id % 50 AS VARCHAR)
               ELSE '/a/' || CAST(event_id % 50 AS VARCHAR)
             END AS path
      FROM events
    ), hosts AS (
      SELECT DISTINCT hn FROM cap
    ), robots AS (
      SELECT hn,
             'User-agent: *' || chr(10) ||
             CASE WHEN CAST(hn AS BIGINT) % 4 = 0
                  THEN 'Disallow: /local/' || chr(10) ELSE '' END ||
             CASE WHEN CAST(hn AS BIGINT) % 4 = 1
                  THEN 'Disallow: /d/' || chr(10) ELSE '' END ||
             CASE WHEN CAST(hn AS BIGINT) % 8 = 2
                  THEN 'Disallow: /' || chr(10) ELSE '' END ||
             'Crawl-delay: 1' AS txt
      FROM hosts
    ), rules AS (
      SELECT hn,
             list_transform(
               list_filter(string_split(txt, chr(10)),
                           l -> starts_with(l, 'Disallow: ')),
               l -> substr(l, 11)) AS dis
      FROM robots
    ), marked AS (
      SELECT cap.host,
             len(list_filter(r.dis, p -> starts_with(cap.path, p))) > 0
               AS blocked,
             list_contains(r.dis, '/') AS full_block
      FROM cap JOIN rules r ON r.hn = cap.hn
    )
    SELECT host,
           CAST(COUNT(*) AS BIGINT) AS n_captures,
           CAST(SUM(CASE WHEN blocked THEN 1 ELSE 0 END) AS BIGINT)
             AS n_blocked,
           CAST(SUM(CASE WHEN blocked THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS debt_ppm,
           MAX(full_block) AS full_block
    FROM marked GROUP BY host
    """,
)
def q_robots_crawl_debt(spark, sf_dir):
    """Robots crawl-debt audit — the RETROACTIVE sibling of
    q_frontier_robots: that gate filters what we crawl NEXT, this one
    asks what we already HOLD that today's robots.txt would forbid —
    the purge work-list a compliance-bound archive drains when a site
    tightens its policy. Every captured path is matched against its
    host's current Disallow prefixes (parsed with the same JVM
    higher-order-function chain as the frontier gate — line split /
    filter / transform, no UDF), including the full-site
    `Disallow: /` case (hosts ≡ 2 mod 8 — their ENTIRE history
    becomes debt and the full_block flag tells the operator to drop
    the host rather than enumerate urls). Per host: captures held,
    captures now blocked, exact-ppm debt, full-block flag — host
    classes land at 0%, ~1/3 and 100% debt so all three regimes fire
    (the host modulus is 25, COPRIME with the 3-way path rotation —
    a 24-host universe would freeze each host's path class and kill
    the partial-debt regime, the dead-modular-class trap).

    Plan/scale: hosts are distinct-projected from the captures (one
    small agg at host cardinality), robots text + rule parsing are
    row-local on THAT table, and captures join the rules host-keyed —
    the frontier gate's no-forced-broadcast discipline — followed by
    one host rollup; the prefix match is row-local after the join."""
    ev = _t(spark, sf_dir, "events")
    hn = (F.col("event_id") % 25).cast("string")
    path = (
        F.when(
            F.col("event_id") % 3 == 0,
            F.concat(
                F.lit("/local/"), (F.col("event_id") % 50).cast("string")
            ),
        )
        .when(
            F.col("event_id") % 3 == 1,
            F.concat(
                F.lit("/d/"), (F.col("event_id") % 50).cast("string")
            ),
        )
        .otherwise(
            F.concat(
                F.lit("/a/"), (F.col("event_id") % 50).cast("string")
            )
        )
    )
    cap = ev.select(
        F.concat(F.lit("h"), hn, F.lit(".example.com")).alias("host"),
        hn.alias("hn"),
        path.alias("path"),
    )
    hosts = cap.select("hn").distinct()
    nl = "\n"
    txt = F.concat(
        F.lit("User-agent: *" + nl),
        F.when(
            F.col("hn").cast("long") % 4 == 0,
            F.lit("Disallow: /local/" + nl),
        ).otherwise(F.lit("")),
        F.when(
            F.col("hn").cast("long") % 4 == 1,
            F.lit("Disallow: /d/" + nl),
        ).otherwise(F.lit("")),
        F.when(
            F.col("hn").cast("long") % 8 == 2,
            F.lit("Disallow: /" + nl),
        ).otherwise(F.lit("")),
        F.lit("Crawl-delay: 1"),
    )
    rules = hosts.select("hn", _disallow_prefixes(txt).alias("dis"))
    marked = cap.join(rules, "hn").select(
        "host",
        _disallowed("path", "dis").alias("blocked"),
        F.array_contains("dis", "/").alias("full_block"),
    )
    return marked.groupBy("host").agg(
        F.count("*").cast("long").alias("n_captures"),
        F.sum(F.when(F.col("blocked"), 1).otherwise(0))
        .cast("long")
        .alias("n_blocked"),
        F.expr(
            "CAST(SUM(CASE WHEN blocked THEN 1 ELSE 0 END) * 1000000 "
            "DIV COUNT(*) AS BIGINT)"
        ).alias("debt_ppm"),
        F.max("full_block").alias("full_block"),
    )


@q(
    """
    WITH hosts AS (
      SELECT DISTINCT event_id % 40 AS h FROM events),
    robots AS (
      SELECT h,
             'User-agent: *' || chr(10) || 'Disallow: /tmp' || chr(10)
             || array_to_string(
                  list_transform(range(0, h % 3 + 1),
                    i -> 'Sitemap: ' || CASE WHEN h % 5 = 0
                         THEN 'https://cdn.example.net/sm/h'
                              || CAST(h AS VARCHAR) || '_'
                              || CAST(i AS VARCHAR) || '.xml'
                         ELSE 'https://site' || CAST(h AS VARCHAR)
                              || '.example.com/sitemap'
                              || CAST(i AS VARCHAR) || '.xml' END),
                  chr(10)) AS txt
      FROM hosts),
    parsed AS (
      SELECT 'site' || CAST(h AS VARCHAR) || '.example.com'
               AS robots_host,
             regexp_extract_all(txt, 'Sitemap: ([^\\n]+)', 1) AS sms
      FROM robots),
    x AS (
      SELECT robots_host,
             CAST(len(sms) AS BIGINT) AS n_sitemaps,
             CAST(len(list_filter(sms,
                    s -> regexp_extract(s, 'https?://([^/]+)', 1)
                         <> robots_host)) AS BIGINT) AS n_cross_host,
             CAST(len(list_distinct(list_transform(sms,
                    s -> regexp_extract(s, 'https?://([^/]+)', 1))))
                  AS BIGINT) AS n_sitemap_hosts
      FROM parsed)
    SELECT robots_host AS host, n_sitemaps, n_cross_host,
           n_sitemap_hosts, n_cross_host > 0 AS cross_host_flag
    FROM x
    """,
)
def q_robots_sitemaps(spark, sf_dir):
    """robots.txt Sitemap-directive discovery — the missing link
    between the robots family (q_frontier_robots parses the
    Allow/Disallow rules) and the sitemap family (q_sitemap_parse
    consumes the urlset): per host, the Sitemap: lines are extracted
    from the robots blob and audited for CROSS-HOST pointers (every
    5th host serves its sitemaps from a CDN host — the real-world
    pattern the sitemaps.org cross-submission rule exists for, and a
    crawler that keys sitemap trust on the robots host alone will
    either miss or over-trust them). Per host: sitemap count, cross-
    host pointer count, distinct sitemap hosts, and the flag the
    frontier seeder branches on.

    Plan/scale: the robots blob is one row per host by construction
    (the fetch grain), so there is no build aggregate at all — parse,
    per-line host extraction (JVM regexp inside array lambdas) and
    the audit are entirely row-local on the host grain; the only
    exchange is the DISTINCT host derivation the synthesis needs (a
    real deployment reads robots blobs already host-keyed). No join,
    no window, no Python."""
    hosts = (
        _t(spark, sf_dir, "events")
        .select((F.col("event_id") % 40).alias("h"))
        .distinct()
    )
    h = F.col("h")
    sm_url = lambda i: F.when(  # noqa: E731
        h % 5 == 0,
        F.concat(
            F.lit("https://cdn.example.net/sm/h"), h.cast("string"),
            F.lit("_"), i.cast("string"), F.lit(".xml"),
        ),
    ).otherwise(
        F.concat(
            F.lit("https://site"), h.cast("string"),
            F.lit(".example.com/sitemap"), i.cast("string"), F.lit(".xml"),
        )
    )
    txt = F.concat(
        F.lit("User-agent: *\nDisallow: /tmp\n"),
        F.array_join(
            F.transform(
                F.sequence(F.lit(0), h % 3),
                lambda i: F.concat(F.lit("Sitemap: "), sm_url(i)),
            ),
            "\n",
        ),
    )
    robots_host = F.concat(
        F.lit("site"), h.cast("string"), F.lit(".example.com")
    )
    parsed = hosts.select(
        robots_host.alias("robots_host"),
        F.regexp_extract_all(txt, F.lit(r"Sitemap: ([^\n]+)"), F.lit(1))
        .alias("sms"),
    )
    sm_host = lambda s: F.regexp_extract(  # noqa: E731
        s, r"https?://([^/]+)", 1
    )
    n_cross = F.size(
        F.filter("sms", lambda s: sm_host(s) != F.col("robots_host"))
    ).cast("long")
    return parsed.select(
        F.col("robots_host").alias("host"),
        F.size("sms").cast("long").alias("n_sitemaps"),
        n_cross.alias("n_cross_host"),
        F.size(
            F.array_distinct(F.transform("sms", lambda s: sm_host(s)))
        )
        .cast("long")
        .alias("n_sitemap_hosts"),
        (n_cross > 0).alias("cross_host_flag"),
    )


def politeness_from(fetches, tiebreak="event_id"):
    """Shared politeness-ledger core (q_politeness_audit's exact
    plan), reused by jobs/compliance_run.py over real fetch logs:
    ``fetches`` carries (host, ts, <tiebreak>, delay_us); gaps come
    from a lag window ordered by (ts, tiebreak) — the window
    partitions on host, the SAME key the final aggregate groups on,
    so the whole ledger is ONE exchange. Returns one row per host:
    fetch/gap/violation counts, worst gap in ms, violation ppm
    (integer DIV) and the polite/mixed/rude/unknown verdict."""
    gaps = fetches.select(
        "host",
        "delay_us",
        F.expr(
            "timestampdiff(MICROSECOND, "
            f"lag(ts) OVER (PARTITION BY host ORDER BY ts, {tiebreak}),"
            " ts)"
        ).alias("gap_us"),
    )
    agg = gaps.groupBy("host").agg(
        F.count("*").cast("long").alias("n_fetches"),
        F.count("gap_us").cast("long").alias("n_gaps"),
        F.coalesce(
            F.sum(F.when(F.col("gap_us") < F.col("delay_us"), 1)),
            F.lit(0),
        )
        .cast("long")
        .alias("n_violations"),
        F.expr("MIN(gap_us) DIV 1000").cast("long").alias("min_gap_ms"),
    )
    return agg.select(
        "host",
        "n_fetches",
        "n_gaps",
        "n_violations",
        "min_gap_ms",
        *politeness_verdict(),
    )


def politeness_verdict():
    """(violation_ppm, politeness) of a ledger's (n_gaps, n_violations):
    the violating share of gaps in ppm (integer DIV), and 'rude' for a
    strict majority of violating gaps, 'mixed' for any, else 'polite';
    a host with no gap is 'unknown' at 0 ppm."""
    return (
        F.when(F.col("n_gaps") == 0, F.lit(0))
        .otherwise(F.expr("n_violations * 1000000 DIV n_gaps"))
        .cast("long")
        .alias("violation_ppm"),
        F.when(F.col("n_gaps") == 0, "unknown")
        .when(F.col("n_violations") * 2 > F.col("n_gaps"), "rude")
        .when(F.col("n_violations") > 0, "mixed")
        .otherwise("polite")
        .alias("politeness"),
    )


@q(
    """
    WITH fetches AS (
      SELECT event_id % 13 AS host, ts, event_id,
             CASE (event_id % 13) % 3
               WHEN 0 THEN 1000 WHEN 1 THEN 2800 ELSE 4000
             END * CAST(1000000 AS BIGINT) AS delay_us
      FROM events),
    gaps AS (
      SELECT host, delay_us,
             date_diff('microsecond',
                       lag(ts) OVER (PARTITION BY host
                                     ORDER BY ts, event_id),
                       ts) AS gap_us
      FROM fetches),
    agg AS (
      SELECT host,
             CAST(COUNT(*) AS BIGINT) AS n_fetches,
             CAST(COUNT(gap_us) AS BIGINT) AS n_gaps,
             CAST(COALESCE(SUM(CASE WHEN gap_us < delay_us
                                    THEN 1 END), 0) AS BIGINT)
               AS n_violations,
             CAST(MIN(gap_us) // 1000 AS BIGINT) AS min_gap_ms
      FROM gaps GROUP BY host)
    SELECT host, n_fetches, n_gaps, n_violations, min_gap_ms,
           CAST(CASE WHEN n_gaps = 0 THEN 0
                     ELSE n_violations * 1000000 // n_gaps END
                AS BIGINT) AS violation_ppm,
           CASE
             WHEN n_gaps = 0 THEN 'unknown'
             WHEN n_violations * 2 > n_gaps THEN 'rude'
             WHEN n_violations > 0 THEN 'mixed'
             ELSE 'polite' END AS politeness
    FROM agg
    """,
)
def q_politeness_audit(spark, sf_dir):
    """Crawl-politeness audit — the compliance ledger a fetcher owes
    every origin: per host (events keyed to 13 hosts; per-host
    crawl-delay derived from the host id so three delay tiers are
    live), consecutive fetch gaps come from a lag window ordered by
    (ts, event_id) — the event_id tiebreak makes same-instant fetches
    deterministic (same-timestamp rows would otherwise make the gap
    engine-order-dependent), and a same-instant pair yields gap 0,
    the maximal violation. A gap below the host's crawl-delay is a
    violation; the report carries fetch/gap/violation counts, the
    worst (minimum) observed gap in ms, the violation rate in ppm
    (integer DIV — exact across engines), and a three-way verdict
    (majority-violating hosts are 'rude', any violation 'mixed',
    else 'polite'; gapless single-fetch hosts 'unknown' rather than
    falsely polite).

    Plan/scale: the window partitions on host — the SAME key the
    final aggregate groups on, so the whole audit is ONE exchange;
    AQE coalesces the bounded per-host output. At 10^12 fetch
    records the per-host log is exactly the politeness evidence a
    crawler must retain, and the first gap of each partition being
    NULL (not a wraparound vs the previous host) is what COUNT(gap)
    vs COUNT(*) accounts for."""
    ev = _t(spark, sf_dir, "events")
    tier = (F.col("event_id") % 13) % 3
    delay_s = (
        F.when(tier == 0, 1000).when(tier == 1, 2800).otherwise(4000)
    )
    fetches = ev.select(
        (F.col("event_id") % 13).alias("host"),
        "ts",
        "event_id",
        (delay_s.cast("long") * 1000000).alias("delay_us"),
    )
    return politeness_from(fetches, tiebreak="event_id")


@q(
    """
    WITH mass AS (
      SELECT event_id % 13 AS host,
             CAST(COUNT(*) AS BIGINT) AS mass
      FROM events GROUP BY host),
    tot AS (
      SELECT host, mass,
             SUM(mass) OVER () AS total,
             mass * 10000 // SUM(mass) OVER () AS base_quota,
             mass * 10000 % SUM(mass) OVER () AS rem
      FROM mass),
    ranked AS (
      SELECT host, mass, base_quota,
             10000 - SUM(base_quota) OVER () AS n_extra,
             ROW_NUMBER() OVER (ORDER BY rem DESC, host) AS rk
      FROM tot)
    SELECT host, mass,
           CAST(base_quota AS BIGINT) AS base_quota,
           CAST(CASE WHEN rk <= n_extra THEN 1 ELSE 0 END AS BIGINT)
             AS extra,
           CAST(base_quota
                + CASE WHEN rk <= n_extra THEN 1 ELSE 0 END
                AS BIGINT) AS quota
    FROM ranked
    """,
)
def q_bandwidth_apportion(spark, sf_dir):
    """Fetch-budget apportionment — the scheduler step between
    `q_crawl_plan`'s priorities and the fetcher fleet: a global
    budget of 10000 fetch slots is divided across hosts proportional
    to observed demand using the LARGEST-REMAINDER method (Hamilton
    apportionment): every host gets floor(mass * B / total), and the
    leftover slots — exactly B - sum(floors), fewer than the host
    count — go one each to the hosts with the largest division
    remainders, ties broken by host id so the allocation is a pure
    function of the input (a float-share rounding would both drift
    across engines and fail to sum to B; the integer method sums
    EXACTLY to the budget by construction, which is the property a
    fleet dispatcher needs).

    Plan/scale: demand is ONE hash aggregate on host; everything
    after operates on the bounded per-host table (13 rows here,
    ~10^7 at web scale) — the unpartitioned windows are driver-sized
    by then, and at 10^7 hosts the same algebra runs as one more
    agg + broadcast of the two scalars (total, n_extra). The
    remainder rank is the only global sort and it sorts hosts, not
    fetches."""
    ev = _t(spark, sf_dir, "events")
    mass = ev.groupBy((F.col("event_id") % 13).alias("host")).agg(
        F.count("*").cast("long").alias("mass")
    )
    w = Window.partitionBy()
    tot = mass.select(
        "host",
        "mass",
        F.sum("mass").over(w).alias("total"),
    ).select(
        "host",
        "mass",
        F.expr("mass * 10000 DIV total").alias("base_quota"),
        F.expr("mass * 10000 % total").alias("rem"),
    )
    ranked = tot.select(
        "host",
        "mass",
        "base_quota",
        (F.lit(10000) - F.sum("base_quota").over(w)).alias("n_extra"),
        F.row_number()
        .over(Window.orderBy(F.col("rem").desc(), F.col("host")))
        .alias("rk"),
    )
    return ranked.select(
        "host",
        "mass",
        F.col("base_quota").cast("long").alias("base_quota"),
        F.when(F.col("rk") <= F.col("n_extra"), 1)
        .otherwise(0)
        .cast("long")
        .alias("extra"),
        (
            F.col("base_quota")
            + F.when(F.col("rk") <= F.col("n_extra"), 1).otherwise(0)
        )
        .cast("long")
        .alias("quota"),
    )


#: The synthesized robots snapshot every python consumer shares —
#: the q_robots_precedence gate, q_robots_diff's before-set and
#: jobs/compliance_run.py's dimension all build from THIS list. The
#: SQL oracles inline the same five rows as VALUES (SQL cannot
#: import); an edit here must update those VALUES lists in step.
ROBOTS_RULES_SNAPSHOT = [
    (0, "/private/", 0),
    (0, "/private/public/", 1),
    (0, "/tmp", 0),
    (1, "/", 0),
    (1, "/articles/", 1),
]
ROBOTS_RULES_SCHEMA = "g long, pattern string, is_allow int"

#: the six url paths that probe ROBOTS_RULES_SNAPSHOT: an Allow
#: override inside a disallowed subtree, the pierced blanket Disallow,
#: a default-allowed page and the one-char-short prefix boundary (the
#: oracles inline the same CASE)
ROBOTS_PROBE_PATHS = (
    "/private/a",
    "/private/public/x",
    "/articles/2024/one",
    "/index.html",
    "/tmp/x",
    "/private",
)


def robots_probe_path(k, paths):
    """``paths[k]`` for an integer Column ``k`` in 0..5: the probe url
    path of q_robots_precedence, q_robots_diff, q_robots_wildcard and
    the synthetic logs of jobs/compliance_run.py and
    jobs/frontier_hygiene.py."""
    path = F.when(k == 0, F.lit(paths[0]))
    for i, p in enumerate(paths[1:-1], 1):
        path = path.when(k == i, F.lit(p))
    return path.otherwise(F.lit(paths[-1]))


def _robots_probe_urls(spark, sf_dir, paths):
    """(event_id, g, path): every event as one url probe, verdicted
    under ruleset g = (event_id DIV 6) % 3 at path paths[event_id % 6]."""
    return _t(spark, sf_dir, "events").select(
        "event_id",
        F.expr("(event_id DIV 6) % 3").alias("g"),
        robots_probe_path(F.col("event_id") % 6, paths).alias("path"),
    )


def robots_verdicts_from(
    urls, rules, uid="event_id", match="startswith(path, pattern)"
):
    """Shared RFC 9309 longest-match core (q_robots_precedence's
    exact plan), reused by jobs/compliance_run.py over real fetch
    logs: ``urls`` carries (<uid>, g, path), ``rules`` is the
    broadcast-sized (g, pattern, is_allow) dimension. The winning
    rule per url is a row_number over (pattern length DESC, is_allow
    DESC, pattern) — longest match wins, Allow beats Disallow on
    ties; urls no rule mentions survive the LEFT join as
    '(default)' allowed. ``match`` is the url-vs-rule predicate (a
    Column or SQL text): plain prefix by default, a pattern regex for
    wildcard rules. The only exchange is the per-url winner window,
    keyed on the url itself — maximally spread, no skew."""
    matched = (
        urls.join(F.broadcast(rules), "g")
        .where(match)
        .select(
            uid,
            "pattern",
            "is_allow",
            F.row_number()
            .over(
                Window.partitionBy(uid).orderBy(
                    F.length("pattern").desc(),
                    F.col("is_allow").desc(),
                    F.col("pattern"),
                )
            )
            .alias("rk"),
        )
        .where(F.col("rk") == 1)
    )
    return urls.join(matched, uid, "left").select(
        uid,
        "g",
        "path",
        F.coalesce(F.col("pattern"), F.lit("(default)")).alias("rule"),
        F.when(
            F.col("pattern").isNull() | (F.col("is_allow") == 1),
            "allowed",
        )
        .otherwise("blocked")
        .alias("verdict"),
    )


@q(
    """
    WITH rules(g, pattern, is_allow) AS (
      VALUES (0, '/private/', 0),
             (0, '/private/public/', 1),
             (0, '/tmp', 0),
             (1, '/', 0),
             (1, '/articles/', 1)),
    urls AS (
      SELECT event_id, (event_id // 6) % 3 AS g,
             CASE event_id % 6
               WHEN 0 THEN '/private/a'
               WHEN 1 THEN '/private/public/x'
               WHEN 2 THEN '/articles/2024/one'
               WHEN 3 THEN '/index.html'
               WHEN 4 THEN '/tmp/x'
               ELSE '/private' END AS path
      FROM events),
    matched AS (
      SELECT u.event_id, u.g, u.path, r.pattern, r.is_allow,
             ROW_NUMBER() OVER (
               PARTITION BY u.event_id
               ORDER BY length(r.pattern) DESC, r.is_allow DESC,
                        r.pattern) AS rk
      FROM urls u JOIN rules r
        ON u.g = r.g AND starts_with(u.path, r.pattern)),
    verdicts AS (
      SELECT u.event_id, u.g,
             COALESCE(m.pattern, '(default)') AS rule,
             CASE WHEN m.pattern IS NULL OR m.is_allow = 1
                  THEN 'allowed' ELSE 'blocked' END AS verdict
      FROM urls u LEFT JOIN matched m
        ON u.event_id = m.event_id AND m.rk = 1)
    SELECT g, verdict, rule,
           CAST(COUNT(*) AS BIGINT) AS n_urls
    FROM verdicts GROUP BY g, verdict, rule
    """,
)
def q_robots_precedence(spark, sf_dir):
    """Robots longest-match precedence (RFC 9309 §2.2.2) — the rule
    the simple prefix-gate in q_frontier_robots does not model: when
    SEVERAL rules match a url, the one with the LONGEST pattern wins,
    and on equal length Allow beats Disallow. The synthesized
    rulesets exercise exactly the published examples: a Disallow
    '/private/' overridden by a longer Allow '/private/public/' (so
    '/private/public/x' is allowed while '/private/a' is blocked), a
    blanket Disallow '/' pierced by Allow '/articles/', an empty
    ruleset (default allowed), and the prefix-boundary probe:
    '/private' does NOT match the '/private/' rule (prefix match is
    literal — one char short) and falls through to default-allowed.
    The ruleset key derives from event_id DIV 6, not a second modulus
    of the same id — %3 of an id already keyed %6 freezes each path
    shape to one ruleset (the dead-class trap) and the Allow
    overrides would never fire. Winner selection is a row_number
    over (pattern length DESC,
    is_allow DESC, pattern) — fully deterministic. Per (ruleset,
    verdict, winning rule): url count, with unmatched urls surfacing
    as '(default)' rather than vanishing (the LEFT join is the
    correctness-bearing part: an inner join would silently drop every
    url the ruleset does not mention).

    Plan/scale: the rules table is the curated-dimension broadcast
    shape (a real pipeline ships millions of host rulesets, still
    dimension-sized vs 10^12 urls); the only exchange is the
    per-url window, keyed on the url itself — maximally spread, no
    skew; the rollup collapses onto the bounded rule alphabet."""
    rules = local_table(spark, ROBOTS_RULES_SNAPSHOT, ROBOTS_RULES_SCHEMA)
    urls = _robots_probe_urls(spark, sf_dir, ROBOTS_PROBE_PATHS)
    verdicts = robots_verdicts_from(urls, rules, uid="event_id")
    return verdicts.groupBy("g", "verdict", "rule").agg(
        F.count("*").cast("long").alias("n_urls")
    )


@q(
    """
    WITH fetches AS (
      SELECT event_id % 5 AS host,
             CAST((event_id // 5) * 60 AS BIGINT) AS t_s,
             (event_id // 5) % 4 IN (1, 2) AS throttled,
             CASE WHEN (event_id // 5) % 4 IN (1, 2) THEN
               CASE (event_id // 10) % 3
                 WHEN 0 THEN 30 WHEN 1 THEN 90 ELSE NULL END
             ELSE NULL END AS retry_after_s
      FROM events),
    gaps AS (
      SELECT host, throttled, retry_after_s,
             lead(t_s) OVER (PARTITION BY host ORDER BY t_s)
               - t_s AS gap_s
      FROM fetches)
    SELECT host,
           CAST(COUNT(*) AS BIGINT) AS n_fetches,
           CAST(COALESCE(SUM(CASE WHEN throttled THEN 1 END), 0)
                AS BIGINT) AS n_throttled,
           CAST(COALESCE(SUM(CASE WHEN throttled
                AND retry_after_s IS NULL THEN 1 END), 0)
                AS BIGINT) AS n_missing_header,
           CAST(COALESCE(SUM(CASE WHEN gap_s < retry_after_s
                THEN 1 END), 0) AS BIGINT) AS n_violations,
           CAST(MAX(CASE WHEN gap_s < retry_after_s
                THEN retry_after_s - gap_s END) AS BIGINT)
             AS worst_deficit_s
    FROM gaps GROUP BY host
    """,
)
def q_retry_after(spark, sf_dir):
    """Retry-After compliance — the throttle-response ledger that
    complements the politeness audit (q_politeness_audit enforces the
    CRAWLER's declared delay; this enforces the SERVER's explicit
    back-off demand, which overrides everything): 429/503 responses
    carry a Retry-After value or — the operationally distinct defect
    — none at all (the crawler must guess; n_missing_header is the
    hosts-to-special-case list), and a violation is the NEXT fetch of
    the same host landing inside the demanded window. Gaps come from
    one lead() window per host on an integer seconds lattice; the
    final fetch per host has no successor and cannot violate. The
    worst deficit says how badly the schedule missed, not just how
    often.

    Plan/scale: the lag window and the host aggregate share ONE
    host-keyed exchange (the window's partition key is the groupBy
    key — Catalyst reuses the sort+shuffle, same plan shape the
    politeness audit pins)."""
    ev = _t(spark, sf_dir, "events")
    k = F.expr("event_id DIV 5")
    throttled = (k % 4).isin(1, 2)
    r = F.expr("(event_id DIV 10) % 3")
    fetches = ev.select(
        (F.col("event_id") % 5).alias("host"),
        (k * 60).cast("long").alias("t_s"),
        throttled.alias("throttled"),
        F.when(
            throttled & (r == 0), F.lit(30)
        )
        .when(throttled & (r == 1), F.lit(90))
        .otherwise(F.lit(None))
        .cast("int")
        .alias("retry_after_s"),
    )
    w = Window.partitionBy("host").orderBy("t_s")
    gaps = fetches.select(
        "host",
        "throttled",
        "retry_after_s",
        (F.lead("t_s").over(w) - F.col("t_s")).alias("gap_s"),
    )
    return gaps.groupBy("host").agg(
        F.count("*").cast("long").alias("n_fetches"),
        F.coalesce(F.sum(F.when(F.col("throttled"), 1)), F.lit(0))
        .cast("long")
        .alias("n_throttled"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("throttled")
                    & F.col("retry_after_s").isNull(),
                    1,
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("n_missing_header"),
        F.coalesce(
            F.sum(
                F.when(F.col("gap_s") < F.col("retry_after_s"), 1)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("n_violations"),
        F.max(
            F.when(
                F.col("gap_s") < F.col("retry_after_s"),
                F.col("retry_after_s") - F.col("gap_s"),
            )
        )
        .cast("long")
        .alias("worst_deficit_s"),
    )


@q(
    """
    WITH rules_before(g, pattern, is_allow) AS (
      VALUES (0, '/private/', 0),
             (0, '/private/public/', 1),
             (0, '/tmp', 0),
             (1, '/', 0),
             (1, '/articles/', 1)),
    rules_after(g, pattern, is_allow) AS (
      VALUES (0, '/private/', 0),
             (0, '/tmp', 0),
             (1, '/', 0),
             (1, '/articles/', 1),
             (1, '/index.html', 1)),
    urls AS (
      SELECT event_id, (event_id // 6) % 3 AS g,
             CASE event_id % 6
               WHEN 0 THEN '/private/a'
               WHEN 1 THEN '/private/public/x'
               WHEN 2 THEN '/articles/2024/one'
               WHEN 3 THEN '/index.html'
               WHEN 4 THEN '/tmp/x'
               ELSE '/private' END AS path
      FROM events),
    m_before AS (
      SELECT u.event_id, r.pattern, r.is_allow,
             ROW_NUMBER() OVER (
               PARTITION BY u.event_id
               ORDER BY length(r.pattern) DESC, r.is_allow DESC,
                        r.pattern) AS rk
      FROM urls u JOIN rules_before r
        ON u.g = r.g AND starts_with(u.path, r.pattern)),
    v_before AS (
      SELECT u.event_id,
             CASE WHEN m.pattern IS NULL OR m.is_allow = 1
                  THEN 'allowed' ELSE 'blocked' END AS verdict
      FROM urls u LEFT JOIN m_before m
        ON u.event_id = m.event_id AND m.rk = 1),
    m_after AS (
      SELECT u.event_id, r.pattern, r.is_allow,
             ROW_NUMBER() OVER (
               PARTITION BY u.event_id
               ORDER BY length(r.pattern) DESC, r.is_allow DESC,
                        r.pattern) AS rk
      FROM urls u JOIN rules_after r
        ON u.g = r.g AND starts_with(u.path, r.pattern)),
    v_after AS (
      SELECT u.event_id,
             CASE WHEN m.pattern IS NULL OR m.is_allow = 1
                  THEN 'allowed' ELSE 'blocked' END AS verdict
      FROM urls u LEFT JOIN m_after m
        ON u.event_id = m.event_id AND m.rk = 1),
    trans AS (
      SELECT u.g,
             CASE WHEN b.verdict = 'allowed'
                    AND a.verdict = 'blocked' THEN 'purge'
                  WHEN b.verdict = 'blocked'
                    AND a.verdict = 'allowed' THEN 'unlock'
                  WHEN a.verdict = 'allowed' THEN 'still-allowed'
                  ELSE 'still-blocked' END AS transition
      FROM urls u
      JOIN v_before b ON u.event_id = b.event_id
      JOIN v_after a ON u.event_id = a.event_id)
    SELECT transition,
           CAST(COUNT(*) AS BIGINT) AS n_urls,
           CAST(COUNT(DISTINCT g) AS BIGINT) AS n_rulesets
    FROM trans GROUP BY transition
    """,
)
def q_robots_diff(spark, sf_dir):
    """Robots-ruleset change impact — what a crawl operator runs the
    moment a refreshed robots.txt lands (q_robots_precedence verdicts
    ONE snapshot; compliance is about the TRANSITION): the same url
    inventory is verdicted under the before and after rulesets
    through the SAME shared RFC 9309 longest-match core the gate and
    the compliance job use, and each url lands in purge
    (allowed->blocked — already-fetched captures must be removed
    retroactively), unlock (blocked->allowed — frontier work
    appears), still-allowed, still-blocked. The synthesized change
    exercises both live directions: the after-set DROPS the
    '/private/public/' Allow override (its urls purge) and ADDS an
    '/index.html' Allow piercing the blanket Disallow (its urls
    unlock).

    Plan/scale: two broadcast-rule applications of the shared core
    (each: broadcast join + one per-url winner window, keyed on the
    url — maximally spread), then an equi-join of the two verdict
    streams on the SAME url key their windows already partitioned
    by; ONE hash aggregate on the 4-class transition key."""
    urls = _robots_probe_urls(spark, sf_dir, ROBOTS_PROBE_PATHS)
    rules_before = local_table(
        spark, ROBOTS_RULES_SNAPSHOT, ROBOTS_RULES_SCHEMA
    )
    rules_after = local_table(
        spark,
        [
            (0, "/private/", 0),
            (0, "/tmp", 0),
            (1, "/", 0),
            (1, "/articles/", 1),
            (1, "/index.html", 1),
        ],
        ROBOTS_RULES_SCHEMA,
    )
    before = robots_verdicts_from(urls, rules_before).select(
        "event_id", F.col("verdict").alias("v_before")
    )
    after = robots_verdicts_from(urls, rules_after).select(
        "event_id", F.col("verdict").alias("v_after")
    )
    trans = (
        urls.select("event_id", "g")
        .join(before, "event_id")
        .join(after, "event_id")
        .select(
            "g",
            F.when(
                (F.col("v_before") == "allowed")
                & (F.col("v_after") == "blocked"),
                "purge",
            )
            .when(
                (F.col("v_before") == "blocked")
                & (F.col("v_after") == "allowed"),
                "unlock",
            )
            .when(F.col("v_after") == "allowed", "still-allowed")
            .otherwise("still-blocked")
            .alias("transition"),
        )
    )
    return trans.groupBy("transition").agg(
        F.count("*").cast("long").alias("n_urls"),
        F.countDistinct("g").cast("long").alias("n_rulesets"),
    )


def robots_pattern_to_regex(pattern):
    """RFC 9309 §2.2.3 pattern translation, the single source both
    q_robots_wildcard's rule dimension and its oracle embed: '*'
    matches any octet sequence, a TRAILING '$' anchors the end,
    every other char is literal (dots escaped). Returns an
    anchored-at-start regex; without '$' the match is prefix-style
    (unanchored tail)."""
    anchored = pattern.endswith("$")
    body = pattern[:-1] if anchored else pattern
    # re.escape EACH literal segment (ADVICE r08): regex
    # metacharacters legal in robots.txt patterns ('?', '+', '(',
    # '[', '{', '|') must stay literal octets, and a non-trailing '$'
    # is a literal per RFC 9309, not an anchor. For the curated
    # ROBOTS_WILDCARD_RULES the output is byte-identical to the old
    # dot-only escape (pinned by the oracle's embedded strings).
    esc = ".*".join(_re.escape(seg) for seg in body.split("*"))
    return "^" + esc + ("$" if anchored else "")


#: Wildcard-bearing ruleset for q_robots_wildcard (the plain-prefix
#: snapshot ROBOTS_RULES_SNAPSHOT cannot express these): regexes
#: derive from robots_pattern_to_regex — the oracle embeds the SAME
#: translated strings, so the translation itself is pinned by the
#: unit test, not re-derived in SQL.
ROBOTS_WILDCARD_RULES = [
    (0, "/private/*.html", 0),
    (0, "/private/pub*", 1),
    (1, "/downloads/*", 0),
    (1, "/downloads/*.html$", 1),
]


@q(
    """
    WITH rules(g, pattern, regex, is_allow) AS (
      VALUES
        (0, '/private/*.html', '^/private/.*\\.html', 0),
        (0, '/private/pub*', '^/private/pub.*', 1),
        (1, '/downloads/*', '^/downloads/.*', 0),
        (1, '/downloads/*.html$', '^/downloads/.*\\.html$', 1)),
    urls AS (
      SELECT event_id, (event_id // 6) % 3 AS g,
             CASE event_id % 6
               WHEN 0 THEN '/private/a.html'
               WHEN 1 THEN '/private/pub/x.html'
               WHEN 2 THEN '/downloads/file.pdf'
               WHEN 3 THEN '/downloads/page.html'
               WHEN 4 THEN '/downloads/page.html?sess=1'
               ELSE '/index.html' END AS path
      FROM events),
    matched AS (
      SELECT u.event_id, r.pattern, r.is_allow,
             ROW_NUMBER() OVER (
               PARTITION BY u.event_id
               ORDER BY length(r.pattern) DESC, r.is_allow DESC,
                        r.pattern) AS rk
      FROM urls u JOIN rules r
        ON u.g = r.g AND regexp_matches(u.path, r.regex)),
    verdicts AS (
      SELECT u.g,
             COALESCE(m.pattern, '(default)') AS rule,
             CASE WHEN m.pattern IS NULL OR m.is_allow = 1
                  THEN 'allowed' ELSE 'blocked' END AS verdict
      FROM urls u LEFT JOIN matched m
        ON u.event_id = m.event_id AND m.rk = 1)
    SELECT g, verdict, rule,
           CAST(COUNT(*) AS BIGINT) AS n_urls
    FROM verdicts GROUP BY g, verdict, rule
    """,
)
def q_robots_wildcard(spark, sf_dir):
    """Robots wildcard matching (RFC 9309 §2.2.3) — the rule class
    the plain-prefix core cannot express: '*' spans any octets and a
    trailing '$' anchors the end, so '/downloads/*.html$' allows the
    bare .html page but NOT the same path with a query string (the
    '$' probe url), while '/private/*.html' blocks html ANYWHERE
    under the subtree a prefix rule would need enumerating.
    Longest-PATTERN-wins precedence carries over unchanged (the RFC
    measures specificity in pattern octets, wildcards included), so
    the allow override '/downloads/*.html$' (19 octets) beats the
    blanket '/downloads/*' (12). Patterns translate to regexes
    through `robots_pattern_to_regex` — ONE python source, embedded
    verbatim in the oracle and pinned by a unit test.

    Plan/scale: the shared robots_verdicts_from core with the regex
    match in place of startswith — broadcast rule dimension, per-url
    winner window keyed on the url itself (maximally spread), LEFT
    join keeps default-allowed."""
    urls = _robots_probe_urls(
        spark,
        sf_dir,
        (
            "/private/a.html",
            "/private/pub/x.html",
            "/downloads/file.pdf",
            "/downloads/page.html",
            "/downloads/page.html?sess=1",
            "/index.html",
        ),
    )
    rules = local_table(
        spark,
        [
            (g, p, robots_pattern_to_regex(p), a)
            for (g, p, a) in ROBOTS_WILDCARD_RULES
        ],
        "g long, pattern string, regex string, is_allow int",
    )
    verdicts = robots_verdicts_from(
        urls, rules, match=F.expr("path RLIKE regex")
    )
    return verdicts.groupBy("g", "verdict", "rule").agg(
        F.count("*").cast("long").alias("n_urls")
    )
