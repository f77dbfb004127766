"""spark-submit entry point for the crawl-graph pipeline: pages →
A-23 link extraction (mapInPandas) → host-level edge projection →
PageRank with dangling-mass redistribution → crawl-frontier discovery
→ authority-prioritized, politeness-capped crawl schedule — written
as host-authority scores, frontier counts, pages annotated with their
host's authority prior, and the per-round crawl schedule, plus one
JSON stats line.

This composes the round-5 extracted-link family (q_extract_links,
q_pagerank_links, q_crawl_frontier) into the job a crawl-curation
team actually runs: authority becomes a per-page curation prior
(crawl scheduling, quality weighting), the frontier feeds the next
crawl round.

Local smoke (synthesizes link-bearing pages from a documents table):
    python jobs/crawl_graph.py --documents /root/testdata/sf0.001 \\
        --output /tmp/graph --master 'local[8]'

Cluster (real pages table):
    make dist
    spark-submit --py-files dist/readembedability_spark.zip \\
        --master yarn --conf spark.sql.adaptive.enabled=true \\
        jobs/crawl_graph.py --input lake.db.pages --output .../graph
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from _session import job_session  # noqa: E402


#: generic host pattern (the registry queries use the synthesis-shaped
#: variant; a production url table needs the general form)
HOST_RE = r"https?://([^/?#]+)"


def extract_link_table(spark, pages):
    """(url, link) through the full salted mapInPandas extraction —
    the links column rides the batch the extract stage already emits;
    pages with no surviving links drop out here. rel-flagged
    nofollow/sponsored/ugc links (L-8) are excluded: every consumer
    of this table (authority edges, frontier, schedule) models
    endorsement, which those links don't carry."""
    from readembedability_spark.harness import salted_extract

    return (
        salted_extract(pages)
        .select(
            "url",
            F.explode(F.arrays_zip("links", "link_nofollow")).alias("z"),
        )
        .filter(~F.col("z.link_nofollow"))
        .select("url", F.col("z.links").alias("link"))
    )


def host_edges(links):
    """Distinct (src_host, dst_host) edges, self-loops dropped. At
    100 TB this is one map + one distinct shuffle keyed by the edge —
    host cardinality (~10^8) is tiny next to the link table."""
    return (
        links.select(
            F.regexp_extract("url", HOST_RE, 1).alias("src"),
            F.regexp_extract("link", HOST_RE, 1).alias("dst"),
        )
        .filter(
            (F.col("src") != "") & (F.col("dst") != "")
            & (F.col("src") != F.col("dst"))
        )
        .distinct()
    )


def unseen_links(links, pages):
    """Distinct outbound links not present as corpus urls — the ONE
    definition of 'unseen' shared by the frontier rollup and the
    schedule (the q_crawl_frontier plan: url-keyed anti-join, no
    broadcast assumption on either side). main() persists this so the
    anti-join shuffle runs once across both consumers."""
    return (
        links.select("link").distinct()
        .join(pages.select("url"), F.col("link") == F.col("url"), "left_anti")
    )


def frontier(links, pages, unseen=None):
    """Per-target-host unseen counts over unseen_links (pass a
    persisted `unseen` to share the anti-join with schedule())."""
    if unseen is None:
        unseen = unseen_links(links, pages)
    return unseen.groupBy(
        F.regexp_extract("link", HOST_RE, 1).alias("host")
    ).agg(F.count("*").alias("n_unseen"))


def schedule(fr, ranks, unseen, k: int = 3):
    """Authority-prioritized, politeness-capped crawl schedule (the
    q_frontier_schedule composition, VERDICT r05 missing #3): each
    frontier host's priority = its authority x unseen count; within a
    host at most `k` urls are scheduled per round (ROW_NUMBER <= k —
    a WindowGroupLimit, so hot frontier hosts pre-prune map-side).
    `unseen` is the shared unseen_links table (same rows fr counted —
    one definition, one anti-join); fr/ranks are host-cardinality
    tables equi-joined on host with no forced broadcast (AQE
    decides); hosts with no authority score schedule at priority 0 so
    newly-discovered hosts still crawl."""
    fh = unseen.select(
        F.regexp_extract("link", HOST_RE, 1).alias("host"), "link"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("host").orderBy("link")
    ranked = fh.withColumn("slot", F.row_number().over(w)).filter(
        F.col("slot") <= k
    )
    return (
        ranked.join(fr, "host")
        .join(ranks, "host", "left")
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


def annotate_pages(pages, ranks):
    """The curation prior: every page annotated with its host's
    authority. A plain host-keyed equi-join — NO broadcast hint
    (VERDICT r05 wrong #1: the rank table is host-count-sized, ~1e8
    rows x (host, authority) at web scale — beyond safe broadcast
    range, and a forced hint overrides AQE's size check; AQE still
    broadcasts it when it genuinely is small)."""
    return (
        pages.select("url", F.regexp_extract("url", HOST_RE, 1).alias("host"))
        .join(ranks, "host", "left")
        .select(
            "url", F.coalesce("authority", F.lit(0.0)).alias("authority")
        )
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="pages parquet (url, warc_ts, html, ...)")
    src.add_argument(
        "--documents",
        help="sf dir with documents.parquet — synthesize link-bearing "
        "pages (smoke/test path)",
    )
    ap.add_argument("--output", required=True)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    spark = job_session("crawl-graph", args.master)
    from readembedability_spark.queries import _persist, release_caches
    from readembedability_spark.textops import _link_pages, _pagerank

    t0 = time.time()
    if args.input:
        pages = spark.read.parquet(args.input)
    else:
        pages = _link_pages(spark, args.documents)
    stats = {"pages": pages.count()}

    # links feed BOTH the graph and the frontier — extracted once
    links = _persist(extract_link_table(spark, pages))
    stats["links"] = links.count()

    edges = host_edges(links)
    ranks = _pagerank(spark, edges).withColumnsRenamed(
        {"node": "host", "pr": "authority"}
    )
    # the anti-join feeds BOTH the frontier rollup and the schedule
    unseen = _persist(unseen_links(links, pages))
    fr = frontier(links, pages, unseen)

    out = Path(args.output)
    # ranks/fr each feed two consumers (their own write + the
    # schedule/annotate joins) — persisted so PageRank and the
    # anti-join don't re-run per action
    ranks = _persist(ranks)
    fr = _persist(fr)
    ranks.write.mode("overwrite").parquet(str(out / "authority"))
    fr.write.mode("overwrite").parquet(str(out / "frontier"))
    annotated = annotate_pages(pages, ranks)
    annotated.write.mode("overwrite").parquet(str(out / "pages_authority"))
    # persisted: the write and the stats count below each materialize
    # the schedule — without this the anti-join + window + host joins
    # would run twice
    sched = _persist(schedule(fr, ranks, unseen))
    sched.write.mode("overwrite").parquet(str(out / "schedule"))

    stats["hosts_ranked"] = ranks.count()
    stats["frontier_hosts"] = fr.count()
    stats["schedule_rows"] = sched.count()
    stats["wall_sec"] = round(time.time() - t0, 1)
    release_caches(spark)
    print(json.dumps(stats))


if __name__ == "__main__":
    main()
