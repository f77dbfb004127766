"""spark-submit entry point for the frontier-hygiene pipeline: a
candidate frontier (url_id, registrable, subdomain, label, ruleset
group, path) → admission verdicts through THREE SHARED cores — RFC
9309 robots verdicts (`robots_verdicts_from` over the shared
`ROBOTS_RULES_SNAPSHOT`), typosquat scoring
(`typosquat_min_dist_from` over the shared `TYPOSQUAT_BRANDS` dim)
and wildcard-farm detection (`subdomain_fanout_from`) — composed
with the precedence a crawl operator actually wants:

    blocked (robots — fetching is non-compliant, nothing else
             matters)
  > quarantine (typosquat label, edit distance 1-2 from a brand —
             likely phishing; a human reviews before any fetch)
  > collapse (wildcard-farm registrable — admitted, but the WHOLE
             registrable shares one crawl budget instead of
             per-host budgets)
  > admit

Outputs: the admitted frontier, the quarantine list, the per-farm
shared-budget table, and one JSON stats line. The cores are the SAME
functions the driver-gated queries run (q_robots_precedence /
q_typosquat / q_subdomain_explosion) — the job cannot drift from the
gated semantics.

Local smoke (synthesizes a hygiene-bearing frontier):
    python jobs/frontier_hygiene.py --urls 600 \\
        --output /tmp/frontier_hygiene --master 'local[8]'

Cluster (real frontier):
    make dist
    spark-submit --py-files dist/readembedability_spark.zip \\
        --master yarn --conf spark.sql.adaptive.enabled=true \\
        jobs/frontier_hygiene.py --input s3://…/frontier.parquet \\
        --output .../frontier_hygiene
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from _session import job_parser, run_job  # noqa: E402

from readembedability_spark.schemas import local_table  # noqa: E402
from readembedability_spark.textops.graph import (  # noqa: E402
    TYPOSQUAT_BRANDS,
    subdomain_fanout_from,
    typosquat_min_dist_from,
)
from readembedability_spark.textops.robots import (  # noqa: E402
    ROBOTS_PROBE_PATHS,
    ROBOTS_RULES_SCHEMA,
    ROBOTS_RULES_SNAPSHOT,
    robots_probe_path,
    robots_verdicts_from,
)


def synth_frontier(spark, n):
    """A hygiene-bearing candidate frontier: ten registrables — one
    typosquat label ('paypa1'), one exact-brand label ('github'),
    eight neutral — with a 4-subdomain spread on one registrable and
    a wildcard farm of up to 64 subdomains (min(ceil(n/10), 64); 60
    at the default --urls 600) on another, over the shared robots
    snapshot's six path shapes and three ruleset groups (path and
    group keys coprime with the registrable key)."""
    ids = spark.range(0, n)
    r = F.col("id") % 10
    m = F.col("id") % 6
    label = (
        F.when(r == 0, F.lit("paypa1"))
        .when(r == 1, F.lit("github"))
        .otherwise(F.concat(F.lit("site"), r.cast("string")))
    )
    return ids.select(
        F.col("id").alias("url_id"),
        F.concat(label, F.lit(".example")).alias("registrable"),
        label.alias("label"),
        F.when(r < 8, F.lit("www"))
        .when(
            r == 8,
            F.concat(
                F.lit("s"), F.expr("(id DIV 10) % 4").cast("string")
            ),
        )
        .otherwise(
            F.concat(
                F.lit("u"), F.expr("(id DIV 10) % 64").cast("string")
            )
        )
        .alias("subdomain"),
        F.expr("(id DIV 6) % 3").alias("g"),
        robots_probe_path(m, ROBOTS_PROBE_PATHS).alias("path"),
    )


def verdicts_from(spark, frontier):
    """The composed admission pass: the three SHARED cores joined
    back onto the frontier on their natural keys, then the
    precedence verdict (blocked > quarantine > collapse > admit)."""
    rules = local_table(spark, ROBOTS_RULES_SNAPSHOT, ROBOTS_RULES_SCHEMA)
    brands = local_table(
        spark,
        [(b,) for b in TYPOSQUAT_BRANDS], "brand string"
    )
    robots = robots_verdicts_from(
        frontier.select("url_id", "g", "path"), rules, uid="url_id"
    ).select("url_id", F.col("verdict").alias("robots_verdict"))
    squat = typosquat_min_dist_from(
        frontier.select("url_id", "label").dropDuplicates(["label"]),
        brands,
        key="url_id",
    ).select("label", "min_dist")
    fanout = subdomain_fanout_from(
        frontier.select("registrable", "subdomain")
    ).select("registrable", "n_subs", "fanout_class")
    return (
        frontier.join(robots, "url_id")
        .join(F.broadcast(squat), "label")
        .join(F.broadcast(fanout), "registrable")
        .select(
            "url_id",
            "registrable",
            "label",
            "subdomain",
            "path",
            "robots_verdict",
            "min_dist",
            "n_subs",
            "fanout_class",
            F.when(F.col("robots_verdict") == "blocked", "blocked")
            .when(
                (F.col("min_dist") >= 1) & (F.col("min_dist") <= 2),
                "quarantine",
            )
            .when(F.col("fanout_class") == "explosion", "collapse")
            .otherwise("admit")
            .alias("verdict"),
        )
    )


def run(spark, args) -> dict:
    from readembedability_spark.queries import _persist

    out = Path(args.output)
    if args.input:
        frontier = spark.read.parquet(args.input)
    else:
        frontier = synth_frontier(spark, args.urls)
    # one persisted frontier feeds all three cores
    frontier = _persist(frontier)

    v = verdicts_from(spark, frontier)
    v.where(F.col("verdict").isin("admit", "collapse")).write.mode(
        "overwrite"
    ).parquet(str(out / "admitted"))
    v.where(F.col("verdict") == "quarantine").write.mode(
        "overwrite"
    ).parquet(str(out / "quarantine"))
    # ONE shared budget row per wildcard-farm registrable
    (
        v.where(F.col("verdict") == "collapse")
        .groupBy("registrable")
        .agg(
            F.count("*").cast("long").alias("n_urls"),
            F.max("n_subs").cast("long").alias("n_subs"),
        )
        .select(
            "registrable",
            "n_urls",
            "n_subs",
            F.lit(args.farm_budget).cast("long").alias("shared_budget"),
        )
        .write.mode("overwrite")
        .parquet(str(out / "farm_budgets"))
    )

    # stats read BACK the written tables
    adm = spark.read.parquet(str(out / "admitted"))
    stats: dict = {
        "urls": int(frontier.count()),
        "admitted": int(adm.count()),
        "collapsed": int(
            adm.where(F.col("verdict") == "collapse").count()
        ),
        "quarantined": int(
            spark.read.parquet(str(out / "quarantine")).count()
        ),
        "farms": int(
            spark.read.parquet(str(out / "farm_budgets")).count()
        ),
    }
    stats["blocked"] = (
        stats["urls"] - stats["admitted"] - stats["quarantined"]
    )
    return stats


def main() -> None:
    ap = job_parser(
        "--urls",
        input_help="frontier parquet (url_id, registrable, subdomain,"
        " label, g, path)",
        synth_help="synthesize N hygiene-bearing frontier urls (smoke/test)",
    )
    ap.add_argument(
        "--farm-budget",
        type=int,
        default=100,
        help="shared fetch budget per wildcard-farm registrable",
    )
    run_job("frontier-hygiene", ap, run)


if __name__ == "__main__":
    main()
