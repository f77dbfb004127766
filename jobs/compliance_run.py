"""spark-submit entry point for the crawl-compliance pipeline:
a fetch log (url, host, ts) → per-url robots verdicts (RFC 9309
longest-match via the SHARED robots_verdicts_from core) → per-host
politeness ledger (SHARED politeness_from core) → a compliance-debt
work list ranking the hosts whose fetches must be purged or whose
schedules must slow down, plus one JSON stats line.

This composes the round-8 compliance family (q_robots_precedence,
q_politeness_audit, the q_robots_crawl_debt idea of a retroactive
purge list) into the job a crawl operator actually runs after every
round: the verdict table is the purge evidence, the ledger is the
scheduler feedback, the work list is what gets triaged first. The
streaming sibling (streaming_politeness) maintains the ledger
incrementally between runs.

Local smoke (synthesizes a compliance-bearing fetch log):
    python jobs/compliance_run.py --fetches 600 \\
        --output /tmp/compliance --master 'local[8]'

Cluster (real fetch log + robots dimension):
    make dist
    spark-submit --py-files dist/readembedability_spark.zip \\
        --master yarn --conf spark.sql.adaptive.enabled=true \\
        jobs/compliance_run.py --input s3://…/fetch_log.parquet \\
        --output .../compliance
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from _session import job_parser, run_job  # noqa: E402


def rulesets(spark):
    """The robots dimension: three ruleset groups — an Allow override
    inside a disallowed subtree, a blanket Disallow pierced by one
    Allow, and an empty (default-allow) group. Broadcast-sized by
    construction, exactly like a real curated robots snapshot. Built
    from the SHARED module-level snapshot so the gate query,
    q_robots_diff's before-set and this job can never drift."""
    from readembedability_spark.schemas import local_table
    from readembedability_spark.textops import (
        ROBOTS_RULES_SCHEMA,
        ROBOTS_RULES_SNAPSHOT,
    )

    return local_table(spark, ROBOTS_RULES_SNAPSHOT, ROBOTS_RULES_SCHEMA)


def synth_fetch_log(spark, n):
    """A compliance-bearing fetch log: 25 hosts in three crawl-delay
    tiers (10/28/40 s), six path shapes rotating independently of the
    host key (coprime moduli — the dead-class guard), per-host fetch
    gaps of ~25 s with a deterministic jitter so every politeness
    verdict is reachable, and the ruleset group keyed off the host."""
    from readembedability_spark.textops import (
        ROBOTS_PROBE_PATHS,
        robots_probe_path,
    )

    ids = spark.range(0, n)
    host_id = F.col("id") % 25
    path = robots_probe_path(F.col("id") % 6, ROBOTS_PROBE_PATHS)
    tier = host_id % 3
    delay_s = F.when(tier == 0, 10).when(tier == 1, 28).otherwise(45)
    # per-host fetch cadence: consecutive same-host gaps alternate
    # EXACTLY between 39 s and 11 s (25 ± 14 from the per-fetch-index
    # parity jitter, always positive so per-host order is fetch
    # order) — 11 s sits above tier 0's delay (polite), below tier
    # 1's (exactly-half violations -> mixed under the strict-majority
    # rule), and both gaps sit below tier 2's (rude)
    ts = F.expr(
        "timestamp'2026-01-01 00:00:00'"
        " + make_interval(0, 0, 0, 0, 0, 0,"
        " (id DIV 25) * 25 + ((id DIV 25) % 2) * 14)"
    )
    return ids.select(
        F.col("id").alias("fetch_id"),
        F.concat(F.lit("h"), host_id.cast("string"), F.lit(".example.com"))
        .alias("host"),
        (host_id % 3).cast("long").alias("g"),
        path.alias("path"),
        ts.alias("ts"),
        (delay_s.cast("long") * 1000000).alias("delay_us"),
    )


def run(spark, args) -> dict:
    from readembedability_spark.queries import _persist
    from readembedability_spark.textops import (
        politeness_from,
        robots_verdicts_from,
    )

    out = Path(args.output)
    if args.input:
        fetches = spark.read.parquet(args.input)
    else:
        fetches = synth_fetch_log(spark, args.fetches)
    # the log feeds BOTH halves — one scan, persisted (flat lineage)
    fetches = _persist(fetches)
    stats: dict = {"fetches": fetches.count()}

    # per-url robots verdicts (host re-joined on the unique fetch key)
    verdicts = robots_verdicts_from(
        fetches.select("fetch_id", "g", "path"),
        rulesets(spark),
        uid="fetch_id",
    ).join(fetches.select("fetch_id", "host"), "fetch_id")
    verdicts.write.mode("overwrite").parquet(str(out / "verdicts"))

    # per-host politeness ledger
    politeness_from(
        fetches.select("host", "ts", "fetch_id", "delay_us"),
        tiebreak="fetch_id",
    ).write.mode("overwrite").parquet(str(out / "ledger"))

    # compliance-debt work list: blocked fetches weigh double (they
    # must be purged retroactively; a slow-down only fixes the future)
    v = spark.read.parquet(str(out / "verdicts"))
    led = spark.read.parquet(str(out / "ledger"))
    blocked = v.groupBy("host").agg(
        F.coalesce(
            F.sum(F.when(F.col("verdict") == "blocked", 1)), F.lit(0)
        )
        .cast("long")
        .alias("n_blocked")
    )
    work = (
        led.join(blocked, "host", "left")
        .select(
            "host",
            F.coalesce("n_blocked", F.lit(0).cast("long")).alias(
                "n_blocked"
            ),
            "n_violations",
            "politeness",
            (
                F.coalesce("n_blocked", F.lit(0).cast("long")) * 2
                + F.col("n_violations")
            ).alias("debt"),
        )
        .orderBy(F.col("debt").desc(), "host")
    )
    work.write.mode("overwrite").parquet(str(out / "work_list"))

    # stats read BACK the written tables
    stats["blocked_fetches"] = int(
        v.where(F.col("verdict") == "blocked").count()
    )
    wl = spark.read.parquet(str(out / "work_list"))
    top = wl.orderBy(F.col("debt").desc(), "host").limit(1).collect()
    stats["hosts"] = wl.count()
    stats["total_debt"] = int(
        wl.agg(F.sum("debt")).collect()[0][0] or 0
    )
    if top:
        stats["worst_host"] = top[0]["host"]
        stats["worst_debt"] = int(top[0]["debt"])
    return stats


def main() -> None:
    ap = job_parser(
        "--fetches",
        input_help="fetch log parquet (fetch_id, host, g, path, ts,"
        " delay_us)",
        synth_help="synthesize N compliance-bearing fetches (smoke/test "
        "path)",
    )
    run_job("compliance-run", ap, run)


if __name__ == "__main__":
    main()
