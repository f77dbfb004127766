"""spark-submit entry point for the web-archive index pipeline:
pages (url, warc_ts, html) → SURT-keyed CDX capture index (written
RANGE-CLUSTERED by the index key — the archive's range-scan layout)
→ digest-transition change rates → Cho/Garcia-Molina revisit
intervals and a per-host staleness work-list, plus one JSON stats
line.

This composes the round-8 archive family into the job an
archive/recrawl team actually runs, calling the registry's cores: the
SURT key (textops.surt_key_expr), the CDX aggregate of q_surt_index
(textops.surt_cdx_from) and the staleness plan of q_stale_captures
(textops.staleness_from). The index serves replay and range scans,
the staleness table is the priority queue the next crawl round
drains. The streaming sibling (streaming_surt_index) maintains the
same index incrementally.

Local smoke (synthesizes a recrawl-bearing pages corpus):
    python jobs/archive_index.py --pages 200 \\
        --output /tmp/archive --master 'local[8]'

Cluster (real pages table):
    make dist
    spark-submit --py-files dist/readembedability_spark.zip \\
        --master yarn --conf spark.sql.adaptive.enabled=true \\
        jobs/archive_index.py --input s3://…/pages.parquet --output .../archive
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from _session import job_parser, run_job  # noqa: E402


def captures(pages):
    """(surt_key, host, url, ts, digest) — the capture model both
    halves read. SURT key via the SHARED surt_key_expr (the same
    definition the gate query and the streaming maintainer use);
    digest = md5 prefix of the raw payload (the content identity the
    index versions on). Row-local string work only."""
    from readembedability_spark.functions import capture_digest
    from readembedability_spark.textops import surt_key_expr

    host = F.lower(F.regexp_extract("url", r"^https?://([^/?#]+)", 1))
    return pages.select(
        surt_key_expr(F.col("url")).alias("surt_key"),
        host.alias("host"),
        "url",
        F.col("warc_ts").alias("ts"),
        capture_digest().alias("digest"),
    )


def run(spark, args) -> dict:
    from readembedability_spark.operators.salt import default_parts
    from readembedability_spark.queries import _persist
    from readembedability_spark.textops import staleness_from, surt_cdx_from

    out = Path(args.output)
    if args.input:
        pages = spark.read.parquet(args.input)
    else:
        from readembedability_spark.sources.synth import generate_pages

        synth = out / "_synth"
        generate_pages(synth / "pages.parquet", args.pages)
        pages = spark.read.parquet(str(synth))
    stats: dict = {"pages": pages.count()}

    # captures feed BOTH the index and the staleness half — one scan,
    # persisted (flat lineage: persist is safe here, nothing nests)
    caps = _persist(captures(pages))
    stats["captures"] = caps.count()

    idx = surt_cdx_from(caps)
    # the archive's range-scan layout: range-cluster by the index key
    # and sort within partitions — the sort rides the SAME exchange
    parts = default_parts(spark)
    (
        idx.repartitionByRange(parts, "surt_key")
        .sortWithinPartitions("surt_key")
        .write.mode("overwrite")
        .parquet(str(out / "index"))
    )
    # equal-ts captures tie-break on digest (real capture tables carry
    # no event_id)
    staleness_from(caps, "digest").write.mode("overwrite").parquet(
        str(out / "stale")
    )
    # stats counters read BACK the written tables (parquet row counts
    # are metadata reads) instead of re-running either plan
    stats["index_keys"] = spark.read.parquet(str(out / "index")).count()
    st = spark.read.parquet(str(out / "stale"))
    counts = st.agg(
        F.count("*").alias("n"),
        F.coalesce(
            F.sum(F.col("is_stale").cast("long")), F.lit(0)
        ).alias("stale"),
    ).collect()[0]
    stats["hosts_estimated"] = counts["n"]
    stats["stale_hosts"] = counts["stale"]
    return stats


def main() -> None:
    ap = job_parser(
        "--pages",
        input_help="pages parquet (url, warc_ts, html)",
        synth_help="synthesize N recrawl-bearing pages (smoke/test path)",
    )
    run_job("archive-index", ap, run)


if __name__ == "__main__":
    main()
