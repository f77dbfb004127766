"""spark-submit entry point for the capture-quality pipeline:
a capture table (doc_id, host, raw html, extracted text) \u2192 per-doc
quality verdicts through the THREE SHARED classification cores
(truncation_class_from on the raw markup, mojibake_class_from and
parked_class_from on the extracted text) \u2192 a verdict ledger, a
per-verdict census, and a per-host remediation work list, plus one
JSON stats line.

This composes the round-8 capture-quality family (q_truncation_detect,
q_mojibake_detect, q_parked_domain) into the job a corpus curator
actually runs before admission: `refetch` beats every content verdict
(a cut capture tells you nothing about the document), `drop` covers
parked/placeholder/thin pages and irrecoverable U+FFFD damage, `fix`
marks deterministically repairable mojibake, `keep` is the remainder.
The cores are the SAME functions the driver-gated queries run \u2014 the
job cannot drift from the gated semantics.

All three cores are row-local projections, so the whole verdict pass
is ONE scan with zero exchanges; the only shuffles are the two
read-back aggregations (by verdict, by host).

Local smoke (synthesizes a defect-bearing capture table):
    python jobs/capture_quality.py --docs 400 \\
        --output /tmp/capture_quality --master 'local[8]'

Cluster (real capture table):
    make dist
    spark-submit --py-files dist/readembedability_spark.zip \\
        --master yarn --conf spark.sql.adaptive.enabled=true \\
        jobs/capture_quality.py --input s3://…/captures.parquet \\
        --output .../capture_quality
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from _session import job_parser, run_job  # noqa: E402

from readembedability_spark.textops.audits import (  # noqa: E402
    mojibake_class_from,
    parked_class_from,
    truncation_class_from,
)


def synth_corpus(spark, n):
    """A defect-bearing capture table: 25 hosts, eight capture shapes
    rotating coprime to the host key \u2014 two clean arms, repairable
    mojibake, U+FFFD damage, a parked page, a thin page, a mid-tag
    truncation and an unbalanced-but-complete page. Mojibake literals
    are \\u-escaped in source."""
    ids = spark.range(0, n)
    m = F.col("id") % 8
    inner = (
        F.when(
            m == 2,
            F.lit(
                "caf\u00c3\u00a9 r\u00c3\u00a9sum\u00c3\u00a9 menu"
                " with prices listed for the week"
            ),
        )
        .when(
            m == 3,
            F.lit(
                "broken \ufffd decode damage inside"
                " this capture body text"
            ),
        )
        .when(
            m == 4,
            F.lit("This domain is for sale. Buy this domain today."),
        )
        .when(m == 5, F.lit("Hi."))
        .otherwise(
            F.lit(
                "Substantial readable content that clears the thin"
                " floor comfortably."
            )
        )
    )
    raw = (
        F.when(
            m == 6,
            F.concat(
                F.lit("<html><body><div>"), inner, F.lit("</div><div cla")
            ),
        )
        .when(
            m == 7,
            F.concat(
                F.lit("<html><body><div><div>"),
                inner,
                F.lit("</div></body></html>"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("<html><body><div>"),
                inner,
                F.lit("</div></body></html>"),
            )
        )
    )
    host_id = F.col("id") % 25
    return ids.select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("h"), host_id.cast("string"), F.lit(".example.com"))
        .alias("host"),
        raw.alias("raw"),
        inner.alias("text"),
    )


def verdicts_from(captures):
    """The composed verdict pass: all three SHARED cores chained on
    one scan (each is a row-local projection \u2014 zero exchanges), then
    the precedence verdict: refetch (a cut capture says nothing about
    the document) > drop (parked family, thin, or U+FFFD \u2014 the bytes
    are gone) > fix (deterministically repairable mojibake) > keep."""
    cls = parked_class_from(
        mojibake_class_from(
            truncation_class_from(captures, body="raw"), body="text"
        ),
        body="text",
    )
    return cls.select(
        "doc_id",
        "host",
        F.length("text").cast("long").alias("n_chars"),
        "capture_class",
        "div_deficit",
        "text_class",
        "n_signatures",
        "page_class",
        F.when(
            F.col("capture_class").isin("mid-tag", "no-close"),
            "refetch",
        )
        .when(
            F.col("page_class").isin(
                "parked", "suspended", "placeholder", "thin"
            )
            | (F.col("text_class") == "replacement"),
            "drop",
        )
        .when(
            F.col("text_class").isin("double-utf8", "nbsp-debris"),
            "fix",
        )
        .otherwise("keep")
        .alias("verdict"),
    )


def run(spark, args) -> dict:
    out = Path(args.output)
    if args.input:
        captures = spark.read.parquet(args.input)
    else:
        captures = synth_corpus(spark, args.docs)

    # verdict ledger: one scan, zero exchanges before the write
    verdicts_from(captures).write.mode("overwrite").parquet(
        str(out / "verdicts")
    )

    # census + work list read BACK the written ledger (one scan each)
    v = spark.read.parquet(str(out / "verdicts"))
    v.groupBy("verdict").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.countDistinct("host").cast("long").alias("n_hosts"),
        F.sum("n_chars").cast("long").alias("n_chars"),
    ).write.mode("overwrite").parquet(str(out / "class_stats"))

    (
        v.groupBy("host")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.coalesce(
                F.sum(F.when(F.col("verdict") == "refetch", 1)), F.lit(0)
            )
            .cast("long")
            .alias("n_refetch"),
            F.coalesce(
                F.sum(F.when(F.col("verdict") == "drop", 1)), F.lit(0)
            )
            .cast("long")
            .alias("n_drop"),
            F.coalesce(
                F.sum(F.when(F.col("verdict") == "fix", 1)), F.lit(0)
            )
            .cast("long")
            .alias("n_fix"),
            F.expr(
                "COALESCE(SUM(CASE WHEN verdict = 'keep' THEN 1 END), 0)"
                " * 1000000 DIV COUNT(*)"
            )
            .cast("long")
            .alias("keep_ppm"),
        )
        .orderBy("keep_ppm", "host")
        .write.mode("overwrite")
        .parquet(str(out / "host_worklist"))
    )

    # docs total comes off the already-aggregated census rows — no
    # extra full scan of the ledger just for one JSON field
    cs = spark.read.parquet(str(out / "class_stats")).collect()
    stats: dict = {"docs": sum(int(r["n_docs"]) for r in cs)}
    for r in cs:
        stats[f"n_{r['verdict']}"] = int(r["n_docs"])
    wl = spark.read.parquet(str(out / "host_worklist"))
    stats["hosts"] = int(wl.count())
    worst = wl.orderBy("keep_ppm", "host").limit(1).collect()
    if worst:
        stats["worst_host"] = worst[0]["host"]
        stats["worst_keep_ppm"] = int(worst[0]["keep_ppm"])
    return stats


def main() -> None:
    ap = job_parser(
        "--docs",
        input_help="capture table parquet (doc_id, host, raw, text)",
        synth_help="synthesize N defect-bearing captures (smoke/test path)",
    )
    run_job("capture-quality", ap, run)


if __name__ == "__main__":
    main()
