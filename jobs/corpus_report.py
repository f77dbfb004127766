"""spark-submit entry point for the CORPUS DATASHEET: the one-page
report a data team publishes beside a released pretraining corpus —
curation-funnel attribution (first-failing-gate doc/token counts),
exact- and near-duplication rates, language mixture with
temperature-scaled training weights, and token-length distribution —
written as one parquet table per section plus one JSON summary line.

Every section reuses a registry operator's exact plan (q_filter_funnel
via textops.curation.filter_funnel_from, the MinHash-LSH→verify pair family,
q_mixture_temperature's sqrt weighting, approx percentiles), so the
datasheet numbers match what the driver-checked queries would report
over the same corpus.

Local smoke:
    python jobs/corpus_report.py --input documents.parquet \\
        --output /tmp/report --master 'local[8]'

Cluster:
    make dist
    spark-submit --py-files dist/readembedability_spark.zip \\
        --conf spark.sql.adaptive.enabled=true \\
        jobs/corpus_report.py --input s3://…/documents.parquet \\
            --output .../report
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from _session import job_parser, run_job  # noqa: E402


def dedup_rates(spark, docs):
    """Exact-duplicate rate (md5 of text — one combining groupBy) and
    near-duplicate rate (MinHash-LSH candidate pairs verified at the
    production threshold, the q_dedup_lsh_verified plan; docs touched
    by >=1 verified pair count as near-dup). Returns a 1-row DF."""
    from readembedability_spark.queries import _persist
    from readembedability_spark.schemas import local_table
    from readembedability_spark.textops.dedup import (
        _shingles_from,
        _verified_pairs_from,
    )

    n_docs = docs.count()
    n_distinct = (
        docs.select(F.md5(F.encode("text", "UTF-8")).alias("h"))
        .distinct()
        .count()
    )
    shingles = _shingles_from(docs.select("doc_id", "text"))
    vpairs = _persist(_verified_pairs_from(shingles))
    n_pairs = vpairs.count()
    near_docs = (
        vpairs.select(F.col("a").alias("doc_id"))
        .union(vpairs.select(F.col("b").alias("doc_id")))
        .distinct()
        .count()
    )
    return local_table(
        spark,
        [
            (
                n_docs,
                n_docs - n_distinct,
                round((n_docs - n_distinct) / n_docs, 6) if n_docs else 0.0,
                n_pairs,
                near_docs,
                round(near_docs / n_docs, 6) if n_docs else 0.0,
            )
        ],
        "n_docs long, n_exact_dups long, exact_dup_frac double, "
        "n_near_dup_pairs long, n_near_dup_docs long, near_dup_frac double",
    )


def language_mixture(docs):
    """Per-language doc/token counts, raw share, and the
    temperature-scaled training weight (q_mixture_temperature's rule:
    w_l ∝ share^(1/T) at T=2, i.e. sqrt, the one IEEE-correctly-rounded
    power). Shares/weights are 0.0 (not null) on a zero-token corpus.
    The corpus never shuffles beyond one groupBy(lang)."""
    toks = docs.select(
        "lang",
        F.size(F.filter(F.split("text", " "), lambda x: x != "")).alias(
            "n_tok"
        ),
    )
    per_lang = toks.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
    )
    totals = per_lang.agg(
        F.sum("n_docs").alias("td"), F.sum("n_tokens").alias("tt")
    )
    share = F.col("n_tokens") / F.nullif(F.col("tt"), F.lit(0))
    w_raw = F.sqrt(share)
    scaled = per_lang.crossJoin(F.broadcast(totals)).select(
        "lang",
        "n_docs",
        "n_tokens",
        F.coalesce(F.round(share, 6), F.lit(0.0)).alias("token_share"),
        F.coalesce(w_raw, F.lit(0.0)).alias("w_raw"),
    )
    wt = scaled.agg(F.sum("w_raw").alias("wsum"))
    return scaled.crossJoin(F.broadcast(wt)).select(
        "lang",
        "n_docs",
        "n_tokens",
        "token_share",
        F.coalesce(
            F.round(F.col("w_raw") / F.nullif(F.col("wsum"), F.lit(0.0)), 6),
            F.lit(0.0),
        ).alias("train_weight"),
    )


def length_distribution(docs):
    """Token-length percentiles (approx, 1e-4 relative error — the
    sketch path, no global sort)."""
    toks = docs.select(
        F.size(F.filter(F.split("text", " "), lambda x: x != "")).alias(
            "n_tok"
        )
    )
    pcts = [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
    row = toks.agg(
        F.percentile_approx("n_tok", pcts, 10000).alias("p"),
        F.min("n_tok").alias("min_tok"),
        F.max("n_tok").alias("max_tok"),
        F.round(F.avg("n_tok"), 2).alias("mean_tok"),
    )
    cols = [F.col("min_tok"), F.col("mean_tok"), F.col("max_tok")] + [
        F.col("p").getItem(i).alias(f"p{int(p * 100):02d}")
        for i, p in enumerate(pcts)
    ]
    return row.select(*cols)


def run(spark, args) -> dict:
    from readembedability_spark.queries import _persist
    from readembedability_spark.textops.curation import filter_funnel_from

    docs = _persist(
        spark.read.parquet(args.input).select("doc_id", "text", "lang")
    )
    out = Path(args.output)

    # each tiny section DF is persisted: the parquet write AND the
    # summary collect below would otherwise re-run the section's full
    # corpus-sized lineage
    funnel = _persist(filter_funnel_from(docs))
    funnel.write.mode("overwrite").parquet(str(out / "funnel"))
    dd = _persist(dedup_rates(spark, docs))
    dd.write.mode("overwrite").parquet(str(out / "dedup"))
    mix = _persist(language_mixture(docs))
    mix.write.mode("overwrite").parquet(str(out / "mixture"))
    lens = _persist(length_distribution(docs))
    lens.write.mode("overwrite").parquet(str(out / "lengths"))

    summary = {
        "funnel": {
            r["stage"]: r["n_docs"] for r in funnel.collect()
        },
        "dedup": dd.collect()[0].asDict(),
        "languages": {
            r["lang"]: {
                "share": r["token_share"],
                "train_weight": r["train_weight"],
            }
            for r in mix.collect()
        },
        "lengths": lens.collect()[0].asDict(),
    }
    return summary


def main() -> None:
    ap = job_parser()
    run_job("corpus-report", ap, run)


if __name__ == "__main__":
    main()
