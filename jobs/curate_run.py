"""spark-submit entry point for the training-data CURATION pipeline:
quality/language gates → near-dup clustering (MinHash-LSH → Jaccard
verify → connected components) → one representative per cluster,
written as parquet with cluster multiplicity.

This is the batch composition behind q_curation_pipeline_lsh, exposed
as a runnable job over any (doc_id, text, lang) parquet table.

Local smoke:
    python jobs/curate_run.py --input documents.parquet \\
        --output /tmp/curated --master 'local[8]'

Cluster:
    make dist
    spark-submit --py-files dist/readembedability_spark.zip \\
        --master yarn --num-executors N --executor-cores 4 \\
        --conf spark.sql.adaptive.enabled=true \\
        jobs/curate_run.py --input lake.db.documents --output .../curated
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


def curate(
    spark: SparkSession,
    docs,
    langs: list[str],
    min_tokens: int,
    min_alpha: float,
):
    """Gates → LSH near-dup clusters → keeper per cluster (the
    q_curation_pipeline_lsh plan, parameterized). Returns the curated
    DataFrame (stats are computed by the caller, see main()); caller
    must materialize before release_caches."""
    from readembedability_spark.queries import _persist
    from readembedability_spark.textops import (
        _connected_components,
        _shingles_from,
        _verified_pairs_from,
    )

    n_tokens = F.size(F.split("text", " "))
    alpha = F.length(F.regexp_replace("text", "[^a-zA-Z]", "")) / F.nullif(
        F.length("text").cast("double"), F.lit(0.0)
    )
    gated = docs.select(
        "doc_id",
        "lang",
        "text",
        n_tokens.alias("n_tokens"),
        alpha.alias("alpha_ratio"),
    )
    if langs:
        gated = gated.filter(F.col("lang").isin(*langs))
    gated = _persist(
        gated.filter(
            (F.col("n_tokens") >= min_tokens)
            & (F.col("alpha_ratio") >= min_alpha)
        ).drop("alpha_ratio")
    )
    shingles = _shingles_from(gated.select("doc_id", "text"))
    vpairs = _verified_pairs_from(shingles)
    labels = _connected_components(spark, vpairs.select("a", "b"))
    labeled = gated.join(
        labels.select(F.col("node").alias("doc_id"), "label"), "doc_id", "left"
    ).select(
        "doc_id",
        "lang",
        "text",
        "n_tokens",
        F.coalesce("label", "doc_id").alias("rep"),
    )
    w_sz = Window.partitionBy("rep")
    curated = (
        labeled.withColumn("cluster_size", F.count("*").over(w_sz))
        .filter(F.col("doc_id") == F.col("rep"))
        .drop("rep")
    )
    return curated


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--langs", default="en,de,fr", help="comma allowlist; '' = all")
    ap.add_argument("--min-tokens", type=int, default=30)
    ap.add_argument("--min-alpha", type=float, default=0.6)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    builder = SparkSession.builder.appName("readembedability-curate")
    if args.master:
        builder = builder.master(args.master)
    spark = (
        builder.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    from readembedability_spark.queries import release_caches

    docs = spark.read.parquet(args.input)
    t0 = time.monotonic()
    n_in = docs.count()
    curated = curate(
        spark,
        docs,
        langs=[s for s in args.langs.split(",") if s],
        min_tokens=args.min_tokens,
        min_alpha=args.min_alpha,
    )
    curated.write.mode("overwrite").parquet(args.output)
    out = spark.read.parquet(args.output)
    stats = {
        "n_input": n_in,
        "n_curated": out.count(),
        "n_cluster_members": out.agg(
            F.sum("cluster_size").cast("long")
        ).collect()[0][0],
        "wall_s": round(time.monotonic() - t0, 2),
    }
    release_caches(spark)
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()
