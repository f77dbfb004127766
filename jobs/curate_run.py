"""spark-submit entry point for the training-data CURATION pipeline:
quality/language gates → near-dup clustering (MinHash-LSH → Jaccard
verify → connected components) → one representative per cluster,
written as parquet with cluster multiplicity.

This runs textops.curated_clusters_from, the core behind
q_curation_pipeline_lsh, with its allowlist and gate thresholds as
flags, over any (doc_id, text, lang) parquet table.

Local smoke:
    python jobs/curate_run.py --input documents.parquet \\
        --output /tmp/curated --master 'local[8]'

Cluster:
    make dist
    spark-submit --py-files dist/readembedability_spark.zip \\
        --master yarn --num-executors N --executor-cores 4 \\
        --conf spark.sql.adaptive.enabled=true \\
        jobs/curate_run.py --input s3://…/documents.parquet \\
            --output .../curated
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from _session import job_parser, run_job  # noqa: E402


def run(spark, args) -> dict:
    from readembedability_spark.textops import curated_clusters_from

    docs = spark.read.parquet(args.input)
    n_in = docs.count()
    # the gated table is a tracked persist: the write below materializes
    # the result before run_job's release_caches
    curated = curated_clusters_from(
        spark,
        docs,
        [s for s in args.langs.split(",") if s],
        args.min_tokens,
        args.min_alpha,
    )
    curated.write.mode("overwrite").parquet(args.output)
    out = spark.read.parquet(args.output)
    return {
        "n_input": n_in,
        "n_curated": out.count(),
        "n_cluster_members": out.agg(
            F.sum("cluster_size").cast("long")
        ).collect()[0][0],
    }


def main() -> None:
    ap = job_parser()
    ap.add_argument(
        "--langs", default="en,de,fr", help="comma allowlist; '' = all"
    )
    ap.add_argument("--min-tokens", type=int, default=30)
    ap.add_argument("--min-alpha", type=float, default=0.6)
    run_job("readembedability-curate", ap, run)


if __name__ == "__main__":
    main()
