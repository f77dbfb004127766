"""spark-submit entry point for the extraction pipeline.

Local smoke:
    python jobs/extract_run.py --input pages.parquet --output /tmp/out \\
        --run-id r1 --parallelism 32

Cluster (BASELINE.json:6 "spark-submit --py-files on multi-executor
clusters at N and 4N executors"):
    make dist
    spark-submit --py-files dist/readembedability_spark.zip \\
        --master yarn --num-executors N --executor-cores 4 \\
        --conf spark.sql.adaptive.enabled=true \\
        --conf spark.sql.execution.arrow.maxRecordsPerBatch=512 \\
        --conf spark.speculation=true \\
        jobs/extract_run.py --input s3://…/pages.parquet --output s3://…/out \\
        --run-id r1 --parallelism $((N * 4 * 3))
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from _session import job_parser, run_job  # noqa: E402
from readembedability_spark.plans.pipeline import RunConfig, run_extract  # noqa: E402


def run(spark, args) -> dict:
    cfg = RunConfig(
        pages_path=args.input,
        out_dir=args.output,
        run_id=args.run_id,
        parallelism=args.parallelism,
        num_salts=args.num_salts,
        langs=args.langs.split(",") if args.langs else None,
        resume=not args.no_resume,
    )
    return run_extract(spark, cfg)


def main() -> None:
    ap = job_parser()
    ap.add_argument("--run-id", default="run")
    ap.add_argument("--parallelism", type=int, default=32)
    ap.add_argument("--num-salts", type=int, default=64)
    ap.add_argument("--langs", default=None, help="comma-separated allowlist")
    ap.add_argument("--no-resume", action="store_true")
    run_job("readembedability-extract", ap, run)


if __name__ == "__main__":
    main()
