"""The end-to-end extraction plan (SURVEY.md §3.2).

    scan → prefilter → bucket → resume-anti-join → dedup-latest →
    salt/repartition → mapInPandas(extract) → write(+metrics, checkpoint)

Exactly two wide dependencies by design (dedup's url shuffle and the
explicit salted repartition); the resume anti-join is broadcast. That
narrow profile is what makes ≥0.8 N→4N scaling efficiency attainable
(SURVEY.md §6).
"""

from __future__ import annotations

import shutil
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from readembedability_spark.operators.dedup import dedup_latest
from readembedability_spark.operators.extract import extract_stage, load_metrics
from readembedability_spark.operators.resume import (
    load_done_buckets,
    mark_bucket_list_done,
    resume_filter,
    with_bucket,
)
from readembedability_spark.operators.salt import salt_repartition
from readembedability_spark.schemas import EXTRACTED_SCHEMA
from readembedability_spark.sources.pages import prefilter, read_pages


@dataclass
class RunConfig:
    pages_path: str
    out_dir: str
    run_id: str = "run"
    parallelism: int = 32
    num_salts: int = 64
    langs: list | None = None
    resume: bool = True


def build_extract_df(spark: SparkSession, cfg: RunConfig) -> DataFrame:
    """Assemble the logical plan up to (and including) the extract stage."""
    pages = read_pages(spark, cfg.pages_path)
    pages = prefilter(pages, langs=cfg.langs)
    pages = with_bucket(pages)
    if cfg.resume:
        done = load_done_buckets(spark, _ckpt_dir(cfg), cfg.run_id)
        pages = resume_filter(pages, done)
    # salted url-hash repartition FIRST: the dedup window clusters by url
    # too, so the heavy html payload crosses exactly one exchange.
    pages = salt_repartition(pages, cfg.parallelism, cfg.num_salts)
    pages = dedup_latest(pages)
    return extract_stage(pages, run_id=cfg.run_id, metrics_dir=_metrics_dir(cfg))


def _pending_buckets(spark: SparkSession, cfg: RunConfig) -> list:
    """Bucket ids this run will process: url-column-only scan of the
    input (parquet prunes every other column) anti-joined against the
    done set. ≤ N_BUCKETS values — collected to the driver so the
    checkpoint write is O(1) regardless of accumulated output size."""
    pages = with_bucket(read_pages(spark, cfg.pages_path).select("url"))
    done = load_done_buckets(spark, _ckpt_dir(cfg), cfg.run_id)
    pending = resume_filter(pages, done).select("url_bucket").distinct()
    return [r["url_bucket"] for r in pending.collect()]


def _ckpt_dir(cfg: RunConfig) -> str:
    return str(Path(cfg.out_dir) / "_checkpoint")


def _metrics_dir(cfg: RunConfig) -> str:
    return str(Path(cfg.out_dir) / "_metrics" / cfg.run_id)


def run_extract(spark: SparkSession, cfg: RunConfig) -> dict:
    """Execute the plan; returns summary counts. Idempotent under resume:
    a second invocation with the same run_id re-processes nothing.

    Write layout: flat parquet, one file per task — salt/url_bucket stay
    as COLUMNS (cheap row-level pruning on read). Directory-partitioning
    by salt is an Iceberg-only concern (README.md DDL): with a local
    FileOutputCommitter it would fan every task into num_salts tiny
    files, which measurably serializes the job on file IO.
    """
    out_path = str(Path(cfg.out_dir) / "extracted")
    # this batch's bucket set is known PRE-write from the (url-column-
    # only) input scan minus already-done buckets — never by re-scanning
    # the accumulated output, which costs O(total table) per incremental
    # run at 10^12 rows and would mark prior runs' buckets as this run's
    pending = _pending_buckets(spark, cfg) if cfg.resume else []
    n_processed = 0
    # under resume, no pending bucket while this run_id has buckets done
    # means an earlier call processed every page: the write would only
    # start one Python task per empty partition and append zero rows to
    # the metrics table. An empty input with no checkpoint still writes,
    # so the call always leaves a readable (possibly empty) output
    all_done = (
        cfg.resume
        and not pending
        and not load_done_buckets(spark, _ckpt_dir(cfg), cfg.run_id).isEmpty()
    )
    if not all_done:
        extracted = build_extract_df(spark, cfg)
        # the metrics files are keyed by partition id only: clear an
        # earlier call's under this run_id, or a re-run at lower
        # parallelism would read its higher-numbered parts back as this
        # call's
        shutil.rmtree(_metrics_dir(cfg), ignore_errors=True)
        extracted.write.mode("append").parquet(out_path)
        # checkpoint AFTER the output commit (crash before this line → re-run)
        if cfg.resume:
            mark_bucket_list_done(spark, pending, _ckpt_dir(cfg), cfg.run_id)
        metrics = load_metrics(spark, _metrics_dir(cfg))
        metrics_path = str(Path(cfg.out_dir) / "metrics")
        metrics.write.mode("append").parquet(metrics_path)
        # a local table: collected on the driver, no job
        n_processed = sum(r["n_rows"] for r in metrics.collect())
    # cumulative output count is metadata-only (parquet footer row
    # counts); the declared schema spares a schema-inference job
    n = spark.read.schema(EXTRACTED_SCHEMA).parquet(out_path).count()
    return {
        "rows_out": n,
        "rows_processed": n_processed,
        "out_path": out_path,
    }
