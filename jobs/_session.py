"""SparkSession bootstrap and run lifecycle shared by the batch jobs."""

from __future__ import annotations

import argparse
import json
import time
from typing import Callable, Optional

from pyspark.sql import SparkSession

#: settings every job session carries: AQE with its skew-join split,
#: speculative re-launch of straggler tasks, 512-row Arrow batches for
#: the mapInPandas extract stage (bounded per-batch worker memory) and
#: UTC session time.
JOB_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.speculation": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "512",
    "spark.sql.session.timeZone": "UTC",
}


def job_session(app_name: str, master: Optional[str]) -> SparkSession:
    """JOB_CONF and ERROR-level logging; an explicit ``--master`` (a
    local run) also pins 8 shuffle partitions, while a cluster submit
    keeps the cluster's own partition setting."""
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master).config(
            "spark.sql.shuffle.partitions", "8"
        )
    spark = builder.config(map=JOB_CONF).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def job_parser(
    synth: Optional[str] = None,
    *,
    synth_type: type = int,
    input_help: Optional[str] = None,
    synth_help: Optional[str] = None,
) -> argparse.ArgumentParser:
    """The flags every job takes: ``--input`` (or, when ``synth`` names
    a flag, exactly one of ``--input`` and that synthetic-source flag),
    ``--output`` and ``--master``. A job adds its own flags to the
    returned parser."""
    ap = argparse.ArgumentParser()
    if synth is None:
        ap.add_argument("--input", required=True, help=input_help)
    else:
        src = ap.add_mutually_exclusive_group(required=True)
        src.add_argument("--input", help=input_help)
        src.add_argument(synth, type=synth_type, help=synth_help)
    ap.add_argument("--output", required=True)
    ap.add_argument("--master", default=None)
    return ap


def run_job(
    app_name: str,
    ap: argparse.ArgumentParser,
    body: Callable[[SparkSession, argparse.Namespace], dict],
) -> None:
    """Parse ``ap``, run ``body(spark, args)`` on the job session, add
    the wall clock to the stats dict it returns, free the tracked
    caches, print the stats as one JSON line and stop the session
    unless it was already running before this call."""
    args = ap.parse_args()
    started = SparkSession.getActiveSession() is None
    spark = job_session(app_name, args.master)
    from readembedability_spark.queries import release_caches

    t0 = time.time()
    stats = body(spark, args)
    stats["wall_sec"] = round(time.time() - t0, 1)
    release_caches(spark)
    print(json.dumps(stats))
    if started:
        spark.stop()
