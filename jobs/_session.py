"""SparkSession bootstrap shared by the batch jobs."""

from __future__ import annotations

from typing import Optional

from pyspark.sql import SparkSession


def job_session(app_name: str, master: Optional[str]) -> SparkSession:
    """AQE on and ERROR-level logging; an explicit ``--master`` (a local
    run) also pins 8 shuffle partitions, while a cluster submit keeps
    the cluster's own partition setting."""
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master).config(
            "spark.sql.shuffle.partitions", "8"
        )
    spark = builder.config("spark.sql.adaptive.enabled", "true").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
