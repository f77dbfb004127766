"""O-8: explicit salted repartition by url-hash (BASELINE.json:6
"explicit salting/repartitioning by url-hash to kill host-level skew").

Pages from one hot host (Zipf web reality) must not land in one task:
repartitioning on the url HASH is uniform regardless of host, so any
hot host spreads evenly across all partitions. The ``salt`` column
(``pmod(xxhash64(url), num_salts)``) is computed after the exchange and
retained in the output for lineage + Iceberg partition layout.

Scale-critical ordering: this is THE heavy exchange of the pipeline
(the html payload moves once). Because the later dedup window also
clusters by url, hashpartitioning(url) satisfies its distribution
requirement and Catalyst inserts NO second exchange — the 100 TB
payload is shuffled exactly once end-to-end (verified by
tests/test_plans.py::test_single_heavy_exchange).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from readembedability_spark.functions import salt_col


def default_parts(spark: SparkSession) -> int:
    """The repo's one partition-count rule: twice the cluster's default
    parallelism, never below 16, so task counts scale with the
    executors."""
    return max(spark.sparkContext.defaultParallelism * 2, 16)


def salt_repartition(
    pages: DataFrame, parallelism: int, num_salts: int = 64
) -> DataFrame:
    return pages.repartition(parallelism, "url").withColumn(
        "salt", salt_col(num_salts)
    )
