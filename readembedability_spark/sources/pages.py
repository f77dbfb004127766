"""O-1/O-6: pages scan + pushed-down pre-filters.

Production target is an Iceberg table partitioned by ``days(warc_ts)``
(DDL in README.md); this PySpark carries no Iceberg JARs (SURVEY.md
§0), so the read path is parquet. Either way the *logical* plan is identical and
Catalyst pushes filters/pruning into the scan — verified by
tests/test_plans.py (PushedFilters must include IsNotNull(html)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# the extractor's own oversize limit, so the scan prefilter and the
# extractor's quarantine agree on which rows are too large
from readembedability_spark.extractor.pipeline import MAX_HTML_BYTES
from readembedability_spark.schemas import PAGES_SCHEMA


def read_pages(spark: SparkSession, path: str) -> DataFrame:
    """Scan the pages table with the declared schema (no inference)."""
    return spark.read.schema(PAGES_SCHEMA).parquet(path)


def prefilter(pages: DataFrame, langs: list[str] | None = None) -> DataFrame:
    """O-6 pre-filters, all pushed to the scan by Catalyst:
    non-null html, sane size, optional language allowlist."""
    out = pages.filter(
        F.col("html").isNotNull() & (F.length("html") <= F.lit(MAX_HTML_BYTES))
    )
    if langs:
        out = out.filter(F.col("lang").isin(langs) | F.col("lang").isNull())
    return out
