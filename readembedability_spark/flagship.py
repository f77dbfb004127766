"""Flagship query: the full extraction pipeline over the standard
synthetic page (harness.html_page) of every document, so the whole
mapInPandas extract stage is oracle-checkable: the frozen extraction
spec yields ``title = 'Doc N'`` and ``content_text = text``, which the
DuckDB oracle below states in pure SQL. That makes the byte-identity
invariant (BASELINE.json:15) machine-checked by the driver, not just
by pytest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from readembedability_spark.harness import (
    doc_url,
    html_page,
    salted_extract,
    synthetic_pages,
)
from readembedability_spark.queries import _t


def flagship_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pages(from documents) → salt → mapInPandas extract → key fields."""
    docs = _t(spark, sf_dir, "documents")
    pages = synthetic_pages(
        docs, doc_url("https://docs.example.com/d/"), html_page()
    )
    return salted_extract(pages).select("url", "title", "content_text", "status")


FLAGSHIP_ORACLE_SQL = """
    SELECT 'https://docs.example.com/d/' || CAST(doc_id AS VARCHAR) AS url,
           'Doc ' || CAST(doc_id AS VARCHAR) AS title,
           text AS content_text,
           'ok' AS status
    FROM documents
"""
