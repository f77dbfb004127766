"""The synthetic-page extraction harness: pages synthesized JVM-side
(deterministically) from the documents table and run through the real
salted mapInPandas extract stage, so the flagship and every
oracle-checked extraction query test the byte-identity invariant
(BASELINE.json:15) against a DuckDB oracle that replays the synthesis
in SQL.

The page row, the HTML envelope and the salted extract call are each
written once here; the jobs' salted-extract paths use the same step.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from readembedability_spark.operators.extract import extract_stage
from readembedability_spark.operators.salt import (
    default_parts,
    salt_repartition,
)


def salted_extract(pages: DataFrame) -> DataFrame:
    """pages → salted url-hash repartition (O-8) → mapInPandas extract
    (O-20), sized by the cluster (default_parts)."""
    parts = default_parts(pages.sparkSession)
    return extract_stage(salt_repartition(pages, parts))


def doc_url(prefix: str) -> Column:
    """``prefix`` followed by the doc_id: a synthetic page's url."""
    return F.concat(F.lit(prefix), F.col("doc_id").cast("string"))


def synthetic_pages(docs: DataFrame, url: Column, html: Column) -> DataFrame:
    """The pages row of each doc: ``url``, one constant capture time,
    ``html`` and the doc's text and lang."""
    return docs.select(
        url.alias("url"),
        F.to_timestamp(F.lit("2025-01-01 00:00:00")).alias("warc_ts"),
        html.alias("html"),
        F.col("text"),
        F.col("lang"),
    )


def html_page(
    head: Sequence[Column] = (),
    content: Sequence[Column] = (),
    after: Sequence[Column] = (),
    html_tag: Column | None = None,
) -> Column:
    """UTF-8 bytes of the standard synthetic page around caller parts::

        <html><head><title>Doc {doc_id}</title>{head}</head><body>
        <div class="content"><p>{text}</p>{content}</div>{after}
        </body></html>

    (one line, no whitespace between tags). ``html_tag`` replaces the
    opening ``<html>`` tag. With no parts the frozen extraction spec
    provably yields ``title = 'Doc {doc_id}'`` and ``content_text =
    text`` (one paragraph, already whitespace-collapsed, no markup
    characters in the synthetic corpus), which a DuckDB oracle states
    in pure SQL; the parts add structure whose extraction the oracles
    still replay."""
    return F.encode(
        F.concat(
            F.lit("<html>") if html_tag is None else html_tag,
            F.lit("<head><title>Doc "),
            F.col("doc_id").cast("string"),
            F.lit("</title>"),
            *head,
            F.lit('</head><body><div class="content"><p>'),
            F.col("text"),
            F.lit("</p>"),
            *content,
            F.lit("</div>"),
            *after,
            F.lit("</body></html>"),
        ),
        "UTF-8",
    )
