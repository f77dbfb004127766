"""Declared schemas for the extraction pipeline (SURVEY.md §1.3).

Fixed StructTypes (never inferred) — required for Arrow-vectorized UDFs and
byte-stable outputs. Input shape is mandated by BASELINE.json:15
(``input_hint``): ``(url:string, warc_ts:timestamp, html:binary,
text:string, lang:string)``.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

#: Input table of Common-Crawl-style pages (BASELINE.json:15).
PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)

#: Output table, one row per url; field set fixed by BASELINE.json:6
#: (content_html, content_text, title, authors, published_at, image,
#: keywords) plus summary/canonical/embed/status/lineage columns.
EXTRACTED_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("content_html", StringType(), True),
        # byte-identity surface (BASELINE.json:15)
        StructField("content_text", StringType(), True),
        StructField("title", StringType(), True),
        StructField("authors", ArrayType(StringType()), True),
        StructField("published_at", TimestampType(), True),
        StructField("image", StringType(), True),
        StructField("keywords", ArrayType(StringType()), True),
        StructField("summary", StringType(), True),
        StructField("canonical_url", StringType(), True),
        StructField("embed", BooleanType(), True),
        # outbound links (A-23): ordered/absolutized/deduped, raw-dom
        # surface — feeds the extracted link-graph queries;
        # anchor_texts is positionally aligned with links (L-7)
        StructField("links", ArrayType(StringType()), True),
        StructField("anchor_texts", ArrayType(StringType()), True),
        # link_nofollow is positionally aligned with links (L-8):
        # rel contains nofollow|sponsored|ugc on the kept occurrence
        StructField("link_nofollow", ArrayType(BooleanType()), True),
        # discovered rel=alternate RSS/Atom feed urls (F-1..F-5),
        # ordered/absolutized/deduped — the recrawl-notification surface
        StructField("feeds", ArrayType(StringType()), True),
        # M-1 declared language (<html lang> beats Content-Language meta)
        StructField("declared_lang", StringType(), True),
        # M-2 client-side redirect target (meta refresh, absolutized)
        StructField("refresh_url", StringType(), True),
        # M-3 page-level robots directives (noindex/nofollow; 'none'
        # implies both; absent meta = permissive default)
        StructField("robots_noindex", BooleanType(), True),
        StructField("robots_nofollow", BooleanType(), True),
        # M-4 rel=amphtml alternate (absolutized) - the AMP twin
        StructField("amp_url", StringType(), True),
        StructField("confidences", MapType(StringType(), DoubleType()), True),
        # ok|empty|non_html|parse_error|pdf|oversize
        StructField("status", StringType(), False),
        # skew salt retained for lineage (SURVEY.md O-8)
        StructField("salt", IntegerType(), False),
    ]
)

#: Per-partition metrics (BASELINE.json:6 "per-partition lineage + metrics").
METRICS_SCHEMA = StructType(
    [
        StructField("run_id", StringType(), False),
        StructField("partition_id", IntegerType(), False),
        StructField("n_rows", LongType(), False),
        StructField("n_ok", LongType(), False),
        StructField("n_error", LongType(), False),
        StructField("bytes_in", LongType(), False),
        StructField("wall_ms", LongType(), False),
    ]
)

#: Checkpoint / lineage table — unit of resume is a url-hash bucket.
CHECKPOINT_SCHEMA = StructType(
    [
        StructField("run_id", StringType(), False),
        StructField("url_bucket", IntegerType(), False),
        StructField("status", StringType(), False),
        StructField("n_rows", LongType(), False),
    ]
)

#: Default number of resume buckets (pmod(xxhash64(url), N_BUCKETS)).
N_BUCKETS = 256


def local_table(spark, rows, schema):
    """Driver-side rows → a DataFrame over a JVM ``LocalRelation``.

    The one way the program builds a table from Python literals. Going
    through a ``pa.Table`` makes the plan a ``LocalTableScan``:
    ``spark.createDataFrame(<list>)`` would instead parallelize a Python
    RDD, and every one of its tasks starts a Python worker task at a
    fixed ~0.25 CPU-s (SCALE.md). ``rows`` are tuples in schema order or
    dicts keyed by field name; ``schema`` is a ``StructType`` or a DDL
    string. The Arrow schema is always explicit, so an empty ``rows``
    keeps its types.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    cols = {
        name: [r[name] if isinstance(r, dict) else r[i] for r in rows]
        for i, name in enumerate(schema.names)
    }
    table = pa.table(cols, schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema=schema)
