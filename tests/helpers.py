"""Helpers shared by several test modules (``tests/`` is on sys.path
through conftest.py): the sf table paths, one writer per planted driver
table, the DuckDB oracle over a planted directory, plan text and job
imports."""

from __future__ import annotations

import importlib
import sys
from pathlib import Path

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import readembedability_spark.textops  # noqa: F401 - registers entries
from readembedability_spark.queries import REGISTRY, release_caches

JOBS = Path(__file__).resolve().parent.parent / "jobs"

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"

#: the driver tables a test may plant, each with its Arrow schema
_DRIVER_SCHEMAS = {
    "documents": pa.schema(
        [
            ("doc_id", pa.int64()),
            ("text", pa.string()),
            ("lang", pa.string()),
            ("source", pa.string()),
            ("n_chars", pa.int64()),
        ]
    ),
    "events": pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("us")),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    ),
    "embeddings": pa.schema(
        [
            ("vec_id", pa.int64()),
            ("embedding", pa.list_(pa.float32())),
            ("label", pa.int32()),
        ]
    ),
}


def formatted_plan(df) -> str:
    """The ``explain("formatted")`` text of a DataFrame."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def job_module(name: str):
    """Import the batch job ``jobs/<name>.py`` as a module."""
    if str(JOBS) not in sys.path:
        sys.path.insert(0, str(JOBS))
    return importlib.import_module(name)


def pdf_blob(body: bytes) -> bytes:
    """A minimal PDF holding ``body`` as its one content stream."""
    return b"%PDF-1.4\nstream\n" + body + b"\nendstream\n%%EOF"


def _write_table(table: str, d, rows) -> str:
    schema = _DRIVER_SCHEMAS[table]
    pdf = pd.DataFrame(rows, columns=schema.names)
    pq.write_table(
        pa.Table.from_pandas(pdf, schema=schema, preserve_index=False),
        str(Path(d) / f"{table}.parquet"),
    )
    return str(d)


def write_docs(d, rows) -> str:
    """Write ``rows`` as ``d/documents.parquet`` in the driver's
    documents schema (doc_id, text, lang, source, n_chars); returns
    ``d`` as a string."""
    return _write_table("documents", d, rows)


def write_events(d, rows) -> str:
    """Write ``rows`` as ``d/events.parquet`` (event_id, ts, user_id,
    event_type, value, props)."""
    return _write_table("events", d, rows)


def write_embeddings(d, rows) -> str:
    """Write ``rows`` as ``d/embeddings.parquet`` (vec_id, embedding,
    label)."""
    return _write_table("embeddings", d, rows)


def planted_con(sf_dir):
    """A DuckDB connection with one view per driver table planted in
    ``sf_dir`` (``<sf_dir>/<table>.parquet``)."""
    con = duckdb.connect()
    for t in _DRIVER_SCHEMAS:
        p = Path(sf_dir) / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def oracle_rows(sf_dir, name) -> list[tuple]:
    """The sorted rows of registry query ``name``'s DuckDB oracle over
    the tables planted in ``sf_dir``."""
    cur = planted_con(sf_dir).execute(REGISTRY[name].sql)
    return sorted(tuple(r) for r in cur.fetchall())


def spark_rows(spark, sf_dir, name) -> list[tuple]:
    """The sorted rows of registry query ``name`` over ``sf_dir``. The
    query's anchors are freed at once: a test that plants ``sf_dir``
    again and reruns would otherwise read the old table from them."""
    rows = sorted(
        tuple(r) for r in REGISTRY[name].spark(spark, str(sf_dir)).collect()
    )
    release_caches(spark)
    return rows


def uf_labels(edges) -> dict:
    """Union-find reference for connected components: each node of
    ``edges`` labelled with the smallest node of its component."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}
