"""Helpers shared by several test modules (``tests/`` is on sys.path
through conftest.py)."""

from __future__ import annotations

import importlib
import sys
from pathlib import Path

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

JOBS = Path(__file__).resolve().parent.parent / "jobs"


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


def write_docs(d, rows) -> None:
    """Write ``rows`` as ``d/documents.parquet`` in the driver's
    documents schema (doc_id, text, lang, source, n_chars)."""
    pdf = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    tbl = pa.Table.from_pandas(
        pdf,
        schema=pa.schema(
            [
                ("doc_id", pa.int64()),
                ("text", pa.string()),
                ("lang", pa.string()),
                ("source", pa.string()),
                ("n_chars", pa.int64()),
            ]
        ),
    )
    pq.write_table(tbl, str(d / "documents.parquet"))
