"""O-20: the vectorized extract stage — Arrow batches through the
pure-Python extractor chain inside ``mapInPandas``.

This is the ONLY Python-side computation in the pipeline
(BASELINE.json:15 "vectorized pandas/Arrow UDFs (no per-row Python)"):
everything before/after is JVM-side. Each Arrow batch crosses the
JVM→Python boundary once; inside, rows stream through
``extractor.extract_page`` (the same function the pytest oracle calls —
byte-identity by construction, SURVEY.md §5.2).

Per-partition lineage/metrics (O-30): on partition completion the worker
writes one small JSON file keyed by partition id (atomic tmp+rename, so
task retries are idempotent) into ``metrics_dir``; the driver-side
``load_metrics`` reads them back as a local METRICS_SCHEMA table.
"""

from __future__ import annotations

import json
import os
import sys
import time
import zipimport
from collections.abc import Iterator
from pathlib import Path

import pandas as pd

from readembedability_spark.schemas import (
    EXTRACTED_SCHEMA,
    METRICS_SCHEMA,
    local_table,
)

_OUT_COLS = [f.name for f in EXTRACTED_SCHEMA.fields]

def _ensure_workers_can_import(spark) -> None:
    """Ship the package to python workers once per SparkContext.

    cloudpickle serializes the mapInPandas closure BY REFERENCE to this
    importable module, so the worker must be able to import
    ``readembedability_spark`` at unpickle time. Local-mode workers
    inherit only the driver's CWD on sys.path — a driver launched from
    any other directory (notebook, spark-submit elsewhere) fails before
    the closure even runs. Zipping the installed package (~150 KB of
    .py) and ``addPyFile``-ing it makes the stage location-independent;
    on a real cluster this coexists harmlessly with --py-files (same
    module, first on path wins)."""
    sc = spark.sparkContext
    if getattr(sc, "_readembedability_pyfile", False):
        return
    import tempfile
    import zipfile

    pkg_dir = Path(__file__).resolve().parent.parent
    # mkstemp: unpredictable name + 0600 owned fd, so on a shared host
    # no other user can pre-plant a symlink at the target or swap the
    # file between write and addPyFile (ADVICE r06)
    fd, zip_path = tempfile.mkstemp(
        prefix="readembedability_spark_", suffix=".zip"
    )
    with os.fdopen(fd, "wb") as fh, zipfile.ZipFile(fh, "w") as z:
        # ship EVERY package file (not just *.py) so a future runtime
        # resource (stopword list, golden) fails loudly in local mode
        # too rather than silently missing on cluster workers only
        # (ADVICE r06); __pycache__ is driver-local build litter
        for f in sorted(pkg_dir.rglob("*")):
            if f.is_file() and "__pycache__" not in f.parts:
                z.write(
                    f, f"readembedability_spark/{f.relative_to(pkg_dir)}"
                )
    sc.addPyFile(zip_path)
    sc._readembedability_pyfile = True
    # the driver's file server serves the REGISTERED original path
    # lazily (executors fetch on first task), so the zip must outlive
    # the session — but not the process: unlink at interpreter exit
    # rather than leak one zip per SparkSession into the temp dir
    # (ADVICE r07)
    import atexit

    def _cleanup_zip(p=zip_path):
        try:
            os.unlink(p)
        except OSError:
            pass

    atexit.register(_cleanup_zip)


def make_extract_batches(run_id: str, metrics_dir: str | None):
    """Build the mapInPandas function (closure keeps it picklable)."""

    def extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # import inside the worker so the zip-shipped package resolves
        import gc

        from pyspark import TaskContext

        from readembedability_spark.extractor import extract_page

        # long-lived worker hygiene: the extractor breaks its own DOM
        # cycles (dom.free_tree), so survivors of the first collection
        # are module state — freeze them out of future gen2 scans.
        gc.collect()
        gc.freeze()

        t0 = time.monotonic()
        n_rows = n_ok = n_error = bytes_in = 0
        for pdf in batches:
            urls = pdf["url"].tolist()
            tss = pdf["warc_ts"].tolist()
            htmls = pdf["html"].tolist()
            salts = pdf["salt"].tolist()
            cols: dict[str, list] = {c: [] for c in _OUT_COLS}
            for url, ts, html, salt in zip(urls, tss, htmls, salts):
                if html is not None:
                    bytes_in += len(html)
                row = extract_page(url, html)
                row["warc_ts"] = ts
                row["salt"] = int(salt)
                n_rows += 1
                if row["status"] == "ok":
                    n_ok += 1
                elif row["status"] == "parse_error":
                    n_error += 1
                for c in _OUT_COLS:
                    cols[c].append(row[c])
            yield pd.DataFrame(cols, columns=_OUT_COLS)
        if metrics_dir:
            ctx = TaskContext.get()
            pid = ctx.partitionId() if ctx is not None else -1
            _write_metrics(
                metrics_dir,
                {
                    "run_id": run_id,
                    "partition_id": pid,
                    "n_rows": n_rows,
                    "n_ok": n_ok,
                    "n_error": n_error,
                    "bytes_in": bytes_in,
                    "wall_ms": int((time.monotonic() - t0) * 1000),
                },
            )
        evict_zip_finders()

    return extract_batches


def evict_zip_finders() -> None:
    """Drop every ``zipimporter`` from ``sys.path_importer_cache``.

    A reused Python worker starts each task with
    ``importlib.invalidate_caches()``, and a cached zipimporter answers
    that by re-reading its whole archive directory: ~27k entries over
    the pyspark.zip subpackages and the spark-core jar, ~0.25 CPU-s per
    task before its first row (SCALE.md, "The Python stage"). With no
    zipimporter cached, the next task has nothing to re-read; a later
    import from a zip re-creates its finder from zipimport's own
    directory cache, without reading the archive."""
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del cache[path]


def _write_metrics(metrics_dir: str, record: dict) -> None:
    d = Path(metrics_dir)
    d.mkdir(parents=True, exist_ok=True)
    final = d / f"part-{record['partition_id']:05d}.json"
    tmp = d / f".part-{record['partition_id']:05d}.{os.getpid()}.tmp"
    tmp.write_text(json.dumps(record), encoding="utf-8")
    os.replace(tmp, final)  # atomic; last retry wins


def extract_stage(pages_df, run_id: str = "run", metrics_dir: str | None = None):
    """pages(+salt) DataFrame → extracted DataFrame (EXTRACTED_SCHEMA)."""
    _ensure_workers_can_import(pages_df.sparkSession)
    cols = set(pages_df.columns)
    if "salt" not in cols:
        from readembedability_spark.functions import salt_col

        pages_df = pages_df.withColumn("salt", salt_col())
    # column-prune the Python boundary: only what the extractor needs
    slim = pages_df.select("url", "warc_ts", "html", "salt")
    return slim.mapInPandas(
        make_extract_batches(run_id, metrics_dir), schema=EXTRACTED_SCHEMA
    )


def endorsed_links(extracted):
    """(url, link) off an extraction result, one row per outbound link.
    rel-flagged nofollow/sponsored/ugc links (L-8) are dropped: they
    carry no endorsement, so no authority edge, frontier or schedule
    reads them. Pages with no surviving link drop out."""
    from pyspark.sql import functions as F

    return (
        extracted.select(
            "url",
            F.explode(F.arrays_zip("links", "link_nofollow")).alias("z"),
        )
        .filter(~F.col("z.link_nofollow"))
        .select("url", F.col("z.links").alias("link"))
    )


def load_metrics(spark, metrics_dir: str):
    """Per-partition metrics JSON files → DataFrame (METRICS_SCHEMA)."""
    files = sorted(Path(metrics_dir).glob("part-*.json"))
    rows = [json.loads(p.read_text(encoding="utf-8")) for p in files]
    return local_table(spark, rows, METRICS_SCHEMA)
