"""Correctness gates: the checks that decide whether an operation's
output is right. An empty list of failures means it is."""

from __future__ import annotations

import hashlib
import math
import random
from datetime import datetime, timezone
from pathlib import Path

import pyarrow.parquet as pq

from readembedability_spark.extractor import extract_page
from readembedability_spark.schemas import EXTRACTED_SCHEMA

_COLS = [f.name for f in EXTRACTED_SCHEMA.fields]


# -- extraction -----------------------------------------------------------


def latest_by_url(rows: list[dict]) -> dict[str, dict]:
    """The row dedup keeps per url among rows with html: latest warc_ts,
    then the longer html."""
    best: dict[str, dict] = {}
    for r in rows:
        if r["html"] is None:
            continue
        cur = best.get(r["url"])
        if cur is None or (r["warc_ts"], len(r["html"])) > (cur["warc_ts"], len(cur["html"])):
            best[r["url"]] = r
    return best


def read_output(out_path: str | Path) -> list[dict]:
    return pq.read_table(str(out_path)).to_pylist()


def _canon(v):
    """A value in a form equal across Spark's parquet and Python: naive
    datetimes are UTC, maps are item lists."""
    if isinstance(v, datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=timezone.utc)
        return v.astimezone(timezone.utc).isoformat()
    if isinstance(v, dict):
        return sorted(v.items())
    if isinstance(v, list) and v and isinstance(v[0], tuple):  # parquet map
        return sorted(v)
    return v


def check_extraction(
    expected: dict[str, dict], out_rows: list[dict], sample: int, seed: int, num_salts: int
) -> list[str]:
    """Output url set equals the deduplicated input url set, with no
    duplicates; every column of a seeded url sample equals a direct
    ``extract_page`` call."""
    fails = []
    urls = [r["url"] for r in out_rows]
    if len(urls) != len(set(urls)):
        fails.append(f"{len(urls) - len(set(urls))} duplicate urls in output")
    missing = expected.keys() - set(urls)
    extra = set(urls) - expected.keys()
    if missing:
        fails.append(f"{len(missing)} urls missing, e.g. {sorted(missing)[0]}")
    if extra:
        fails.append(f"{len(extra)} unexpected urls, e.g. {sorted(extra)[0]}")
    by_url = {r["url"]: r for r in out_rows}
    rng = random.Random(seed)
    pool = sorted(expected.keys() & by_url.keys())
    for url in rng.sample(pool, min(sample, len(pool))):
        src, got = expected[url], by_url[url]
        want = extract_page(url, src["html"])
        want["warc_ts"] = src["warc_ts"]
        bad = [c for c in _COLS if c != "salt" and _canon(got[c]) != _canon(want[c])]
        if not 0 <= got["salt"] < num_salts:
            bad.append("salt")
        if bad:
            fails.append(f"{url}: columns differ from extract_page: {bad}")
    return fails


# -- queries --------------------------------------------------------------


def _norm(v):
    if v is None:
        return "\x00null"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6f}"
    if isinstance(v, datetime):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return str(v)


def result_digest(cols: list[str], rows) -> tuple[int, list[str], str]:
    """(rows, sorted column names, canonical value hash): the
    correctness compare of the ``__spark_entry__`` query/oracle contract."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(tuple(_norm(r[i]) for i in order) for r in rows)
    return len(canon), [cols[i] for i in order], hashlib.md5(repr(canon).encode()).hexdigest()


def oracle_digests(tables_dir: Path, sql: dict[str, str]) -> dict[str, tuple]:
    import duckdb

    con = duckdb.connect()
    try:
        for p in sorted(tables_dir.glob("*.parquet")):
            con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}')")
        out = {}
        for name, text in sql.items():
            cur = con.execute(text)
            out[name] = result_digest([d[0] for d in cur.description], cur.fetchall())
        return out
    finally:
        con.close()
