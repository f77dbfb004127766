"""Deterministic synthetic pages corpus (PAGES_SCHEMA) — FIXTURES.md §1.

Generates Common-Crawl-style rows with real host skew (Zipf ~1.2 over
1000 hosts), ~3% duplicated urls at a later warc_ts (exercises dedup
O-7), ~1% NULL html, ~1% non-HTML bytes, archetype HTML bodies cycling
through the fixture taxonomy. Seed-stable: row i depends only on
(seed, i) — no wall clock, safe to regenerate anywhere.

Written directly with pyarrow (no Spark needed) in bounded chunks so
bench-scale corpora stream to disk.
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

_BASE_TS = datetime(2025, 1, 1, 0, 0, 0)
_SEED = 42
# rows per pyarrow write; a corpus above _ROWS_PER_FILE is a directory
_CHUNK_ROWS = 4096
_ROWS_PER_FILE = 8192
_N_HOSTS = 1000
_TLDS = ("com", "org", "net")
_LANGS = ("en", "en", "en", "en", "en", "en", "en", "en", "de", "fr", "es", None)

_WORDS = (
    "system data pipeline cluster stream batch shuffle partition executor "
    "driver memory network storage index query plan filter join aggregate "
    "window sort merge hash scan write read commit checkpoint recover scale "
    "throughput latency skew salt bucket broadcast column row schema type"
).split()

_ARROW_SCHEMA = pa.schema(
    [
        pa.field("url", pa.string(), nullable=False),
        pa.field("warc_ts", pa.timestamp("us"), nullable=False),
        pa.field("html", pa.binary(), nullable=True),
        pa.field("text", pa.string(), nullable=True),
        pa.field("lang", pa.string(), nullable=True),
    ]
)


def _zipf_host(rng: random.Random) -> int:
    """Zipf(~1.2)-distributed host index over _N_HOSTS (inverse-CDF on a
    truncated power law — cheap and deterministic)."""
    u = rng.random()
    # x in [1, N]; p(x) ~ x^-1.2  → inverse cdf approx via pareto transform
    x = (1.0 - u) ** (-1.0 / 0.2)  # pareto alpha=0.2 tail
    idx = int(x) % _N_HOSTS
    return idx


def _sentence(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n)).capitalize() + "."


def _paragraph(rng: random.Random) -> str:
    return " ".join(_sentence(rng, rng.randint(8, 22)) for _ in range(rng.randint(2, 5)))


def _page_html(rng: random.Random, i: int, host: str) -> bytes:
    """One synthetic article; archetype varies head metadata by i."""
    title = _sentence(rng, 6).rstrip(".")
    paras = "\n".join(f"<p>{_paragraph(rng)}</p>" for _ in range(rng.randint(3, 8)))
    arch = i % 6
    head = [f"<title>{title} - {host}</title>"]
    if arch == 1:
        head.append(f'<meta property="og:title" content="{title}">')
        head.append(f'<meta property="og:image" content="https://{host}/img/{i}.jpg">')
        head.append(
            f'<meta property="og:description" content="{_sentence(rng, 14)}">'
        )
    elif arch == 2:
        head.append(
            '<script type="application/ld+json">'
            f'{{"@type":"NewsArticle","headline":"{title}",'
            f'"author":{{"name":"Author {i % 97}"}},'
            f'"datePublished":"2024-{(i % 12) + 1:02d}-{(i % 27) + 1:02d}"}}'
            "</script>"
        )
    elif arch == 3:
        head.append(f'<meta name="keywords" content="{",".join(rng.sample(_WORDS, 5))}">')
        head.append(f'<meta name="author" content="Writer {i % 53}">')
    elif arch == 4:
        head.append(f'<meta name="twitter:title" content="{title}">')
    body = (
        '<nav class="navbar"><a href="/">Home</a> <a href="/news">News</a></nav>'
        f'<div class="article-content"><h1>{title}</h1>{paras}</div>'
        '<div class="sidebar"><a href="/r1">rel</a></div>'
        '<footer class="footer">(c) example</footer>'
    )
    return (
        "<!doctype html><html><head>"
        + "".join(head)
        + f"</head><body>{body}</body></html>"
    ).encode("utf-8")


def _naive_text(html: bytes) -> str:
    """Common-Crawl-style pre-extracted text column (NOT the target)."""
    import re

    s = html.decode("utf-8", "replace")
    s = re.sub(r"<[^>]+>", " ", s)
    return " ".join(s.split())[:2000]


def generate_pages(out_path: str | Path, n_pages: int, seed: int = _SEED) -> Path:
    """Write a deterministic pages parquet at ``out_path``.

    Large corpora are written as a DIRECTORY of part files so Spark's
    scan parallelizes (a single monolithic file splits into only
    size/maxPartitionBytes tasks); small ones stay a single file.
    """
    out_path = Path(out_path)
    out_path.parent.mkdir(parents=True, exist_ok=True)
    multi = n_pages > _ROWS_PER_FILE
    if multi:
        out_path.mkdir(parents=True, exist_ok=True)

    writer: pq.ParquetWriter | None = None
    file_idx = 0
    rows_in_file = 0

    def open_writer() -> pq.ParquetWriter:
        target = (
            out_path / f"part-{file_idx:05d}.parquet" if multi else out_path
        )
        return pq.ParquetWriter(target, _ARROW_SCHEMA, compression="zstd")

    def flush(buf: list[tuple]) -> None:
        nonlocal writer, file_idx, rows_in_file
        if writer is None:
            writer = open_writer()
        writer.write_table(_to_table(buf))
        rows_in_file += len(buf)
        if multi and rows_in_file >= _ROWS_PER_FILE:
            writer.close()
            writer = None
            file_idx += 1
            rows_in_file = 0

    try:
        buf: list[tuple] = []
        for i in range(n_pages):
            rng = random.Random((seed << 32) ^ i)
            h = _zipf_host(rng)
            host = f"host{h}.example.{_TLDS[h % 3]}"
            yyyy, mm, dd = 2024, (i % 12) + 1, (i % 27) + 1
            url = f"https://{host}/{yyyy}/{mm:02d}/{dd:02d}/art-{i}"
            ts = _BASE_TS + timedelta(seconds=i * 137)
            roll = rng.random()
            if roll < 0.01:
                html = None
            elif roll < 0.02:
                html = bytes(rng.randrange(256) for _ in range(256))
            else:
                html = _page_html(rng, i, host)
            text = _naive_text(html) if html else None
            lang = _LANGS[i % len(_LANGS)]
            buf.append((url, ts, html, text, lang))
            # ~3% duplicated url with a later capture (dedup O-7)
            if rng.random() < 0.03 and html is not None:
                buf.append((url, ts + timedelta(hours=7), html, text, lang))
            if len(buf) >= _CHUNK_ROWS:
                flush(buf)
                buf = []
        if buf:
            flush(buf)
    finally:
        if writer is not None:
            writer.close()
    return out_path


def _to_table(rows: list[tuple]) -> pa.Table:
    cols = list(zip(*rows))
    return pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, _ARROW_SCHEMA)],
        schema=_ARROW_SCHEMA,
    )


def ensure_corpus(dir_path: str | Path, n_pages: int) -> Path:
    """Idempotent cache: generate pages.parquet in dir if missing."""
    path = Path(dir_path) / f"pages_{n_pages}_{_SEED}.parquet"
    if not path.exists():
        generate_pages(path, n_pages)
    return path


def generate_multiline_docs(path: str | Path) -> Path:
    """Newline-bearing `documents` fixture (DEVIATIONS D-14): 60 docs
    from seed 7, each a genuine multi-line text (4-12 lines of 3-9 words
    joined by '\\n'); ~40% of docs repeat one of their own lines 1-3
    extra times at deterministic positions, so within-doc line dedup has
    real work to do. Schema matches the driver's documents table
    (doc_id, text, lang, source, n_chars)."""
    rng = random.Random(7)
    path = Path(path)
    doc_ids, texts, langs, sources, n_chars = [], [], [], [], []
    for i in range(60):
        n_lines = rng.randint(4, 12)
        lines = [
            " ".join(rng.choice(_WORDS) for _ in range(rng.randint(3, 9)))
            for _ in range(n_lines)
        ]
        if rng.random() < 0.4:
            dup = rng.randrange(len(lines))
            for _ in range(rng.randint(1, 3)):
                lines.insert(rng.randrange(len(lines) + 1), lines[dup])
        text = "\n".join(lines)
        doc_ids.append(i)
        texts.append(text)
        langs.append("en")
        sources.append("synthml")
        n_chars.append(len(text))
    table = pa.table(
        {
            "doc_id": pa.array(doc_ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array(sources, pa.string()),
            "n_chars": pa.array(n_chars, pa.int64()),
        }
    )
    pq.write_table(table, path)
    return path
