"""Seeded inputs. Same seed, same bytes. Generated and cached before any
timing starts; the program under test only ever sees these tables."""

from __future__ import annotations

import json
import random
import shutil
from datetime import datetime, timedelta
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from readembedability_spark.sources.synth import generate_pages


def _cached(path: Path, make) -> Path:
    """Build ``path`` through a temporary sibling, so an interrupted run
    never leaves a half-written input behind."""
    if not path.exists():
        tmp = path.with_name(path.name + ".tmp")
        if tmp.is_dir():
            shutil.rmtree(tmp)
        tmp.unlink(missing_ok=True)
        make(tmp)
        tmp.rename(path)
    return path


def pages(cache: Path, n: int, seed: int) -> Path:
    """A ``generate_pages`` corpus of n pages (plus its ~3% re-captures)."""
    return _cached(cache / f"pages-{n}-{seed}.parquet", lambda p: generate_pages(p, n, seed))


def page_index(url: str) -> int:
    # generate_pages names page i ".../art-<i>"; re-captures share the url
    return int(url.rsplit("-", 1)[1])


def slices(cache: Path, count: int, size: int, seed: int) -> list[Path]:
    """``count`` url-disjoint slices of one corpus, ``size`` pages each:
    a page and its re-captures always land in the same slice."""
    corpus = pages(cache, count * size, seed)

    def make(out: Path) -> None:
        table = pq.read_table(corpus)
        which = pa.array([page_index(u) // size for u in table.column("url").to_pylist()])
        out.mkdir(parents=True)
        for j in range(count):
            pq.write_table(table.filter(pc.equal(which, j)), out / f"s{j:03d}.parquet")

    out = _cached(cache / f"slices-{count}x{size}-{seed}", make)
    return [out / f"s{j:03d}.parquet" for j in range(count)]


def read_rows(paths) -> list[dict]:
    """Input rows of one or more pages tables, as Python dicts."""
    return [r for p in paths for r in pq.read_table(p).to_pylist()]


def corpus_stats(rows: list[dict]) -> dict:
    sizes = [len(r["html"]) for r in rows if r["html"] is not None]
    return {
        "rows": len(rows),
        "html_bytes_mean": round(sum(sizes) / max(1, len(sizes)), 1),
    }


# -- query tables ---------------------------------------------------------
#
# The query workload reads only ``documents`` and ``events``. Both are
# generated with the shapes of the synthetic sf test tables: documents
# of 10-99 words over a 30-word vocabulary with ~5% near-duplicates of an
# earlier document, and an event stream over 30 days with exponential
# gaps and ``{"k": n}`` props.

_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ("en", "en", "en", "en", "en", "en", "en", "en", "zh", "zh", "zh",
          "es", "es", "es", "fr", "fr", "fr", "de", "de", "de")
_EVENT_TYPES = ("click", "view", "purchase", "signup", "error")


def _documents(rng: random.Random, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i and rng.random() < 0.05:
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(_VOCAB) for _ in range(rng.randint(10, 100))))
    return pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([rng.choice(_LANGS) for _ in range(n)], pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _events(rng: random.Random, n: int) -> pa.Table:
    gap_s = 30 * 86400 / n
    t, ts = datetime(2024, 1, 1), []
    for _ in range(n):
        t += timedelta(microseconds=int(rng.expovariate(1 / gap_s) * 1e6))
        ts.append(t)
    users = max(1, n * 3 // 200)
    return pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array([rng.randrange(users) for _ in range(n)], pa.int64()),
            "event_type": pa.array([rng.choice(_EVENT_TYPES) for _ in range(n)], pa.string()),
            "value": pa.array([round(rng.expovariate(1 / 40), 2) for _ in range(n)], pa.float64()),
            "props": pa.array([json.dumps({"k": rng.randrange(100)}) for _ in range(n)], pa.string()),
        }
    )


def query_tables(cache: Path, n_docs: int, n_events: int, seed: int) -> Path:
    """A directory holding documents.parquet and events.parquet."""

    def make(out: Path) -> None:
        out.mkdir(parents=True)
        pq.write_table(_documents(random.Random(seed), n_docs), out / "documents.parquet")
        pq.write_table(_events(random.Random(seed + 1), n_events), out / "events.parquet")

    return _cached(cache / f"tables-{n_docs}-{n_events}-{seed}", make)
