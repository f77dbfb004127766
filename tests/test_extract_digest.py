"""Extracted output stays byte-identical across extractor rewrites: every
``extract_page`` row over a seeded ``generate_pages`` corpus is hashed,
per column and as a whole, and checked against a pinned file. This
guards the extractor's hot paths (keywords, DOM walks, scoring) over
far more pages than the golden fixtures.

When a change to extracted output is intended, regenerate the pin with

    python tests/test_extract_digest.py > tests/expected/extract_digest.txt
"""

from __future__ import annotations

import hashlib
import json
import sys
import tempfile
from pathlib import Path

PINNED = Path(__file__).resolve().parent / "expected" / "extract_digest.txt"
N_PAGES = 2000
SEED = 20261018


def _canon(value) -> str:
    return json.dumps(value, sort_keys=True, default=str, ensure_ascii=False)


def digest_lines() -> list[str]:
    import pyarrow.parquet as pq

    from readembedability_spark.extractor import extract_page
    from readembedability_spark.sources.synth import generate_pages

    with tempfile.TemporaryDirectory() as d:
        path = generate_pages(Path(d) / "pages.parquet", N_PAGES, seed=SEED)
        rows = pq.read_table(path, columns=["url", "html"]).to_pylist()
    whole = hashlib.sha256()
    per_col: dict = {}
    for r in rows:
        out = extract_page(r["url"], r["html"])
        whole.update(_canon(out).encode())
        whole.update(b"\n")
        for col, value in out.items():
            h = per_col.setdefault(col, hashlib.sha256())
            h.update(_canon(value).encode())
            h.update(b"\n")
    lines = [f"pages {len(rows)} seed {SEED}"]
    lines += [f"column {c} {h.hexdigest()}" for c, h in sorted(per_col.items())]
    lines.append(f"all {whole.hexdigest()}")
    return lines


def test_extract_digest_matches_pin():
    want = PINNED.read_text().splitlines()
    got = digest_lines()
    changed = sorted(
        line.split(" ")[1] for line in set(want) ^ set(got)
        if line.startswith("column ")
    )
    assert not changed, f"extracted output changed in columns: {changed}"
    assert got == want


if __name__ == "__main__":
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    print("\n".join(digest_lines()))
