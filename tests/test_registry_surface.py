"""The driver surface stays byte-identical across refactors: every
queries() name in order with the sha256 of its oracle_sql() text, every
BASELINE_REGISTRY oracle, and the REGISTRY key order, checked against a
pinned file.

When a change to that surface is intended, regenerate the pin with

    python tests/test_registry_surface.py > tests/expected/registry_surface.txt
"""

from __future__ import annotations

import hashlib
import sys
from pathlib import Path

PINNED = Path(__file__).resolve().parent / "expected" / "registry_surface.txt"


def _sha(text) -> str:
    if text is None:
        return "-"
    return hashlib.sha256(text.encode()).hexdigest()


def surface_lines() -> list[str]:
    import __spark_entry__ as entry
    from readembedability_spark.queries import BASELINE_REGISTRY, REGISTRY

    oracles = entry.oracle_sql()
    lines = [f"query {n} {_sha(oracles.get(n))}" for n in entry.queries()]
    lines += [
        f"baseline {n} {_sha(qd.sql)}" for n, qd in BASELINE_REGISTRY.items()
    ]
    lines.append(f"registry-order {_sha(chr(10).join(REGISTRY))}")
    return lines


def test_registry_surface_matches_pin():
    want = PINNED.read_text().splitlines()
    got = surface_lines()
    changed = sorted(
        {line.split(" ")[1] for line in set(want) ^ set(got)}
    )
    assert not changed, f"registry surface changed for: {changed}"
    assert got == want, "registry surface reordered"


if __name__ == "__main__":
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    print("\n".join(surface_lines()))
