"""Driver-contract smoke: entry() rows>0 + flagship vs its oracle."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entrymod
from helpers import SF_SMALL, planted_con


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"url", "title", "content_text", "status"}


def test_queries_and_oracles_consistent():
    qs = entrymod.queries()
    sqls = entrymod.oracle_sql()
    assert len(qs) >= 30
    assert set(sqls) <= set(qs)
    # flagship + every relational/textops query carries an oracle
    assert "q_extract_flagship" in sqls


def test_flagship_matches_oracle(spark):
    sdf = entrymod.queries()["q_extract_flagship"](spark, SF_SMALL)
    rows = sorted(tuple(r) for r in sdf.collect())
    drows = sorted(tuple(r) for r in planted_con(SF_SMALL).execute(
        entrymod.oracle_sql()["q_extract_flagship"]
    ).fetchall())
    assert rows == drows


def test_gate_priority_invariants():
    """The driver hash-checks the first 50 registered queries: the
    priority list must be exactly 50 unique names, every one
    registered (or the flagship) and oracle-backed, and the quarantined
    all-pairs baselines must be unreachable through the surface."""
    import __spark_entry__ as e
    from readembedability_spark.queries import BASELINE_REGISTRY

    gate = e._GATE_PRIORITY
    assert len(gate) == 50 and len(set(gate)) == 50
    qs = e.queries()
    osql = e.oracle_sql()
    assert list(qs)[:50] == gate
    for name in gate:
        assert name in osql, f"gate entry {name} lacks an oracle"
    for name in BASELINE_REGISTRY:
        assert name not in qs and name not in osql
