"""Tier-3: every queries() entry vs its DuckDB oracle at sf0.01 —
a local replica of the driver's correctness gate."""

from __future__ import annotations

import math
from datetime import datetime
from pathlib import Path

import duckdb
import pytest

SF_DIR = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _duck(sql: str):
    con = duckdb.connect()
    for t in TABLES:
        p = Path(SF_DIR) / f"{t}.parquet"
        if p.exists():
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return cols, cur.fetchall()


def _norm(v):
    if v is None:
        return "\x00null"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6f}"
    if isinstance(v, datetime):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return str(v)


def _canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(
        tuple(_norm(r[i]) for i in order) for r in rows
    )
    return [cols[i] for i in order], out


def _registry():
    """Driver registry PLUS the unregistered all-pairs correctness
    baselines (BASELINE_REGISTRY): the baselines are excluded from the
    queries()/oracle_sql() surface so no production caller can run a
    quadratic plan, but their Spark≡DuckDB parity stays gate-tested
    here every round."""
    import readembedability_spark.textops  # noqa: F401 - registers entries
    from readembedability_spark.queries import BASELINE_REGISTRY, REGISTRY

    return {**REGISTRY, **BASELINE_REGISTRY}


def _all_names():
    return sorted(_registry().keys())


@pytest.mark.parametrize("name", _all_names())
def test_query_matches_oracle(spark, name):
    qd = _registry()[name]
    sdf = qd.spark(spark, SF_DIR)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]
    if qd.sql is None:
        assert len(s_rows) >= 0  # rows-only check
        return
    d_cols, d_rows = _duck(qd.sql)
    assert sorted(s_cols) == sorted(d_cols), (
        f"{name}: column names differ: spark={s_cols} duckdb={d_cols}"
    )
    sc, s_canon = _canon(s_cols, s_rows)
    dc, d_canon = _canon(d_cols, d_rows)
    assert len(s_canon) == len(d_canon), (
        f"{name}: row count {len(s_canon)} vs {len(d_canon)}"
    )
    mismatches = [
        (a, b) for a, b in zip(s_canon, d_canon) if a != b
    ][:5]
    assert not mismatches, f"{name}: first mismatches {mismatches}"
