"""Every batch job under jobs/ builds its SparkSession through
jobs/_session.py (job_session, reached via run_job), and that session
carries the shared job settings, among them the 512-row Arrow batch
cap of the mapInPandas extract stage."""

from __future__ import annotations

import ast
import sys
from pathlib import Path

JOBS = Path(__file__).resolve().parent.parent / "jobs"


def test_every_job_builds_its_session_through_job_session():
    jobs = sorted(p for p in JOBS.glob("*.py") if p.name != "_session.py")
    assert len(jobs) == 12
    for p in jobs:
        tree = ast.parse(p.read_text())
        nodes = list(ast.walk(tree))
        attrs = {n.attr for n in nodes if isinstance(n, ast.Attribute)}
        names = {n.id for n in nodes if isinstance(n, ast.Name)}
        assert not attrs & {"builder", "getOrCreate"}, p.name
        assert "run_job" in names, p.name


def test_job_session_caps_arrow_batches(spark):
    sys.path.insert(0, str(JOBS))
    from _session import JOB_CONF, job_session

    # the SQL settings land on the shared test session: put them back
    before = {
        k: spark.conf.get(k) for k in JOB_CONF if k.startswith("spark.sql.")
    }
    try:
        session = job_session("job-session-probe", None)
        assert session.conf.get(
            "spark.sql.execution.arrow.maxRecordsPerBatch"
        ) == "512"
        assert session.conf.get("spark.sql.adaptive.skewJoin.enabled") == (
            "true"
        )
        assert session.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)
