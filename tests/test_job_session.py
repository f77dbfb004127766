"""Every batch job under jobs/ builds its SparkSession through
jobs/_session.py (job_session, reached via run_job), and that session
carries the shared job settings, among them the 512-row Arrow batch
cap of the mapInPandas extract stage. The queries that build
independent parts on threads (queries._build_concurrently) hand those
threads the caller's session, so its tags reach their jobs."""

from __future__ import annotations

import ast
import sys
import warnings
from pathlib import Path

from helpers import SF_SMALL

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


def test_concurrent_builds_pass_the_session(spark):
    """q_ann_recall and q_crawl_plan build their parts on threads; no
    build warns that the session was not handed to the thread target."""
    from readembedability_spark.queries import REGISTRY

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        for name in ("q_ann_recall", "q_crawl_plan"):
            REGISTRY[name].spark(spark, SF_SMALL)
    msgs = [str(w.message) for w in caught]
    assert not [m for m in msgs if "Tags will not be inherited" in m], msgs


def test_build_concurrently_inherits_session_tags(spark):
    from readembedability_spark.queries import _build_concurrently

    spark.addTag("concurrent-build-probe")
    try:
        got = _build_concurrently(spark, spark.getTags, spark.getTags)
    finally:
        spark.removeTag("concurrent-build-probe")
    assert all("concurrent-build-probe" in tags for tags in got), got
