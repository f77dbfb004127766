from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))
if str(REPO / "tests") not in sys.path:
    sys.path.insert(0, str(REPO / "tests"))

FIXTURES = REPO / "tests" / "fixtures"
EXPECTED = REPO / "tests" / "expected"


@pytest.fixture(scope="session")
def spark():
    """Shared local SparkSession (created once per test session)."""
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("readembedability-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture(autouse=True)
def _release_anchors(request):
    """Free every anchor the registry queries tracked once a test that
    uses the Spark session ends; a test without it starts no session."""
    spark = (
        request.getfixturevalue("spark")
        if "spark" in request.fixturenames
        else None
    )
    yield
    if spark is not None:
        from readembedability_spark.queries import release_caches

        release_caches(spark)
