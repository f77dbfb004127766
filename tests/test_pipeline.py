"""Tier-4 pipeline properties: dedup, salting, resume, determinism
(SURVEY.md §5.2 tier 4)."""

from __future__ import annotations

import shutil
import tempfile
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from readembedability_spark.operators.dedup import dedup_latest
from readembedability_spark.operators.resume import (
    load_done_buckets,
    resume_filter,
    with_bucket,
)
from readembedability_spark.operators.salt import salt_repartition
from readembedability_spark.plans.pipeline import RunConfig, run_extract
from readembedability_spark.sources.pages import prefilter, read_pages
from readembedability_spark.sources.synth import generate_pages
from helpers import formatted_plan


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    d = tmp_path_factory.mktemp("corpus")
    path = generate_pages(d / "pages.parquet", 400)
    return str(path)


def test_synth_is_deterministic(tmp_path):
    p1 = generate_pages(tmp_path / "a.parquet", 50)
    p2 = generate_pages(tmp_path / "b.parquet", 50)
    import pyarrow.parquet as pq

    t1, t2 = pq.read_table(p1), pq.read_table(p2)
    assert t1.equals(t2)


def test_dedup_latest_one_row_per_url(spark, corpus):
    pages = read_pages(spark, corpus)
    assert pages.count() > pages.select("url").distinct().count()  # dups exist
    deduped = dedup_latest(pages)
    assert deduped.count() == pages.select("url").distinct().count()
    # max warc_ts won
    mx = pages.groupBy("url").agg(F.max("warc_ts").alias("mx"))
    joined = deduped.join(mx, "url")
    assert joined.filter(F.col("warc_ts") != F.col("mx")).count() == 0


def test_salting_spreads_hot_host(spark):
    # pathological input: 2000 urls all on ONE host
    rows = [
        (f"https://hot.example.com/a/{i}", "2025-01-01T00:00:00", i)
        for i in range(2000)
    ]
    df = spark.createDataFrame(rows, "url string, ts string, i long").select(
        "url", F.to_timestamp("ts").alias("warc_ts"), F.lit(None).cast("binary").alias("html"),
        F.lit(None).cast("string").alias("text"), F.lit("en").alias("lang"),
    )
    p = 8
    salted = salt_repartition(df, p)
    sizes = (
        salted.groupBy(F.spark_partition_id().alias("pid")).count().collect()
    )
    counts = [r["count"] for r in sizes]
    assert len(counts) == p
    mean = sum(counts) / len(counts)
    assert max(counts) <= 2 * mean  # no partition > 2x mean (FIXTURES tier-4)


def test_resume_no_recompute(spark, corpus):
    out = tempfile.mkdtemp()
    try:
        cfg = RunConfig(pages_path=corpus, out_dir=out, run_id="rt", parallelism=4)
        r1 = run_extract(spark, cfg)
        n1 = r1["rows_out"]
        assert n1 > 0
        # all buckets now checkpointed → second run appends nothing
        r2 = run_extract(spark, cfg)
        assert r2["rows_out"] == n1
        # metrics from run2 show zero rows processed
        assert r2["rows_processed"] == 0
        pending = resume_filter(
            with_bucket(prefilter(read_pages(spark, corpus))),
            load_done_buckets(spark, str(Path(out) / "_checkpoint"), "rt"),
        )
        assert pending.count() == 0
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_partial_run_then_resume_completes(spark, corpus):
    """Kill-after-k-buckets simulation: process a subset of buckets, then
    resume the full input; union must equal a fresh full run's rows."""
    out = tempfile.mkdtemp()
    try:
        pages = with_bucket(prefilter(read_pages(spark, corpus)))
        # simulate a partial run: only buckets < 128 get processed+marked
        cfg = RunConfig(pages_path=corpus, out_dir=out, run_id="pp", parallelism=4)
        from readembedability_spark.operators.dedup import dedup_latest as dd
        from readembedability_spark.operators.extract import extract_stage
        from readembedability_spark.operators.resume import (
            mark_bucket_list_done,
        )

        part = dd(pages.filter(F.col("url_bucket") < 128))
        buckets = [
            r["url_bucket"]
            for r in part.select("url_bucket").distinct().collect()
        ]
        extracted_part = extract_stage(salt_repartition(part, 4))
        out_path = str(Path(out) / "extracted")
        extracted_part.write.mode("append").parquet(out_path)
        mark_bucket_list_done(
            spark, buckets, str(Path(out) / "_checkpoint"), "pp"
        )
        n_partial = spark.read.parquet(out_path).count()
        assert n_partial > 0

        # resume the full run
        r = run_extract(spark, cfg)
        total = r["rows_out"]
        full = dd(pages).count()
        assert total == full
        # no url extracted twice
        dup = (
            spark.read.parquet(out_path)
            .groupBy("url").count().filter(F.col("count") > 1).count()
        )
        assert dup == 0
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_checkpoint_marking_independent_of_output(spark, corpus):
    """VERDICT r01 #6: the incremental checkpoint mark derives from this
    run's pending-bucket set (known pre-write from a url-only input
    scan), never from re-scanning the accumulated output — O(1) cost per
    run regardless of how much prior runs wrote, and no cross-run_id
    contamination."""
    import readembedability_spark.plans.pipeline as pl

    out = tempfile.mkdtemp()
    try:
        # the pending-bucket plan reads ONLY the url column of the input
        cfg = RunConfig(pages_path=corpus, out_dir=out, run_id="ia", parallelism=4)
        pages = with_bucket(read_pages(spark, corpus).select("url"))
        done = load_done_buckets(spark, str(Path(out) / "_checkpoint"), "ia")
        pend_df = resume_filter(pages, done).select("url_bucket").distinct()
        plan = formatted_plan(pend_df)
        read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
        assert read_schema and "url" in read_schema[0]
        assert "html" not in read_schema[0]  # heavy column never touched

        # run 1 under run_id "ia" writes output; run 2 under "ib" must
        # derive its marks from ITS input-pending set, and the marking
        # path must not scan the accumulated 'extracted' table
        run_extract(spark, cfg)
        reads: list[str] = []
        orig_parquet = type(spark.read).parquet

        def spy(reader, *paths):
            reads.extend(paths)
            return orig_parquet(reader, *paths)

        type(spark.read).parquet = spy
        try:
            cfg2 = RunConfig(
                pages_path=corpus, out_dir=out, run_id="ib", parallelism=4
            )
            pend2 = pl._pending_buckets(spark, cfg2)
        finally:
            type(spark.read).parquet = orig_parquet
        out_path = str(Path(out) / "extracted")
        assert all(out_path not in p for p in reads), reads
        # and the pending set matches the input's full bucket set
        expect = {
            r["url_bucket"]
            for r in with_bucket(read_pages(spark, corpus).select("url"))
            .select("url_bucket").distinct().collect()
        }
        assert set(pend2) == expect
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_resubmit_at_lower_parallelism_counts_no_stale_metrics(spark, corpus):
    """The metrics side-channel files are keyed by partition id. A
    re-submission under the same run_id at lower parallelism writes
    fewer of them, so the earlier call's higher-numbered files must not
    be read back as this call's rows."""
    out = tempfile.mkdtemp()
    try:
        cfg = RunConfig(pages_path=corpus, out_dir=out, run_id="rs", parallelism=8)
        r1 = run_extract(spark, cfg)
        assert r1["rows_processed"] == r1["rows_out"] > 0
        cfg.parallelism = 4
        r2 = run_extract(spark, cfg)
        assert r2["rows_out"] == r1["rows_out"]
        assert r2["rows_processed"] == 0
        metrics = spark.read.parquet(str(Path(out) / "metrics"))
        assert metrics.agg(F.sum("n_rows")).first()[0] == r1["rows_out"]
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_resubmission_runs_no_extract_stage(spark, corpus, tmp_path):
    """A re-submission under the same run_id, every bucket already done,
    is a no-op: none of its writes, collects or counts plans the
    MapInPandas extract stage, and it appends no metrics rows."""
    from pyspark.sql import DataFrameWriter
    from pyspark.sql.classic.dataframe import DataFrame

    cfg = RunConfig(
        pages_path=corpus, out_dir=str(tmp_path / "out"), run_id="noop",
        parallelism=4,
    )
    r1 = run_extract(spark, cfg)
    metrics_path = str(tmp_path / "out" / "metrics")
    n_metrics = spark.read.parquet(metrics_path).count()

    planned = []
    orig = {
        "write": DataFrameWriter.parquet,
        "collect": DataFrame.collect,
        "count": DataFrame.count,
    }

    def plan_of(df) -> str:
        return df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001

    def writer_spy(w, path, *a, **kw):
        planned.append(plan_of(w._df))  # noqa: SLF001
        return orig["write"](w, path, *a, **kw)

    def spy(kind):
        def f(df, *a, **kw):
            planned.append(plan_of(df))
            return orig[kind](df, *a, **kw)
        return f

    DataFrameWriter.parquet = writer_spy
    DataFrame.collect, DataFrame.count = spy("collect"), spy("count")
    try:
        r2 = run_extract(spark, cfg)
    finally:
        DataFrameWriter.parquet = orig["write"]
        DataFrame.collect, DataFrame.count = orig["collect"], orig["count"]
    assert planned, "the re-submission ran no action at all"
    assert not [p for p in planned if "MapInPandas" in p]
    assert r2["rows_processed"] == 0
    assert r2["rows_out"] == r1["rows_out"] > 0
    assert spark.read.parquet(metrics_path).count() == n_metrics


def test_empty_input_writes_readable_empty_output(spark, tmp_path):
    """An input with no page has no pending bucket and no done bucket:
    the call still writes its (empty) output, which reads back as zero
    rows, and reports zero rows."""
    import pyarrow.parquet as pq

    from readembedability_spark.sources.synth import _ARROW_SCHEMA

    pages = tmp_path / "empty.parquet"
    pq.write_table(_ARROW_SCHEMA.empty_table(), pages)
    cfg = RunConfig(pages_path=str(pages), out_dir=str(tmp_path / "out"),
                    parallelism=4)
    res = run_extract(spark, cfg)
    assert res["rows_out"] == res["rows_processed"] == 0
    assert spark.read.parquet(res["out_path"]).count() == 0
