"""O-28 streaming: availableNow run over a file source must produce the
same extracted rows as the batch pipeline, and the exactly-once
checkpoint must prevent reprocessing."""

from __future__ import annotations

import pytest

from readembedability_spark.sources.synth import generate_pages
from readembedability_spark.streaming.ingest import (
    start_streaming_run,
    streaming_metrics,
    read_pages_stream,
)


@pytest.fixture()
def stream_dirs(tmp_path):
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    generate_pages(in_dir / "batch1.parquet", 60)
    generate_pages(in_dir / "batch2.parquet", 40, seed=43)
    return in_dir, tmp_path / "out", tmp_path / "ckpt"


def test_streaming_extract_matches_batch(spark, stream_dirs):
    in_dir, out_dir, ckpt = stream_dirs
    q = start_streaming_run(spark, str(in_dir), str(out_dir), str(ckpt))
    q.awaitTermination(120)
    out = spark.read.parquet(str(out_dir))
    n_stream = out.count()
    assert n_stream > 0
    # batch equivalent over the same files (dedup-by-url, html not null)
    batch = spark.read.parquet(str(in_dir)).dropDuplicates(["url"])
    assert n_stream == batch.count()
    assert out.filter("status = 'ok'").count() > 0

    # restart with same checkpoint: nothing new to process
    q2 = start_streaming_run(spark, str(in_dir), str(out_dir), str(ckpt))
    q2.awaitTermination(120)
    assert spark.read.parquet(str(out_dir)).count() == n_stream


def test_streaming_metrics_windows(spark, stream_dirs):
    in_dir, out_dir, _ = stream_dirs
    m = streaming_metrics(read_pages_stream(spark, str(in_dir)), window="1 hour")
    q = (
        m.writeStream.format("memory")
        .queryName("metrics_tbl")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from metrics_tbl").collect()
    assert rows
    assert sum(r["n_rows"] for r in rows) >= 100  # both batches counted


def test_streaming_stateful_host_sessions(spark, stream_dirs):
    """applyInPandasWithState: running per-host totals must equal the
    batch groupBy over the same files, and state must carry across
    restarts of the same checkpointed query."""
    from pyspark.sql import functions as F

    from readembedability_spark.functions import host_col
    from readembedability_spark.streaming.ingest import (
        read_pages_stream,
        streaming_host_sessions,
    )

    in_dir, out_dir, _ = stream_dirs
    sessions = streaming_host_sessions(
        read_pages_stream(spark, str(in_dir), max_files_per_trigger=1)
    )
    q = (
        sessions.writeStream.format("memory")
        .queryName("host_sessions")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # last update per host wins (update mode emits per micro-batch)
    got = (
        spark.sql("select * from host_sessions")
        .groupBy("host")
        .agg(F.max("n_pages").alias("n_pages"), F.max("total_bytes").alias("tb"))
    )
    expected = (
        spark.read.parquet(str(in_dir))
        .select(
            host_col().alias("host"),
            F.coalesce(F.length("html"), F.lit(0)).cast("long").alias("nb"),
        )
        .groupBy("host")
        .agg(F.count("*").alias("n_pages"), F.sum("nb").alias("tb"))
    )
    diff = got.join(expected, "host") \
        .filter((got.n_pages != expected.n_pages) | (got.tb != expected.tb))
    assert got.count() == expected.count()
    assert diff.count() == 0


def test_streaming_session_windows(spark, stream_dirs, tmp_path):
    """Session-window aggregation over the stream completes and its
    per-host page totals reconcile with the raw input."""
    from readembedability_spark.streaming.ingest import streaming_crawl_sessions
    import pyspark.sql.functions as F
    from readembedability_spark.functions import host_col

    in_dir, _, _ = stream_dirs
    sess = streaming_crawl_sessions(read_pages_stream(spark, str(in_dir)))
    q = (
        sess.writeStream.format("memory")
        .queryName("crawl_sessions")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT host, SUM(n_pages) AS n FROM crawl_sessions GROUP BY host"
    ).collect()
    raw = (
        spark.read.parquet(str(in_dir))
        .groupBy(host_col().alias("host"))
        .agg(F.count("*").alias("n"))
        .collect()
    )
    assert {(r["host"], r["n"]) for r in got} == {
        (r["host"], r["n"]) for r in raw
    }
    # session invariant: windows are non-overlapping per host
    rows = spark.sql(
        "SELECT host, start, end FROM crawl_sessions ORDER BY host, start"
    ).collect()
    prev = {}
    for r in rows:
        if r["host"] in prev:
            assert r["start"] >= prev[r["host"]]
        prev[r["host"]] = r["end"]


def test_streaming_near_dup_filter(spark, tmp_path):
    """Inline MinHash near-dup gate: pages whose shingle SETS coincide
    (not just byte-identical text) collapse to the first arrival within
    the watermark; distinct pages pass through."""
    from datetime import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from readembedability_spark.streaming.ingest import (
        read_pages_stream,
        streaming_near_dup_filter,
    )

    ts = datetime(2025, 1, 1, 12, 0, 0)
    # t_dup1/t_dup2: different token sequences, SAME 3-gram shingle set
    # {abc, bca, cab} -> same MinHash signature -> near-dup
    t_dup1 = "a b c a b c a b"
    t_dup2 = "a b c a b"
    t_other = "the quick brown fox jumps over the lazy dog"
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    pq.write_table(
        pa.table(
            {
                "url": [f"https://x.example.com/{i}" for i in range(3)],
                "warc_ts": pa.array([ts] * 3, pa.timestamp("us")),
                "html": pa.array([b"<html></html>"] * 3, pa.binary()),
                "text": [t_dup1, t_dup2, t_other],
                "lang": ["en"] * 3,
            }
        ),
        in_dir / "batch1.parquet",
    )
    out = streaming_near_dup_filter(read_pages_stream(spark, str(in_dir)))
    q = (
        out.writeStream.format("memory")
        .queryName("near_dup_filter")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select url, text from near_dup_filter").collect()
    texts = sorted(r["text"] for r in rows)
    assert len(rows) == 2, rows
    assert t_other in texts
    assert (t_dup1 in texts) != (t_dup2 in texts)  # exactly one survives


def test_streaming_contamination_flags(spark, tmp_path):
    """Stream-static decontamination: pages sharing a 13-gram with the
    static eval table are flagged exactly once; clean pages pass."""
    from datetime import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from readembedability_spark.streaming.ingest import (
        read_pages_stream,
        streaming_contamination_flags,
    )

    ts = datetime(2025, 1, 1, 12, 0, 0)
    shared = " ".join(f"tok{i}" for i in range(13))
    contaminated = f"prefix words {shared} suffix words here"
    clean = " ".join(f"other{i}" for i in range(20))
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    pq.write_table(
        pa.table(
            {
                "url": ["https://x.example.com/dirty", "https://x.example.com/clean"],
                "warc_ts": pa.array([ts, ts], pa.timestamp("us")),
                "html": pa.array([b"<html></html>"] * 2, pa.binary()),
                "text": [contaminated, clean],
                "lang": ["en", "en"],
            }
        ),
        in_dir / "batch1.parquet",
    )
    eval_grams = spark.createDataFrame([(shared,)], "g string")
    out = streaming_contamination_flags(
        read_pages_stream(spark, str(in_dir)), eval_grams
    )
    q = (
        out.writeStream.format("memory")
        .queryName("contamination_flags")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select url from contamination_flags").collect()
    assert [r["url"] for r in rows] == ["https://x.example.com/dirty"]


def test_streaming_link_frontier(spark, tmp_path):
    """Stream-static anti-join frontier: links extracted from arriving
    pages that point OUTSIDE the known-url catalog are emitted; links
    to known urls are suppressed."""
    from datetime import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from readembedability_spark.streaming.ingest import (
        read_pages_stream,
        streaming_link_frontier,
    )

    ts = datetime(2025, 1, 1, 12, 0, 0)
    html = (
        b'<html><body><p>x</p>'
        b'<a href="https://known.example.com/a">k</a>'
        b'<a href="https://new.example.com/b">n</a>'
        b"</body></html>"
    )
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    pq.write_table(
        pa.table(
            {
                "url": ["https://src.example.com/p"],
                "warc_ts": pa.array([ts], pa.timestamp("us")),
                "html": pa.array([html], pa.binary()),
                "text": ["x"],
                "lang": ["en"],
            }
        ),
        in_dir / "batch1.parquet",
    )
    known = spark.createDataFrame(
        [("https://known.example.com/a",), ("https://src.example.com/p",)],
        "url string",
    )
    out = streaming_link_frontier(read_pages_stream(spark, str(in_dir)), known)
    q = (
        out.writeStream.format("memory")
        .queryName("link_frontier")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select url, link from link_frontier").collect()
    assert len(rows) == 1, rows
    assert rows[0]["link"] == "https://new.example.com/b"
    assert rows[0]["url"] == "https://src.example.com/p"


def test_streaming_surt_index_matches_batch(spark, stream_dirs):
    """The stateful SURT-index maintainer must converge to the batch
    index over the same files: per key, capture count / time range /
    distinct-version count all match, and nothing saturates below the
    version cap."""
    from pyspark.sql import functions as F

    from readembedability_spark.streaming.ingest import (
        read_pages_stream,
        streaming_surt_index,
    )

    in_dir, _, _ = stream_dirs
    idx = streaming_surt_index(
        read_pages_stream(spark, str(in_dir), max_files_per_trigger=1)
    )
    q = (
        idx.writeStream.format("memory")
        .queryName("surt_idx")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # update mode: the row with the highest n_captures per key is final
    got = (
        spark.sql("select * from surt_idx")
        .groupBy("surt_key")
        .agg(
            F.max("n_captures").alias("n_captures"),
            F.min("first_ts").alias("first_ts"),
            F.max("last_ts").alias("last_ts"),
            F.max("n_versions").alias("n_versions"),
            F.max(F.col("versions_saturated").cast("int")).alias("sat"),
        )
    )
    from readembedability_spark.textops import surt_key_expr

    expected = (
        spark.read.parquet(str(in_dir))
        .select(
            surt_key_expr(F.col("url")).alias("surt_key"),
            "warc_ts",
            F.substring(
                F.md5(F.coalesce("html", F.lit(b""))), 1, 8
            ).alias("digest"),
        )
        .groupBy("surt_key")
        .agg(
            F.count("*").alias("n_captures"),
            F.min("warc_ts").alias("first_ts"),
            F.max("warc_ts").alias("last_ts"),
            F.countDistinct("digest").alias("n_versions"),
        )
    )
    assert got.count() == expected.count()
    j = got.alias("g").join(expected.alias("e"), "surt_key")
    mism = j.filter(
        (F.col("g.n_captures") != F.col("e.n_captures"))
        | (F.col("g.first_ts") != F.col("e.first_ts"))
        | (F.col("g.last_ts") != F.col("e.last_ts"))
        | (F.col("g.n_versions") != F.col("e.n_versions"))
        | (F.col("g.sat") != 0)
    )
    assert mism.count() == 0


def test_streaming_surt_index_version_cap_saturates(spark, stream_dirs):
    """With max_versions=1, any key with >1 distinct digest must
    report exactly the cap and flip versions_saturated — bounded
    state, explicitly marked, never an unbounded digest set."""
    from pyspark.sql import functions as F

    from readembedability_spark.streaming.ingest import (
        read_pages_stream,
        streaming_surt_index,
    )

    in_dir, _, _ = stream_dirs
    idx = streaming_surt_index(
        read_pages_stream(spark, str(in_dir), max_files_per_trigger=1),
        max_versions=1,
    )
    q = (
        idx.writeStream.format("memory")
        .queryName("surt_idx_cap")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    final = (
        spark.sql("select * from surt_idx_cap")
        .groupBy("surt_key")
        .agg(
            F.max("n_versions").alias("n_versions"),
            F.max(F.col("versions_saturated").cast("int")).alias("sat"),
            F.max("n_captures").alias("n_captures"),
        )
    )
    assert final.filter("n_versions > 1").count() == 0
    # the synthetic corpus has recrawled urls with changed bodies, so
    # at least one key must have hit the cap
    assert final.filter("sat = 1").count() > 0
    # saturation implies the key saw more captures than the cap
    assert final.filter("sat = 1 and n_captures < 2").count() == 0


def test_streaming_crawl_delta_converges_to_batch(spark, tmp_path):
    """The stateful delta classifier over two micro-batches of
    engineered recrawls: the FINAL per-url row (highest n_captures in
    update mode) must classify the latest capture exactly as the batch
    lag-window rule would — new / changed / unchanged — with the
    cumulative transition count, while state never retains capture
    history (one digest, two counters)."""
    from datetime import datetime, timedelta

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from readembedability_spark.streaming.ingest import (
        read_pages_stream,
        streaming_crawl_delta,
    )

    t0 = datetime(2025, 1, 1, 12, 0, 0)
    hr = timedelta(hours=1)
    in_dir = tmp_path / "in"
    in_dir.mkdir()

    def batch(name, rows):
        pq.write_table(
            pa.table(
                {
                    "url": [r[0] for r in rows],
                    "warc_ts": pa.array(
                        [r[1] for r in rows], pa.timestamp("us")
                    ),
                    "html": pa.array([r[2] for r in rows], pa.binary()),
                    "text": ["x"] * len(rows),
                    "lang": ["en"] * len(rows),
                }
            ),
            in_dir / name,
        )
        # the file source orders micro-batches by MODIFICATION TIME;
        # files written within the same clock granularity tie and the
        # tie-break is not the filename — pin strictly increasing
        # mtimes so batch order is deterministic (b1 < b2 < b3)
        ts = 1_700_000_000 + int(name[1]) * 60
        import os as _os

        _os.utime(in_dir / name, (ts, ts))

    u = "https://h{}.example.com/p"
    # batch 1: first captures of four urls
    batch("b1.parquet", [
        (u.format(1), t0, b"<html>v1</html>"),        # will change
        (u.format(2), t0, b"<html>stable</html>"),    # will repeat
        (u.format(3), t0, b"<html>only</html>"),      # never recrawled
        (u.format(4), t0, b"<html>a</html>"),         # changes twice
    ])
    # batch 2: recrawls (one multi-capture url inside ONE batch)
    batch("b2.parquet", [
        (u.format(1), t0 + hr, b"<html>v2</html>"),       # changed
        (u.format(2), t0 + hr, b"<html>stable</html>"),   # unchanged
        (u.format(4), t0 + hr, b"<html>b</html>"),        # changed ...
        (u.format(4), t0 + 2 * hr, b"<html>b</html>"),    # then same
    ])
    # batch 3: a LATE capture for url 1 (older than its head) — must
    # count as late, never regress head state, and classify 'late'
    batch("b3.parquet", [
        (u.format(1), t0 - hr, b"<html>v0</html>"),
    ])
    out = streaming_crawl_delta(
        read_pages_stream(spark, str(in_dir), max_files_per_trigger=1)
    )
    q = (
        out.writeStream.format("memory")
        .queryName("crawl_delta")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    final = {
        r["url"]: r
        for r in spark.sql(
            """select * from crawl_delta a
               where n_captures = (select max(n_captures)
                                   from crawl_delta b
                                   where b.url = a.url)"""
        ).collect()
    }
    assert final[u.format(1)]["status"] == "late"
    assert final[u.format(1)]["n_changes"] == 1
    assert final[u.format(1)]["n_late"] == 1
    assert final[u.format(1)]["n_captures"] == 3
    # the head never regressed: last_ts is still the true newest
    assert final[u.format(1)]["last_ts"].hour == (t0 + hr).hour
    # the PREVIOUS emission (before the late batch) classified the
    # head capture itself
    by_caps = {
        (r["url"], r["n_captures"]): r
        for r in spark.sql("select * from crawl_delta").collect()
    }
    assert by_caps[(u.format(1), 2)]["status"] == "changed"
    assert final[u.format(2)]["status"] == "unchanged"
    assert final[u.format(2)]["n_changes"] == 0
    assert final[u.format(3)]["status"] == "new"
    assert final[u.format(3)]["n_captures"] == 1
    # url 4: a->b (changed) then b->b (unchanged) inside one batch
    assert final[u.format(4)]["status"] == "unchanged"
    assert final[u.format(4)]["n_changes"] == 1
    assert final[u.format(4)]["n_captures"] == 3
    # host column parsed from the url
    assert final[u.format(1)]["host"] == "h1.example.com"
    # batch-rule replay over the SAME files agrees on every latest
    # status (the convergence claim)
    from pyspark.sql import Window

    caps = spark.read.parquet(str(in_dir)).select(
        "url",
        "warc_ts",
        F.substring(
            F.md5(F.coalesce("html", F.lit(b""))), 1, 8
        ).alias("digest"),
    )
    w = Window.partitionBy("url").orderBy(
        F.desc("warc_ts"), F.desc("digest")
    )
    wall = Window.partitionBy("url")
    batch_rule = (
        caps.select(
            "url",
            "digest",
            F.row_number().over(w).alias("rn"),
            F.lead("digest").over(w).alias("prev"),
            F.count("*").over(wall).alias("n"),
        )
        .filter(F.col("rn") == 1)
        .select(
            "url",
            F.when(F.col("n") == 1, F.lit("new"))
            .when(F.col("digest") == F.col("prev"), F.lit("unchanged"))
            .otherwise(F.lit("changed"))
            .alias("status"),
        )
    )
    for r in batch_rule.collect():
        if final[r["url"]]["n_late"] == 0:
            assert final[r["url"]]["status"] == r["status"], r


def test_streaming_capture_diff_magnitude_and_late(spark, tmp_path):
    """Token-set Jaccard between consecutive captures accumulates in
    O(1)-per-url state (last set only): engineered overlaps score
    exactly (3/5 -> 600000 ppm, 2/4 -> 500000 ppm), identical
    recrawls score 1000000 with n_changed 0, an in-batch
    multi-capture url folds in timestamp order, and a late capture
    counts in n_late without touching the comparison state."""
    from datetime import datetime, timedelta

    import pyarrow as pa
    import pyarrow.parquet as pq

    from readembedability_spark.streaming.ingest import (
        read_pages_stream,
        streaming_capture_diff,
    )

    t0 = datetime(2025, 2, 1, 12, 0, 0)
    hr = timedelta(hours=1)
    in_dir = tmp_path / "in"
    in_dir.mkdir()

    def batch(name, rows):
        pq.write_table(
            pa.table(
                {
                    "url": [r[0] for r in rows],
                    "warc_ts": pa.array(
                        [r[1] for r in rows], pa.timestamp("us")
                    ),
                    "html": pa.array([b"<html/>"] * len(rows), pa.binary()),
                    "text": [r[2] for r in rows],
                    "lang": ["en"] * len(rows),
                }
            ),
            in_dir / name,
        )
        # the file source orders micro-batches by MODIFICATION TIME;
        # files written within the same clock granularity tie and the
        # tie-break is not the filename — pin strictly increasing
        # mtimes so batch order is deterministic (b1 < b2 < b3)
        ts = 1_700_000_000 + int(name[1]) * 60
        import os as _os

        _os.utime(in_dir / name, (ts, ts))

    u = "https://h{}.example.com/p"
    # batch 1: first captures; url4 gets TWO captures in ONE batch
    batch("b1.parquet", [
        (u.format(1), t0, "a b c d"),
        (u.format(2), t0, "solo page"),
        (u.format(3), t0, "same text here"),
        (u.format(4), t0, "p q"),
        (u.format(4), t0 + hr, "p q r s"),
    ])
    # batch 2: recrawls
    batch("b2.parquet", [
        (u.format(1), t0 + 2 * hr, "a b c x"),       # 3/5 overlap
        (u.format(3), t0 + 2 * hr, "same text here"),  # identical
    ])
    # batch 3: LATE capture for url1 (older than head)
    batch("b3.parquet", [
        (u.format(1), t0 - hr, "ancient version"),
    ])
    out = streaming_capture_diff(
        read_pages_stream(spark, str(in_dir), max_files_per_trigger=1)
    )
    q = (
        out.writeStream.format("memory")
        .queryName("capture_diff")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    final = {
        r["url"]: r
        for r in spark.sql(
            """select * from capture_diff a
               where n_captures = (select max(n_captures)
                                   from capture_diff b
                                   where b.url = a.url)"""
        ).collect()
    }
    # url1: one real pair at 3/5 = 600000 ppm, then one late capture
    r1 = final[u.format(1)]
    assert (r1["n_captures"], r1["n_pairs"], r1["n_changed"]) == (3, 1, 1)
    assert r1["sim_ppm_total"] == 600000 and r1["mean_sim_ppm"] == 600000
    assert r1["n_late"] == 1
    # url2: single capture -> no pairs, NULL mean
    r2 = final[u.format(2)]
    assert (r2["n_pairs"], r2["n_changed"]) == (0, 0)
    assert r2["mean_sim_ppm"] is None
    # url3: identical recrawl -> pair at 1000000, not a change
    r3 = final[u.format(3)]
    assert (r3["n_pairs"], r3["n_changed"]) == (1, 0)
    assert r3["sim_ppm_total"] == 1000000
    # url4: in-batch fold in ts order -> 2/4 = 500000 ppm
    r4 = final[u.format(4)]
    assert (r4["n_captures"], r4["n_pairs"], r4["n_changed"]) == (2, 1, 1)
    assert r4["last_sim_ppm"] == 500000


def test_streaming_admission_budget_rule(spark, tmp_path):
    """The stateful host token-budget admission over three
    micro-batches: running-sum semantics (the budget-crossing page is
    KEPT, everything after is rejected forever), state persists
    across batches, a multi-page micro-batch folds in (ts, url)
    order, rejected pages still advance the seen-counter, and a late
    page is counted but cannot revoke an earlier admission."""
    from datetime import datetime, timedelta

    import pyarrow as pa
    import pyarrow.parquet as pq

    from readembedability_spark.streaming.ingest import (
        read_pages_stream,
        streaming_admission,
    )

    t0 = datetime(2025, 1, 1, 12, 0, 0)
    hr = timedelta(hours=1)
    in_dir = tmp_path / "in"
    in_dir.mkdir()

    def batch(name, rows):
        pq.write_table(
            pa.table(
                {
                    "url": [r[0] for r in rows],
                    "warc_ts": pa.array(
                        [r[1] for r in rows], pa.timestamp("us")
                    ),
                    "html": pa.array(
                        [b"<html/>"] * len(rows), pa.binary()
                    ),
                    "text": [" ".join(["w"] * r[2]) for r in rows],
                    "lang": ["en"] * len(rows),
                }
            ),
            in_dir / name,
        )
        # the file source orders micro-batches by MODIFICATION TIME;
        # files written within the same clock granularity tie and the
        # tie-break is not the filename — pin strictly increasing
        # mtimes so batch order is deterministic (b1 < b2 < b3)
        ts = 1_700_000_000 + int(name[1]) * 60
        import os as _os

        _os.utime(in_dir / name, (ts, ts))

    ua = "https://ha.example.com/p{}"
    ub = "https://hb.example.com/p{}"
    # batch 1: host A starts spending; host B's single page CROSSES
    # the budget from zero and must be kept
    batch("b1.parquet", [
        (ua.format(1), t0, 100),
        (ua.format(2), t0 + hr, 100),
        (ub.format(1), t0, 400),
    ])
    # batch 2: three host-A pages in ONE batch — the first (by ts)
    # crosses the budget and is kept, the rest are rejected
    batch("b2.parquet", [
        (ua.format(4), t0 + 4 * hr, 50),   # before=350 → rejected
        (ua.format(3), t0 + 3 * hr, 150),  # before=200 → kept (crosses)
        (ua.format(5), t0 + 5 * hr, 50),   # before=400 → rejected
    ])
    # batch 3: a LATE host-A page (older than the head) — counted
    # late, still consumes budget position, rejected (budget long gone)
    batch("b3.parquet", [
        (ua.format(9), t0 - hr, 10),
    ])
    out = streaming_admission(
        read_pages_stream(spark, str(in_dir), max_files_per_trigger=1)
    )
    q = (
        out.writeStream.format("memory")
        .queryName("admission")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        r["url"]: r for r in spark.sql("select * from admission").collect()
    }
    assert len(rows) == 7
    # host B: crossing-from-zero page kept
    rb = rows[ub.format(1)]
    assert rb["admitted"] and rb["tokens_before"] == 0
    # host A batch-1 pages admitted in ts order
    assert rows[ua.format(1)]["admitted"]
    assert rows[ua.format(1)]["tokens_before"] == 0
    assert rows[ua.format(2)]["admitted"]
    assert rows[ua.format(2)]["tokens_before"] == 100
    # batch 2 folded in ts order despite file order: p3 kept (crossing)
    assert rows[ua.format(3)]["admitted"]
    assert rows[ua.format(3)]["tokens_before"] == 200
    assert not rows[ua.format(4)]["admitted"]
    assert rows[ua.format(4)]["tokens_before"] == 350
    assert not rows[ua.format(5)]["admitted"]
    assert rows[ua.format(5)]["tokens_before"] == 400
    # late page: counted late, consumed a position, rejected
    rl = rows[ua.format(9)]
    assert not rl["admitted"] and rl["host_n_late"] == 1
    assert rl["tokens_before"] == 450
    # final host-A counters: 6 seen, 3 admitted, all tokens counted
    assert rl["host_n_seen"] == 6 and rl["host_n_admitted"] == 3
    assert rl["host_tokens_seen"] == 460
    # batch-rule convergence: replaying the SAME ts-ordered feed
    # through the batch running-sum rule admits the same url set
    import pandas as pd

    feed = [
        (ua.format(1), 100), (ua.format(2), 100), (ua.format(3), 150),
        (ua.format(4), 50), (ua.format(5), 50),
    ]
    seen, admitted_batch = 0, set()
    for url, n in feed:
        if seen < 300:
            admitted_batch.add(url)
        seen += n
    admitted_stream = {
        u for u, r in rows.items()
        if r["admitted"] and u.startswith("https://ha")
    }
    assert admitted_stream == admitted_batch


def test_streaming_politeness_verdicts_and_late(spark, tmp_path):
    """The stateful politeness ledger over two micro-batches: hosts at
    every verdict edge (all-gaps-above-delay, exactly-half violating,
    all violating, single fetch, same-instant pair -> zero gap), plus
    a LATE fetch that must count in n_late without contributing a gap
    or regressing the head; the final rows must match a batch
    lag-window replay over the same files for every on-time host."""
    from datetime import datetime, timedelta

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from readembedability_spark.streaming.ingest import (
        read_pages_stream,
        streaming_politeness,
    )

    t0 = datetime(2025, 1, 1, 12, 0, 0)
    ms = timedelta(milliseconds=1)
    in_dir = tmp_path / "in"
    in_dir.mkdir()

    def batch(name, rows):
        pq.write_table(
            pa.table(
                {
                    "url": [r[0] for r in rows],
                    "warc_ts": pa.array(
                        [r[1] for r in rows], pa.timestamp("us")
                    ),
                    "html": pa.array(
                        [b"<html/>"] * len(rows), pa.binary()
                    ),
                    "text": ["x"] * len(rows),
                    "lang": ["en"] * len(rows),
                }
            ),
            in_dir / name,
        )
        ts = 1_700_000_000 + int(name[1]) * 60
        import os as _os

        _os.utime(in_dir / name, (ts, ts))

    def u(host, p):
        return f"https://{host}.example.com/{p}"

    # delay is the default 1_000_000 us = 1000 ms
    batch("b1.parquet", [
        (u("polite", "a"), t0),
        (u("polite", "b"), t0 + 2000 * ms),
        (u("mixed", "a"), t0),
        (u("mixed", "b"), t0 + 500 * ms),       # violation
        (u("rude", "a"), t0),
        (u("rude", "b"), t0 + 300 * ms),        # violation
        (u("solo", "a"), t0),
        (u("tie", "a"), t0),
        (u("tie", "b"), t0),                    # same instant -> gap 0
    ])
    batch("b2.parquet", [
        (u("polite", "c"), t0 + 4000 * ms),
        (u("polite", "z"), t0 - 1000 * ms),     # LATE: behind the head
        (u("mixed", "c"), t0 + 5500 * ms),      # gap 5000 ms, on time
        (u("rude", "c"), t0 + 700 * ms),        # violation again
    ])
    out = streaming_politeness(
        read_pages_stream(spark, str(in_dir), max_files_per_trigger=1)
    )
    q = (
        out.writeStream.format("memory")
        .queryName("politeness")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    final = {
        r["host"]: r
        for r in spark.sql(
            """select * from politeness a
               where n_fetches = (select max(n_fetches)
                                  from politeness b
                                  where b.host = a.host)"""
        ).collect()
    }
    pol = final["polite.example.com"]
    assert (pol["n_fetches"], pol["n_gaps"], pol["n_violations"]) == (4, 2, 0)
    assert pol["n_late"] == 1                  # the stale z fetch
    assert pol["min_gap_ms"] == 2000
    assert pol["politeness"] == "polite"
    mix = final["mixed.example.com"]
    assert (mix["n_gaps"], mix["n_violations"]) == (2, 1)
    assert mix["violation_ppm"] == 500000
    assert mix["politeness"] == "mixed"        # half is NOT a majority
    rude = final["rude.example.com"]
    assert (rude["n_gaps"], rude["n_violations"]) == (2, 2)
    assert rude["min_gap_ms"] == 300
    assert rude["politeness"] == "rude"
    solo = final["solo.example.com"]
    assert (solo["n_gaps"], solo["min_gap_ms"]) == (0, None)
    assert solo["politeness"] == "unknown"
    tie = final["tie.example.com"]
    assert tie["min_gap_ms"] == 0              # same-instant pair
    assert tie["politeness"] == "rude"
    # batch lag-window replay agrees on every on-time host
    from readembedability_spark.functions import host_col

    caps = spark.read.parquet(str(in_dir)).select(
        host_col().alias("host"), "url", "warc_ts"
    )
    w = Window.partitionBy("host").orderBy("warc_ts", "url")
    gaps = caps.select(
        "host",
        F.expr(
            "timestampdiff(MICROSECOND, lag(warc_ts) OVER "
            "(PARTITION BY host ORDER BY warc_ts, url), warc_ts)"
        ).alias("gap_us"),
    )
    replay = gaps.groupBy("host").agg(
        F.count("gap_us").alias("n_gaps"),
        F.coalesce(
            F.sum(F.when(F.col("gap_us") < 1_000_000, 1)), F.lit(0)
        ).alias("n_violations"),
    )
    for r in replay.collect():
        if final[r["host"]]["n_late"] == 0:
            assert final[r["host"]]["n_gaps"] == r["n_gaps"], r
            assert (
                final[r["host"]]["n_violations"] == r["n_violations"]
            ), r


def test_streaming_retry_after_windows(spark, tmp_path):
    """The stateful Retry-After ledger over two micro-batches: an
    obeyed 30 s window, a violated 90 s window (30 s deficit), a
    header-less throttle (missing counter, NO window installed so
    the next fetch cannot violate), consecutive throttles where the
    violating fetch itself installs the next window, and a LATE
    fetch that only increments n_late; the final fold must equal a
    sequential python replay of the same rule over the on-time rows."""
    from datetime import datetime, timedelta

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from readembedability_spark.streaming.ingest import (
        read_pages_stream,
        streaming_retry_after,
    )

    t0 = datetime(2025, 1, 1, 12, 0, 0)
    s = timedelta(seconds=1)
    in_dir = tmp_path / "in"
    in_dir.mkdir()

    def batch(name, rows):
        pq.write_table(
            pa.table(
                {
                    "url": [r[0] for r in rows],
                    "warc_ts": pa.array(
                        [r[1] for r in rows], pa.timestamp("us")
                    ),
                    "html": pa.array(
                        [b"<html/>"] * len(rows), pa.binary()
                    ),
                    "text": ["x"] * len(rows),
                    "lang": ["en"] * len(rows),
                }
            ),
            in_dir / name,
        )
        ts = 1_700_000_000 + int(name[1]) * 60
        import os as _os

        _os.utime(in_dir / name, (ts, ts))

    def u(host, p):
        return f"https://{host}.example.com{p}"

    batch("b1.parquet", [
        (u("obey", "/ra30/a"), t0),
        (u("obey", "/ok/b"), t0 + 60 * s),          # 60 >= 30: fine
        (u("slow", "/ra90/a"), t0),
        (u("slow", "/ok/b"), t0 + 60 * s),          # inside 90 s window
        (u("guess", "/ramiss/a"), t0),
        (u("guess", "/ok/b"), t0 + 1 * s),          # no window -> fine
        (u("relapse", "/ra90/a"), t0),
    ])
    batch("b2.parquet", [
        (u("relapse", "/ra90/b"), t0 + 60 * s),     # violates AND re-arms
        (u("relapse", "/ok/c"), t0 + 120 * s),      # inside the NEW window
        (u("obey", "/ok/z"), t0 - 5 * s),           # LATE: behind the head
    ])

    def derive(st):
        ra = F.regexp_extract("url", r"/ra(\d+)/", 1)
        return st.select(
            "url",
            "warc_ts",
            F.when(F.col("url").rlike("/ra"), 429)
            .otherwise(200)
            .cast("int")
            .alias("status"),
            # ANSI mode: cast('') throws — blank the non-matches first
            F.when(ra == "", F.lit(None))
            .otherwise(ra)
            .cast("int")
            .alias("retry_after_s"),
        )

    out = streaming_retry_after(
        derive(
            read_pages_stream(spark, str(in_dir), max_files_per_trigger=1)
        )
    )
    q = (
        out.writeStream.format("memory")
        .queryName("retry_after")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    final = {
        r["host"]: r
        for r in spark.sql(
            """select * from retry_after a
               where n_fetches = (select max(n_fetches)
                                  from retry_after b
                                  where b.host = a.host)"""
        ).collect()
    }
    obey = final["obey.example.com"]
    assert (obey["n_throttled"], obey["n_violations"]) == (1, 0)
    assert obey["n_late"] == 1 and obey["compliant"]
    slow = final["slow.example.com"]
    assert (slow["n_throttled"], slow["n_violations"]) == (1, 1)
    assert slow["worst_deficit_ms"] == 30000
    assert not slow["compliant"]
    guess = final["guess.example.com"]
    assert (guess["n_missing_header"], guess["n_violations"]) == (1, 0)
    rel = final["relapse.example.com"]
    assert (rel["n_throttled"], rel["n_violations"]) == (2, 2)
    assert rel["worst_deficit_ms"] == 30000
    # sequential python replay agrees per host — in ARRIVAL order
    # (batch by batch, sorted within a batch like the fold does);
    # late-ness is arrival-order-dependent by design
    rows = []
    for name in ("b1.parquet", "b2.parquet"):
        batch_rows = sorted(
            (
                r["url"].split("//")[1].split("/")[0],
                r["warc_ts"],
                r["url"],
            )
            for r in spark.read.parquet(str(in_dir / name)).collect()
        )
        rows.extend(sorted(batch_rows, key=lambda x: (x[1], x[2])))
    ref = {}
    for host, ts, url in rows:
        st = ref.setdefault(
            host, {"last": None, "nb": None, "thr": 0, "miss": 0,
                   "viol": 0, "late": 0, "n": 0}
        )
        st["n"] += 1
        if st["last"] is not None and ts < st["last"]:
            st["late"] += 1
            continue
        if st["nb"] is not None and ts < st["nb"]:
            st["viol"] += 1
        if "/ra" in url:
            st["thr"] += 1
            import re as re_

            mm = re_.search(r"/ra(\d+)/", url)
            if mm is None:
                st["miss"] += 1
            else:
                st["nb"] = ts + timedelta(seconds=int(mm.group(1)))
        st["last"] = ts
    for host, st in ref.items():
        r = final[host]
        assert (
            r["n_fetches"], r["n_throttled"], r["n_missing_header"],
            r["n_violations"], r["n_late"],
        ) == (st["n"], st["thr"], st["miss"], st["viol"], st["late"]), host
