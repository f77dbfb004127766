"""Physical-plan assertions (SURVEY.md §4): pushdown, pruning,
broadcast strategy, single Python boundary. These are the 100TB-scale
guarantees — a scan that reads all columns or a join that shuffles a
25-row dim would be wrong at 1000 executors."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from readembedability_spark.operators.extract import extract_stage
from readembedability_spark.operators.resume import resume_filter, with_bucket
from readembedability_spark.sources.pages import prefilter, read_pages
from readembedability_spark.sources.synth import generate_pages


@pytest.fixture(scope="module")
def pages_path(tmp_path_factory):
    d = tmp_path_factory.mktemp("plans")
    return str(generate_pages(d / "pages.parquet", 100))


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def test_prefilter_pushed_to_scan(spark, pages_path):
    df = prefilter(read_pages(spark, pages_path))
    plan = _plan(df)
    assert "PushedFilters:" in plan
    assert "IsNotNull(html)" in plan


def test_column_pruning_excludes_text(spark, pages_path):
    """The extract stage must not read the (unused) text column."""
    df = extract_stage(prefilter(read_pages(spark, pages_path)))
    plan = _plan(df)
    scan_schema = [
        line for line in plan.splitlines() if "ReadSchema" in line
    ]
    assert scan_schema, plan
    assert "text" not in scan_schema[0]
    assert "html" in scan_schema[0]


def test_resume_antijoin_is_broadcast(spark, pages_path):
    done = spark.createDataFrame([(1,)], "url_bucket int")
    df = resume_filter(with_bucket(read_pages(spark, pages_path)), done)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "LeftAnti" in plan


def test_single_python_boundary(spark, pages_path):
    """Exactly one MapInPandas / ArrowEval node in the whole pipeline."""
    from readembedability_spark.operators.dedup import dedup_latest
    from readembedability_spark.operators.salt import salt_repartition

    pages = dedup_latest(
        salt_repartition(prefilter(read_pages(spark, pages_path)), 4)
    )
    import re

    df = extract_stage(pages)
    plan = _plan(df)
    # exactly one MapInPandas node in the detail section
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python anywhere
    # the salted url-hash repartition also satisfies the dedup window's
    # clustering requirement → the heavy html payload shuffles ONCE
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1


def test_broadcast_join_in_providers_pattern(spark):
    """O-9: a small static dim joined to a big fact must broadcast."""
    from readembedability_spark.extractor.oembed import OEMBED_PROVIDERS

    providers = spark.createDataFrame(
        [(h, n) for h, n, _ in OEMBED_PROVIDERS], "host string, provider string"
    )
    big = spark.range(10000).select(
        F.concat(F.lit("host"), F.col("id")).alias("host")
    )
    joined = big.join(F.broadcast(providers), "host", "left")
    assert "BroadcastHashJoin" in _plan(joined)


def test_whole_stage_codegen_on_relational_path(spark, pages_path):
    df = prefilter(read_pages(spark, pages_path)).select(
        F.length("html").alias("n")
    )
    assert "codegen id" in _plan(df)  # scan/filter/project fused


def test_multimodal_plumbing_zero_exchange_pruned_read(spark):
    """The resize and frame-sample ops must stay shuffle-free (one
    mapInPandas pass inheriting scan partitioning) and must prune the
    documents read to exactly (doc_id, text)."""
    from readembedability_spark.textops import REGISTRY

    for name in ("q_image_resize", "q_video_frame_sample"):
        df = REGISTRY[name].spark(spark, "/root/testdata/sf0.001")
        plan = _plan(df)
        assert "Exchange" not in plan, name
        reads = [
            line for line in plan.splitlines() if "ReadSchema" in line
        ]
        assert reads and all(
            "doc_id" in r and "text" in r and "lang" not in r
            and "source" not in r
            for r in reads
        ), (name, reads)


def test_surt_index_single_keyed_aggregate(spark):
    """The CDX index is one hash aggregate on the SURT key: the only
    non-broadcast exchanges are the count-distinct pair (key+digest,
    then key) — no joins, no windows, pruned 3-column read."""
    from readembedability_spark.textops import REGISTRY

    df = REGISTRY["q_surt_index"].spark(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert "Window" not in plan
    # operator-tree section: each Exchange appears once as "Exchange hashpartitioning"
    n_shuffles = plan.count("Exchange hashpartitioning")
    assert n_shuffles <= 2, plan[:2000]
    reads = [line for line in plan.splitlines() if "ReadSchema" in line]
    assert reads and all("props" not in r and "value" not in r for r in reads)


def _op_counts(p: str):
    import re

    return {
        k: len(re.findall(rf"^\(\d+\) {k}\s*$", p, re.M))
        for k in (
            "Exchange",
            "BroadcastExchange",
            "SortMergeJoin",
            "BroadcastHashJoin",
            "Window",
        )
    }


def test_politeness_single_exchange(spark):
    """The politeness ledger is ONE exchange end-to-end: the lag
    window partitions on host and the final aggregate groups on the
    same key, so the aggregate rides the window's partitioning; no
    joins anywhere."""
    from readembedability_spark.textops import REGISTRY

    df = REGISTRY["q_politeness_audit"].spark(
        spark, "/root/testdata/sf0.001"
    )
    c = _op_counts(_plan(df))
    assert c["Exchange"] == 1 and c["Window"] == 1
    assert c["SortMergeJoin"] == 0 and c["BroadcastHashJoin"] == 0


def test_link_rot_broadcasts_the_dim(spark):
    """The link-rot join must broadcast the status dimension — no
    shuffle on the 10^12-row link side for the join; the only
    hash exchange is the per-host rollup."""
    from readembedability_spark.textops import REGISTRY

    df = REGISTRY["q_link_rot"].spark(spark, "/root/testdata/sf0.001")
    c = _op_counts(_plan(df))
    assert c["BroadcastHashJoin"] == 1 and c["SortMergeJoin"] == 0
    assert c["Exchange"] == 1  # per-host aggregate only


def test_robots_precedence_broadcasts_rules(spark):
    """The ruleset dimension must broadcast (never shuffle the url
    side for it); the remaining exchanges serve the per-url winner
    window and the final rollup."""
    from readembedability_spark.textops import REGISTRY

    df = REGISTRY["q_robots_precedence"].spark(
        spark, "/root/testdata/sf0.001"
    )
    c = _op_counts(_plan(df))
    assert c["BroadcastHashJoin"] >= 1
    assert c["Window"] == 1
    assert c["Exchange"] <= 3


def test_https_migration_windows_share_partitioning(spark):
    """Both first/last scheme windows and the per-url aggregate run
    on ONE url_id partitioning (a second url-keyed exchange would
    double the heavy shuffle); the remaining exchanges belong to the
    bounded class rollup's distinct-count expansion."""
    from readembedability_spark.textops import REGISTRY

    df = REGISTRY["q_https_migration"].spark(
        spark, "/root/testdata/sf0.001"
    )
    p = _plan(df)
    c = _op_counts(p)
    assert c["Window"] == 2 and c["SortMergeJoin"] == 0
    assert c["Exchange"] == 3  # url_id once + 2-phase distinct rollup
    # exactly ONE exchange hashes on the capture-heavy url key
    import re

    url_exchanges = [
        m
        for m in re.findall(r"Arguments: hashpartitioning\(([^,]+)[,)]", p)
        if m.startswith("url_id")
    ]
    assert len(url_exchanges) == 1, url_exchanges


def test_crawl_trap_detect_join_free(spark):
    """The trap audit must stay JOIN-FREE: host/path ride through the
    explode pipeline as widened keys instead of joining the
    multiplicity table back onto the urls (broadcast at test scale,
    a 10^12-row sort-merge at web scale)."""
    from readembedability_spark.textops import REGISTRY

    df = REGISTRY["q_crawl_trap_detect"].spark(
        spark, "/root/testdata/sf0.001"
    )
    c = _op_counts(_plan(df))
    assert c["SortMergeJoin"] == 0 and c["BroadcastHashJoin"] == 0


def test_retry_after_single_exchange(spark):
    """The Retry-After ledger is ONE exchange end-to-end: the lead()
    window partitions on host and the final aggregate groups on the
    same key (same shape as the politeness ledger); no joins."""
    from readembedability_spark.textops import REGISTRY

    df = REGISTRY["q_retry_after"].spark(
        spark, "/root/testdata/sf0.001"
    )
    c = _op_counts(_plan(df))
    assert c["Exchange"] == 1 and c["Window"] == 1
    assert c["SortMergeJoin"] == 0 and c["BroadcastHashJoin"] == 0


def test_dom_nesting_shares_doc_exchange(spark):
    """The nesting census pays ONE exchange for the heavy work: the
    cumsum window partitions on doc_id and the per-doc collapse
    groups on the same key (rides the window's partitioning); the
    final census aggregate is the only other exchange, bounded by
    the depth alphabet. No joins."""
    from readembedability_spark.textops import REGISTRY

    df = REGISTRY["q_dom_nesting"].spark(
        spark, "/root/testdata/sf0.001"
    )
    c = _op_counts(_plan(df))
    assert c["Exchange"] == 2 and c["Window"] == 1
    assert c["SortMergeJoin"] == 0 and c["BroadcastHashJoin"] == 0


def _doc_keyed_folds(plan: str) -> list:
    """Final-mode aggregates keyed by doc_id alone that a physical plan
    computes. A cached relation's plan is printed once per reference
    but computed once, so an aggregate under an InMemoryRelation counts
    once per distinct text; any other occurrence counts every time."""
    import re

    found, cached_depths = {}, []
    for n, line in enumerate(plan.splitlines()):
        node = line.lstrip(" :+-")
        depth = len(line) - len(node)
        while cached_depths and depth <= cached_depths[-1]:
            cached_depths.pop()
        if node.startswith("InMemoryRelation"):
            cached_depths.append(depth)
        elif re.match(
            r"\w*Aggregate\(keys=\[doc_id#\d+L?\], functions=\[(?!partial_)",
            node,
        ):
            found[node if cached_depths else (n, node)] = node
    return list(found.values())


@pytest.mark.parametrize(
    "name", ["q_minhash_lsh", "q_dedup_clusters", "q_minhash_calibration"]
)
def test_minhash_core_single_hash_aggregate(spark, monkeypatch, name):
    """The MinHash core stays ONE doc-keyed hash aggregate per query:
    no SortAggregate (string MIN buffers would demote it), exactly one
    doc-keyed fold and it carries the minima (the profile is shared,
    never re-aggregated per reader), and no cache of the bare
    (doc_id, sh) shingle table, whose only reader is that fold."""
    import re

    from readembedability_spark import textops
    from readembedability_spark.queries import release_caches
    from test_oracle_parity import SF_DIR

    # connected components runs eagerly; a lazy stand-in keeps the
    # verified-pair subtree in the returned plan
    monkeypatch.setattr(
        textops,
        "_connected_components",
        lambda spark, edges: edges.select(
            F.col("a").alias("node"), F.col("b").alias("label")
        ),
    )
    # start from an empty cache: a table an earlier query left cached
    # would be substituted into this plan
    release_caches(spark)
    df = textops.REGISTRY[name].spark(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    release_caches(spark)
    assert "SortAggregate" not in plan
    folds = _doc_keyed_folds(plan)
    assert len(folds) == 1, folds
    assert "min(cast(conv(substring(" in folds[0]
    assert not re.search(r"InMemoryRelation \[doc_id#\d+L?, sh#\d+\]", plan)
