"""Physical-plan assertions (SURVEY.md §4): pushdown, pruning,
broadcast strategy, single Python boundary. These are the 100TB-scale
guarantees — a scan that reads all columns or a join that shuffles a
25-row dim would be wrong at 1000 executors."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from readembedability_spark.operators.extract import extract_stage
from readembedability_spark.operators.resume import resume_filter, with_bucket
from readembedability_spark.sources.pages import prefilter, read_pages
from readembedability_spark.sources.synth import generate_pages
from helpers import formatted_plan


@pytest.fixture(scope="module")
def pages_path(tmp_path_factory):
    d = tmp_path_factory.mktemp("plans")
    return str(generate_pages(d / "pages.parquet", 100))


def test_prefilter_pushed_to_scan(spark, pages_path):
    df = prefilter(read_pages(spark, pages_path))
    plan = formatted_plan(df)
    assert "PushedFilters:" in plan
    assert "IsNotNull(html)" in plan


def test_column_pruning_excludes_text(spark, pages_path):
    """The extract stage must not read the (unused) text column."""
    df = extract_stage(prefilter(read_pages(spark, pages_path)))
    plan = formatted_plan(df)
    scan_schema = [
        line for line in plan.splitlines() if "ReadSchema" in line
    ]
    assert scan_schema, plan
    assert "text" not in scan_schema[0]
    assert "html" in scan_schema[0]


def test_resume_antijoin_is_broadcast(spark, pages_path):
    done = spark.createDataFrame([(1,)], "url_bucket int")
    df = resume_filter(with_bucket(read_pages(spark, pages_path)), done)
    plan = formatted_plan(df)
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
    plan = formatted_plan(df)
    # exactly one MapInPandas node in the detail section
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python anywhere
    # the salted url-hash repartition also satisfies the dedup window's
    # clustering requirement → the heavy html payload shuffles ONCE
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1


def _python_rdd_leaves(df) -> list[str]:
    """LogicalRDD / ExistingRDD leaves: a table parallelized from Python
    objects, whose every task starts a Python worker."""
    qe = df._jdf.queryExecution()  # noqa: SLF001
    plans = qe.optimizedPlan().toString() + qe.executedPlan().toString()
    return [
        ln.strip() for ln in plans.splitlines()
        if "LogicalRDD" in ln or "ExistingRDD" in ln
    ]


def test_run_extract_python_only_in_extract_stage(spark, pages_path, tmp_path):
    """Every DataFrame run_extract writes, collects or counts, on a first
    run (no checkpoint on disk) and on a resumed one, is built without a
    Python-RDD leaf; the extract DataFrame has exactly one MapInPandas.
    The done-set, the checkpoint marks and the metrics table are local
    tables, so a call runs Python tasks in its extract stage only."""
    import re

    from pyspark.sql import DataFrameWriter
    from pyspark.sql.classic.dataframe import DataFrame

    import readembedability_spark.plans.pipeline as pl

    seen = []
    orig = {
        "write": DataFrameWriter.parquet,
        "collect": DataFrame.collect,
        "count": DataFrame.count,
    }

    def writer_spy(w, path, *a, **kw):
        seen.append(("write " + Path(path).name, w._df))  # noqa: SLF001
        return orig["write"](w, path, *a, **kw)

    def spy(kind):
        def f(df, *a, **kw):
            seen.append((kind, df))
            return orig[kind](df, *a, **kw)
        return f

    cfg = pl.RunConfig(
        pages_path=pages_path, out_dir=str(tmp_path / "out"), parallelism=4
    )
    DataFrameWriter.parquet = writer_spy
    DataFrame.collect, DataFrame.count = spy("collect"), spy("count")
    try:
        for _ in range(2):  # no checkpoint on disk, then one
            extract_df = pl.build_extract_df(spark, cfg)
            plan = formatted_plan(extract_df)
            assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1
            assert not _python_rdd_leaves(extract_df), plan
            pl.run_extract(spark, cfg)
    finally:
        DataFrameWriter.parquet = orig["write"]
        DataFrame.collect, DataFrame.count = orig["collect"], orig["count"]
    kinds = [k for k, _ in seen]
    for k in ("write extracted", "write _checkpoint", "write metrics",
              "collect", "count"):
        assert k in kinds, kinds
    for kind, df in seen:
        assert not _python_rdd_leaves(df), (kind, _python_rdd_leaves(df))


def test_local_table_matches_create_dataframe(spark):
    """local_table builds the same rows and schema (names, types,
    nullability) as spark.createDataFrame, as a LocalTableScan."""
    from readembedability_spark.schemas import (
        CHECKPOINT_SCHEMA,
        METRICS_SCHEMA,
        local_table,
    )

    metric = {
        "run_id": "r", "partition_id": 3, "n_rows": 10, "n_ok": 9,
        "n_error": 1, "bytes_in": 4096, "wall_ms": 12,
    }
    cases = [
        ([("r", 7, "done", 0), ("r", 255, "done", 0)], CHECKPOINT_SCHEMA),
        ([metric, dict(metric, partition_id=0)], METRICS_SCHEMA),
        ([("en", 0.5), ("de", 0.2)], "lang string, share double"),
    ]
    for rows, schema in cases:
        for data in (rows, []):
            got = local_table(spark, data, schema)
            want = spark.createDataFrame(data, schema=schema)
            assert got.schema == want.schema
            assert [f.nullable for f in got.schema] == [
                f.nullable for f in want.schema
            ]
            assert got.collect() == want.collect()
            assert "LocalTableScan" in formatted_plan(got)
            assert not _python_rdd_leaves(got)


def test_create_dataframe_only_in_local_table():
    """One way to build a table from driver-side literals: every
    createDataFrame call in the program is the one in
    schemas.local_table."""
    import ast

    repo = Path(__file__).resolve().parent.parent
    calls = []
    for root in ("readembedability_spark", "jobs"):
        for src in sorted((repo / root).rglob("*.py")):
            tree = ast.parse(src.read_text(encoding="utf-8"))
            funcs = [
                n for n in ast.walk(tree)
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            ]
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Attribute)
                    and node.attr == "createDataFrame"
                ):
                    owner = [
                        f.name for f in funcs
                        if f.lineno <= node.lineno <= f.end_lineno
                    ]
                    calls.append((str(src.relative_to(repo)), owner))
    assert calls == [("readembedability_spark/schemas.py", ["local_table"])]


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
    assert "BroadcastHashJoin" in formatted_plan(joined)


def test_whole_stage_codegen_on_relational_path(spark, pages_path):
    df = prefilter(read_pages(spark, pages_path)).select(
        F.length("html").alias("n")
    )
    assert "codegen id" in formatted_plan(df)  # scan/filter/project fused


def test_multimodal_plumbing_zero_exchange_pruned_read(spark):
    """The resize and frame-sample ops must stay shuffle-free (one
    mapInPandas pass inheriting scan partitioning) and must prune the
    documents read to exactly (doc_id, text)."""
    from readembedability_spark.queries import REGISTRY

    for name in ("q_image_resize", "q_video_frame_sample"):
        df = REGISTRY[name].spark(spark, "/root/testdata/sf0.001")
        plan = formatted_plan(df)
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
    from readembedability_spark.queries import REGISTRY

    df = REGISTRY["q_surt_index"].spark(spark, "/root/testdata/sf0.001")
    plan = formatted_plan(df)
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
            "BroadcastNestedLoopJoin",
            "CartesianProduct",
            "Window",
        )
    }


def test_politeness_single_exchange(spark):
    """The politeness ledger is ONE exchange end-to-end: the lag
    window partitions on host and the final aggregate groups on the
    same key, so the aggregate rides the window's partitioning; no
    joins anywhere."""
    from readembedability_spark.queries import REGISTRY

    df = REGISTRY["q_politeness_audit"].spark(
        spark, "/root/testdata/sf0.001"
    )
    c = _op_counts(formatted_plan(df))
    assert c["Exchange"] == 1 and c["Window"] == 1
    assert c["SortMergeJoin"] == 0 and c["BroadcastHashJoin"] == 0


def test_link_rot_broadcasts_the_dim(spark):
    """The link-rot join must broadcast the status dimension — no
    shuffle on the 10^12-row link side for the join; the only
    hash exchange is the per-host rollup."""
    from readembedability_spark.queries import REGISTRY

    df = REGISTRY["q_link_rot"].spark(spark, "/root/testdata/sf0.001")
    c = _op_counts(formatted_plan(df))
    assert c["BroadcastHashJoin"] == 1 and c["SortMergeJoin"] == 0
    assert c["Exchange"] == 1  # per-host aggregate only


def test_robots_precedence_broadcasts_rules(spark):
    """The ruleset dimension must broadcast (never shuffle the url
    side for it); the remaining exchanges serve the per-url winner
    window and the final rollup."""
    from readembedability_spark.queries import REGISTRY

    df = REGISTRY["q_robots_precedence"].spark(
        spark, "/root/testdata/sf0.001"
    )
    c = _op_counts(formatted_plan(df))
    assert c["BroadcastHashJoin"] >= 1
    assert c["Window"] == 1
    assert c["Exchange"] <= 3


def test_https_migration_windows_share_partitioning(spark):
    """Both first/last scheme windows and the per-url aggregate run
    on ONE url_id partitioning (a second url-keyed exchange would
    double the heavy shuffle); the remaining exchanges belong to the
    bounded class rollup's distinct-count expansion."""
    from readembedability_spark.queries import REGISTRY

    df = REGISTRY["q_https_migration"].spark(
        spark, "/root/testdata/sf0.001"
    )
    p = formatted_plan(df)
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
    from readembedability_spark.queries import REGISTRY

    df = REGISTRY["q_crawl_trap_detect"].spark(
        spark, "/root/testdata/sf0.001"
    )
    c = _op_counts(formatted_plan(df))
    assert c["SortMergeJoin"] == 0 and c["BroadcastHashJoin"] == 0


def test_retry_after_single_exchange(spark):
    """The Retry-After ledger is ONE exchange end-to-end: the lead()
    window partitions on host and the final aggregate groups on the
    same key (same shape as the politeness ledger); no joins."""
    from readembedability_spark.queries import REGISTRY

    df = REGISTRY["q_retry_after"].spark(
        spark, "/root/testdata/sf0.001"
    )
    c = _op_counts(formatted_plan(df))
    assert c["Exchange"] == 1 and c["Window"] == 1
    assert c["SortMergeJoin"] == 0 and c["BroadcastHashJoin"] == 0


def test_dom_nesting_shares_doc_exchange(spark):
    """The nesting census pays ONE exchange for the heavy work: the
    cumsum window partitions on doc_id and the per-doc collapse
    groups on the same key (rides the window's partitioning); the
    final census aggregate is the only other exchange, bounded by
    the depth alphabet. No joins."""
    from readembedability_spark.queries import REGISTRY

    df = REGISTRY["q_dom_nesting"].spark(
        spark, "/root/testdata/sf0.001"
    )
    c = _op_counts(formatted_plan(df))
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

    from readembedability_spark.queries import REGISTRY
    from readembedability_spark.textops import dedup
    from test_oracle_parity import SF_DIR

    # connected components runs eagerly; a lazy stand-in keeps the
    # verified-pair subtree in the returned plan
    monkeypatch.setattr(
        dedup,
        "_connected_components",
        lambda spark, edges: edges.select(
            F.col("a").alias("node"), F.col("b").alias("label")
        ),
    )
    df = REGISTRY[name].spark(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "SortAggregate" not in plan
    folds = _doc_keyed_folds(plan)
    assert len(folds) == 1, folds
    assert "min(cast(conv(substring(" in folds[0]
    assert not re.search(r"InMemoryRelation \[doc_id#\d+L?, sh#\d+\]", plan)


#: Plan-shape ceilings of the embedding-similarity family at sf0.01,
#: pinned from the plans before its shared core (textops/ann.py `_cosine`,
#: `_top_k`, `_rerank`, ...) replaced the per-query copies: shuffle
#: Exchanges, nested-loop/cartesian joins, Windows, embeddings scans.
_EMB_PLAN_CEILINGS = {
    "q_ann_cosine": (1, 1, 1, 2),
    "q_ann_lsh": (2, 0, 0, 1),
    "q_ann_bucketed": (3, 0, 1, 2),
    "q_dedup_embedding_bucketed": (3, 0, 0, 2),
    "q_dedup_embedding_clusters": (3, 0, 1, 0),
    "q_ann_ivf": (3, 1, 2, 1),
    "q_ann_ivf_kmeans": (6, 2, 2, 1),
    "q_ann_pq": (5, 0, 3, 1),
    "q_ann_ivf_pq": (10, 2, 4, 1),
    "q_ann_recall": (37, 9, 12, 2),
    "q_dedup_embedding": (0, 1, 0, 2),
    "q_hard_negatives": (3, 0, 1, 2),
}


@pytest.mark.parametrize("name", list(_EMB_PLAN_CEILINGS))
def test_embedding_family_plan_shape(spark, name):
    """No embedding-similarity query gains a shuffle, a nested-loop or
    cartesian join, a window or an embeddings scan over its pinned
    ceiling."""
    import re

    from readembedability_spark.queries import BASELINE_REGISTRY, REGISTRY
    from test_oracle_parity import SF_DIR

    df = {**REGISTRY, **BASELINE_REGISTRY}[name].spark(spark, SF_DIR)
    plan = formatted_plan(df)
    c = _op_counts(plan)
    got = (
        c["Exchange"],
        c["BroadcastNestedLoopJoin"] + c["CartesianProduct"],
        c["Window"],
        len(re.findall(r"^Location: .*embeddings\.parquet\]", plan, re.M)),
    )
    ceiling = _EMB_PLAN_CEILINGS[name]
    assert all(g <= m for g, m in zip(got, ceiling)), (got, ceiling)


#: Plan-shape ceilings of the synthetic-page extraction family at
#: sf0.01, pinned from the plans before the shared harness
#: (harness.py: synthetic_pages, html_page, salted_extract) replaced
#: the per-query copies: shuffle Exchanges, MapInPandas nodes,
#: documents scans. q_pagerank_links runs its rank loop eagerly, so
#: its returned plan no longer holds the extraction.
_EXTRACT_PLAN_CEILINGS = {
    "q_extract_flagship": (1, 1, 1),
    "q_extract_archetypes": (1, 1, 1),
    "q_extract_blocks": (1, 1, 1),
    "q_extract_table": (1, 1, 1),
    "q_extract_meta": (1, 1, 1),
    "q_extract_jsonld": (1, 1, 1),
    "q_extract_embed": (1, 1, 1),
    "q_extract_feeds": (1, 1, 1),
    "q_extract_charset": (1, 1, 1),
    "q_extract_keywords": (1, 1, 1),
    "q_extract_keywords_text": (1, 1, 1),
    "q_extract_pdf": (1, 1, 1),
    "q_extract_pdf_flate": (1, 1, 1),
    "q_extract_pdf_chain": (1, 1, 1),
    "q_extract_pdf_tm": (1, 1, 1),
    "q_metrics_rollup": (2, 1, 1),
    "q_extract_clientmeta": (1, 1, 1),
    "q_extract_robotsmeta": (1, 1, 1),
    "q_extract_links": (1, 1, 1),
    "q_pagerank_links": (7, 0, 0),
    "q_crawl_frontier": (3, 1, 2),
    "q_anchor_text_index": (2, 1, 1),
    "q_frontier_schedule": (14, 2, 3),
    "q_frontier_robots": (5, 2, 4),
}


@pytest.mark.parametrize("name", list(_EXTRACT_PLAN_CEILINGS))
def test_extraction_family_plan_shape(spark, name):
    """No synthetic-page extraction query gains a shuffle, a Python
    boundary or a documents scan over its pinned ceiling."""
    import re

    from readembedability_spark.flagship import flagship_extract
    from readembedability_spark.queries import REGISTRY
    from test_oracle_parity import SF_DIR

    build = (
        flagship_extract
        if name == "q_extract_flagship"
        else REGISTRY[name].spark
    )
    plan = formatted_plan(build(spark, SF_DIR))
    got = (
        _op_counts(plan)["Exchange"],
        len(re.findall(r"^\(\d+\) MapInPandas\s*$", plan, re.M)),
        len(re.findall(r"^Location: .*documents\.parquet\]", plan, re.M)),
    )
    ceiling = _EXTRACT_PLAN_CEILINGS[name]
    assert all(g <= m for g, m in zip(got, ceiling)), (got, ceiling)


#: Plan-shape ceilings of the round-loop family at sf0.01, pinned from
#: the plans before the loops shared one round-loop core (queries.py
#: `_iterate`): shuffle Exchanges and checkpoint scans (Scan
#: ExistingRDD). A loop whose rounds lose their anchor re-derives every
#: earlier round in its returned plan and breaks the Exchange ceiling.
_LOOP_PLAN_CEILINGS = {
    "q_pagerank": (7, 6),
    "q_pagerank_incremental": (10, 6),
    "q_pagerank_links": (7, 6),
    "q_trustrank": (22, 12),
    "q_label_prop": (5, 4),
    "q_redirect_resolve": (4, 2),
    "q_link_depth": (4, 2),
    "q_dedup_clusters": (3, 2),
    "q_bpe_train": (0, 1),
    "q_bpe_train64": (0, 1),
}


@pytest.mark.parametrize("name", list(_LOOP_PLAN_CEILINGS))
def test_loop_family_plan_shape(spark, name):
    """No round-loop query gains a shuffle or a checkpoint scan over
    its pinned ceiling."""
    import re

    from readembedability_spark.queries import REGISTRY
    from test_oracle_parity import SF_DIR

    plan = formatted_plan(REGISTRY[name].spark(spark, SF_DIR))
    got = (
        _op_counts(plan)["Exchange"],
        len(re.findall(r"^\(\d+\) Scan ExistingRDD", plan, re.M)),
    )
    ceiling = _LOOP_PLAN_CEILINGS[name]
    assert all(g <= m for g, m in zip(got, ceiling)), (got, ceiling)


def test_plan_digest_reads_expand_group_ids_as_unknown():
    """Two optimized plannings of q_approx_distinct in one session
    (sf0.01) whose Expand differs only in how the distinct groups are
    numbered normalize to one string."""
    import importlib.util

    path = Path(__file__).resolve().parent.parent / "bench" / "plans.py"
    spec = importlib.util.spec_from_file_location("bench_plans", path)
    plans = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(plans)
    a = (
        "   +- Expand [[null, null, 0, user_id#337L, event_id#335L], "
        "[user_id#337L, null, 1, null, null], "
        "[null, event_id#335L, 2, null, null]], "
        "[user_id#3637L, event_id#3638L, gid#3636, user_id#3639L, "
        "event_id#3640L]"
    )
    b = (
        "   +- Expand [[null, null, 0, user_id#11877L, event_id#11875L], "
        "[event_id#11875L, null, 1, null, null], "
        "[null, user_id#11877L, 2, null, null]], "
        "[event_id#15177L, user_id#15178L, gid#15176, user_id#15179L, "
        "event_id#15180L]"
    )
    assert plans.normalize(a) == plans.normalize(b)
