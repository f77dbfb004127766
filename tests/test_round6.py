"""Round-6 guarantees (VERDICT r05 tasks): authority-prioritized
crawl schedule (q_frontier_schedule + the crawl-graph job stage), no
forced broadcast in the job's annotate stage, the scale-safe shard
audit, and BPE-token-based sequence packing in the prep funnel.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from readembedability_spark.queries import REGISTRY
from readembedability_spark.textops.graph import (
    frontier_counts_from,
    frontier_schedule_from,
    unseen_links_from,
)
from helpers import SF_MED, SF_SMALL, formatted_plan, job_module


# ---------------------------------------------------------------------------
# VERDICT r05 #3 — authority-prioritized frontier schedule
# ---------------------------------------------------------------------------


def test_frontier_schedule_plan_and_cap(spark):
    """The schedule query plans the politeness cap as a
    WindowGroupLimit (map-side pre-prune), contains no cartesian
    product, and never forces a broadcast hint on the host-cardinality
    joins (counts/authority — VERDICT r05 wrong #1 class)."""
    df = REGISTRY["q_frontier_schedule"].spark(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "WindowGroupLimit" in plan, plan
    assert "CartesianProduct" not in plan, plan
    logical = str(df._jdf.queryExecution().logical())  # noqa: SLF001
    assert "UnresolvedHint" not in logical
    rows = df.collect()
    assert rows
    from collections import Counter

    per_host = Counter(r["host"] for r in rows)
    from readembedability_spark.textops.graph import _SCHEDULE_K

    assert max(per_host.values()) <= _SCHEDULE_K
    # slots are 1..min(K, n_unseen) per host, dense
    for h in per_host:
        slots = sorted(r["slot"] for r in rows if r["host"] == h)
        assert slots == list(range(1, len(slots) + 1))


def test_frontier_schedule_priority_is_authority_times_unseen(spark):
    """priority recomputes exactly as round(authority * n_unseen, 6)
    from the two parent queries' own outputs; hosts absent from the
    rank table get priority 0 (the left join keeps discovery alive)."""
    sched = REGISTRY["q_frontier_schedule"].spark(spark, SF_SMALL).collect()
    pr = {
        f"h{r['node']}.example.com": r["pr"]
        for r in REGISTRY["q_pagerank_links"].spark(spark, SF_SMALL).collect()
    }
    unseen = {
        r["host"]: r["n_unseen"]
        for r in REGISTRY["q_crawl_frontier"].spark(spark, SF_SMALL).collect()
    }
    assert sched
    for r in sched:
        assert r["n_unseen"] == unseen[r["host"]]
        expect = round(pr.get(r["host"], 0.0) * r["n_unseen"], 6)
        assert abs(r["priority"] - expect) < 1e-9, (r, expect)


# ---------------------------------------------------------------------------
# VERDICT r05 #4 — crawl-graph job: no forced broadcast, schedule stage
# ---------------------------------------------------------------------------


def test_crawl_graph_annotate_no_forced_broadcast(spark):
    """annotate_pages must not carry a broadcast hint: the rank table
    is host-count-sized (~1e8 rows at web scale) — AQE may still
    broadcast when it measures small, but nothing may override its
    size check."""
    from readembedability_spark.textops.graph import _link_pages

    cg = job_module("crawl_graph")
    pages = _link_pages(spark, SF_SMALL)
    ranks = spark.createDataFrame(
        [("h1.example.com", 0.5)], "host string, authority double"
    )
    df = cg.annotate_pages(pages, ranks)
    logical = str(df._jdf.queryExecution().logical())  # noqa: SLF001
    assert "UnresolvedHint" not in logical
    assert "broadcast" not in logical.lower()
    assert df.count() == pages.count()


# ---------------------------------------------------------------------------
# q_ann_ivf_pq — composed IVF-PQ index
# ---------------------------------------------------------------------------


def test_ann_ivf_pq_never_pairwise(spark):
    """IVF-PQ touches vectors only through cell/subspace/codebook
    equi-joins and broadcast codebook/LUT — never an all-pairs compare
    of the vector table against itself. The only nested-loop joins
    allowed are the intentional k-means n x k centroid compares
    (q_ann_ivf_kmeans' own shape): exactly one per _km_assign call —
    2 Lloyd rounds + final cell assignment + query probe = 4. A
    regression that nested-loops any OTHER pair of frames (e.g. the
    corpus against itself) raises the count and fails here."""
    df = REGISTRY["q_ann_ivf_pq"].spark(spark, SF_MED)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    n_bnlj = plan.count("BroadcastNestedLoopJoin")
    assert n_bnlj <= 4, (n_bnlj, plan)


def test_ann_recall_gate_includes_ivf_pq(spark):
    """The driver-checked recall gate now scores all four ANN methods,
    and every one clears its floor at sf0.01."""
    rows = {
        r["method"]: (r["recall"], r["passed"])
        for r in REGISTRY["q_ann_recall"]
        .spark(spark, SF_MED)
        .collect()
    }
    assert set(rows) == {
        "ann_bucketed",
        "ann_ivf_kmeans",
        "ann_pq",
        "ann_ivf_pq",
    }
    for method, (recall, passed) in rows.items():
        assert passed, (method, recall)


def test_sample_quality_zero_shuffle_and_rule(spark):
    """q_sample_quality is a pure pushed-down filter (no Exchange in
    the plan) and keeps exactly the docs whose seeded uniform hash
    falls below their quality score (recomputed in python)."""
    import hashlib
    import re

    df = REGISTRY["q_sample_quality"].spark(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert not re.search(r"\n\(\d+\) Exchange", plan), plan
    kept = {r["doc_id"]: r["quality"] for r in df.collect()}
    quality = {
        r["doc_id"]: r["quality"]
        for r in REGISTRY["q_quality_score"].spark(spark, SF_SMALL).collect()
    }
    for doc_id, q in quality.items():
        u = int(hashlib.md5(f"qs{doc_id}".encode()).hexdigest()[:6], 16) / (
            16**6
        )
        assert (doc_id in kept) == (u < q), (doc_id, u, q)
        if doc_id in kept:
            assert kept[doc_id] == q


# ---------------------------------------------------------------------------
# pretrain_prep --resume: funnel checkpoint re-entry
# ---------------------------------------------------------------------------


def test_pretrain_prep_resume_skips_funnel_same_shards(tmp_path):
    """A resumed run re-enters from the committed curated table (no
    funnel recompute — stats prove it) and writes byte-identical shard
    order."""
    import hashlib
    import json
    import subprocess
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    out = tmp_path / "prep"
    cmd = [
        sys.executable,
        str(repo / "jobs" / "pretrain_prep.py"),
        "--input",
        f"{SF_SMALL}/documents.parquet",
        "--output",
        str(out),
        "--master",
        "local[4]",
        "--pack-merges",
        "0",  # whitespace packing keeps the smoke fast
    ]

    def shard_digest():
        h = hashlib.md5()
        import pyarrow.parquet as pq_

        for d in sorted(out.glob("shards/shard=*")):
            for row in pq_.read_table(str(d)).to_pylist():
                h.update(
                    f"{d.name}|{row['lang']}:{row['seq_id']}:{row['doc_id']}".encode()
                )
        return h.hexdigest()

    r1 = subprocess.run(cmd, capture_output=True, text=True, timeout=400)
    assert r1.returncode == 0, r1.stderr[-2000:]
    s1 = json.loads(r1.stdout.strip().splitlines()[-1])
    d1 = shard_digest()
    r2 = subprocess.run(
        cmd + ["--resume"], capture_output=True, text=True, timeout=400
    )
    assert r2.returncode == 0, r2.stderr[-2000:]
    s2 = json.loads(r2.stdout.strip().splitlines()[-1])
    assert s2.get("resumed_from") == "curated"
    assert "after_gates" not in s2  # the funnel genuinely did not run
    assert s2["after_decontamination"] == s1["after_decontamination"]
    assert s2["shard_rows"] == s1["shard_rows"]
    assert shard_digest() == d1
    # changed funnel flags must REFUSE the stale checkpoint and re-run
    # the funnel (the curated_meta.json fingerprint mismatch path)
    r3 = subprocess.run(
        cmd + ["--resume", "--min-tokens", "25"],
        capture_output=True,
        text=True,
        timeout=400,
    )
    assert r3.returncode == 0, r3.stderr[-2000:]
    s3 = json.loads(r3.stdout.strip().splitlines()[-1])
    assert s3.get("resume_skipped") == "param_mismatch"
    assert "resumed_from" not in s3
    assert "after_gates" in s3  # the funnel DID run


# ---------------------------------------------------------------------------
# corpus_report job — the datasheet composition
# ---------------------------------------------------------------------------


def test_corpus_report_sections_compose(spark):
    """Datasheet sections recompute: the funnel matches the registry
    query over the same table, exact-dup rate counts a planted
    duplicate, and the temperature mixture flattens shares toward
    uniform while summing to 1."""
    import math

    cr = job_module("corpus_report")
    from readembedability_spark.textops.curation import filter_funnel_from

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    reg = {
        r["stage"]: (r["n_docs"], r["n_tokens"], r["frac"])
        for r in REGISTRY["q_filter_funnel"].spark(spark, SF_SMALL).collect()
    }
    job = {
        r["stage"]: (r["n_docs"], r["n_tokens"], r["frac"])
        for r in filter_funnel_from(docs).collect()
    }
    assert reg == job
    # planted exact duplicate
    dup = docs.limit(1).withColumn("doc_id", F.col("doc_id") + 1000000)
    dd = cr.dedup_rates(spark, docs.union(dup)).collect()[0]
    assert dd["n_exact_dups"] >= 1
    assert dd["n_docs"] == docs.count() + 1
    mix = cr.language_mixture(docs).collect()
    shares = {r["lang"]: r["token_share"] for r in mix}
    weights = {r["lang"]: r["train_weight"] for r in mix}
    assert math.isclose(sum(weights.values()), 1.0, abs_tol=1e-4)
    hi = max(shares, key=shares.get)
    lo = min(shares, key=shares.get)
    # sqrt temperature flattens: the biggest language loses share,
    # the smallest gains
    assert weights[hi] < shares[hi]
    assert weights[lo] > shares[lo]
    lens = cr.length_distribution(docs).collect()[0]
    assert lens["min_tok"] <= lens["p50"] <= lens["max_tok"]


# ---------------------------------------------------------------------------
# VERDICT r05 #2 — pack on trained-BPE token counts
# ---------------------------------------------------------------------------


def test_bpe_token_counts_match_registry_tokenizer(spark):
    """The job's bpe_token_counts (train-on-these-docs + broadcast
    apply) reproduces exactly the registry tokenizer's per-doc
    n_bpe_tokens when run over the same documents table."""
    pp = job_module("pretrain_prep")
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    got = {
        r["doc_id"]: r["n_tok"]
        for r in pp.bpe_token_counts(spark, docs, 16).collect()
    }
    want = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in REGISTRY["q_bpe_tokenize"].spark(spark, SF_SMALL).collect()
    }
    assert got == want


def test_pack_sequences_bins_by_supplied_token_counts(spark):
    """pack_sequences with a token_counts table sizes bins by THOSE
    counts (recomputed in python), not whitespace counts."""
    pp = job_module("pretrain_prep")
    docs = spark.createDataFrame(
        [(i, "en", "w " * (i + 1)) for i in range(10)],
        "doc_id long, lang string, text string",
    )
    counts = spark.createDataFrame(
        [(i, 40 * (i % 3 + 1)) for i in range(10)],
        "doc_id long, n_tok long",
    )
    budget = 100
    rows = sorted(
        pp.pack_sequences(docs, budget, counts).collect(),
        key=lambda r: r["doc_id"],
    )
    running = 0
    for r in rows:
        assert r["n_tok"] == 40 * (r["doc_id"] % 3 + 1)  # BPE, not ws
        assert r["seq_id"] == running // budget
        running += r["n_tok"]


def test_crawl_graph_schedule_stage_composes(spark):
    """The job's schedule stage caps per-host slots, scores priority
    as authority x unseen, and gives rank-less hosts priority 0."""
    from readembedability_spark.queries import _persist
    from readembedability_spark.textops.graph import _link_pages, _pagerank

    cg = job_module("crawl_graph")
    pages = _link_pages(spark, SF_SMALL)
    links = _persist(cg.extract_link_table(spark, pages))
    ranks = _pagerank(spark, cg.host_edges(links)).withColumnsRenamed(
        {"node": "host", "pr": "authority"}
    )
    unseen = unseen_links_from(links, pages)
    fr = frontier_counts_from(unseen)
    sched = frontier_schedule_from(unseen, fr, ranks, 2).collect()
    assert sched
    from collections import Counter

    per_host = Counter(r["host"] for r in sched)
    assert max(per_host.values()) <= 2
    auth = {r["host"]: r["authority"] for r in ranks.collect()}
    unseen = {r["host"]: r["n_unseen"] for r in fr.collect()}
    for r in sched:
        expect = round(auth.get(r["host"], 0.0) * unseen[r["host"]], 6)
        assert abs(r["priority"] - expect) < 1e-9
    # scheduled urls are genuinely unseen
    urls = {r["url"] for r in pages.select("url").collect()}
    assert all(r["link"] not in urls for r in sched)
