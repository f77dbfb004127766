"""Round-5 guarantees (VERDICT r04 tasks): iteration-loop parallelism
derived from input row counts instead of hard-coded constants (BPE,
classifier training, PageRank), per-round BPE vocab checkpointing
(bounded plan growth), and the compact driver-parseable bench record.
"""

from __future__ import annotations

import readembedability_spark.queries as queries
from readembedability_spark.queries import (
    REGISTRY,
    _parts_for,
    release_caches,
    _resize,
)
from readembedability_spark.textops import training
from readembedability_spark.textops.graph import (
    frontier_counts_from,
    unseen_links_from,
)
from helpers import SF_SMALL, formatted_plan, job_module, write_docs


# ---------------------------------------------------------------------------
# _parts_for / _resize primitives
# ---------------------------------------------------------------------------


def test_parts_for_ceil_and_floor():
    assert _parts_for(0) == 1
    assert _parts_for(1) == 1
    assert _parts_for(queries.ITER_ROWS_PER_PART) == 1
    assert _parts_for(queries.ITER_ROWS_PER_PART + 1) == 2
    assert _parts_for(10 * queries.ITER_ROWS_PER_PART) == 10
    # explicit density override
    assert _parts_for(100, 10) == 10
    assert _parts_for(101, 10) == 11


def test_resize_shrink_is_narrow_grow_is_shuffle(spark):
    df = spark.range(0, 1000, 1, 8)
    assert _resize(df, 2).rdd.getNumPartitions() == 2
    assert _resize(df, 8) is df  # no-op at equal count
    assert _resize(df, 16).rdd.getNumPartitions() == 16
    # shrinking must be a narrow coalesce: no Exchange in the plan
    plan = _resize(df, 2)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    # growing repartitions (an Exchange is expected and required —
    # otherwise "grow" would silently stay at the old width)
    plan_g = _resize(df, 16)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in plan_g, plan_g


# ---------------------------------------------------------------------------
# VERDICT r04 #3 — BPE pair-count stage runs multi-partition when the
# vocab is wide (partition count derived from vocab row count)
# ---------------------------------------------------------------------------


def test_bpe_vocab_parallelism_derived_from_rows(spark, monkeypatch):
    """With the partition density forced below the fixture's vocab
    size, the training vocab table (and therefore every round's
    pair-count stage input) must fan out to >1 partition — the old
    coalesce(1) pinned it to a single task at any scale — and the
    learned merge table must be IDENTICAL to the default-sizing run
    (training is partitioning-invariant: pair counts are exact
    integer sums)."""
    merges_default, words_default = training._bpe_train(spark, SF_SMALL)
    # materialize BEFORE release_caches: the vocab is checkpoint-backed
    # and its truncated lineage cannot recompute after release
    b = {r["word"]: r["seq"] for r in words_default.collect()}
    release_caches(spark)

    n_vocab = training._bpe_words(spark, SF_SMALL).count()
    assert n_vocab > 8  # fixture sanity: density below forces >1 part

    monkeypatch.setattr(queries, "ITER_ROWS_PER_PART", 8)
    merges_wide, words_wide = training._bpe_train(spark, SF_SMALL)
    assert words_wide.rdd.getNumPartitions() == _parts_for(n_vocab, 8)
    assert words_wide.rdd.getNumPartitions() > 1
    assert merges_wide == merges_default
    # and the fully-merged vocab matches row-for-row
    a = {r["word"]: r["seq"] for r in words_wide.collect()}
    assert a == b


def test_bpe_round_plan_stays_bounded(spark, monkeypatch):
    """VERDICT r04 #4: each merge round localCheckpoints the rewritten
    vocab, so the final table's plan is a checkpoint scan whose size
    does NOT grow with the merge count (the old lazy replace-chain
    re-evaluated r stacked replaces at round r — O(R²) total work,
    unusable at realistic merge counts)."""
    monkeypatch.setattr(training, "_BPE_MERGES", 4)
    _, words4 = training._bpe_train(spark, SF_SMALL)
    plan4 = words4._jdf.queryExecution().executedPlan().toString()
    release_caches(spark)

    monkeypatch.setattr(training, "_BPE_MERGES", 12)
    _, words12 = training._bpe_train(spark, SF_SMALL)
    plan12 = words12._jdf.queryExecution().executedPlan().toString()

    # a checkpoint scan plan: no replace chain survives into it, and
    # tripling the merge count must not grow the plan materially
    assert "replace" not in plan12.lower(), plan12
    assert len(plan12) <= int(len(plan4) * 1.2) + 200, (
        len(plan4),
        len(plan12),
    )


# ---------------------------------------------------------------------------
# VERDICT r04 #3 — classifier-training parallelism derived from feats
# ---------------------------------------------------------------------------


def test_lrn_feats_parallelism_derived_from_rows(spark, monkeypatch):
    """The per-round doc-keyed shuffle width follows the doc-feature
    table's row count (the old coalesce(8) pinned 10 rounds × 2
    shuffles to parallelism 8 at any corpus size), and the trained
    weights are partitioning-invariant (exact fixed-point sums)."""
    monkeypatch.setattr(training, "_LRN_ROUNDS", 2)
    feats_d, _, w_d = training._lrn_train(spark, SF_SMALL)
    w_default = {r["b"]: r["w"] for r in w_d.collect()}
    release_caches(spark)

    monkeypatch.setattr(queries, "ITER_ROWS_PER_PART", 1000)
    feats_w, _, w_w = training._lrn_train(spark, SF_SMALL)
    n_feats = feats_w.count()
    assert n_feats > 1000
    assert feats_w.rdd.getNumPartitions() == _parts_for(n_feats, 1000)
    assert feats_w.rdd.getNumPartitions() > 1
    assert {r["b"]: r["w"] for r in w_w.collect()} == w_default


# ---------------------------------------------------------------------------
# VERDICT r04 #3 — PageRank rank-table width derived from node count
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# A-23 — outbound-link extraction rules (L-1..L-6)
# ---------------------------------------------------------------------------


def _links(root, page_url):
    """The link column of extract_anchors (rules L-1..L-6)."""
    from readembedability_spark.extractor.links import extract_anchors

    return [link for link, _, _ in extract_anchors(root, page_url)]


def test_extract_links_rules():
    from readembedability_spark.extractor.dom import parse_html

    html = """<html><head><base href="/sub/"></head><body>
      <nav><a href="/">home</a></nav>
      <a href="page.html">rel-to-base</a>
      <a href="https://other.example.org/x#frag">abs-frag</a>
      <a href="#top">frag-only</a>
      <a href="mailto:u@example.com">mail</a>
      <a href="javascript:void(0)">js</a>
      <a href="  https://other.example.org/x  ">dup-after-strip</a>
      <a name="anchor-no-href">skip</a>
      <a href="">empty</a>
    </body></html>"""
    links = _links(parse_html(html), "https://host.example.com/a/b.html")
    assert links == [
        # L-1 document order; L-3 base-href resolution
        "https://host.example.com/",
        "https://host.example.com/sub/page.html",
        # L-5 fragment stripped; L-6 second occurrence deduped
        "https://other.example.org/x",
    ]


def test_extract_links_scheme_case_and_base_selection():
    """L-4: scheme matching is case-insensitive and the output scheme
    is lowercased; L-3: the base is the first <base> WITH an href —
    an hrefless <base target=...> before it must not mask it."""
    from readembedability_spark.extractor.dom import parse_html

    html = """<html><head>
      <base target="_blank"><base href="/sub/"><base href="/ignored/">
    </head><body>
      <a href="HTTP://Upper.example.com/X">u</a>
      <a href="rel.html">r</a>
    </body></html>"""
    links = _links(parse_html(html), "https://h.example.com/a/b")
    assert links == [
        "http://Upper.example.com/X",  # scheme lowercased, rest intact
        "https://h.example.com/sub/rel.html",  # second base (with href) wins
    ]


def test_extract_anchors_text_rule():
    """L-7: anchor text is the whitespace-collapsed text_content of
    the FIRST occurrence of each deduped link; empty for contentless
    anchors."""
    from readembedability_spark.extractor.dom import parse_html
    from readembedability_spark.extractor.links import extract_anchors

    html = """<html><body>
      <a href="https://a.example.com/x">  First   <b>bold</b> text </a>
      <a href="https://a.example.com/x">second occurrence ignored</a>
      <a href="https://b.example.com/y"><img src="i.png"></a>
    </body></html>"""
    anchors = extract_anchors(parse_html(html), "https://h.example.com/")
    assert anchors == [
        ("https://a.example.com/x", "First bold text", False),
        ("https://b.example.com/y", "", False),
    ]


def test_extract_links_no_base_resolves_against_page_url():
    from readembedability_spark.extractor.dom import parse_html

    html = '<html><body><a href="c.html">x</a><a href="/r">y</a></body></html>'
    links = _links(parse_html(html), "https://h.example.com/a/b.html")
    assert links == [
        "https://h.example.com/a/c.html",
        "https://h.example.com/r",
    ]


def test_crawl_frontier_plan_no_cartesian(spark):
    """The frontier anti-join must stay an equi-join on url: no
    cartesian or broadcast-nested-loop node may appear, and the links
    column must be the only extraction output consumed (column-pruned
    Python boundary)."""
    df = REGISTRY["q_crawl_frontier"].spark(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "Cartesian" not in plan, plan
    assert "BroadcastNestedLoop" not in plan, plan


def test_contamination_report_broadcasts_eval_side(spark):
    """The eval-gram table (tiny) must broadcast into the train-gram
    stream — never the reverse, and never a sort-merge join over the
    corpus gram table."""
    df = REGISTRY["q_contamination_report"].spark(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan


def test_extract_links_property_invariants():
    """Property sweep over adversarial href shapes: output is always
    http(s)-only, fragment-free, duplicate-free, and bounded by the
    anchor count."""
    from readembedability_spark.extractor.dom import parse_html

    hrefs = [
        "a b c", "//proto.example.com/x", "HTTP://UPPER.example/x",
        "ftp://files.example.com/f", "  /sp  ", "?q=1", "../up/../../x",
        "data:text/html,hi", "https://ok.example.com/p#frag#two",
        "vbscript:evil", "https://[bad-ipv6/x", "\\\\backslash",
        "%2e%2e/enc", "tel:+1555", "a" * 3000,
    ]
    html = "<html><body>" + "".join(
        f'<a href="{h}">x</a>' for h in hrefs
    ) + "</body></html>"
    out = _links(parse_html(html), "https://base.example.com/dir/page")
    assert len(out) == len(set(out))
    assert len(out) <= len(hrefs)
    for u in out:
        assert u.startswith(("http://", "https://")), u
        assert "#" not in u, u


def test_pagerank_links_mass_conserved(spark):
    """PageRank over the EXTRACTED link graph: ranks sum to ~1 (the
    dangling-mass term holds on host-level sinks) and every node is a
    host index in range."""
    rows = REGISTRY["q_pagerank_links"].spark(spark, SF_SMALL).collect()
    assert rows
    assert abs(sum(r["pr"] for r in rows) - 1.0) < 1e-3
    assert all(0 <= r["node"] < 20 for r in rows)


# ---------------------------------------------------------------------------
# VERDICT r04 #5 — seeded global shuffle + sharded write
# ---------------------------------------------------------------------------


def test_shuffle_shards_deterministic_permutation(spark):
    """Shard assignment and within-shard order follow the seeded md5
    key exactly (recomputed independently in python); a different
    seed yields a different permutation; shard ids stay in range."""
    import hashlib

    pp = job_module("pretrain_prep")
    docs = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .select("doc_id", "text", "lang")
    )
    packed = pp.pack_sequences(docs, budget=512)
    rows = pp.shuffle_shards(packed, n_shards=4, seed="s1").collect()
    assert rows
    for r in rows:
        k = hashlib.md5(
            f"s1{r['lang']}:{r['seq_id']}".encode()
        ).hexdigest()
        assert r["k"] == k
        assert r["shard"] == int(k[:6], 16) % 4
        assert 0 <= r["shard"] < 4
    # a different seed permutes: at least one sequence changes shard
    rows2 = pp.shuffle_shards(packed, n_shards=4, seed="s2").collect()
    m1 = {(r["lang"], r["seq_id"], r["doc_id"]): r["shard"] for r in rows}
    m2 = {(r["lang"], r["seq_id"], r["doc_id"]): r["shard"] for r in rows2}
    assert set(m1) == set(m2)
    assert m1 != m2


def test_written_shards_match_query_order_md5(spark, tmp_path):
    """End-to-end consistency: the shard files write_shards produces
    are (a) FULLY sorted by (k, doc_id) within every shard — asserted
    directly against keys recomputed in python, stronger than the old
    full-order md5 comparison — and (b) consistent with the bounded
    audit q_shuffle_shards hash-locks (head_md5 over the first
    _AUDIT_HEAD sequences in read order + the key_xor membership
    checksum; VERDICT r05 wrong #2 replaced the full-shard
    collect_list audit with this scale-safe pair)."""
    import hashlib

    import pyarrow.parquet as pq_
    from pyspark.sql import functions as F

    from readembedability_spark.textops import training

    pp = job_module("pretrain_prep")
    docs = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .select("doc_id", "text", "lang")
    )
    # mirror the registered query's parameters exactly
    budget = training._PACK_SEQ_TOKENS
    seed = training._SHUFFLE_SEED
    n_shards = training._SHUFFLE_SHARDS
    toks = docs.select(
        "doc_id", "lang", F.size(F.split("text", " ")).alias("n_tok")
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = toks.withColumn(
        "seq_id",
        F.floor((F.sum("n_tok").over(w) - F.col("n_tok")) / budget).cast(
            "long"
        ),
    )
    shards = pp.shuffle_shards(packed, n_shards, seed)
    out = tmp_path / "shards"
    pp.write_shards(shards, str(out), n_shards)

    expected = {
        r["shard"]: (r["n_seqs"], r["head_md5"], r["key_xor"])
        for r in REGISTRY["q_shuffle_shards"].spark(spark, SF_SMALL).collect()
    }
    head_n = training._AUDIT_HEAD
    seen_shards = set()
    for d in sorted(out.glob("shard=*")):
        shard = int(d.name.split("=")[1])
        seen_shards.add(shard)
        tbl = pq_.read_table(str(d)).to_pylist()  # file order preserved
        # (a) the file rows are fully sorted by (k, doc_id) — the
        # trainer read order, recomputed from scratch
        file_keys = [
            (
                hashlib.md5(
                    f"{seed}{row['lang']}:{row['seq_id']}".encode()
                ).hexdigest(),
                row["doc_id"],
            )
            for row in tbl
        ]
        assert file_keys == sorted(file_keys), f"shard {shard} unsorted"
        # (b) the bounded audit reproduces from the files
        stream = []
        for row in tbl:
            sid = f"{row['lang']}:{row['seq_id']}"
            if not stream or stream[-1] != sid:
                stream.append(sid)
        head = hashlib.md5("|".join(stream[:head_n]).encode()).hexdigest()
        xor = 0
        for sid in stream:
            xor ^= int(
                hashlib.md5(f"{seed}{sid}".encode()).hexdigest()[:12], 16
            )
        assert shard in expected, (shard, expected)
        assert expected[shard] == (len(stream), head, xor), (
            shard,
            expected[shard],
            (len(stream), head, xor),
        )
    assert seen_shards == set(expected)


def test_q_shuffle_shards_no_single_partition_plan(spark):
    """The registered shard query never plans a single-partition
    exchange: the packing window is lang-partitioned and the shard
    rollup is hash-keyed — the seeded permutation needs no global
    sort."""
    df = REGISTRY["q_shuffle_shards"].spark(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "SinglePartition" not in plan, plan
    # the bounded head audit plans as a WindowGroupLimit (map-side
    # top-K pre-prune), not a full-shard sort feeding a collect_list
    assert "WindowGroupLimit" in plan, plan
    # every shard's sequences are disjoint and the totals close
    rows = df.collect()
    assert sum(r["n_seqs"] for r in rows) > 0
    assert len({r["shard"] for r in rows}) == len(rows)


# ---------------------------------------------------------------------------
# VERDICT r04 #7 — substring removal wired into the prep funnel
# ---------------------------------------------------------------------------


def test_prep_remove_dup_substrings_planted_span(spark):
    """Doc A (lower id) keeps the planted 8-gram span; doc B loses
    exactly that span; untouched docs pass through byte-identical."""
    pp = job_module("pretrain_prep")
    span = "alpha bravo charlie delta echo foxtrot golf hotel"
    docs = spark.createDataFrame(
        [
            (1, f"own {span} tail one", "en"),
            (2, f"prefix {span} suffix", "en"),
            (3, "totally unrelated words only here", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    out = {r["doc_id"]: r["text"] for r in pp.remove_dup_substrings(docs).collect()}
    assert span in out[1]
    assert span not in out[2]
    assert out[2] == "prefix suffix"
    assert out[3] == "totally unrelated words only here"


def test_pretrain_prep_substring_stage_composes(spark):
    """The optional stage slots between line dedup and exact dedup:
    output count is ≤ its input count and downstream stages still
    run on the cleaned text."""
    pp = job_module("pretrain_prep")
    docs = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .select("doc_id", "text", "lang")
    )
    gated = pp.gate(docs, 20, pp.DEFAULT_BADWORDS)
    cleaned = pp.dedup_lines_global(spark, gated)
    n_before = cleaned.count()
    scrubbed = pp.remove_dup_substrings(cleaned)
    n_after = scrubbed.count()
    assert 0 < n_after <= n_before
    # cleaned text flows on: packing still works over the scrubbed set
    packed = pp.pack_sequences(scrubbed, budget=512)
    assert packed.count() == n_after


# ---------------------------------------------------------------------------
# Round-5 analytics ops — semantic checks beyond oracle parity
# ---------------------------------------------------------------------------


def test_split_holdout_proportions_and_determinism(spark):
    """~90/5/5 split, stable across runs, partitions the corpus."""
    rows1 = REGISTRY["q_split_holdout"].spark(spark, SF_SMALL).collect()
    rows2 = REGISTRY["q_split_holdout"].spark(spark, SF_SMALL).collect()
    as_map = lambda rows: {  # noqa: E731
        (r["split"], r["lang"]): (r["n_docs"], r["n_tokens"]) for r in rows
    }
    assert as_map(rows1) == as_map(rows2)
    by_split: dict = {}
    for r in rows1:
        by_split[r["split"]] = by_split.get(r["split"], 0) + r["n_docs"]
    total = sum(by_split.values())
    assert total == 500  # sf0.001 corpus partitioned exactly
    assert 0.80 <= by_split["train"] / total <= 0.97
    assert 0 < by_split.get("val", 0) < 0.15 * total
    assert 0 < by_split.get("test", 0) < 0.15 * total


def test_contamination_report_planted_leak(spark, tmp_path):
    """An eval doc sharing a 13-gram with a train doc reports the
    leak; a clean eval doc reports 0."""
    leak = " ".join(f"w{i}" for i in range(13))
    clean = " ".join(f"c{i}" for i in range(14))
    texts = {20: f"{leak} tail", 40: clean, 7: f"head {leak} end"}
    write_docs(
        tmp_path, [(d, t, "en", "synth", len(t)) for d, t in texts.items()]
    )
    rows = {
        r["eval_doc_id"]: r
        for r in REGISTRY["q_contamination_report"]
        .spark(spark, str(tmp_path))
        .collect()
    }
    # doc 20 (eval) leaks both its 13-grams ("w0..w12", "w1..w12 tail"
    # is not a train gram — only the planted one matches doc 7)
    assert rows[20]["n_leaked"] >= 1
    assert rows[20]["leak_frac"] > 0
    assert rows[40]["n_leaked"] == 0 and rows[40]["leak_frac"] == 0.0


def test_mixture_temperature_flattens_shares(spark):
    """Temperature scaling moves every share toward uniform: the
    dominant lang's temp share is below its raw share, tail langs
    rise; shares still sum to ~1."""
    rows = REGISTRY["q_mixture_temperature"].spark(spark, SF_SMALL).collect()
    assert abs(sum(r["temp_share"] for r in rows) - 1.0) < 1e-4
    top = max(rows, key=lambda r: r["n_docs"])
    bottom = min(rows, key=lambda r: r["n_docs"])
    assert top["temp_share"] < top["raw_share"]
    assert bottom["temp_share"] > bottom["raw_share"]


def test_crawl_graph_job_composes(spark, tmp_path):
    """The crawl-graph job stages compose: extraction yields 3 links
    per page, host authority sums to ~1, the frontier excludes every
    corpus url, and the authority prior joins back onto all pages."""
    from readembedability_spark.queries import _persist
    from readembedability_spark.textops.graph import _link_pages, _pagerank

    cg = job_module("crawl_graph")
    pages = _link_pages(spark, SF_SMALL)
    n_pages = pages.count()
    links = _persist(cg.extract_link_table(spark, pages))
    assert links.count() == 3 * n_pages
    ranks = _pagerank(spark, cg.host_edges(links))
    pr = {r["node"]: r["pr"] for r in ranks.collect()}
    assert abs(sum(pr.values()) - 1.0) < 1e-3
    fr = frontier_counts_from(unseen_links_from(links, pages)).collect()
    urls = {r["url"] for r in pages.select("url").collect()}
    # frontier is disjoint from the corpus by construction: re-derive
    unseen = {
        r["link"]
        for r in links.select("link").distinct().collect()
        if r["link"] not in urls
    }
    assert sum(r["n_unseen"] for r in fr) == len(unseen)


def test_pagerank_partitioning_invariant(spark, monkeypatch):
    """Forcing the rank table multi-partition (density below the node
    count) must leave every node's PageRank unchanged — the resize is
    plumbing, not semantics — and mass still sums to ~1."""
    base = {
        r["node"]: r["pr"]
        for r in REGISTRY["q_pagerank"].spark(spark, SF_SMALL).collect()
    }
    release_caches(spark)
    monkeypatch.setattr(queries, "ITER_ROWS_PER_PART", 8)
    wide = {
        r["node"]: r["pr"]
        for r in REGISTRY["q_pagerank"].spark(spark, SF_SMALL).collect()
    }
    # tolerance, not ==: summation ORDER changes with partitioning, so
    # a rank sitting exactly on a round-6 boundary could legally flip
    # its last digit (ulp-level float association)
    assert set(base) == set(wide)
    for v in base:
        assert abs(base[v] - wide[v]) <= 1e-6, (v, base[v], wide[v])
    assert abs(sum(wide.values()) - 1.0) < 1e-3
