"""Round-4 guarantees (VERDICT r03 tasks): map-side-combinable k-means
assignment, head-broadcast perplexity joins, dangling-mass PageRank,
two-stage vocab coverage, cross-doc substring REMOVAL, deterministic
BPE train+apply, distributed classifier training, and the multiline
corpus line ops."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from readembedability_spark.queries import REGISTRY
from readembedability_spark.textops import ann, training
from helpers import SF_MED, SF_SMALL, formatted_plan, planted_con, write_docs


# ---------------------------------------------------------------------------
# VERDICT r03 #6 — k-means training assignment has no window
# ---------------------------------------------------------------------------


def test_km_assign_nprobe1_has_no_window(spark):
    """The nprobe=1 assignment (the 3-round training loop's hot path)
    must be a partial-aggregable max_by groupBy: no Window node, no
    Sort over the n×k scored rows — the map-side combine shrinks n×k
    to n before the only exchange."""
    emb = (
        spark.read.parquet(f"{SF_MED}/embeddings.parquet")
        .select("vec_id", F.col("embedding").alias("v"))
    )
    cents = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("c")
    )
    df = ann._km_assign(emb, cents, nprobe=1)
    plan = formatted_plan(df)
    assert not re.search(r"\n\(\d+\) Window", plan), plan
    assert not re.search(r"\n\(\d+\) Sort", plan), plan
    # exactly one exchange: the vec_id hash partitioning for the final
    # aggregate (the centroid side is broadcast)
    n_exchange = len(re.findall(r"\n\(\d+\) Exchange", plan))
    assert n_exchange == 1, plan
    # and the multi-probe branch still uses the window top-p
    plan2 = formatted_plan(ann._km_assign(emb, cents, nprobe=2))
    assert re.search(r"\n\(\d+\) Window", plan2)


def test_km_assign_nprobe1_matches_window_branch(spark):
    """max_by branch and window branch agree row-for-row (same rounded
    cosine ordering, same centroid-id tie-break)."""
    emb = (
        spark.read.parquet(f"{SF_MED}/embeddings.parquet")
        .select("vec_id", F.col("embedding").alias("v"))
        .limit(200)
    )
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("c")
    )
    fast = {
        r["vec_id"]: r["cell"]
        for r in ann._km_assign(emb, cents, nprobe=1).collect()
    }
    # the window branch's ACTUAL top-1 (ADVICE r04: set membership in
    # the nprobe=2 pair was too weak — a tie-break or rounding
    # divergence between the max_by long encoding and the window's
    # (desc round(cos,6), asc cid) ordering would have slipped
    # through): replicate the exact window ordering and take rn == 1.
    from pyspark.sql import Window

    cos = ann._dot(F.col("v"), F.col("c")) / (
        F.sqrt(ann._dot(F.col("v"), F.col("v")))
        * F.sqrt(ann._dot(F.col("c"), F.col("c")))
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.desc(F.round(cos, 6)), F.asc("cid")
    )
    top1 = {
        r["vec_id"]: r["cell"]
        for r in emb.crossJoin(F.broadcast(cents))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("cid").alias("cell"))
        .collect()
    }
    assert fast == top1


# ---------------------------------------------------------------------------
# VERDICT r03 #7 — perplexity joins: head broadcast, tail-only shuffle
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("name", ["q_unigram_logloss", "q_bigram_lm_bits"])
def test_perplexity_join_head_broadcast(spark, name):
    """The Zipf-skewed token→frequency scoring join is split: hot keys
    resolve through a BroadcastHashJoin against the top-K head; only
    anti-joined tail tokens reach a shuffle join, so its key
    distribution is flat by construction."""
    plan = formatted_plan(REGISTRY[name].spark(spark, SF_MED))
    # the head join and the head-exclusion anti-join are broadcast
    assert "BroadcastHashJoin" in plan, plan
    assert "LeftAnti" in plan, plan


# ---------------------------------------------------------------------------
# VERDICT r03 #8 — PageRank dangling-mass redistribution
# ---------------------------------------------------------------------------


def test_pagerank_graph_has_sinks_and_conserves_mass(spark):
    """The synthetic graph drops out-edges of nodes ≡ 0 mod 11, so real
    sinks exist; with the dangling-redistribution term total rank mass
    stays 1.0 every iteration (without it, ~the sinks' share leaks per
    iteration and the total drifts well below 1)."""
    res = REGISTRY["q_pagerank"].spark(spark, SF_MED).collect()
    nodes = {r["node"] for r in res}
    sink_candidates = {v for v in nodes if v % 11 == 0}
    assert sink_candidates, "fixture graph lost its sinks"
    total = sum(r["pr"] for r in res)
    assert abs(total - 1.0) < 1e-3, total
    # sinks still receive rank (they have in-edges) — and more than
    # the bare teleport floor, since inflow reaches them
    floor = 0.15 / len(nodes)
    assert all(
        r["pr"] > floor for r in res if r["node"] in sink_candidates
    ), res


# ---------------------------------------------------------------------------
# VERDICT r03 #9 — vocab coverage: no single-partition window
# ---------------------------------------------------------------------------


def test_vocab_coverage_no_single_partition_window(spark):
    """The rank/cumsum over the vocab table is range-partitioned: no
    Window may sit downstream of an Exchange SinglePartition (the only
    SinglePartition allowed is the 1-row scalar `tot` gather)."""
    plan = formatted_plan(REGISTRY["q_vocab_coverage"].spark(spark, SF_MED))
    assert "rangepartitioning" in plan, plan
    tree = plan.split("\n\n")[0].splitlines()
    # map exchange node id -> its Arguments line from the detail section
    single_ids = set(
        re.findall(
            r"\((\d+)\) Exchange\nInput.*\nArguments: SinglePartition",
            plan,
        )
    )
    for i, line in enumerate(tree):
        m = re.search(r"\(\d+\) Window", line)
        if not m:
            continue
        for below in tree[i + 1 :]:
            em = re.search(r"\((\d+)\) Exchange", below)
            if em:
                assert em.group(1) not in single_ids, plan
                break


def test_ranked_cumsum_matches_global_window(spark):
    """_grouped_cumsum over one constant group == the global-window
    result, across partition boundaries (forced tiny partitions so
    offsets actually apply)."""
    from pyspark.sql import Window

    rows = [(f"w{i:03d}", (i * 37) % 101 + 1) for i in range(100)]
    cf = spark.createDataFrame(rows, "w string, c long")
    got = {
        r["w"]: (r["rnk"], r["cum"])
        for r in training._grouped_cumsum(
            cf.withColumn("g", F.lit("")),
            "g",
            [F.desc("c"), F.asc("w")],
            "c",
            parts=7,
        ).collect()
    }
    w = Window.orderBy(F.desc("c"), F.asc("w"))
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    want = {
        r["w"]: (r["rnk"], r["cum"])
        for r in cf.select(
            "w",
            F.row_number().over(w).cast("long").alias("rnk"),
            F.sum("c").over(wc).alias("cum"),
        ).collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# VERDICT r03 #1 — cross-doc duplicated-substring removal
# ---------------------------------------------------------------------------


def test_substring_removal_cuts_span_from_later_doc_only(spark, tmp_path):
    """A shared 8-gram run is kept in the first (lowest doc_id) doc and
    excised from the later one; the later doc's unique text survives."""
    span = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    a = f"unique one two three {span} four five six seven"
    b = f"tail nine ten eleven twelve {span} thirteen fourteen fifteen sixteen"
    c = "totally distinct words with no overlap at all here today"
    write_docs(
        tmp_path,
        [(i, t, "en", "synth", len(t)) for i, t in enumerate([a, b, c], 1)],
    )
    rows = {
        r["doc_id"]: r
        for r in REGISTRY["q_dedup_substring_removed"]
        .spark(spark, str(tmp_path))
        .collect()
    }
    import hashlib

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    # doc 1 owns the gram: untouched
    assert rows[1]["n_removed"] == 0
    assert rows[1]["clean_md5"] == md5(a)
    # doc 2 loses exactly the 8 shared tokens, keeps everything else
    assert rows[2]["n_removed"] == 8
    expect_b = "tail nine ten eleven twelve thirteen fourteen fifteen sixteen"
    assert rows[2]["clean_md5"] == md5(expect_b)
    # doc 3 untouched
    assert rows[3]["n_removed"] == 0
    assert rows[3]["clean_md5"] == md5(c)


# ---------------------------------------------------------------------------
# VERDICT r03 #2 — deterministic BPE train + broadcast-apply
# ---------------------------------------------------------------------------


def test_bpe_train_merge_table_shape(spark):
    """16 merges, ranks 1..16, pair frequencies non-increasing (greedy
    argmax can never find a later pair more frequent than an earlier
    pick), every merged symbol non-trivial."""
    rows = (
        REGISTRY["q_bpe_train"]
        .spark(spark, SF_MED)
        .orderBy("merge_rank")
        .collect()
    )
    assert [r["merge_rank"] for r in rows] == list(range(1, 17))
    freqs = [r["pair_freq"] for r in rows]
    assert freqs == sorted(freqs, reverse=True), freqs
    assert all(r["lhs"] and r["rhs"] for r in rows)


def test_bpe_seq_reassembles_word_and_shrinks(spark):
    """Invariant: concatenating a word's final symbols reproduces the
    word exactly; merges strictly shrink the corpus-wide symbol count
    vs character count."""
    _, final_words = training._bpe_train(spark, SF_MED)
    rows = final_words.select(
        "word",
        "freq",
        F.replace("seq", F.lit(training._BPE_D), F.lit("")).alias("joined"),
        (F.size(F.split("seq", training._BPE_D)) - 2).alias("n_syms"),
    ).collect()
    assert rows
    for r in rows:
        assert r["joined"] == r["word"], r
        assert 1 <= r["n_syms"] <= len(r["word"])
    total_syms = sum(r["n_syms"] * r["freq"] for r in rows)
    total_chars = sum(len(r["word"]) * r["freq"] for r in rows)
    assert total_syms < total_chars


def test_bpe_tokenize_counts_bounded_by_words_and_chars(spark):
    """Per-doc BPE token count lies strictly between the whitespace
    word count (merges can't cross word borders) and the char count."""
    got = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in REGISTRY["q_bpe_tokenize"].spark(spark, SF_SMALL).collect()
    }
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id",
        F.size(F.filter(F.split("text", " "), lambda w: w != "")).alias("nw"),
        F.length(F.replace("text", F.lit(" "), F.lit(""))).alias("nc"),
    )
    bounds = {r["doc_id"]: (r["nw"], r["nc"]) for r in docs.collect()}
    assert set(got) == set(bounds)
    for did, n in got.items():
        nw, nc = bounds[did]
        assert nw <= n <= nc, (did, n, nw, nc)


# ---------------------------------------------------------------------------
# VERDICT r03 #3 — distributed classifier training
# ---------------------------------------------------------------------------


def test_model_train_learns_the_label(spark):
    """Training must actually work: accuracy of the learned model on
    its deterministic gopher-pass labels beats the majority class by a
    wide margin (majority ≈ 0.554 at sf0.01; trained ≈ 0.99)."""
    rows = REGISTRY["q_model_score_trained"].spark(spark, SF_MED).collect()
    n = len(rows)
    assert n == 500
    maj = max(
        sum(1 for r in rows if r["label"]),
        sum(1 for r in rows if not r["label"]),
    ) / n
    acc = sum(1 for r in rows if r["correct"]) / n
    assert acc >= 0.95, (acc, maj)
    assert acc > maj + 0.2, (acc, maj)


def test_model_train_weights_nontrivial_and_integer(spark):
    """The weight table covers every observed bucket plus bias and
    length columns, is exactly integer-valued (fixed-point BIGINT),
    and moved away from the zero init."""
    rows = REGISTRY["q_model_train"].spark(spark, SF_MED).collect()
    names = {r["bucket"] for r in rows}
    assert "bias" in names and "len" in names
    assert len(names) > 10
    assert any(r["weight_micro"] != 0 for r in rows)
    # the length feature must dominate: the label is a token-count
    # rule, so |w_len| should be the largest learned weight
    by = {r["bucket"]: r["weight_micro"] for r in rows}
    assert abs(by["len"]) == max(abs(v) for v in by.values())


# ---------------------------------------------------------------------------
# VERDICT r03 #5 — multiline corpus + real '\n' line ops (D-14 closed)
# ---------------------------------------------------------------------------


def test_multiline_fixture_has_real_newlines_and_planted_dups(tmp_path):
    from readembedability_spark.sources.synth import generate_multiline_docs

    p = generate_multiline_docs(tmp_path / "documents.parquet")
    import pyarrow.parquet as pq

    texts = pq.read_table(p).column("text").to_pylist()
    assert all("\n" in t for t in texts)
    dups = [
        t for t in texts if len(t.split("\n")) != len(set(t.split("\n")))
    ]
    assert len(dups) >= 10, len(dups)


def test_lines_within_ml_removes_planted_duplicate_lines(spark, tmp_path):
    """On a REAL newline corpus the op must use the newlines verbatim:
    keep-first per duplicated line, cleaned_md5 = md5 of the
    first-occurrence reconstruction."""
    import hashlib

    from readembedability_spark.sources.synth import generate_multiline_docs

    generate_multiline_docs(tmp_path / "documents.parquet")
    import pyarrow.parquet as pq

    docs = {
        r["doc_id"]: r["text"]
        for r in pq.read_table(tmp_path / "documents.parquet").to_pylist()
    }
    rows = {
        r["doc_id"]: r
        for r in REGISTRY["q_dedup_lines_within_ml"]
        .spark(spark, str(tmp_path))
        .collect()
    }
    assert set(rows) == set(docs)
    removed_any = False
    for did, text in docs.items():
        lines = text.split("\n")
        seen, kept = set(), []
        for ln in lines:
            if ln not in seen:
                seen.add(ln)
                kept.append(ln)
        r = rows[did]
        assert r["n_lines"] == len(lines)
        assert r["n_removed"] == len(lines) - len(kept)
        removed_any |= r["n_removed"] > 0
        want = hashlib.md5("\n".join(kept).encode()).hexdigest()
        assert r["cleaned_md5"] == want, did
    assert removed_any


def test_repetition_lines_ml_counts_real_lines(spark, tmp_path):
    from readembedability_spark.sources.synth import generate_multiline_docs

    generate_multiline_docs(tmp_path / "documents.parquet")
    import pyarrow.parquet as pq

    docs = {
        r["doc_id"]: r["text"]
        for r in pq.read_table(tmp_path / "documents.parquet").to_pylist()
    }
    rows = {
        r["doc_id"]: r
        for r in REGISTRY["q_doc_repetition_lines_ml"]
        .spark(spark, str(tmp_path))
        .collect()
    }
    for did, text in docs.items():
        lines = text.split("\n")
        want_dup = len(lines) - len(set(lines))
        assert rows[did]["n_lines"] == len(lines)
        assert rows[did]["n_dup_lines"] == want_dup


def test_repetition_lines_ml_is_row_local(spark):
    """The dup-line fraction is a pure map: no Exchange in the plan."""
    plan = formatted_plan(REGISTRY["q_doc_repetition_lines_ml"].spark(spark, SF_MED))
    assert "Exchange" not in plan, plan


# ---------------------------------------------------------------------------
# Round-4 widening: global line dedup, badwords, host quota, Bloom decon
# ---------------------------------------------------------------------------


def test_dedup_lines_global_cross_doc_first_occurrence_wins(spark, tmp_path):
    import hashlib

    shared = "alpha beta gamma"
    a = f"first unique line\n{shared}\nmore text here"
    b = f"{shared}\nsecond doc own words\n{shared}"
    c = "completely different content\nnothing shared at all"
    write_docs(
        tmp_path,
        [(i, t, "en", "t", len(t)) for i, t in enumerate([a, b, c], 1)],
    )
    rows = {
        r["doc_id"]: r
        for r in REGISTRY["q_dedup_lines_global"]
        .spark(spark, str(tmp_path))
        .collect()
    }
    md5 = lambda s: __import__("hashlib").md5(s.encode()).hexdigest()  # noqa: E731
    # doc 1 owns `shared` (first occurrence corpus-wide): untouched
    assert rows[1]["n_removed"] == 0 and rows[1]["clean_md5"] == md5(a)
    # doc 2 loses BOTH its occurrences of the shared line
    assert rows[2]["n_removed"] == 2
    assert rows[2]["clean_md5"] == md5("second doc own words")
    assert rows[3]["n_removed"] == 0 and rows[3]["clean_md5"] == md5(c)


_LO, _HI = 2**44, 2**44 + 1


_SHARED = "alpha beta gamma"


_LO_TEXT = f"own words of lo\nmore of lo\n{_SHARED}"


_HI_TEXT = f"{_SHARED}\nown words of hi"


def _large_id_docs(tmp_path) -> str:
    """Two docs with doc_ids near 2**44 (a hashed 63-bit id space)
    sharing one line: an integer owner key doc_id * 10**6 + li
    overflows BIGINT here."""
    rows = [(d, t, "en", "t", len(t)) for d, t in ((_HI, _HI_TEXT), (_LO, _LO_TEXT))]
    return write_docs(tmp_path, rows)


def test_dedup_lines_global_large_doc_ids(spark, tmp_path):
    """Owners are ordered by (doc_id, li) without arithmetic."""
    import hashlib

    rows = {
        r["doc_id"]: (r["n_lines"], r["n_removed"], r["clean_md5"])
        for r in REGISTRY["q_dedup_lines_global"]
        .spark(spark, _large_id_docs(tmp_path))
        .collect()
    }

    def md5(s):
        return hashlib.md5(s.encode()).hexdigest()

    # the lower doc_id owns the shared line although it sits later in
    # that doc (line 3) than in the higher-id doc (line 1)
    assert rows == {
        _LO: (3, 0, md5(_LO_TEXT)),
        _HI: (2, 1, md5("own words of hi")),
    }


def test_dedup_lines_global_large_doc_ids_oracle(spark, tmp_path):
    """The DuckDB oracle orders owners by (doc_id, li) too, so both
    engines agree at doc_ids near 2**44."""
    sf = _large_id_docs(tmp_path)
    spark_rows = sorted(
        tuple(r)
        for r in REGISTRY["q_dedup_lines_global"]
        .spark(spark, sf)
        .select("doc_id", "n_lines", "n_removed", "clean_md5")
        .collect()
    )
    oracle_rows = sorted(
        planted_con(sf).execute(
            "SELECT doc_id, n_lines, n_removed, clean_md5 FROM ("
            + REGISTRY["q_dedup_lines_global"].sql
            + ")"
        ).fetchall()
    )
    assert oracle_rows == spark_rows
    assert [r[:3] for r in oracle_rows] == [(_LO, 3, 0), (_HI, 2, 1)]


def test_badwords_filter_flags_and_keeps(spark):
    rows = REGISTRY["q_badwords_filter"].spark(spark, SF_MED).collect()
    assert len(rows) == 500
    flagged = [r for r in rows if not r["keep"]]
    clean = [r for r in rows if r["keep"]]
    assert flagged and clean  # blocklist words exist in the vocab
    for r in rows:
        assert r["keep"] == (r["n_bad"] == 0)
        assert 0 <= r["n_bad"] <= r["n_tokens"]


def test_badwords_filter_single_exchange(spark):
    plan = formatted_plan(REGISTRY["q_badwords_filter"].spark(spark, SF_MED))
    assert len(re.findall(r"\n\(\d+\) Exchange", plan)) == 1, plan


def test_host_quota_caps_and_keeps_largest(spark):
    rows = REGISTRY["q_host_quota"].spark(spark, SF_MED).collect()
    by_host = {}
    for r in rows:
        by_host.setdefault(r["host"], []).append(r)
    docs = {
        r["doc_id"]: r["n_chars"]
        for r in spark.read.parquet(f"{SF_MED}/documents.parquet")
        .select("doc_id", "n_chars")
        .collect()
    }
    for host, kept in by_host.items():
        assert len(kept) <= 5
        hid = int(host.removeprefix("host").split(".")[0])
        pool = sorted(
            (d for d in docs if d % 50 == hid),
            key=lambda d: (-docs[d], d),
        )
        assert sorted(r["doc_id"] for r in kept) == sorted(pool[:5])


def test_host_quota_plans_window_group_limit(spark):
    plan = formatted_plan(REGISTRY["q_host_quota"].spark(spark, SF_MED))
    assert "WindowGroupLimit" in plan, plan


def test_bloom_decontamination_supersets_exact(spark):
    exact = {
        r["doc_id"]: r["n_hits"]
        for r in REGISTRY["q_decontaminate"].spark(spark, SF_MED).collect()
    }
    bloom = {
        r["doc_id"]: r["n_hits_bloom"]
        for r in REGISTRY["q_decontaminate_bloom"]
        .spark(spark, SF_MED)
        .collect()
    }
    # no false negatives: every exact hit is a bloom hit, count >=
    assert set(exact) <= set(bloom)
    for did, n in exact.items():
        assert bloom[did] >= n, did
    # false-positive overhead is bounded (tiny band collisions)
    extra_docs = len(set(bloom) - set(exact))
    assert extra_docs <= max(5, len(exact)), (extra_docs, len(exact))


def test_bigram_pmi_finds_collocations(spark):
    rows = REGISTRY["q_bigram_pmi"].spark(spark, SF_MED).collect()
    assert len(rows) == 20
    pmis = [r["pmi"] for r in rows]
    assert pmis == sorted(pmis, reverse=True)
    # PMI of a true collocation is positive; the top-20 should all be
    assert all(p > 0 for p in pmis), pmis
    assert all(r["cab"] >= 5 for r in rows)


def test_inverted_index_postings_shape(spark):
    rows = REGISTRY["q_inverted_index"].spark(spark, SF_MED).collect()
    assert rows
    for r in rows:
        posts = r["postings"].split(",")
        assert 1 <= len(posts) <= 3
        tfs = [int(p.split(":")[1]) for p in posts]
        assert tfs == sorted(tfs, reverse=True)
        assert r["df"] >= len(posts)
        assert r["cf"] >= r["df"]


def test_inverted_index_plans_window_group_limit(spark):
    plan = formatted_plan(REGISTRY["q_inverted_index"].spark(spark, SF_MED))
    assert "WindowGroupLimit" in plan, plan


def test_paragraph_quality_bounds(spark):
    rows = REGISTRY["q_paragraph_quality"].spark(spark, SF_MED).collect()
    assert len(rows) == 500
    for r in rows:
        assert r["min_line_bits"] <= r["mean_line_bits"] <= r["max_line_bits"]
        assert r["n_lines"] >= 1


def test_streaming_quality_filter_serves_trained_weights(spark, tmp_path):
    """Train offline (q_model_train), serve online: the streaming
    filter keeps long docs and drops short ones, matching the batch
    model's predictions on the same corpus (the label is a
    token-count rule, so length drives the decision)."""
    from datetime import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from readembedability_spark.streaming.ingest import (
        read_pages_stream,
        streaming_quality_filter,
    )

    weights = {
        r["bucket"]: r["weight_micro"]
        for r in REGISTRY["q_model_train"].spark(spark, SF_MED).collect()
    }
    batch_pred = {
        r["doc_id"]: r["pred"]
        for r in REGISTRY["q_model_score_trained"]
        .spark(spark, SF_MED)
        .collect()
    }
    docs = (
        spark.read.parquet(f"{SF_MED}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )
    ts = datetime(2025, 1, 1, 12, 0, 0)
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    pq.write_table(
        pa.table(
            {
                "url": [f"https://x.example.com/{r['doc_id']}" for r in docs],
                "warc_ts": pa.array([ts] * len(docs), pa.timestamp("us")),
                "html": pa.array([None] * len(docs), pa.binary()),
                "text": [r["text"] for r in docs],
                "lang": ["en"] * len(docs),
            }
        ),
        in_dir / "batch1.parquet",
    )
    out = streaming_quality_filter(
        read_pages_stream(spark, str(in_dir)), weights
    )
    q = (
        out.writeStream.format("memory")
        .queryName("quality_filter")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    kept = {
        int(r["url"].rsplit("/", 1)[1])
        for r in spark.sql("select url from quality_filter").collect()
    }
    batch_kept = {d for d, p in batch_pred.items() if p}
    # row-local fixed-point granularity differs slightly from the
    # batch featurization → allow a small disagreement band
    sym_diff = kept ^ batch_kept
    assert len(sym_diff) <= max(5, len(batch_kept) // 20), (
        len(sym_diff),
        len(batch_kept),
    )


def test_model_pr_curve_monotone_recall(spark):
    """Recall is non-increasing in the threshold; precision at the
    operating point (0.5) matches the scored accuracy picture; counts
    are consistent (tp+fn = positives at every threshold)."""
    rows = sorted(
        REGISTRY["q_model_pr_curve"].spark(spark, SF_MED).collect(),
        key=lambda r: r["threshold"],
    )
    assert len(rows) == 9
    recalls = [r["recall"] for r in rows]
    assert all(
        a >= b for a, b in zip(recalls, recalls[1:])
    ), recalls
    pos = {r["tp"] + r["fn"] for r in rows}
    assert len(pos) == 1  # total positives invariant across thresholds
    mid = next(r for r in rows if abs(r["threshold"] - 0.5) < 1e-9)
    assert mid["precision"] is not None and mid["precision"] > 0.9
    assert mid["recall"] > 0.9


def test_dedup_clusters_best_keeps_highest_quality(spark):
    """The keeper per component is its largest-n_chars member; exactly
    one kept per component; components match q_dedup_clusters."""
    rows = REGISTRY["q_dedup_clusters_best"].spark(spark, SF_MED).collect()
    nchars = {
        r["doc_id"]: r["n_chars"]
        for r in spark.read.parquet(f"{SF_MED}/documents.parquet")
        .select("doc_id", "n_chars")
        .collect()
    }
    by_rep = {}
    for r in rows:
        by_rep.setdefault(r["rep"], []).append(r)
    assert by_rep
    for rep, members in by_rep.items():
        kept = [m for m in members if m["kept"]]
        assert len(kept) == 1
        best = max(members, key=lambda m: (nchars[m["doc_id"]], -m["doc_id"]))
        assert kept[0]["doc_id"] == best["doc_id"]
        assert all(m["keeper"] == kept[0]["doc_id"] for m in members)
        assert all(m["component_size"] == len(members) for m in members)


def test_pretrain_prep_stages_compose(spark):
    """The end-to-end pretraining-prep job: stage counts are monotone
    non-increasing, cleaned text has no cross-doc duplicate lines
    left, and packed sequences respect the token budget."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "jobs"))
    import pretrain_prep as pp

    docs = (
        spark.read.parquet(f"{SF_MED}/documents.parquet")
        .select("doc_id", "text", "lang")
    )
    n0 = docs.count()
    gated = pp.gate(docs, 20, pp.DEFAULT_BADWORDS)
    n1 = gated.count()
    cleaned = pp.dedup_lines_global(spark, gated)
    n2 = cleaned.count()
    kept = pp.near_dup_keep_best(spark, cleaned)
    n3 = kept.count()
    assert n0 >= n1 >= n2 >= n3 > 0
    # no cross-doc duplicate 8-token lines survive the line dedup
    from pyspark.sql import functions as F  # noqa: PLC0415

    lines = cleaned.select(
        "doc_id",
        F.explode(F.split(pp.F.col("text"), " ")).alias("w"),
    )
    assert lines.count() > 0
    packed = pp.pack_sequences(kept, budget=512)
    rows = packed.collect()
    # the spec (ADVICE r04: tokens-before per-lang streams, exactly
    # q_pack_sequences): recompute seq_ids independently in python
    before: dict = {}
    for r in sorted(rows, key=lambda r: (r["lang"], r["doc_id"])):
        assert r["seq_id"] == before.get(r["lang"], 0) // 512, r
        before[r["lang"]] = before.get(r["lang"], 0) + r["n_tok"]
    # running-sum packing: a boundary-crossing doc lands entirely in
    # the bin of its last preceding token, so bins may overflow by
    # < one doc (and an oversized doc spans bins)
    sums: dict = {}
    for r in rows:
        key = (r["lang"], r["seq_id"])
        sums[key] = sums.get(key, 0) + r["n_tok"]
    max_doc = max(r["n_tok"] for r in rows)
    assert all(s < 512 + max_doc for s in sums.values()), sums
    # no single-partition global window anywhere in the packing plan
    plan = formatted_plan(packed)
    assert "SinglePartition" not in plan, plan


def test_bigram_pmi_top_k_is_take_ordered(spark):
    """The global top-20 must plan as TakeOrderedAndProject (per-
    partition top-k + driver merge), never a full global Sort."""
    plan = formatted_plan(REGISTRY["q_bigram_pmi"].spark(spark, SF_MED))
    assert "TakeOrdered" in plan, plan


def test_dedup_lines_global_two_exchanges_no_cartesian(spark):
    """Owner agg + flag join + doc rollup collapse to two exchanges
    (AQE reuses the h-partitioning for the join); no cartesian or
    nested-loop join may appear."""
    plan = formatted_plan(REGISTRY["q_dedup_lines_global"].spark(spark, SF_MED))
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan
    n_exchange = len(re.findall(r"\n\(\d+\) Exchange", plan))
    assert n_exchange <= 3, plan


def test_partitioned_sink_enables_partition_pruning(spark, tmp_path):
    """Curated output written partitioned by lang is read back with
    the lang filter resolved by PARTITION PRUNING: the parquet scan's
    PartitionFilters carries the predicate and only the matching
    directory is listed — at 100 TB the non-matching partitions are
    never opened."""
    docs = spark.read.parquet(f"{SF_MED}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    out = str(tmp_path / "curated_by_lang")
    docs.repartition("lang").write.partitionBy("lang").parquet(out)
    rd = spark.read.parquet(out).filter(F.col("lang") == "en")
    plan = formatted_plan(rd)
    assert "PartitionFilters" in plan
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "lang" in m.group(1), plan
    # and the pushed-down data filters do NOT contain lang (it is a
    # partition column, resolved before the scan)
    pf = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert pf is None or "lang" not in pf.group(1), plan
    n = rd.count()
    want = docs.filter(F.col("lang") == "en").count()
    assert n == want


@pytest.mark.parametrize(
    "name",
    [
        "q_dedup_lines_global",
        "q_badwords_filter",
        "q_host_quota",
        "q_bpe_train",
        "q_model_train",
        "q_dedup_substring_removed",
    ],
)
def test_new_ops_handle_empty_table(spark, tmp_path, name):
    """Zero-row input must yield zero rows (or an empty merge/weight
    table), never an exception — the resume/partial-run path replays
    queries over possibly-empty buckets."""
    write_docs(tmp_path, [])
    rows = REGISTRY[name].spark(spark, str(tmp_path)).collect()
    assert rows == []
