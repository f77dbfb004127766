"""Round-7 guarantees (VERDICT r06 tasks): the packing / stream-order
family runs on the range-partitioned _grouped_cumsum construction —
NO per-language single-task window anywhere — plus resume-meta crash
robustness and the hardened worker-shipping zip.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from readembedability_spark.queries import REGISTRY, release_caches
from readembedability_spark.textops.training import _grouped_cumsum
from helpers import (
    SF_SMALL,
    formatted_plan,
    job_module,
    oracle_rows,
    pdf_blob,
    write_docs,
)


# ---------------------------------------------------------------------------
# VERDICT r06 #1 — no per-lang single-task window in the packing family
# ---------------------------------------------------------------------------

_PACK_FAMILY = [
    "q_pack_sequences",
    "q_pack_sequences_bpe",
    "q_pack_efficiency",
    "q_shuffle_shards",
    "q_length_percentile",
    "q_host_token_budget",
]


def _window_specs(plan: str) -> list[str]:
    """Every windowspecdefinition(...) argument list in the plan."""
    return re.findall(r"windowspecdefinition\(([^)]*)\)", plan)


def test_pack_family_no_per_lang_window(spark):
    """Every window in the packing/stream-order plans partitions on
    the range-partition id (_pid) — never on lang alone, which would
    serialize the dominant language's entire stream into ONE task at
    web scale (VERDICT r06 wrong #1). The only windows allowed
    without _pid are the shard-keyed audit head (q_shuffle_shards'
    WindowGroupLimit top-K, partitioned by the 8-way shard key)."""
    for name in _PACK_FAMILY:
        df = REGISTRY[name].spark(spark, SF_SMALL)
        plan = formatted_plan(df)
        assert "SinglePartition" not in plan, (name, plan)
        specs = _window_specs(plan)
        assert specs, (name, "expected windowed plan")
        for spec in specs:
            if "shard" in spec:
                continue  # bounded audit head: per-shard top-K
            assert "_pid" in spec, (name, spec)
        release_caches(spark)


def test_grouped_cumsum_matches_per_group_window(spark):
    """_grouped_cumsum ≡ the per-group global window it replaces:
    identical (rnk, cum) on a multi-group stream whose groups
    straddle range-partition boundaries (parts > groups forces
    intra-group splits)."""
    rows = [
        (g, i, (i * 7 + ord(g)) % 13 + 1)
        for g in ("a", "b", "c")
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "g string, i long, v long")
    got = {
        (r["g"], r["i"]): (r["rnk"], r["cum"])
        for r in _grouped_cumsum(df, "g", ["i"], "v", parts=16).collect()
    }
    exp: dict = {}
    for g in ("a", "b", "c"):
        acc = 0
        for rnk, (gg, i, v) in enumerate(
            [r for r in rows if r[0] == g], start=1
        ):
            acc += v
            exp[(g, i)] = (rnk, acc)
    assert got == exp


def test_grouped_cumsum_high_cardinality_groups(spark):
    """The offset collect stays bounded by the PARTITION count, not
    the group count: with 200 groups over 8 range partitions at most
    7 groups straddle a boundary, so ≤ 14 offset rows are ever
    collected — and the (rnk, cum) result still matches brute force
    exactly. This is what lets host-keyed streams (10^8 groups at web
    scale) use the same construction as language streams."""
    rows = [
        (f"g{g:03d}", i, (i + g) % 7 + 1)
        for g in range(200)
        for i in range(5)
    ]
    df = spark.createDataFrame(rows, "g string, i long, v long")
    parts = 8
    # the straddler bound the implementation relies on
    rp = df.repartitionByRange(
        parts, F.col("g"), F.col("i")
    ).withColumn("_pid", F.spark_partition_id())
    straddlers = (
        rp.select("_pid", "g")
        .distinct()
        .groupBy("g")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert straddlers <= parts - 1, straddlers
    got = {
        (r["g"], r["i"]): (r["rnk"], r["cum"])
        for r in _grouped_cumsum(df, "g", ["i"], "v", parts=parts).collect()
    }
    exp = {}
    for g in range(200):
        acc = 0
        for rnk, i in enumerate(range(5), start=1):
            acc += (i + g) % 7 + 1
            exp[(f"g{g:03d}", i)] = (rnk, acc)
    assert got == exp


# ---------------------------------------------------------------------------
# VERDICT r06 #2/#3 — PDF layout ordering + FlateDecode end-to-end
# ---------------------------------------------------------------------------


def test_pdf_layout_two_column_reads_column_major():
    """A stream that interleaves two columns row-by-row (real
    multi-column layout streams do) must emit column 1 top-to-bottom,
    then column 2 — not the interleaved stream order."""
    from readembedability_spark.extractor.pdftext import extract_pdf_text

    blob = pdf_blob(
        b"BT 50 700 Td (C1L1) Tj 250 0 Td (C2L1) Tj "
        b"-250 -20 Td (C1L2) Tj 250 0 Td (C2L2) Tj ET"
    )
    assert extract_pdf_text(blob) == "C1L1\nC1L2\nC2L1\nC2L2"


def test_pdf_layout_reordered_blocks_sort_by_position():
    """BT blocks planted out of page order re-sort by Td position."""
    from readembedability_spark.extractor.pdftext import extract_pdf_text

    blob = pdf_blob(
        b"BT 72 600 Td (below) Tj ET\nBT 72 700 Td (above) Tj ET"
    )
    assert extract_pdf_text(blob) == "above\nbelow"


def test_pdf_layout_td_leading_and_quote():
    """TD sets the leading; T* and the `'` next-line-show advance by
    it — three lines in reading order."""
    from readembedability_spark.extractor.pdftext import extract_pdf_text

    blob = pdf_blob(
        b"BT 72 700 Td 0 -14 TD (first) Tj T* (second) Tj (third) ' ET"
    )
    assert extract_pdf_text(blob) == "first\nsecond\nthird"


def test_pdf_no_positioning_keeps_stream_order():
    """Streams without positioning ops (all prior fixtures) keep
    EXACT stream order — every line sits at (0, 0) and the stable
    sort is a no-op, so the layout change is backward-compatible."""
    from readembedability_spark.extractor.pdftext import extract_pdf_text

    blob = pdf_blob(
        b"BT (Hello ) Tj (world.) Tj ET\n"
        b"BT [(Second) -250 ( line)] TJ ET"
    )
    assert extract_pdf_text(blob) == "Hello world.\nSecond line"


def test_pdf_flate_layout_roundtrip():
    """A FlateDecode stream with position-reordered blocks inflates
    AND layout-orders — the exact q_extract_pdf_flate surface."""
    import zlib

    from readembedability_spark.extractor.pdftext import extract_pdf_text

    content = (
        b"BT 72 600 Td (second line) Tj ET\n"
        b"BT 72 700 Td (first line) Tj ET"
    )
    comp = zlib.compress(content)
    blob = (
        b"%PDF-1.4\n1 0 obj\n<< /Length "
        + str(len(comp)).encode()
        + b" /Filter /FlateDecode >>\nstream\n"
        + comp
        + b"\nendstream\nendobj\n%%EOF"
    )
    assert extract_pdf_text(blob) == "first line\nsecond line"


# ---------------------------------------------------------------------------
# VERDICT r06 #7 — L-8 nofollow/sponsored/ugc flag
# ---------------------------------------------------------------------------


def test_extract_anchors_nofollow_rule():
    """L-8: rel tokens nofollow/sponsored/ugc (case-insensitive,
    whitespace-split, mixed with other tokens) flag the link; the
    FIRST kept occurrence's rel decides (L-6 dedup); unrelated rel
    values don't flag."""
    from readembedability_spark.extractor.dom import parse_html
    from readembedability_spark.extractor.links import extract_anchors

    html = """<html><body>
      <a href="https://a.example.com/1" rel="nofollow">ad</a>
      <a href="https://a.example.com/2" rel="noopener SPONSORED">s</a>
      <a href="https://a.example.com/3" rel="ugc noreferrer">u</a>
      <a href="https://a.example.com/4" rel="noopener">plain</a>
      <a href="https://a.example.com/5">bare</a>
      <a href="https://a.example.com/1">followed dup ignored</a>
    </body></html>"""
    anchors = extract_anchors(parse_html(html), "https://h.example.com/")
    assert [(a, nf) for a, _, nf in anchors] == [
        ("https://a.example.com/1", True),
        ("https://a.example.com/2", True),
        ("https://a.example.com/3", True),
        ("https://a.example.com/4", False),
        ("https://a.example.com/5", False),
    ]


# ---------------------------------------------------------------------------
# VERDICT r06 #4 — one raw-pages → shards program (jobs/full_pipeline.py)
# ---------------------------------------------------------------------------


def test_full_pipeline_composes_both_halves(spark, tmp_path, monkeypatch,
                                            capsys):
    """The end-to-end program: ONE persisted extraction pass feeds the
    crawl half (authority/frontier/schedule) AND the curation half
    (gates → dedups → decontamination → authority-blended sample →
    pack → shards). Asserts the written artifacts compose, the
    politeness cap holds, and the authority blend is the documented
    rule (recomputed from scratch per sampled row)."""
    import hashlib
    import json as json_
    import re as re_
    import sys

    import pyarrow.parquet as pq_

    fp = job_module("full_pipeline")
    out = tmp_path / "full"
    monkeypatch.setattr(
        sys,
        "argv",
        [
            "full_pipeline.py",
            "--documents",
            SF_SMALL,
            "--output",
            str(out),
        ],
    )
    fp.main()
    stats = json_.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # the funnel is monotone and non-vacuous at every stage
    assert stats["pages"] == stats["extracted"] == 500
    assert (
        stats["after_gates"]
        >= stats["after_line_dedup"]
        >= stats["after_near_dedup"]
        >= stats["after_admission"]
        >= stats["after_decontamination"]
        > stats["after_authority_sample"]
        > 0
    )
    # round-8 admission stage: the funnel is exhaustive (stage counts
    # sum to the near-dedup survivors) and the admitted stage matches
    funnel = stats["admission_funnel"]
    assert sum(funnel.values()) == stats["after_near_dedup"]
    assert funnel.get("4_admitted", 0) == stats["after_admission"]
    # both audits come off ONE flags table: the first gate's funnel
    # count equals its blocked count, and unique <= blocked per gate
    marg = stats["admission_marginal"]
    assert marg["host_demoted"]["blocked"] == funnel.get(
        "1_host_demoted", 0
    )
    assert all(
        v["unique"] <= v["blocked"] for v in marg.values()
    )
    for artifact in (
        "authority",
        "frontier",
        "schedule",
        "curated",
        "packed",
        "shards",
    ):
        assert any((out / artifact).rglob("*.parquet")), artifact

    # politeness cap: <= 3 schedule slots per host
    sched = pq_.read_table(str(out / "schedule")).to_pylist()
    per_host: dict = {}
    for r in sched:
        per_host[r["host"]] = per_host.get(r["host"], 0) + 1
        assert 1 <= r["slot"] <= 3
    assert per_host and max(per_host.values()) <= 3

    # authority blend: recompute P(keep) and the seeded hash from
    # scratch for every curated row — membership must satisfy
    # u < p_keep with p_keep = 0.7*quality + 0.3*authority/max_auth
    ranks = {
        r["host"]: r["authority"]
        for r in pq_.read_table(str(out / "authority")).to_pylist()
    }
    mx = max(ranks.values())
    curated = pq_.read_table(str(out / "curated")).to_pylist()
    assert curated
    for r in curated:
        text = r["text"]
        toks = [w for w in text.split(" ") if w]
        alpha = len(re_.sub("[^a-zA-Z]", "", text)) / len(text)
        quality = min(1.0, len(toks) / 100.0) * 0.5 + alpha * 0.5
        host = re_.match(r"https?://([^/?#]+)", r["url"]).group(1)
        pr_norm = ranks.get(host, 0.0) / mx
        p_py = 0.7 * quality + 0.3 * pr_norm
        assert abs(r["p_keep"] - p_py) < 5e-4, (r["url"], r["p_keep"], p_py)
        u = (
            int(
                hashlib.md5(f"qs{r['doc_id']}".encode()).hexdigest()[:6],
                16,
            )
            / 16777216.0
        )
        assert u < r["p_keep"] + 1e-9, (r["url"], u, r["p_keep"])


# ---------------------------------------------------------------------------
# VERDICT r06 #8 — the datasheet's WRITTEN parquet sections read back
# ---------------------------------------------------------------------------


def test_corpus_report_written_sections_read_back(spark, tmp_path,
                                                  monkeypatch, capsys):
    """The datasheet job's parquet artifacts (the tables a
    data-governance consumer joins against) round-trip: run main(),
    read each written section back, and check it carries the same
    facts the printed JSON summary does."""
    import json as json_
    import sys

    import pyarrow.parquet as pq_

    cr = job_module("corpus_report")
    out = tmp_path / "report"
    monkeypatch.setattr(
        sys,
        "argv",
        [
            "corpus_report.py",
            "--input",
            f"{SF_SMALL}/documents.parquet",
            "--output",
            str(out),
        ],
    )
    cr.main()
    summary = json_.loads(capsys.readouterr().out.strip().splitlines()[-1])
    funnel = {
        r["stage"]: r["n_docs"]
        for r in pq_.read_table(str(out / "funnel")).to_pylist()
    }
    assert funnel == summary["funnel"]
    dd = pq_.read_table(str(out / "dedup")).to_pylist()[0]
    assert dd == summary["dedup"]
    mix = pq_.read_table(str(out / "mixture")).to_pylist()
    assert {
        r["lang"]: {
            "share": r["token_share"],
            "train_weight": r["train_weight"],
        }
        for r in mix
    } == summary["languages"]
    lens = pq_.read_table(str(out / "lengths")).to_pylist()[0]
    assert lens == summary["lengths"]


# ---------------------------------------------------------------------------
# ADVICE r06 — resume meta robustness + worker-zip hardening
# ---------------------------------------------------------------------------


def test_truncated_resume_meta_recomputes_not_crashes(tmp_path):
    """A crash mid-write of curated_meta.json leaves a truncated file;
    every later run must treat it as a fingerprint MISMATCH (recompute
    the funnel) instead of dying with JSONDecodeError."""
    import json

    meta_path = tmp_path / "curated_meta.json"
    meta_path.write_text('{"input": "/data/x", "min_tok')  # truncated
    funnel_params = {"input": "/data/x", "min_tokens": 5}
    try:
        meta_matches = (
            meta_path.exists()
            and json.loads(meta_path.read_text()) == funnel_params
        )
    except (json.JSONDecodeError, OSError):
        meta_matches = False
    assert meta_matches is False


def test_worker_zip_ships_all_package_files(spark, tmp_path, monkeypatch):
    """The addPyFile zip carries EVERY package file (minus
    __pycache__), not just *.py — a future runtime resource must not
    be silently absent on cluster workers (ADVICE r06). Also: the zip
    is created via mkstemp (unpredictable name, owned fd)."""
    import zipfile
    from pathlib import Path

    from readembedability_spark.operators import extract as ex

    shipped = {}

    class _FakeSC:
        def addPyFile(self, p):
            shipped["path"] = p

    class _FakeSpark:
        sparkContext = _FakeSC()

    ex._ensure_workers_can_import(_FakeSpark())
    zpath = Path(shipped["path"])
    assert zpath.exists()
    # unpredictable name: not the old pid-keyed pattern
    assert not re.fullmatch(
        r"readembedability_spark_\d+\.zip", zpath.name
    ), zpath.name
    pkg_dir = Path(ex.__file__).resolve().parent.parent
    expected = {
        f"readembedability_spark/{f.relative_to(pkg_dir)}"
        for f in pkg_dir.rglob("*")
        if f.is_file() and "__pycache__" not in f.parts
    }
    with zipfile.ZipFile(zpath) as z:
        assert set(z.namelist()) == expected
    zpath.unlink()


# ---------------------------------------------------------------------------
# Round-7 additions beyond the VERDICT list: TrustRank, calibration, DSIR
# ---------------------------------------------------------------------------


def test_trustrank_mass_and_seed_semantics(spark):
    rows = REGISTRY["q_trustrank"].spark(spark, SF_SMALL).collect()
    assert rows
    # both rank vectors are probability distributions (rounded to 6dp)
    assert abs(sum(r["pr"] for r in rows) - 1.0) < 1e-3
    assert abs(sum(r["trust"] for r in rows) - 1.0) < 1e-3
    for r in rows:
        assert r["is_seed"] == (r["node"] % 7 == 2)
        # trust is a non-negative share; nodes unreachable from seeds
        # carry full spam mass
        assert r["trust"] >= 0.0
        if r["pr"] > 0 and r["trust"] == 0.0:
            assert r["spam_mass"] == 1.0
    # trust concentrates relative to uniform PageRank on the seed set:
    # seeds hold strictly more of the trust mass than of the pr mass
    seed_tr = sum(r["trust"] for r in rows if r["is_seed"])
    seed_pr = sum(r["pr"] for r in rows if r["is_seed"])
    assert seed_tr > seed_pr


def test_model_calibration_bin_invariants(spark):
    rows = REGISTRY["q_model_calibration"].spark(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert 0 <= r["bin"] <= 9
        assert 0 <= r["n_pos"] <= r["n"]
        assert 0.0 <= r["mean_p"] <= 1.0
        assert 0.0 <= r["frac_pos"] <= 1.0
        # the exact ECE numerator is bounded by the bin's total mass
        assert 0 <= r["gap_micro"] <= r["n"] * 1_000_000
        # mean_p lands inside its own bin (bin = floor(10·p), clamped)
        lo, hi = r["bin"] / 10.0, (r["bin"] + 1) / 10.0
        assert lo - 1e-4 <= r["mean_p"] <= (1.0 if r["bin"] == 9 else hi + 1e-4)


def test_dsir_separates_target_from_raw(spark):
    out = REGISTRY["q_dsir_weights"].spark(spark, SF_SMALL)
    rows = out.collect()
    assert rows
    for r in rows:
        assert r["selected"] == (r["score_micro"] > 0)
    # the importance weight must rank gopher-pass (target) docs above
    # the raw average: mean logratio of target docs > mean of the rest
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "")
    lab = {
        r["doc_id"]: (3 <= r["mwl"] <= 10 and 50 <= r["n"] <= 100000)
        for r in toks.groupBy("doc_id")
        .agg(F.count("*").alias("n"), F.avg(F.length("w")).alias("mwl"))
        .collect()
    }
    tgt = [r["dsir_logratio"] for r in rows if lab[r["doc_id"]]]
    rest = [r["dsir_logratio"] for r in rows if not lab[r["doc_id"]]]
    assert tgt and rest
    assert sum(tgt) / len(tgt) > sum(rest) / len(rest)


# ---------------------------------------------------------------------------
# Round-7 additions: host quality prior / epoch schedule / lang entropy
# ---------------------------------------------------------------------------


def test_host_quality_prior_shrinks_toward_global_mean(spark):
    rows = REGISTRY["q_host_quality_prior"].spark(spark, SF_SMALL).collect()
    assert rows
    prior = rows[0]["prior_mean"]
    for r in rows:
        assert r["prior_mean"] == prior  # one global prior everywhere
        lo = min(r["mean_quality"], prior) - 1e-4
        hi = max(r["mean_quality"], prior) + 1e-4
        # shrinkage is a convex combination: always between the host
        # mean and the global prior, and closer to the prior the
        # smaller the host
        assert lo <= r["shrunk_quality"] <= hi
        assert r["demoted"] == (r["shrunk_quality"] < 0.55) or abs(
            r["shrunk_quality"] - 0.55
        ) < 1e-3  # flag computed pre-round; allow the boundary ulp
    # a 1-row prior must come in as a broadcast, not a shuffle join
    plan = formatted_plan(REGISTRY["q_host_quality_prior"].spark(spark, SF_SMALL))
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_epoch_schedule_respects_budget_and_cap(spark):
    rows = REGISTRY["q_epoch_schedule"].spark(spark, SF_SMALL).collect()
    assert rows
    total = sum(r["uniq_tokens"] for r in rows)
    budget = 2 * total
    assert sum(r["desired_tokens"] for r in rows) <= budget + len(rows)
    assert abs(sum(r["share"] for r in rows) - 1.0) < 1e-4
    for r in rows:
        assert r["achieved_tokens"] <= r["desired_tokens"]
        assert r["achieved_tokens"] <= 4 * r["uniq_tokens"]
        assert r["epochs"] <= 4.0001
        assert r["capped"] == (r["desired_tokens"] > 4 * r["uniq_tokens"])


def test_host_lang_entropy_matches_exact_recompute(spark):
    import math
    from collections import Counter

    rows = REGISTRY["q_host_lang_entropy"].spark(spark, SF_SMALL).collect()
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").collect()
    by_host = {}
    for d in docs:
        by_host.setdefault(d["doc_id"] % 50, Counter())[d["lang"]] += 1
    assert len(rows) == len(by_host)
    for r in rows:
        hid = int(r["host"].removeprefix("host").split(".")[0])
        cnt = by_host[hid]
        t = sum(cnt.values())
        h = (math.log(t) - sum(c * math.log(c) for c in cnt.values()) / t
             ) / math.log(2)
        assert abs(r["lang_entropy_bits"] - round(h, 4)) < 2e-4
        assert r["n_langs"] == len(cnt)
        assert r["n_docs"] == t
        assert r["top_lang"] == sorted(
            cnt.items(), key=lambda kv: (-kv[1], kv[0])
        )[0][0]
        assert (r["lang_entropy_bits"] == 0.0) == (r["n_langs"] == 1)


def test_ccnet_buckets_terciles_and_histogram_bounds(spark):
    rows = REGISTRY["q_ccnet_buckets"].spark(spark, SF_SMALL).collect()
    assert rows
    from collections import Counter

    by_lang = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
        # bucket assignment is a pure function of (cb, t1_cb, t2_cb)
        want = (
            "head"
            if r["cb"] <= r["t1_cb"]
            else ("middle" if r["cb"] <= r["t2_cb"] else "tail")
        )
        assert r["bucket"] == want
        # cb is the exact integer centibit bucket of bits_per_token
        assert r["cb"] == int(r["bits_per_token"] * 100 + 1e-9) or abs(
            r["bits_per_token"] * 100 - r["cb"]
        ) < 1.01  # rounding of the display column only
    for lang, rs in by_lang.items():
        n = len(rs)
        c = Counter(r["bucket"] for r in rs)
        # boundary buckets are coarse (whole centibit buckets flip at
        # once), but each tercile must hold at least one doc when the
        # language has >= 3 distinct buckets, and head must reach at
        # least ceil(n/3) docs (the boundary rule includes the bucket
        # that crosses the tercile line)
        assert c["head"] >= (n + 2) // 3 or len(
            {r["cb"] for r in rs}
        ) < 3
        assert set(c) <= {"head", "middle", "tail"}
        # per-lang boundaries are consistent across all rows
        assert len({(r["t1_cb"], r["t2_cb"]) for r in rs}) == 1
        t1, t2 = rs[0]["t1_cb"], rs[0]["t2_cb"]
        assert t1 <= t2


def test_graph_reciprocity_matches_exact_recompute(spark):
    rows = REGISTRY["q_graph_reciprocity"].spark(spark, SF_SMALL).collect()
    assert rows
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet").collect()
    edges = set()
    for e in ev:
        i = e["event_id"]
        for s, d in ((i % 50, (i * 7 + 3) % 50),
                     (i % 50, (i % 50 * 3 + i % 7) % 50)):
            if s != d and s % 11 != 0:
                edges.add((s, d))
    out = {}
    for s, d in edges:
        out.setdefault(s, set()).add(d)
    assert len(rows) == len(out)
    for r in rows:
        dsts = out[r["node"]]
        n_recip = sum(1 for d in dsts if (d, r["node"]) in edges)
        assert r["out_deg"] == len(dsts)
        assert r["n_recip"] == n_recip
        assert r["farm_suspect"] == (2 * n_recip > len(dsts))
        assert abs(r["recip_rate"] - round(n_recip / len(dsts), 4)) < 1e-9


def test_novelty_curve_is_monotone_and_exact(spark):
    rows = sorted(
        REGISTRY["q_novelty_curve"].spark(spark, SF_SMALL).collect(),
        key=lambda r: r["batch"],
    )
    assert [r["batch"] for r in rows] == list(range(len(rows)))
    assert rows[0]["novelty_rate"] == 1.0  # batch 0 is all-new
    cum = 0
    for r in rows:
        assert 0 < r["new_shingles"] <= r["distinct_shingles"]
        cum += r["new_shingles"]
        assert r["cum_distinct"] == cum
    # exact recompute of the global distinct-shingle count
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").collect()
    all_sh = set()
    for d in docs:
        ws = d["text"].split(" ")
        for k in range(len(ws) - 2):
            s = " ".join(ws[k : k + 3])
            if s:
                all_sh.add(s)
    assert rows[-1]["cum_distinct"] == len(all_sh)


def test_tokenizer_fertility_consistent_with_bpe_tokenize(spark):
    rows = REGISTRY["q_tokenizer_fertility"].spark(spark, SF_SMALL).collect()
    assert rows
    langs = {r["lang"] for r in rows}
    assert langs == {"en", "de", "es", "fr", "zh"}
    for r in rows:
        # BPE splits words into >= 1 pieces, and merges cap at whole
        # words, so fertility >= 1; chars/token >= 1 likewise
        assert r["fertility"] >= 1.0
        assert r["chars_per_token"] >= 1.0
        assert r["bpe_tokens"] >= r["ws_tokens"]
    # cross-check the total against q_bpe_tokenize's per-doc counts
    tok = REGISTRY["q_bpe_tokenize"].spark(spark, SF_SMALL).collect()
    total_bpe = sum(r["bpe_tokens"] for r in rows)
    assert total_bpe == sum(r["n_bpe_tokens"] for r in tok)


def test_lsh_bucket_stats_consistent_with_pair_generator(spark):
    rows = REGISTRY["q_lsh_bucket_stats"].spark(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert r["n_buckets"] >= 1
        assert r["n_docs"] >= r["n_buckets"] * (1 << r["size_class"])
        assert r["pairs_emitted"] <= r["pairs_uncapped"]
        if r["n_capped"] == 0:
            assert r["pairs_emitted"] == r["pairs_uncapped"]
    # the audit's emitted count bounds the actual (DISTINCT-deduped)
    # candidate set produced by the pair generator on the same corpus
    n_pairs = REGISTRY["q_minhash_lsh"].spark(spark, SF_SMALL).count()
    assert sum(r["pairs_emitted"] for r in rows) >= n_pairs


def test_hits_l1_normalized_and_on_graph_nodes(spark):
    rows = REGISTRY["q_hits"].spark(spark, SF_SMALL).collect()
    assert rows
    # both score vectors are L1-normalized at the final iteration
    assert abs(sum(r["hub"] for r in rows) - 1.0) < 1e-4
    assert abs(sum(r["auth"] for r in rows) - 1.0) < 1e-4
    assert all(r["hub"] >= 0 and r["auth"] >= 0 for r in rows)
    # node set == the rule graph's node set (same graph as pagerank)
    pr = REGISTRY["q_pagerank"].spark(spark, SF_SMALL).collect()
    assert {r["node"] for r in rows} == {r["node"] for r in pr}
    # rule-graph sinks (v % 11 == 0 have out-edges dropped) hold hub 0
    sinks = {r["node"] for r in rows if r["node"] % 11 == 0}
    assert sinks and all(
        r["hub"] == 0.0 for r in rows if r["node"] in sinks
    )


def test_dedup_containment_superset_of_verified_pairs(spark):
    rows = REGISTRY["q_dedup_containment"].spark(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert r["containment"] >= 0.5
        # containment >= jaccard always (divides by min, not union)
        assert r["containment"] >= r["jaccard"]
        if r["subset_only"]:
            assert r["containment"] >= 0.9 and r["jaccard"] < 0.2
    # every high-jaccard verified pair with containment >= 1/2 must
    # appear here (same candidate universe, weaker filter)
    ver = REGISTRY["q_dedup_lsh_verified"].spark(spark, SF_SMALL).collect()
    got = {(r["a"], r["b"]) for r in rows}
    for v in ver:
        if v["jaccard"] >= 0.5:  # j >= 0.5 implies containment >= 0.5
            assert (v["a"], v["b"]) in got


def test_source_novelty_bounds_and_coverage(spark):
    rows = REGISTRY["q_source_novelty"].spark(spark, SF_SMALL).collect()
    assert len(rows) == 20  # every synthetic source appears
    for r in rows:
        assert 0 <= r["exclusive_shingles"] <= r["distinct_shingles"]
        assert 0.0 <= r["exclusivity_rate"] <= 1.0


def test_context_truncation_monotone_and_total_consistent(spark):
    rows = sorted(
        REGISTRY["q_context_truncation"].spark(spark, SF_SMALL).collect(),
        key=lambda r: r["ctx"],
    )
    assert [r["ctx"] for r in rows] == [256, 1024, 4096]
    # same doc universe per window; loss shrinks as the window grows
    assert len({r["n_docs"] for r in rows}) == 1
    assert len({r["tokens_total"] for r in rows}) == 1
    for a, b in zip(rows, rows[1:]):
        assert a["tokens_lost"] >= b["tokens_lost"]
        assert a["docs_over"] >= b["docs_over"]
    # token totals agree with q_token_count's surface
    tok = REGISTRY["q_token_count"].spark(spark, SF_SMALL).collect()
    assert rows[0]["tokens_total"] == sum(r["ws_tokens"] for r in tok)


def test_degree_distribution_totals_match_edge_count(spark):
    rows = REGISTRY["q_degree_distribution"].spark(spark, SF_SMALL).collect()
    assert rows
    out_e = sum(r["n_edges"] for r in rows if r["direction"] == "out")
    in_e = sum(r["n_edges"] for r in rows if r["direction"] == "in")
    # every edge has one src and one dst: both histograms sum to |E|
    assert out_e == in_e > 0
    for r in rows:
        # class k holds degrees in [2^k, 2^(k+1)): edge sum is bounded
        assert r["n_edges"] >= r["n_nodes"] * (1 << r["size_class"])
        assert r["n_edges"] < r["n_nodes"] * (1 << (r["size_class"] + 1))


def test_label_prop_seeds_clamped_and_saturating(spark):
    rows = REGISTRY["q_label_prop"].spark(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        if r["is_seed"]:
            # seeds hold their rule label through every round
            assert r["labeled"] and r["label"] == r["node"] % 3
        assert r["labeled"] == (r["label"] is not None)
        if r["label"] is not None:
            assert r["label"] in (0, 1, 2)
    # propagation must reach beyond the seed set on this graph
    non_seed_labeled = [
        r for r in rows if not r["is_seed"] and r["labeled"]
    ]
    assert non_seed_labeled
    # same node universe as the other rule-graph walkers
    pr = REGISTRY["q_pagerank"].spark(spark, SF_SMALL).collect()
    assert {r["node"] for r in rows} == {r["node"] for r in pr}


def test_length_drift_shares_and_tvd_identity(spark):
    rows = REGISTRY["q_length_drift"].spark(spark, SF_SMALL).collect()
    assert rows
    assert abs(sum(r["early_share"] for r in rows) - 1.0) < 1e-3
    assert abs(sum(r["late_share"] for r in rows) - 1.0) < 1e-3
    # one tvd value repeated; equals half the sum of share deltas
    tvds = {r["tvd"] for r in rows}
    assert len(tvds) == 1
    tvd = tvds.pop()
    assert 0.0 <= tvd <= 1.0
    assert abs(tvd - sum(r["share_delta"] for r in rows) / 2) < 1e-3
    # batch split covers every document exactly once
    n_docs = sum(r["early_n"] + r["late_n"] for r in rows)
    assert n_docs == 500


def test_cluster_homogeneity_consistent_with_clusters(spark):
    rows = REGISTRY["q_cluster_homogeneity"].spark(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert r["n_members"] >= 2  # only docs in >= 1 verified pair
        assert 1 <= r["n_sources"] <= r["n_members"]
        assert 1 <= r["n_langs"] <= r["n_members"]
        assert 0.0 < r["dom_share"] <= 1.0
        assert r["syndication_suspect"] == (r["n_sources"] >= 3)
    # member totals and cluster ids agree with q_dedup_clusters
    cl = REGISTRY["q_dedup_clusters"].spark(spark, SF_SMALL).collect()
    by_rep = {}
    for c in cl:
        by_rep[c["rep"]] = by_rep.get(c["rep"], 0) + 1
    assert {r["rep"]: r["n_members"] for r in rows} == by_rep


def test_bigram_pmi_has_no_positional_self_join(spark):
    """Round-7 fuse (SCALE.md known-item closed): bigram pairs are
    generated row-locally from each doc's token array; the old
    (doc_id, i)-keyed self-join of the whole token table must not
    reappear in any engine upgrade. No join in the plan may key on
    doc_id — the surviving joins are all word-keyed (uni/totals)."""
    df = REGISTRY["q_bigram_pmi"].spark(spark, SF_SMALL)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    for line in analyzed.splitlines():
        if "Join" in line:
            assert "doc_id" not in line, line


def test_minhash_calibration_buckets_and_universe(spark):
    rows = REGISTRY["q_minhash_calibration"].spark(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert 0 <= r["est_m"] <= 8
        assert abs(r["est_jaccard"] - r["est_m"] / 8.0) < 1e-9
        assert 0.0 <= r["mean_jaccard"] <= 1.0
        # MAE lower-bounds the bias |estimate - mean true jaccard|
        assert r["mae"] >= abs(r["est_jaccard"] - r["mean_jaccard"]) - 1e-3
    # every capped candidate pair lands in exactly one bucket
    cand = REGISTRY["q_minhash_lsh"].spark(spark, SF_SMALL).collect()
    assert sum(r["n_pairs"] for r in rows) == len(cand)


def test_length_drift_all_early_corpus_null_late_shares(spark, tmp_path):
    """A single-doc corpus puts every doc in the early half: late_n = 0
    and the late-share divisions are NULL in BOTH engines (no crash,
    no 0-divide) — the degenerate first crawl batch."""
    write_docs(tmp_path, [(0, "alpha beta gamma delta", "en", "s0", 22)])
    s = sorted(
        tuple(r)
        for r in REGISTRY["q_length_drift"].spark(spark, str(tmp_path)).collect()
    )
    d = oracle_rows(str(tmp_path), "q_length_drift")
    assert s == d
    assert len(s) == 1
    row = s[0]
    assert row[1] == 1 and row[2] == 0  # early_n, late_n
    assert row[4] is None  # late_share NULL, not a crash


def test_containment_and_calibration_empty_on_all_unique(spark, tmp_path):
    """A corpus whose docs share no band signature yields ZERO
    candidate pairs: containment and calibration are empty in both
    engines (the audit degrades to nothing, not an error)."""
    rows = [
        (
            i,
            f"totally unique{i} words{i} here{i} none{i} shared{i} at{i} all{i}",
            "en",
            f"s{i}",
            40,
        )
        for i in range(6)
    ]
    write_docs(tmp_path, rows)
    for name in ("q_dedup_containment", "q_minhash_calibration"):
        s = sorted(
            tuple(r)
            for r in REGISTRY[name].spark(spark, str(tmp_path)).collect()
        )
        assert s == oracle_rows(str(tmp_path), name) == []


def test_context_truncation_empty_text_doc(spark, tmp_path):
    """Empty-string text still counts 1 whitespace token in BOTH
    engines (split('') = ['']) — the established q_token_count surface
    — so totals stay consistent instead of diverging on empties."""
    write_docs(tmp_path, [(0, "", "en", "s0", 0), (1, "a b", "en", "s0", 3)])
    s = sorted(
        tuple(r)
        for r in REGISTRY["q_context_truncation"]
        .spark(spark, str(tmp_path))
        .collect()
    )
    d = oracle_rows(str(tmp_path), "q_context_truncation")
    assert s == d
    assert all(row[3] == 3 for row in s)  # tokens_total = 1 + 2


def test_source_novelty_drops_shingleless_sources(spark, tmp_path):
    """A source whose only doc is shorter than 3 tokens produces no
    shingles and is absent from the report in BOTH engines (a join
    semantics pin, so a refactor to outer joins can't silently change
    the contract)."""
    write_docs(
        tmp_path,
        [
            (0, "too short", "en", "tiny", 9),
            (1, "one two three four five", "en", "big", 23),
        ],
    )
    s = sorted(
        tuple(r)
        for r in REGISTRY["q_source_novelty"].spark(spark, str(tmp_path)).collect()
    )
    d = oracle_rows(str(tmp_path), "q_source_novelty")
    assert s == d
    assert [row[0] for row in s] == ["big"]
