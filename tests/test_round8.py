"""Round-8 guarantees (VERDICT r07 tasks): the cumsum packing/stream
backbone derives its range-partition count from the live cluster —
the last constant-factor scale ceiling (parts=8) is gone — while the
straddler-offset collect stays bounded by the partition count.
"""

from __future__ import annotations

import datetime as _dt

import pyarrow.parquet as _pq_mod
import pytest
from pyspark.sql import functions as F

from readembedability_spark.queries import REGISTRY
from readembedability_spark.textops.archive import surt_cdx_from
from readembedability_spark.textops.training import (
    _cumsum_parts,
    _grouped_cumsum,
)
from helpers import (
    SF_MED,
    SF_SMALL,
    formatted_plan,
    oracle_rows,
    pdf_blob,
    planted_con,
    spark_rows,
    write_docs,
    write_embeddings,
    write_events,
)


# ---------------------------------------------------------------------------
# VERDICT r07 wrong #1 — cluster-derived parallelism for the cumsum backbone
# ---------------------------------------------------------------------------


def test_cumsum_parts_derived_from_cluster(spark):
    """Default parts = max(defaultParallelism * 2, 16) — the repo's
    standard derivation idiom — never the old constant 8; an explicit
    integer still pins the layout for tests."""
    df = spark.range(1)
    expected = max(spark.sparkContext.defaultParallelism * 2, 16)
    assert _cumsum_parts(df, None) == expected
    assert expected >= 16  # the floor guards tiny local sessions
    assert _cumsum_parts(df, 8) == 8  # explicit override still honored


def test_ranked_cumsum_derived_parts_matches_window(spark):
    """With DERIVED parts (no explicit override), _grouped_cumsum over
    one constant group still equals the global-window result exactly,
    and the physical plan carries the derived range-partition count."""
    rows = [(f"w{i:04d}", (i * 13) % 29 + 1) for i in range(500)]
    df = spark.createDataFrame(rows, "w string, c long")
    out = _grouped_cumsum(
        df.withColumn("g", F.lit("")), "g", [F.desc("c"), F.asc("w")], "c"
    )
    derived = max(spark.sparkContext.defaultParallelism * 2, 16)
    # the range exchange the construction is built on carries the
    # derived count (the windows themselves re-shuffle on _pid)
    plan = formatted_plan(out)
    assert f"rangepartitioning" in plan and f", {derived})" in plan, plan
    got = {r["w"]: (r["rnk"], r["cum"]) for r in out.collect()}
    acc = 0
    exp = {}
    for rnk, (w, c) in enumerate(
        sorted(rows, key=lambda r: (-r[1], r[0])), start=1
    ):
        acc += c
        exp[w] = (rnk, acc)
    assert got == exp


def test_grouped_cumsum_derived_parts_straddler_bound(spark):
    """With derived parts the grouped construction stays exact AND the
    offset collect stays ≤ 2·(parts − 1) rows: at most parts − 1 range
    boundaries exist, so at most parts − 1 groups straddle one, each
    contributing ≤ 2 offset rows — REGARDLESS of group cardinality."""
    parts = max(spark.sparkContext.defaultParallelism * 2, 16)
    rows = [
        (f"g{g:03d}", i, (i * 3 + g) % 11 + 1)
        for g in range(300)
        for i in range(4)
    ]
    df = spark.createDataFrame(rows, "g string, i long, v long")
    # replicate the internal straddler-offset query and pin its size
    rp = df.repartitionByRange(
        parts, F.col("g"), F.col("i")
    ).withColumn("_pid", F.spark_partition_id())
    per = rp.groupBy("_pid", "g").count()
    straddler_offsets = (
        per.join(
            per.groupBy("g")
            .agg(F.count("*").alias("np"))
            .filter(F.col("np") > 1)
            .select("g"),
            "g",
        ).count()
    )
    assert straddler_offsets <= 2 * (parts - 1), straddler_offsets
    got = {
        (r["g"], r["i"]): (r["rnk"], r["cum"])
        for r in _grouped_cumsum(df, "g", ["i"], "v").collect()
    }
    exp = {}
    for g in range(300):
        acc = 0
        for rnk, i in enumerate(range(4), start=1):
            acc += (i * 3 + g) % 11 + 1
            exp[(f"g{g:03d}", i)] = (rnk, acc)
    assert got == exp


# ---------------------------------------------------------------------------
# VERDICT r07 #4 — Tm translation honored for PDF layout ordering
# ---------------------------------------------------------------------------


def test_pdf_tm_translation_orders_lines():
    """A stream positioning exclusively via Tm (generated reports) gets
    layout order: blocks planted bottom-first re-sort top-to-bottom by
    the Tm translation (e, f)."""
    from readembedability_spark.extractor.pdftext import extract_pdf_text

    blob = pdf_blob(
        b"BT 1 0 0 1 72 600 Tm (below) Tj ET\n"
        b"BT 1 0 0 1 72 700 Tm (above) Tj ET"
    )
    assert extract_pdf_text(blob) == "above\nbelow"


def test_pdf_tm_mid_block_starts_new_line():
    """Tm inside a block flushes the current line and jumps to the new
    absolute position — scale/rotation components are ignored (D-7)."""
    from readembedability_spark.extractor.pdftext import extract_pdf_text

    blob = pdf_blob(
        b"BT 2 0 0 2 72 650 Tm (second) Tj "
        b"0.5 0 0 0.5 72 700 Tm (first) Tj ET"
    )
    assert extract_pdf_text(blob) == "first\nsecond"


def test_pdf_tm_then_td_moves_relative():
    """Td after Tm translates RELATIVE to the Tm position, so a
    Tm-anchored paragraph with Td line advances reads in order."""
    from readembedability_spark.extractor.pdftext import extract_pdf_text

    blob = pdf_blob(
        b"BT 1 0 0 1 100 500 Tm (para top) Tj 0 -14 Td (para next) Tj ET\n"
        b"BT 1 0 0 1 100 700 Tm (header) Tj ET"
    )
    assert extract_pdf_text(blob) == "header\npara top\npara next"


def test_pdf_tm_decimal_and_negative_components():
    """Tm components may be decimal/negative; only (e, f) position."""
    from readembedability_spark.extractor.pdftext import extract_pdf_text

    blob = pdf_blob(
        b"BT 1.0 0 0 -1.0 72.5 600.25 Tm (lo) Tj ET\n"
        b"BT -1 0.0 0 1 72.5 700.75 Tm (hi) Tj ET"
    )
    assert extract_pdf_text(blob) == "hi\nlo"


def test_pdf_no_positioning_still_stream_order_after_tm_change():
    """The Tm token branch must not disturb the no-positioning
    fallback: streams without any positioning ops keep stream order."""
    from readembedability_spark.extractor.pdftext import extract_pdf_text

    blob = pdf_blob(b"BT (one ) Tj (two.) Tj ET\nBT (three) Tj ET")
    assert extract_pdf_text(blob) == "one two.\nthree"


# ---------------------------------------------------------------------------
# VERDICT r07 #6 — warm-start PageRank converges to the full-recompute
# fixpoint
# ---------------------------------------------------------------------------


def test_pagerank_warm_start_converges_to_cold_fixpoint(spark):
    """Run the power loop to near-fixpoint (a) cold from uniform on
    the full rule graph and (b) warm-started from the prior-subgraph
    ranks — the affine contraction must land both at the SAME
    fixpoint, which is the correctness claim behind shipping only
    _PR_INC_ITERS incremental rounds per batch."""
    from readembedability_spark.textops.graph import (
        _pagerank_loop,
        _rule_edges,
    )
    from pyspark.sql import functions as F

    full = _rule_edges(spark, SF_SMALL)
    old = _rule_edges(
        spark, SF_SMALL, ev_filter=F.col("event_id") % 5 != 0
    )
    cold = _pagerank_loop(spark, full, iters=14)
    warm0 = _pagerank_loop(spark, old)  # the production warm phase
    warm = _pagerank_loop(spark, full, iters=14, init=warm0)
    c = {r["v"]: r["r"] for r in cold.collect()}
    w = {r["v"]: r["r"] for r in warm.collect()}
    assert set(c) == set(w)
    gap = max(abs(c[v] - w[v]) for v in c)
    assert gap < 1e-6, gap


def test_recrawl_schedule_boundary_hosts(spark, tmp_path):
    """Hosts at the estimator's edges: all-changed (X = n — continuity
    correction keeps lambda finite), never-changed (X = 0 — interval
    capped at a week), single-fetch and zero-span hosts (excluded:
    no interval to estimate from)."""
    t0 = _dt.datetime(2024, 1, 1)
    hr = _dt.timedelta(hours=1)
    rows = []
    # host 1: 4 fetches, every one changed (event_id % 3 == 0)
    rows += [(3 * k, t0 + k * hr, 1, "view", 1.0, "{}") for k in range(4)]
    # host 2: 4 fetches, none changed
    rows += [(3 * k + 1, t0 + k * hr, 2, "view", 1.0, "{}") for k in range(4)]
    # host 3: single fetch — excluded
    rows += [(5, t0, 3, "view", 1.0, "{}")]
    # host 4: two fetches at the SAME instant — zero span, excluded
    rows += [(7, t0, 4, "view", 1.0, "{}"), (8, t0, 4, "view", 1.0, "{}")]
    write_events(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_recrawl_schedule")
    assert s == oracle_rows(tmp_path, "q_recrawl_schedule")
    by_host = {r[0]: r for r in s}
    assert set(by_host) == {1, 2}  # hosts 3 and 4 excluded
    # all-changed: lambda finite and recrawl fast (< the 3 h span)
    assert by_host[1][2] == 4 and 0 < by_host[1][5] < 3.0
    # never-changed: tiny lambda, recrawl capped at a week
    assert by_host[2][2] == 0 and by_host[2][5] == 168.0


def test_bm25_eval_self_retrieval_and_empty_query_set(spark, tmp_path):
    """A corpus whose single query doc exists retrieves ITSELF at
    rank 1 (mrr 1.0); a corpus whose query doc has < 3 tokens yields
    an EMPTY query set — n_queries 0 and mrr NULL in both engines,
    not a divide-by-zero."""
    write_docs(
        tmp_path,
        [
            (0, "alpha beta gamma delta epsilon zeta", "en", "s0", 36),
            (1, "totally different words here now ok", "en", "s0", 36),
        ],
    )
    s = spark_rows(spark, tmp_path, "q_bm25_eval")
    assert s == oracle_rows(tmp_path, "q_bm25_eval")
    assert s == [(1, 1, 1.0)]
    write_docs(tmp_path, [(0, "just two", "en", "s0", 8)])
    s = spark_rows(spark, tmp_path, "q_bm25_eval")
    assert s == oracle_rows(tmp_path, "q_bm25_eval")
    assert s[0][0] == 0 and s[0][2] is None


def test_split_by_host_leak_audit_counts_straddled_hosts(spark, tmp_path):
    """The leak audit equals a direct recount of hosts whose docs the
    DOC-level rule scatters over >1 split, and host-level splits never
    straddle (every host's docs share one split by construction)."""
    import hashlib as _hl

    rows = [
        (i, "w" + str(i) + " lorem ipsum dolor sit amet", "en", "s0", 30)
        for i in range(120)
    ]
    write_docs(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_split_by_host")
    assert s == oracle_rows(tmp_path, "q_split_by_host")

    def bucket(key):
        return int(_hl.md5(f"split{key}".encode()).hexdigest()[:6], 16) % 100

    def split_of(b):
        return "train" if b < 90 else ("val" if b < 95 else "test")

    hosts = {}
    for i, *_ in rows:
        hosts.setdefault(f"host{i % 50}.example.com", set()).add(
            split_of(bucket(i))
        )
    expected_leaky = sum(1 for v in hosts.values() if len(v) > 1)
    assert {r[5] for r in s} == {expected_leaky}
    # host-level assignment: recompute each host's split and check the
    # per-split host counts add up to 50 distinct hosts, none shared
    per_split_hosts = {r[0]: r[4] for r in s}
    host_splits = {h: split_of(bucket(h)) for h in hosts}
    for sp, n in per_split_hosts.items():
        assert n == sum(1 for v in host_splits.values() if v == sp)


def test_band_tuning_monotone_in_bands_and_shared_pairs(spark, tmp_path):
    """More bands (shorter rows) can only RAISE the catch probability
    at fixed sketch width — pointwise (1−s)^8 ≤ (1−s²)^4 ≤ (1−s⁴)² ≤
    1−s⁸ — so the per-config means must be monotone; all configs read
    the SAME candidate-pair set."""
    rows = [
        (i, "the quick brown fox jumps over the lazy dog " * 3 + str(i % 3),
         "en", "s0", 100)
        for i in range(12)
    ]
    write_docs(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_minhash_band_tuning")
    assert s == oracle_rows(tmp_path, "q_minhash_band_tuning")
    assert len(s) == 4
    by_bands = {r[0]: r for r in s}
    assert len({r[3] for r in s}) == 1  # same n_pairs everywhere
    assert (
        by_bands[1][4] <= by_bands[2][4] <= by_bands[4][4] <= by_bands[8][4]
    )
    assert by_bands[2][5] is True  # the production config is flagged


def test_dedup_recall_null_not_crash_on_all_unique(spark, tmp_path):
    """An all-unique corpus has ZERO ground-truth near-dup pairs: the
    recall ratio must be NULL in both engines (SCALE.md round-7 note —
    Spark ANSI used to throw DIVIDE_BY_ZERO here)."""
    write_docs(
        tmp_path,
        [
            (i, " ".join(f"tok{i}x{j}" for j in range(30)), "en", "s0", 200)
            for i in range(6)
        ],
    )
    s = spark_rows(spark, tmp_path, "q_dedup_recall")
    assert s == oracle_rows(tmp_path, "q_dedup_recall")
    assert len(s) == 1
    assert s[0][1] == 0 and s[0][3] is None and s[0][4] is None


def test_ann_recall_null_not_crash_on_single_embedding(spark, tmp_path):
    """A single-embedding corpus has an EMPTY ground-truth top-k (no
    candidate other than the query itself): every method's recall is
    NULL in both engines, not an ANSI divide-by-zero."""
    write_embeddings(tmp_path, [(0, [1.0, 0.0, 0.5, 0.25], 0)])
    s = spark_rows(spark, tmp_path, "q_ann_recall")
    assert s == oracle_rows(tmp_path, "q_ann_recall")
    assert len(s) == 4
    assert all(r[1] is None and r[2] is None for r in s)


#: every query that scores embeddings by cosine
_EMB_COSINE_QUERIES = [
    "q_ann_cosine",
    "q_ann_bucketed",
    "q_dedup_embedding_bucketed",
    "q_dedup_embedding_clusters",
    "q_ann_ivf",
    "q_ann_ivf_kmeans",
    "q_ann_pq",
    "q_ann_ivf_pq",
    "q_ann_recall",
    "q_dedup_embedding",
    "q_hard_negatives",
]


_ZERO_VEC = 37


@pytest.fixture(scope="module")
def planted_emb(tmp_path_factory):
    """The sf0.01 embeddings with vec_id 37 zeroed (cosine undefined:
    both engines must give NULL, not an ANSI divide-by-zero), and two
    non-probe, non-seed vectors replaced by 2x and 4x copies of query
    0's nearest neighbour. Power-of-two scaling is exact, so the copies
    tie the neighbour's cosine bit-for-bit and only the id tie-break
    orders them. Returns (dir, neighbour, copy ids)."""
    import numpy as np

    d = tmp_path_factory.mktemp("planted_emb")
    tbl = _pq_mod.read_table(f"{SF_MED}/embeddings.parquet")
    ids = tbl.column("vec_id").to_pylist()
    vecs = [
        np.asarray(v, dtype=np.float32)
        for v in tbl.column("embedding").to_pylist()
    ]
    labels = tbl.column("label").to_pylist()
    by_id = dict(zip(ids, vecs))
    q0 = by_id[0].astype(np.float64)
    cos = {
        i: float(np.dot(q0, v) / (np.linalg.norm(q0) * np.linalg.norm(v)))
        for i, v in by_id.items()
        if i != 0
    }
    nn = min(cos, key=lambda i: (-round(cos[i], 6), i))
    copies = sorted(i for i in ids if i >= 10 and i not in (nn, _ZERO_VEC))[-2:]
    by_id[_ZERO_VEC] = np.zeros_like(by_id[_ZERO_VEC])
    by_id[copies[0]] = by_id[nn] * np.float32(2.0)
    by_id[copies[1]] = by_id[nn] * np.float32(4.0)
    write_embeddings(
        d, [(i, by_id[i].tolist(), lab) for i, lab in zip(ids, labels)]
    )
    return d, nn, copies


def _canon_rows(rows):
    from test_oracle_parity import _norm

    return sorted(tuple(_norm(x) for x in r) for r in rows)


@pytest.mark.parametrize("name", _EMB_COSINE_QUERIES)
def test_emb_queries_zero_vector_and_exact_ties(spark, planted_emb, name):
    """Every embedding-cosine query matches its oracle on a table with
    an all-zero vector and bit-exact cosine ties."""
    from readembedability_spark.queries import BASELINE_REGISTRY

    qd = {**REGISTRY, **BASELINE_REGISTRY}[name]
    d, nn, copies = planted_emb
    got = [tuple(r) for r in qd.spark(spark, str(d)).collect()]
    want = planted_con(d).execute(qd.sql).fetchall()
    assert _canon_rows(got) == _canon_rows(want)
    if name == "q_ann_cosine":
        top = sorted((r for r in got if r[0] == 0), key=lambda r: r[1])
        tied = [r for r in top if r[1] in (nn, *copies)]
        assert [r[1] for r in tied] == sorted([nn, *copies])
        assert len({r[2] for r in tied}) == 1


def test_km_train_matches_oracle_with_zero_vector(spark, planted_emb):
    """The trained k-means quantizer equals the oracle's last Lloyd
    round: a zero vector (NULL cosine to every centroid) falls in the
    lowest cell id, as the oracle's NULLS LAST window puts it, instead
    of dropping out of every cell's mean."""
    from readembedability_spark.textops.ann import (
        _KM_K,
        _KM_ROUNDS,
        _km_rounds_sql,
        _km_train,
    )

    d = planted_emb[0]
    emb = spark.read.parquet(f"{d}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    got = [(r["cid"], r["c"]) for r in _km_train(emb).collect()]
    want = planted_con(d).execute(
        f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings),
        c0 AS (SELECT vec_id AS cid, v AS c FROM e WHERE vec_id < {_KM_K}),
        {_km_rounds_sql()}
        SELECT cid, c FROM c{_KM_ROUNDS}
        """
    ).fetchall()
    assert _canon_rows(got) == _canon_rows(want)


# ---------------------------------------------------------------------------
# Late round-8 — marginal admission attribution + SURT capture index
# ---------------------------------------------------------------------------


def test_admission_marginal_consistent_with_funnel(spark):
    """The marginal audit and the first-gate funnel read the SAME
    admission_flags_from substrate, so their counts obey exact
    identities: every host-demoted doc attributes first-gate to the
    host stage (b_host == funnel['1_host_demoted']); each later
    gate's first-gate count is bounded by its blocked count and
    bounds its unique count; and relaxing one gate re-admits exactly
    n_unique docs (recomputed independently from the flags table)."""
    from readembedability_spark.queries import release_caches
    from readembedability_spark.queries import REGISTRY
    from readembedability_spark.textops.curation import admission_flags_from

    s = spark_rows(spark, SF_SMALL, "q_admission_marginal")
    assert s == oracle_rows(SF_SMALL, "q_admission_marginal")
    marg = {r[0]: r for r in s}  # gate -> (gate, b, u, tokens)
    assert set(marg) == {"host_demoted", "dsir_offtarget", "ccnet_tail"}
    funnel = {
        r[0]: r[1]
        for r in REGISTRY["q_admission_policy"]
        .spark(spark, SF_SMALL)
        .collect()
    }
    # host is the FIRST gate: blocked == first-gate attributed
    assert marg["host_demoted"][1] == funnel.get("1_host_demoted", 0)
    for gate, stage in (
        ("dsir_offtarget", "2_dsir_offtarget"),
        ("ccnet_tail", "3_ccnet_tail"),
    ):
        b, u = marg[gate][1], marg[gate][2]
        assert u <= funnel.get(stage, 0) <= b
    # relaxing the host gate re-admits exactly its unique docs
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    host = F.concat(
        F.lit("host"), (F.col("doc_id") % 50).cast("string"),
        F.lit(".example.com"),
    )
    flags = admission_flags_from(
        docs.select("doc_id", host.alias("host"), "lang", "text")
    )
    no_host_admitted = flags.filter(
        ~F.col("f_dsir") & ~F.col("f_ccnet")
    ).count()
    assert (
        no_host_admitted
        == funnel.get("4_admitted", 0) + marg["host_demoted"][2]
    )


def test_surt_index_case_collapse_and_capture_mass(spark):
    """Every SURT key is fully lowercased with the host dot-reversed
    (the Mixed-case raw URLs collapse), capture mass is conserved
    (sum of n_captures == total events), version cardinality is
    bounded by captures, and the time range is ordered."""
    import re

    s = spark_rows(spark, SF_SMALL, "q_surt_index")
    assert s == oracle_rows(SF_SMALL, "q_surt_index")
    total = spark.read.parquet(f"{SF_SMALL}/events.parquet").count()
    pat = re.compile(r"^com,example,news\d+\)/item/\d+$")
    assert sum(r[1] for r in s) == total
    for key, n_cap, first_ts, last_ts, n_ver in s:
        assert pat.match(key), key
        assert 1 <= n_ver <= n_cap
        assert first_ts <= last_ts


def test_stale_captures_boundary_hosts(spark, tmp_path):
    """Three engineered hosts: a fast-changing host whose newest
    capture is ancient (stale), a never-changing host (week-capped
    interval), and the frontier host that defines now_ts (age 0,
    fresh). Host/url derive from event_id % 300 / % 40, so event ids
    are chosen by residue; digest = md5(url ‖ event_type), so a
    change is planted by varying event_type between captures of the
    same url (ids congruent mod 600 share a url)."""
    t0 = _dt.datetime(2024, 1, 1)
    hr = _dt.timedelta(hours=1)
    rows = []
    # host news7: url item/7 captured 4x long ago, EVERY capture a
    # digest change (distinct event_type per capture) -> lambda high,
    # interval << age once the frontier moves 500 h past it
    for k, eid in enumerate((7, 607, 1207, 1807)):
        rows.append((eid, t0 + k * hr, 1, f"type{k}", 1.0, "{}"))
    # host news8: 4 captures, SAME event_type -> digest never changes
    # -> lambda 0 -> week cap in both engines
    for k, eid in enumerate((8, 608, 1208, 1808)):
        rows.append((eid, t0 + k * hr, 1, "view", 1.0, "{}"))
    # host news9: two captures, the later one IS the frontier
    rows.append((9, t0, 1, "view", 1.0, "{}"))
    rows.append((609, t0 + 500 * hr, 1, "click", 1.0, "{}"))
    write_events(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_stale_captures")
    assert s == oracle_rows(tmp_path, "q_stale_captures")
    by_host = {r[0]: r for r in s}
    assert set(by_host) == {
        "news7.example.com", "news8.example.com", "news9.example.com"
    }
    # columns: host, n_captures, n_changes, last_ts, age_hours,
    #          recrawl_hours, is_stale
    fast = by_host["news7.example.com"]
    assert fast[2] == 3 and fast[4] > fast[5] and fast[6] is True
    never = by_host["news8.example.com"]
    assert never[2] == 0 and never[5] == 168.0
    # 497 h old > the week cap -> even the never-changing host is due
    assert never[6] is True
    frontier = by_host["news9.example.com"]
    assert frontier[4] == 0.0 and frontier[6] is False


def test_token_budget_mixture_epoch_cap(spark, tmp_path):
    """A language whose available tokens are tiny relative to its
    target share hits the 4-epoch cap exactly (granted == 4 x avail,
    epochs == 4.0, headroom = requested - granted > 0); an abundant
    language is granted its full request; a language outside the
    target mix is excluded."""
    rows = []
    # en: 60 docs x 100 tokens = 6000 avail
    for i in range(60):
        rows.append((i, " ".join(["tok"] * 100), "en", "web", 100))
    # de: 2 docs x 10 tokens = 20 avail; share 0.2 of budget ~3012
    #     -> requested ~602 >> 4*20
    for i in range(60, 62):
        rows.append((i, " ".join(["wort"] * 10), "de", "web", 10))
    # xx: not in _MIX_TARGETS -> no output row
    rows.append((62, " ".join(["zz"] * 5), "xx", "web", 5))
    write_docs(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_token_budget_mixture")
    assert s == oracle_rows(tmp_path, "q_token_budget_mixture")
    by_lang = {r[0]: r for r in s}
    assert set(by_lang) == {"en", "de"}
    # columns: lang, n_docs, avail_tokens, requested_tokens,
    #          granted_tokens, epochs, budget_frac
    de = by_lang["de"]
    assert de[4] == 4 * de[2] < de[3]  # capped at 4 epochs
    assert de[5] == 4.0
    en = by_lang["en"]
    assert en[4] == en[3] and en[5] < 4.0  # full grant, no cap


def test_image_resize_fit_invariants(spark):
    """Aspect-preserving 64-box fit: the long side is exactly 64, the
    short side is >= 1 and <= 64, orientation survives the resize, and
    the thumbnail digest is the JVM-side md5 of doc_id:WxH."""
    import hashlib

    s = spark_rows(spark, SF_SMALL, "q_image_resize")
    assert s == oracle_rows(SF_SMALL, "q_image_resize")
    for doc_id, w, h, tw, th, digest in s:
        assert max(tw, th) == 64 and 1 <= min(tw, th) <= 64
        assert (w >= h) == (tw >= th)
        assert digest == hashlib.md5(
            f"{doc_id}:{tw}x{th}".encode()
        ).hexdigest()[:8]


def test_video_frame_sample_stride_invariants(spark):
    """Every video yields between 1 and 8 sampled frames, each index
    is a stride multiple below n_frames, timestamps are the exact
    integer-microsecond 24 fps positions, and every document appears
    (the fan-out drops no inputs)."""
    s = spark_rows(spark, SF_SMALL, "q_video_frame_sample")
    assert s == oracle_rows(SF_SMALL, "q_video_frame_sample")
    per_doc: dict = {}
    for doc_id, n_frames, idx, ts_us, digest in s:
        stride = (n_frames + 7) // 8
        assert idx % stride == 0 and 0 <= idx < n_frames
        assert ts_us == idx * 1000000 // 24
        per_doc.setdefault(doc_id, []).append(idx)
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    assert len(per_doc) == docs.count()
    assert all(1 <= len(v) <= 8 for v in per_doc.values())


def test_archive_index_job_composes(spark, tmp_path, monkeypatch, capsys):
    """jobs/archive_index.py over a synthesized recrawl-bearing corpus:
    the written index matches an independent batch recompute key-for-
    key, index files are range-clustered (sorted by key within each
    part file), recrawled urls surface as multi-capture keys, and the
    staleness table covers exactly the multi-capture nonzero-span
    hosts."""
    import importlib
    import json as json_
    import sys as sys_

    import pyarrow.parquet as pq_

    sys_.path.insert(
        0, str(__import__("pathlib").Path(__file__).resolve().parent.parent
               / "jobs")
    )
    aj = importlib.import_module("archive_index")
    out = tmp_path / "archive"
    monkeypatch.setattr(
        sys_, "argv",
        ["archive_index.py", "--pages", "200", "--output", str(out)],
    )
    aj.main()
    stats = json_.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # the synth corpus adds ~3% recrawl duplicates ON TOP of the
    # requested page count (they are the change signal under test)
    assert stats["captures"] == stats["pages"] >= 200
    assert 0 < stats["index_keys"] <= stats["captures"]
    # recrawl dups exist in the synthetic corpus -> fewer keys than caps
    assert stats["index_keys"] < stats["captures"]
    assert stats["hosts_estimated"] >= 1
    # index content == independent batch recompute
    got = {
        r["surt_key"]: (r["n_captures"], r["n_versions"])
        for r in spark.read.parquet(str(out / "index")).collect()
    }
    exp = {
        r["surt_key"]: (r["n_captures"], r["n_versions"])
        for r in surt_cdx_from(
            aj.captures(spark.read.parquet(str(out / "_synth")))
        ).collect()
    }
    assert got == exp
    assert sum(v[0] for v in got.values()) == stats["captures"]
    # range layout: every part file is internally sorted by surt_key
    for part in (out / "index").glob("*.parquet"):
        keys = pq_.read_table(str(part), columns=["surt_key"])
        keys = keys.column("surt_key").to_pylist()
        assert keys == sorted(keys), part
    # staleness rows: multi-capture hosts only, interval week-capped
    stale = spark.read.parquet(str(out / "stale")).collect()
    assert all(r["n_captures"] >= 2 for r in stale)
    assert all(0 < r["recrawl_hours"] <= 168.0 for r in stale)
    assert all(r["age_hours"] >= 0.0 for r in stale)


# ---------------------------------------------------------------------------
# Round 8 (cont.): redirect resolution, host boilerplate, MIME sniffing
# ---------------------------------------------------------------------------


def test_redirect_resolve_closed_form_and_bounded_plan(spark, tmp_path):
    """Pointer jumping reaches every chain end in exactly 3 doubling
    rounds (chains ≤ 7 hops), planted 2-cycles come out resolved=false
    with hops pinned at the 2^3 cap, and the physical plan carries a
    CONSTANT number of joins with no cartesian product, regardless of
    corpus size: per-round localCheckpoint truncates lineage, so the
    final plan shows the LAST doubling join + landing + out-edge probe
    (without it the self-join tree doubles per round — 2^rounds
    joins)."""
    import re as _re

    rows = [(i, "text " + str(i), "en", "s0", 20) for i in range(128)]
    write_docs(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_redirect_resolve")
    assert s == oracle_rows(tmp_path, "q_redirect_resolve")

    def u(i):
        return f"https://r{i % 97}.example.com/p/{i}"

    by_url = {r[0]: r for r in s}
    assert len(by_url) == 128
    for i in range(128):
        url, final, hops, resolved = by_url[u(i)]
        if i % 64 in (62, 63):  # cycle members: 62, 63, 126, 127
            assert not resolved and hops == 8 and final == u(i)
        else:
            assert resolved and hops == i % 8 and final == u(i - i % 8)

    plan = formatted_plan(REGISTRY["q_redirect_resolve"].spark(spark, str(tmp_path)))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    joins = _re.findall(
        r"\(\d+\) (?:SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)", plan
    )
    assert len(joins) == 3, plan


def test_host_boilerplate_page_floor_boundary(spark, tmp_path):
    """A host at exactly the 10-page floor flags its repeated lines;
    a 9-page host flags NOTHING even at 100% line frequency — the
    floor is a strict ≥, checked per host, not corpus-global."""
    # host 0: ids 0,40,...,360 (10 pages, all even → NAV + PROMO on all)
    # host 1: ids 1,41,...,321 (9 pages, all odd → NAV only)
    ids = [40 * k for k in range(10)] + [40 * k + 1 for k in range(9)]
    rows = [(i, f"unique body text {i}", "en", "s0", 20) for i in ids]
    write_docs(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_host_boilerplate")
    assert s == oracle_rows(tmp_path, "q_host_boilerplate")
    by_host = {r[0]: r for r in s}
    h0 = by_host["h0.example.com"]
    h1 = by_host["h1.example.com"]
    # host 0: NAV (df 10/10) + PROMO (df 10/10) both boilerplate;
    # 12 distinct lines = 2 shared + 10 unique bodies
    assert h0[1] == 10 and h0[2] == 12 and h0[3] == 2
    assert h0[4] > 0 and h0[6] == h0[4] * 1000000 // h0[5]
    # host 1: 9 pages < floor → zero boilerplate despite NAV at 100%
    assert h1[1] == 9 and h1[3] == 0 and h1[4] == 0 and h1[6] == 0
    # exactly one explode feeds the (host, line) aggregate
    plan = formatted_plan(REGISTRY["q_host_boilerplate"].spark(spark, str(tmp_path)))
    import re as _re

    assert len(_re.findall(r"\(\d+\) Generate", plan)) == 1, plan


def test_mime_sniff_matrix_and_joinless_plan(spark, tmp_path):
    """Every magic byte class sniffs to its true type (the only
    mismatches are the planted every-7th text/html claims), the matrix
    masses add up to the corpus, and the plan is a scan + one pair-
    keyed aggregate — no join of any kind."""
    rows = [(i, "plain body " + str(i), "en", "s0", 20) for i in range(84)]
    write_docs(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_mime_sniff")
    assert s == oracle_rows(tmp_path, "q_mime_sniff")
    assert sum(r[2] for r in s) == 84
    for claimed, sniffed, n, mismatch in s:
        assert mismatch == (claimed != sniffed)
        if mismatch:  # only the planted lie direction exists
            assert claimed == "text/html" and sniffed != "text/html"
    # kinds 0..5 all present on the sniffed axis
    assert {r[1] for r in s} == {
        "application/pdf", "application/gzip", "image/gif",
        "application/zip", "text/html", "text/plain",
    }
    plan = formatted_plan(REGISTRY["q_mime_sniff"].spark(spark, str(tmp_path)))
    assert "Join" not in plan, plan


def test_graph_triangles_identities(spark, tmp_path):
    """Participation counts sum to 3x the number of distinct
    triangles (each triangle touches exactly 3 nodes), clustering is
    bounded by the closed-wedge maximum, and degree-1 nodes carry a
    zero coefficient by the d >= 2 guard."""
    t0 = _dt.datetime(2024, 1, 1)
    rows = [
        (i, t0, 1, "view", 1.0, "{}") for i in range(200)
    ]
    write_events(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_graph_triangles")
    assert s == oracle_rows(tmp_path, "q_graph_triangles")
    part_sum = sum(r[2] for r in s)
    assert part_sum > 0 and part_sum % 3 == 0
    for node, degree, t, ppm in s:
        assert degree >= 1
        # at most every wedge closes: T <= d(d-1)/2 -> ppm <= 1e6
        assert 0 <= ppm <= 1_000_000
        if degree < 2:
            assert t == 0 and ppm == 0
        else:
            assert ppm == t * 2_000_000 // (degree * (degree - 1))


def test_canonical_clusters_single_aggregate_no_window(spark, tmp_path):
    """Keeper election rides the ONE keyed hash aggregate — no window,
    no join, no second exchange; both keeper branches verified against
    the oracle (canonical captured vs every-5th-family fallback)."""
    import re as _re

    rows = [(i, "body " + str(i), "en", "s0", 100 + i) for i in range(40)]
    write_docs(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_canonical_clusters")
    assert s == oracle_rows(tmp_path, "q_canonical_clusters")
    by_canon = {r[0]: r for r in s}
    assert len(by_canon) == 10  # 40 docs / 4 variants
    for canon, (_, n, captured, keeper, dup) in by_canon.items():
        art = int(canon.rsplit("/", 1)[1])
        if art % 5 == 0:  # planted missing-canonical families
            assert not captured and n == 3 and keeper == canon + "/amp"
        else:
            assert captured and n == 4 and keeper == canon
        assert dup > 0
    plan = formatted_plan(
        REGISTRY["q_canonical_clusters"].spark(spark, str(tmp_path))
    )
    assert "Join" not in plan and "Window" not in plan, plan
    # one logical aggregate = partial+final pair (string MIN/MAX may
    # compile to Sort/ObjectHashAggregate instead of HashAggregate)
    aggs = _re.findall(
        r"\(\d+\) (?:HashAggregate|ObjectHashAggregate|SortAggregate)", plan
    )
    assert len(aggs) == 2, plan


def test_postings_compression_varint_boundaries(spark, tmp_path):
    """LEB128 byte-ladder boundaries land identically in both engines:
    a term planted at gaps (1, 127, 128) codes 1+1+2 bytes and one at
    (6, 16384) codes 1+3 — the 127→128 and 16383→16384 edges; the
    background term with gap-1 postings compresses to exactly 1/8th
    (125000 ppm)."""
    n = 16390
    edge_a = {0, 127, 255}
    edge_b = {5, 16389}
    rows = []
    for i in range(n):
        toks = ["common"]
        if i in edge_a:
            toks.append("edgeA")
        if i in edge_b:
            toks.append("edgeB")
        rows.append((i, " ".join(toks), "en", "s0", 20))
    write_docs(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_postings_compression")
    assert s == oracle_rows(tmp_path, "q_postings_compression")
    by_class = {r[0]: r for r in s}
    # class 1 = df in [2, 3]: edgeA (df 3, bytes 1+1+2) + edgeB (df 2,
    # bytes 1+3) -> 5 postings, 8 varint vs 40 fixed bytes
    assert by_class[1] == (1, 2, 5, 8, 40, 200000)
    # 'common': df 16390 -> class 14, all gaps 1 -> 1 byte each
    assert by_class[14] == (14, 1, n, n, 8 * n, 125000)


# ---------------------------------------------------------------------------
# Session 5 — web-archive source formats + URL-space audits
# ---------------------------------------------------------------------------


def test_warc_records_framing_and_plan(spark, tmp_path):
    """Framing validation holds on engineered payloads — an EMPTY
    payload (Content-Length: 0) and a payload that itself CONTAINS a
    header-looking 'Content-Length: 999' line (the parser must bind
    to the first match, i.e. the real header) — and the plan is two
    aggregate pairs + one local Generate (explode), no window, no
    join."""
    import re as _re

    rows = [(i, f"payload body {i}", "en", "s0", 20) for i in range(30)]
    rows[3] = (3, "", "en", "s0", 0)  # empty payload
    rows[5] = (5, "trap Content-Length: 999 inside", "en", "s0", 30)
    write_docs(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_warc_records")
    assert s == oracle_rows(tmp_path, "q_warc_records")
    by_file = {r[0]: r for r in s}
    assert set(by_file) == {0, 1}  # docs 0-24, 25-29
    exp0 = sum(len(r[1]) for r in rows[:25])
    exp1 = sum(len(r[1]) for r in rows[25:])
    assert by_file[0][1:4] == (25, exp0, 25)  # n_records, bytes, n_ok
    assert by_file[1][1:4] == (5, exp1, 5)
    plan = formatted_plan(REGISTRY["q_warc_records"].spark(spark, str(tmp_path)))
    assert "Window" not in plan and "Join" not in plan, plan
    aggs = _re.findall(
        r"\(\d+\) (?:HashAggregate|ObjectHashAggregate|SortAggregate)", plan
    )
    assert len(aggs) == 4, plan  # blob build + rollup, partial+final each
    assert len(_re.findall(r"\(\d+\) Generate", plan)) == 1, plan
    # the rollup rides the blob build's file_id partitioning: exactly
    # one exchange end-to-end
    assert len(_re.findall(r"\(\d+\) Exchange", plan)) == 1, plan


def test_sitemap_parse_duplicates_and_plan(spark, tmp_path):
    """Duplicate <loc> entries are counted (n_urls > n_distinct), the
    freshest lastmod wins, and priority ppm is the exact integer mean;
    the plan is ONE aggregate pair with row-local parsing after it."""
    import re as _re

    t0 = _dt.datetime(2024, 3, 1)
    day = _dt.timedelta(days=1)
    # ids 0/1000/2000 -> host site0, item 0 every time (dup locs);
    # priorities 1, 2, 3; lastmod days 0, 5, 2 -> latest = day 5
    rows = [
        (0, t0, 1, "view", 1.0, "{}"),
        (1000, t0 + 5 * day, 1, "view", 1.0, "{}"),
        (2000, t0 + 2 * day, 1, "view", 1.0, "{}"),
        # id 41 -> host site1, item 16, priority (41%9)+1 = 6
        (41, t0, 1, "view", 1.0, "{}"),
    ]
    write_events(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_sitemap_parse")
    assert s == oracle_rows(tmp_path, "q_sitemap_parse")
    by_host = {r[0]: r for r in s}
    assert by_host["site0.example.com"] == (
        "site0.example.com", 3, 1, "2024-03-06", 200000
    )
    assert by_host["site1.example.com"] == (
        "site1.example.com", 1, 1, "2024-03-01", 600000
    )
    plan = formatted_plan(REGISTRY["q_sitemap_parse"].spark(spark, str(tmp_path)))
    assert "Window" not in plan and "Join" not in plan, plan
    aggs = _re.findall(
        r"\(\d+\) (?:HashAggregate|ObjectHashAggregate|SortAggregate)", plan
    )
    assert len(aggs) == 2, plan


def test_url_templates_hex_rule_precedence(spark, tmp_path):
    """The >=8-char hex rule fires BEFORE the digit rule: /obj/ ids
    collapse to {h} (never a {n} inside the hex run), short ids to
    {n}, and the static /about path survives untemplated."""
    rows = [(i, _dt.datetime(2024, 1, 1), 1, "view", 1.0, "{}")
            for i in range(20)]
    write_events(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_url_templates")
    assert s == oracle_rows(tmp_path, "q_url_templates")
    templates = {r[1] for r in s}
    assert templates == {
        "/post/{n}", "/tag/t{n}", "/obj/{h}", "/archive/{n}/{n}"
    }
    for _, tmpl, n_urls, n_distinct, sample in s:
        if tmpl == "/obj/{h}":
            assert "/obj/" in sample and "{" not in sample
            assert n_urls >= n_distinct


def test_pagination_chains_gap_detection(spark, tmp_path):
    """A base on the gapped branch (base % 5 == 0: pages only from
    {1,4,7,10}) reads incomplete with the exact missing count; a dense
    base covering 1..13 reads complete."""
    t0 = _dt.datetime(2024, 1, 1)
    rows = []
    # ids 0,120,240,360,480: host h0, base /list/0 (gapped branch),
    # pages 1,4,7,10,1 -> n_pages 4, max 10, missing 6
    for eid in (0, 120, 240, 360, 480):
        rows.append((eid, t0, 1, "view", 1.0, "{}"))
    # ids 1+24k (k=0..12): host h1, base /list/1, page (7*id)%13+1
    # sweeps all 13 residues -> complete
    for k in range(13):
        rows.append((1 + 24 * k, t0, 1, "view", 1.0, "{}"))
    write_events(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_pagination_chains")
    assert s == oracle_rows(tmp_path, "q_pagination_chains")
    by_key = {(r[0], r[1]): r for r in s}
    gapped = by_key[("h0.example.com", "/list/0")]
    assert gapped[2:] == (5, 4, 1, 10, 6, False)
    dense = by_key[("h1.example.com", "/list/1")]
    assert dense[2:] == (13, 13, 1, 13, 0, True)


def test_registrable_domain_psl_and_broadcast(spark, tmp_path):
    """Multi-label public suffixes take three labels (s17.co.uk, never
    co.uk), plain TLDs take two (s0.com), a bare 2-label host under a
    listed suffix is its own registrable domain, and the PSL lookup is
    a broadcast join."""
    t0 = _dt.datetime(2024, 1, 1)
    # id 12: www.s12.co.uk; id 17: s17.co.uk (empty sub); id 0:
    # www.s0.com; id 3: www.s3.github.io
    rows = [(eid, t0, 1, "view", 1.0, "{}") for eid in (12, 17, 0, 3)]
    write_events(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_registrable_domain")
    assert s == oracle_rows(tmp_path, "q_registrable_domain")
    by_reg = {r[0]: r for r in s}
    assert by_reg["s12.co.uk"][1:] == ("co.uk", 1, 1)
    assert by_reg["s17.co.uk"][1:] == ("co.uk", 1, 1)
    assert by_reg["s0.com"][1:] == ("com", 1, 1)
    assert by_reg["s3.github.io"][1:] == ("github.io", 1, 1)
    assert "co.uk" not in by_reg  # naive last-2 grouping would emit it
    plan = formatted_plan(
        REGISTRY["q_registrable_domain"].spark(spark, str(tmp_path))
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_crawl_delta_status_classes(spark, tmp_path):
    """All three statuses and the churn corner cases: a changed url
    (digest flips with capture parity), an unchanged multi-capture
    url, an unchanged url on the non-churning residue, and a
    first-ever capture whose host churn is NULL (no revisits)."""
    t0 = _dt.datetime(2024, 1, 1)
    hr = _dt.timedelta(hours=1)
    rows = [
        (3, t0, 1, "view", 1.0, "{}"),          # url 3 (h3): capture 0
        (183, t0 + hr, 1, "view", 1.0, "{}"),   # url 3: capture 1 -> changed
        (363, t0 + 2 * hr, 1, "view", 1.0, "{}"),  # capture 2 (latest two
        # captures are 2 vs 1: digest keys 0 vs 1 -> still changed)
        (4, t0, 1, "view", 1.0, "{}"),          # url 4 (h4): stable branch
        (184, t0 + hr, 1, "view", 1.0, "{}"),   # url 4 -> unchanged
        (6, t0, 1, "view", 1.0, "{}"),          # url 6 (h6): churning
        # residue but a single capture -> still 'new'
        (1, t0, 1, "view", 1.0, "{}"),          # url 1 (h1): single -> new
    ]
    write_events(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_crawl_delta")
    assert s == oracle_rows(tmp_path, "q_crawl_delta")
    by_host = {r[0]: r[1:] for r in s}
    assert by_host["h3.example.com"] == (0, 1, 0, 1000000)
    assert by_host["h4.example.com"] == (0, 0, 1, 0)
    assert by_host["h6.example.com"] == (1, 0, 0, None)
    assert by_host["h1.example.com"] == (1, 0, 0, None)


def test_syndication_singletons_and_primary(spark, tmp_path):
    """Every-7th singletons never form a cluster (namespaced keys — a
    solo doc cannot collide with a real family), the primary
    attribution is the earliest doc via min_by, and the plan is the
    standard two-level DISTINCT expansion of one logical aggregate
    (4 physical aggregates, 2 digest-prefixed exchanges) with no
    window or join."""
    import re as _re

    rows = [(i, "body " + str(i), "en", "s0", 100) for i in range(20)]
    write_docs(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_syndication")
    assert s == oracle_rows(tmp_path, "q_syndication")
    by_primary = {r[3]: r for r in s}
    # families (solo docs 0,7,14 carved out): fam0={1,2,3},
    # fam1={4,5,6}, fam2={8..11}, fam3={12,13,15}, fam4={16..19}
    assert set(by_primary) == {1, 4, 8, 12, 16}
    assert by_primary[1][1:3] == (3, 3)
    assert by_primary[8][1:3] == (4, 4)
    assert by_primary[12][1:3] == (3, 3)
    assert by_primary[1][4] == "h1.example.com"
    assert by_primary[8][4] == "h8.example.com"
    assert by_primary[8][5] == 1000000  # 4 hosts / 4 copies
    plan = formatted_plan(REGISTRY["q_syndication"].spark(spark, str(tmp_path)))
    assert "Window" not in plan and "Join" not in plan, plan
    aggs = _re.findall(
        r"\(\d+\) (?:HashAggregate|ObjectHashAggregate|SortAggregate)", plan
    )
    assert len(aggs) == 4, plan  # two-level DISTINCT expansion
    assert len(_re.findall(r"\(\d+\) Exchange", plan)) == 2, plan


def test_embedding_drift_identities(spark, tmp_path):
    """Identical batches read cos_sim 1.0 / l2_shift 0.0 exactly (the
    all-integer path has no float noise to blur the fixpoint);
    orthogonal batches read cos_sim 0.0; and the plan is two keyed
    aggregate pairs with no window or join."""
    import re as _re

    rows = []
    # label 0: batch 0 (even vec_id) and batch 1 (odd) both [1, 0, 0]
    rows += [(0, [1.0, 0.0, 0.0], 0), (1, [1.0, 0.0, 0.0], 0)]
    rows += [(2, [1.0, 0.0, 0.0], 0), (3, [1.0, 0.0, 0.0], 0)]
    # label 1: batch 0 = [1,0,0], batch 1 = [0,1,0] -> orthogonal
    rows += [(4, [1.0, 0.0, 0.0], 1), (5, [0.0, 1.0, 0.0], 1)]
    write_embeddings(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_embedding_drift")
    assert s == oracle_rows(tmp_path, "q_embedding_drift")
    by_label = {r[0]: r[1:] for r in s}
    assert by_label[0] == (1.0, 0.0)
    assert by_label[1][0] == 0.0
    plan = formatted_plan(
        REGISTRY["q_embedding_drift"].spark(spark, str(tmp_path))
    )
    assert "Window" not in plan and "Join" not in plan, plan
    aggs = _re.findall(
        r"\(\d+\) (?:HashAggregate|ObjectHashAggregate|SortAggregate)", plan
    )
    assert len(aggs) == 4, plan  # (label,d) pair + label pair


def test_anchor_spam_planted_targets(spark, tmp_path):
    """Every 5th target carries the planted money phrase at ~80%
    density and must flag spammy with that phrase as top anchor;
    organic targets never flag (top anchor from the 7-anchor pool is
    far under the half-of-inlinks threshold); the window runs over
    the per-anchor rollup, not raw links."""
    t0 = _dt.datetime(2024, 1, 1)
    rows = [(i, t0, 1, "view", 1.0, "{}") for i in range(400)]
    write_events(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_anchor_spam")
    assert s == oracle_rows(tmp_path, "q_anchor_spam")
    by_target = {r[0]: r for r in s}
    for tgt, (_, n_anchors, n_in, top, _hosts, share, spam) in (
        by_target.items()
    ):
        tn = int(tgt.split(".")[0][1:])
        if tn % 5 == 0:
            assert spam is True and top == "buy cheap widgets"
            assert share > 500000
        else:
            assert spam is False and top.startswith("anchor")
            assert n_anchors <= 7


def test_hreflang_incomplete_clusters(spark, tmp_path):
    """Every 3rd cluster is missing its 'ja' variant (n_langs 3,
    incomplete, 'ja' absent from the sorted set); other clusters read
    complete with all four languages; x-default rows count toward the
    set but never toward n_langs."""
    t0 = _dt.datetime(2024, 1, 1)
    # ids c + 60*k for clusters c in {0,2,3} and members k = 0..3
    # (cluster 1 would hit id 121 = 11^2 -> an x-default row; cluster 2
    # avoids every %11 residue)
    rows = []
    for c in (0, 2, 3):
        for k in range(4):
            rows.append((c + 60 * k, t0, 1, "view", 1.0, "{}"))
    write_events(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_hreflang_clusters")
    assert s == oracle_rows(tmp_path, "q_hreflang_clusters")
    by_cluster = {r[0]: r[1:] for r in s}
    # cluster 0: id 0 -> x-default (0%11==0), ids 60/120 -> de/fr, and
    # 180 -> ja BUT 0 % 3 == 0 drops ja -> langs {de, fr} + x-default
    assert by_cluster[0] == (2, "de,fr,x-default", True, False)
    # cluster 2: ids 2/62/122/182 -> en/de/fr/ja, none x-default
    assert by_cluster[2] == (4, "de,en,fr,ja", False, True)
    # cluster 3: 3 % 3 == 0 -> ja dropped
    assert by_cluster[3] == (3, "de,en,fr", False, False)


def test_search_index_job_composes(spark, tmp_path, monkeypatch, capsys):
    """jobs/search_index.py over the synthetic corpus: the written
    postings are term-range-clustered (every part file sorted by
    (w, doc_id)), served BM25 from the read-back artifacts matches the
    in-memory q_bm25_rank core formula doc-for-doc on the same corpus,
    the varint audit prices the written layout, and self-retrieval MRR
    clears the marker-token floor."""
    import importlib
    import json as json_
    import sys as sys_

    import pyarrow.parquet as pq_

    sys_.path.insert(
        0, str(__import__("pathlib").Path(__file__).resolve().parent.parent
               / "jobs")
    )
    sj = importlib.import_module("search_index")
    out = tmp_path / "idx"
    monkeypatch.setattr(
        sys_, "argv",
        ["search_index.py", "--docs", "300", "--output", str(out)],
    )
    sj.main()
    stats = json_.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["docs"] == 300 and stats["queries"] == 7
    assert stats["postings"] > 0
    assert stats["varint_bytes"] < stats["fixed_bytes"]
    assert stats["compression_ppm"] == (
        stats["varint_bytes"] * 1000000 // stats["fixed_bytes"]
    )
    # marker tokens make self-retrieval meaningful: every query must
    # find its own document somewhere in the top-5 family
    assert stats["mrr_micro"] >= 200000, stats
    # range layout: every postings part file sorted by (w, doc_id)
    for part in (out / "postings").glob("*.parquet"):
        t = pq_.read_table(str(part), columns=["w", "doc_id"])
        pairs = list(zip(t.column("w").to_pylist(),
                         t.column("doc_id").to_pylist()))
        assert pairs == sorted(pairs), part
    # served top-k == the INDEPENDENT in-memory BM25 core
    # (_bm25_top5, the q_bm25_rank machinery) over the same corpus —
    # write the synth docs as a documents table and compare rank lists
    docs = sj.synth_docs(spark, 300)
    docs_dir = tmp_path / "docs_sf"
    import pyarrow as pa_
    import pyarrow.parquet as pq2_

    docs_dir.mkdir()
    pdf = docs.toPandas()
    pq2_.write_table(
        pa_.Table.from_pandas(pdf, preserve_index=False),
        str(docs_dir / "documents.parquet"),
    )
    from readembedability_spark.textops.search import _bm25_top5

    served = {
        (r["qid"], r["rk"]): (r["doc_id"], r["score_micro"])
        for r in spark.read.parquet(str(out / "topk")).collect()
    }
    core = {
        (r["qid"], r["rk"]): (r["doc_id"], r["score_micro"])
        for r in _bm25_top5(spark, str(docs_dir)).collect()
    }
    assert served == core and len(served) > 0
    # dictionary df sums to the postings row count
    dic = spark.read.parquet(str(out / "dictionary"))
    assert (
        dic.agg(F.sum("df")).collect()[0][0] == stats["postings"]
        == spark.read.parquet(str(out / "postings")).count()
    )


def _cdc_reference(texts):
    """Pure-python reference of the q_cdc_chunks chunking rule:
    boundary AFTER position p (1-based, 4 <= p < len) when the md5 of
    the 4-gram ending at p starts with hex '0'."""
    import hashlib as hl

    per_digest = {}
    for doc_id, text in texts.items():
        words = text.split(" ")
        cur, chunks = [], []
        for p, w in enumerate(words, start=1):
            cur.append(w)
            if 4 <= p < len(words):
                gram = " ".join(words[p - 4:p])
                if hl.md5(gram.encode()).hexdigest()[0] == "0":
                    chunks.append(cur)
                    cur = []
        if cur:
            chunks.append(cur)
        for c in chunks:
            digest = hl.md5(" ".join(c).encode()).hexdigest()
            docs, occ, nw = per_digest.get(digest, (set(), 0, len(c)))
            docs.add(doc_id)
            per_digest[digest] = (docs, occ + 1, nw)
    out = {}
    for docs, occ, nw in per_digest.values():
        key = len(docs) >= 2
        a, b, c, d = out.get(key, (0, 0, 0, 0))
        out[key] = (a + 1, b + occ, c + occ * nw, d + (occ - 1) * nw)
    return out


def test_cdc_chunks_matches_python_reference(spark, tmp_path):
    """The distributed chunking equals a pure-python reference
    implementation class-for-class on an engineered corpus with
    planted family reuse and a non-repetitive solo doc (whose class
    must bank zero dedup savings)."""
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lam mu nu xi omicron pi rho sigma tau upsilon phi chi")
    rows = []
    for i in range(16):
        rows.append((i, base + f" suffix{i} end{i} tail{i}", "en",
                     "s0", 100))
    write_docs(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_cdc_chunks")
    assert s == oracle_rows(tmp_path, "q_cdc_chunks")
    # effective texts after the family-share rule the query applies
    texts = {}
    for i in range(16):
        src = i if i % 7 == 0 else i - i % 4
        texts[i] = rows[src][1]
    exp = _cdc_reference(texts)
    got = {r[0]: tuple(r[1:]) for r in s}
    assert got == exp
    # doc 7 keeps its own non-repetitive text -> unique chunks exist
    # and the unique class banks exactly zero savings
    assert got[False][3] == 0 and got[False][0] > 0
    # families share full texts -> reused chunks bank real savings
    assert got[True][3] > 0


def test_cdc_chunks_insertion_locality(spark, tmp_path):
    """The CDC property itself: two corpora differing by ONE inserted
    word share most chunk digests — only the chunks the insertion
    touches re-digest (a fixed-width chunker would lose everything
    after the insertion point)."""
    import duckdb as dd

    words = [f"w{(i * 7) % 23}x{i % 5}" for i in range(120)]
    t_a = " ".join(words)
    t_b = " ".join(words[:60] + ["INSERTED"] + words[60:])
    digests = {}
    for tag, text in (("a", t_a), ("b", t_b)):
        con = dd.connect()
        con.execute(
            "CREATE TABLE t AS SELECT ? AS text", [text]
        )
        rows = con.execute("""
            WITH arrs AS (SELECT string_split(text,' ') AS arr FROM t),
            toks AS (
              SELECT CAST(p AS BIGINT) AS pos, arr[p] AS w,
                     CASE WHEN p >= 4 AND p < len(arr)
                          AND substr(md5(array_to_string(arr[p-3:p],' ')),
                                     1,1)='0'
                     THEN 1 ELSE 0 END AS b
              FROM arrs, UNNEST(generate_series(1, len(arr))) AS u(p)),
            assigned AS (
              SELECT pos, w, COALESCE(SUM(b) OVER (ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                     0) AS c
              FROM toks)
            SELECT md5(string_agg(w, ' ' ORDER BY pos)) FROM assigned
            GROUP BY c
        """).fetchall()
        digests[tag] = {r[0] for r in rows}
    shared = digests["a"] & digests["b"]
    # the insertion may reshape at most a few chunks around position 60
    assert len(shared) >= len(digests["a"]) - 3, (
        len(shared), len(digests["a"]), len(digests["b"])
    )
    assert digests["a"] != digests["b"]


def test_index_prune_monotone_and_top16_plan(spark):
    """saved_ppm and query_loss_ppm are nondecreasing in k; k=16 saves
    the full top-16 postings mass; and the global rank window rides a
    TakeOrderedAndProject top-16 gather — the vocabulary never reaches
    a single-partition sort."""
    import re as _re

    rows = sorted(
        spark_rows(spark, SF_SMALL, "q_index_prune"),
        key=lambda r: r[0],
    )
    assert rows == sorted(
        oracle_rows(SF_SMALL, "q_index_prune"), key=lambda r: r[0]
    )
    ks = [r[0] for r in rows]
    assert ks == [1, 2, 4, 8, 16]
    saved = [r[2] for r in rows]
    loss = [r[5] for r in rows]
    assert saved == sorted(saved) and loss == sorted(loss)
    assert all(r[3] == rows[0][3] for r in rows)  # shared query-term N
    plan = formatted_plan(
        REGISTRY["q_index_prune"].spark(spark, SF_SMALL)
    )
    assert "TakeOrderedAndProject" in plan, plan
    # every nested-loop is broadcast (the 16x5 theta join + the two
    # 1-row total crosses); nothing shuffles a join side
    assert len(
        _re.findall(r"BroadcastNestedLoopJoin", plan)
    ) >= 3, plan
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_robots_crawl_debt_regimes(spark, tmp_path):
    """All three debt regimes fire: a /local/-disallowing host owes
    exactly its /local/ captures (~1/3 — the host modulus 25 is
    coprime with the path rotation, so path classes vary WITHIN a
    host), a full-block host owes 100% with the full_block flag
    raised, a rule-less host owes nothing, and a host whose rule
    never matches its paths owes nothing despite having a rule."""
    t0 = _dt.datetime(2024, 1, 1)
    rows = []
    # host 0 (≡0 mod 4: Disallow /local/): ids 0/25/50 → paths
    # /local, /d, /a → exactly one blocked
    for eid in (0, 25, 50):
        rows.append((eid, t0, 1, "view", 1.0, "{}"))
    # host 1 (≡1 mod 4: Disallow /d/): ids 1/26/51 → /d, /a, /local
    for eid in (1, 26, 51):
        rows.append((eid, t0, 1, "view", 1.0, "{}"))
    # host 2 (≡2 mod 8: Disallow /): full block
    for eid in (2, 27, 52):
        rows.append((eid, t0, 1, "view", 1.0, "{}"))
    # host 3 (no rules): zero debt
    for eid in (3, 28, 53):
        rows.append((eid, t0, 1, "view", 1.0, "{}"))
    # host 4 (≡0 mod 4: Disallow /local/) captured only on /d and /a:
    # ids 4 (%3=1 → /d) and 29 (%3=2 → /a) — rule exists, never fires
    for eid in (4, 29):
        rows.append((eid, t0, 1, "view", 1.0, "{}"))
    write_events(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_robots_crawl_debt")
    assert s == oracle_rows(tmp_path, "q_robots_crawl_debt")
    by_host = {r[0]: r[1:] for r in s}
    assert by_host["h0.example.com"] == (3, 1, 333333, False)
    assert by_host["h1.example.com"] == (3, 1, 333333, False)
    assert by_host["h2.example.com"] == (3, 3, 1000000, True)
    assert by_host["h3.example.com"] == (3, 0, 0, False)
    assert by_host["h4.example.com"] == (2, 0, 0, False)
    plan = formatted_plan(
        REGISTRY["q_robots_crawl_debt"].spark(spark, str(tmp_path))
    )
    assert "Window" not in plan, plan


def test_span_corruption_exact_transform(spark, tmp_path):
    """The masked input and target are byte-exact against a hand-built
    expectation for a 25-token document (spans at positions 1-3 and
    21-23), and the ppm/count columns carry the closed-form values."""
    import hashlib as hl

    words = [f"t{i}" for i in range(1, 26)]
    write_docs(tmp_path, [(0, " ".join(words), "en", "s0", 100)])
    s = spark_rows(spark, tmp_path, "q_span_corruption")
    assert s == oracle_rows(tmp_path, "q_span_corruption")
    (lang, n_docs, toks, corrupted, ppm, spans, digest), = s
    assert (lang, n_docs, toks, corrupted, spans) == ("en", 1, 25, 6, 2)
    assert ppm == 6 * 1000000 // 25
    exp_input = "<extra_id_0> " + " ".join(words[3:20]) + \
        " <extra_id_1> " + " ".join(words[23:25])
    exp_target = "<extra_id_0> t1 t2 t3 <extra_id_1> t21 t22 t23"
    pair_md5 = hl.md5(
        (exp_input + "\x01" + exp_target).encode()
    ).hexdigest()
    assert digest == hl.md5(pair_md5.encode()).hexdigest()


def test_index_merge_classes_and_identities(spark, tmp_path):
    """All three merge classes fire with exact identities: new terms
    grow at 1000000 ppm (all their postings are additions), untouched
    terms at 0, and postings_merged across classes equals base + delta
    postings exactly."""
    rows = [(i, "shared tok" + str(i % 2), "en", "s0", 30)
            for i in range(20)]
    write_docs(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_index_merge")
    assert s == oracle_rows(tmp_path, "q_index_merge")
    by_class = {r[0]: r[1:] for r in s}
    assert set(by_class) == {"new_term", "untouched", "updated"}
    assert by_class["new_term"][4] == 1000000
    assert by_class["untouched"][1] == 0 and by_class["untouched"][4] == 0
    # every added posting is a delta posting; merged = base + delta
    total_merged = sum(v[2] for v in by_class.values())
    total_added = sum(v[1] for v in by_class.values())
    # base docs: 16 of 20 (doc_id % 5 != 0); delta docs: 4
    # real terms: 'shared' (df 20), 'tok0'/'tok1' (df 10 each) +
    # markers xnew{0,1,2} / xbase{0,1,2}
    assert total_merged == 20 + 10 + 10 + 20  # term dfs + markers
    assert total_added == 4 + 2 + 2 + 4  # delta's share of each


def test_feed_parse_formats_and_dup_ids(spark, tmp_path):
    """Both wire formats fire (even hosts RSS, odd hosts Atom), and a
    host with duplicate guids reports n_distinct_ids < n_entries —
    the aggregator-dedup defect the audit exists to surface."""
    t0 = _dt.datetime(2024, 3, 1, 12, 0, 0)
    hr = _dt.timedelta(hours=1)
    # host 0 (rss): eids 0 and 3600 share gid g0 (3600//30 % 120 == 0),
    # eid 60 is gid g2; host 1 (atom): eids 1, 31 -> g0, g1
    rows = [
        (eid, t0 + k * hr, 1, "view", 1.0, "{}")
        for k, eid in enumerate([0, 3600, 60, 1, 31])
    ]
    write_events(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_feed_parse")
    assert s == oracle_rows(tmp_path, "q_feed_parse")
    by_host = {r[0]: r for r in s}
    assert by_host["site0.example.com"][1] == "rss"
    assert by_host["site1.example.com"][1] == "atom"
    # duplicate guid on host 0: 3 entries, 2 distinct ids
    assert by_host["site0.example.com"][2] == 3
    assert by_host["site0.example.com"][3] == 2
    # atom host parses cleanly too (regexp dispatch picked href links)
    assert by_host["site1.example.com"][2] == 2
    assert by_host["site1.example.com"][5] == 2


def test_link_depth_bfs_min_distance(spark, tmp_path):
    """BFS from even-decade seeds: the +3/+1 step mix is required for
    the min depth (host 8 needs 4 hops: 3+3+1+1), odd decades are
    unreachable (-1), and a first-visit BFS that never re-relaxes a
    longer path would overstate depth for hosts reachable both ways."""
    rows = [(i, "t", "en", "s0", 1) for i in range(100)]
    write_docs(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_link_depth")
    assert s == oracle_rows(tmp_path, "q_link_depth")
    depth = {r[0]: r[1] for r in s}
    assert len(depth) == 100
    assert depth[0] == 0 and depth[3] == 1 and depth[8] == 4
    assert depth[5] == 3  # 3+1+1, not the 5-step pure +1 walk
    assert depth[18] == -1 and depth[97] == -1  # odd decades
    reachable = [r for r in s if r[2]]
    assert len(reachable) == 50
    assert max(r[1] for r in reachable) == 4  # eccentricity bound tight


def test_audio_chunks_ragged_tail_and_batch_fanout(spark, tmp_path):
    """Chunk partition is exact: per-doc chunk sizes sum to the decoded
    sample count, the last chunk is ragged when 400 does not divide n,
    and the fan-out happens inside the Arrow batch (no explode/Generate
    node in the plan)."""
    # n_bytes 3 -> n = 9 % 2000 + 400 = 409 -> chunks 400 + 9
    write_docs(tmp_path, [(7, "abc", "en", "s0", 3)])
    df = REGISTRY["q_audio_chunks"].spark(spark, str(tmp_path))
    plan = formatted_plan(df)
    assert "Generate" not in plan  # fan-out is in-batch, not explode
    s = spark_rows(spark, tmp_path, "q_audio_chunks")
    assert s == oracle_rows(tmp_path, "q_audio_chunks")
    assert [r[3] for r in s] == [400, 9]
    assert all(r[1] == 409 for r in s)
    # exact integer stats for the ragged tail: samples 400..408 of doc 7
    v = [((7 * 31 + i * 7) % 1997) - 998 for i in range(400, 409)]
    assert s[-1][4] == sum(x * x for x in v)
    assert s[-1][5] == max(abs(x) for x in v)


def test_http_cache_all_six_classes(spark, tmp_path):
    """All six RFC 9111 revalidation regimes fire, the TTL mass lands
    only in the max-age classes, and revalidatability follows the
    validator headers exactly."""
    rows = [(i, "t", "en", "s0", 1) for i in range(14)]
    write_docs(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_http_cache")
    assert s == oracle_rows(tmp_path, "q_http_cache")
    by_cls = {r[0]: r for r in s}
    assert set(by_cls) == {
        "no-store", "revalidate-always", "fresh-ttl", "fresh-ttl-swr",
        "etag-revalidate", "lm-heuristic",
    }
    assert by_cls["no-store"][3] == 0 and by_cls["no-store"][4] == 0
    assert by_cls["revalidate-always"][4] == by_cls["revalidate-always"][1]
    assert by_cls["fresh-ttl"][1] == 4  # doc_id % 7 in (2, 3) of 14
    assert by_cls["fresh-ttl-swr"][3] < 3600  # the hour-capped regime
    assert by_cls["etag-revalidate"][2] == 0  # validators carry no TTL
    assert by_cls["lm-heuristic"][4] == by_cls["lm-heuristic"][1]


def test_unicode_normalize_classes(spark, tmp_path):
    """The decomposed class changes on every doc reclaiming exactly one
    char and one byte per doc; precomposed and ascii are NFC
    fixpoints — a normalizer that composes nothing (or re-encodes
    everything) fails one side or the other."""
    rows = [(i, "plain ascii text", "en", "s0", 16) for i in range(12)]
    write_docs(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_unicode_normalize")
    assert s == oracle_rows(tmp_path, "q_unicode_normalize")
    by_cls = {r[0]: r for r in s}
    assert set(by_cls) == {"decomposed", "precomposed", "ascii"}
    n, changed, chars, bts = by_cls["decomposed"][1:]
    assert changed == n and chars == n and bts == n
    assert by_cls["precomposed"][2] == 0 and by_cls["precomposed"][4] == 0
    assert by_cls["ascii"][2] == 0 and by_cls["ascii"][3] == 0


def test_lang_mismatch_all_classes(spark, tmp_path):
    """agree / mismatch / undetermined all fire on planted texts, and
    the exact-ppm shares within a declared language are floor-exact."""
    rows = [
        # declared de, german stopwords -> agree
        (0, "der die und das ist", "de", "s0", 20),
        (1, "der die und nicht mit", "de", "s0", 20),
        # declared de, english text -> mismatch (detected en)
        (2, "the and of to in", "de", "s0", 16),
        # declared zh, english text -> mismatch (detector blind spot)
        (3, "the and of to in", "zh", "s0", 16),
        # declared en, no stopwords at all -> undetermined
        (4, "zz qq xx", "en", "s0", 8),
    ]
    write_docs(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_lang_mismatch")
    assert s == oracle_rows(tmp_path, "q_lang_mismatch")
    cells = {(r[0], r[1]): r for r in s}
    assert cells[("de", "de")][3] == "agree"
    assert cells[("de", "en")][3] == "mismatch"
    assert cells[("zh", "en")][3] == "mismatch"
    assert cells[("en", "und")][3] == "undetermined"
    # de split 2/1: shares floor to 666666 and 333333 ppm
    assert cells[("de", "de")][4] == 666666
    assert cells[("de", "en")][4] == 333333


def test_capture_diff_rule_and_single_capture(spark, tmp_path):
    """5 captures of one url: pairs (0,1)(2,3) identical (in-window),
    (1,2)(3,4) changed at exactly 7/13 Jaccard = 538461 ppm — computed
    by REAL array diffing on the Spark side and by closed form in the
    oracle; a single-capture url is excluded on BOTH sides."""
    t0 = _dt.datetime(2024, 5, 1)
    hr = _dt.timedelta(hours=1)
    rows = [
        (50 * k, t0 + k * hr, 1, "view", 1.0, "{}") for k in range(5)
    ]  # url 0: versions 0..4
    rows += [(1, t0, 1, "view", 1.0, "{}")]  # url 1: single capture
    write_events(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_capture_diff")
    assert s == oracle_rows(tmp_path, "q_capture_diff")
    assert [r[0] for r in s] == [0]  # url 1 excluded both sides
    url0 = s[0]
    assert url0[1:4] == (5, 4, 2)
    assert url0[4] == 2 * 1000000 + 2 * 538461
    assert url0[5] == (2 * 1000000 + 2 * 538461) // 4


def test_media_pipeline_job_composes(spark, tmp_path, monkeypatch, capsys):
    """jobs/media_pipeline.py over the synthetic asset table: each
    modality branch runs the SAME batch body its driver gate
    hash-checks, the written artifacts obey the stub-decode rules
    recomputed independently in python, and the manifest read back
    from parquet is consistent with the files it describes."""
    import hashlib as hl
    import importlib
    import json as json_
    import sys as sys_

    sys_.path.insert(
        0, str(__import__("pathlib").Path(__file__).resolve().parent.parent
               / "jobs")
    )
    mp = importlib.import_module("media_pipeline")
    out = tmp_path / "media"
    monkeypatch.setattr(
        sys_, "argv",
        ["media_pipeline.py", "--assets", "90", "--output", str(out)],
    )
    mp.main()
    stats = json_.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["assets"] == 90
    assert all(stats[m]["n_assets"] == 30 for m in ("image", "video", "audio"))
    # independent python recompute of every image row from the synth rule
    imgs = {r["doc_id"]: r
            for r in spark.read.parquet(str(out / "images")).collect()}
    assert len(imgs) == 30
    for did, r in imgs.items():
        n = did % 251 + 16  # payload byte-length rule (hex chars = bytes)
        w, h = n % 640 + 1, n * 7 % 480 + 1
        assert (r["width"], r["height"]) == (w, h)
        tw = 64 if w >= h else max(1, w * 64 // h)
        th = max(1, h * 64 // w) if w >= h else 64
        assert (r["thumb_w"], r["thumb_h"]) == (tw, th)
        assert r["thumb_digest"] == hl.md5(
            f"{did}:{tw}x{th}".encode()).hexdigest()[:8]
    # video: at most 8 frames per asset, stride rule holds
    fr = spark.read.parquet(str(out / "frames")).collect()
    by_vid = {}
    for r in fr:
        by_vid.setdefault(r["doc_id"], []).append(r)
    assert len(by_vid) == 30
    for did, rows in by_vid.items():
        nf = rows[0]["n_frames"]
        assert nf == (did % 251 + 16) % 240 + 1
        assert 1 <= len(rows) <= 8
        stride = (nf + 7) // 8
        assert sorted(r["frame_idx"] for r in rows) == list(
            range(0, nf, stride))
    # audio: chunk sizes partition the decoded sample count exactly
    au = spark.read.parquet(str(out / "audio_chunks")).collect()
    by_aud = {}
    for r in au:
        by_aud.setdefault(r["doc_id"], []).append(r)
    assert len(by_aud) == 30
    for did, rows in by_aud.items():
        n = (did % 251 + 16) * 3 % 2000 + 400
        assert rows[0]["n_samples"] == n
        assert sum(r["chunk_n"] for r in rows) == n
    # manifest certifies the written files
    man = {r["modality"]: r
           for r in spark.read.parquet(str(out / "manifest")).collect()}
    assert man["image"]["n_units"] == 30
    assert man["video"]["n_units"] == len(fr)
    assert man["audio"]["n_units"] == len(au)
    assert man["video"]["mass"] == sum(
        rows[0]["n_frames"] for rows in by_vid.values())
    assert man["audio"]["mass"] == sum(
        rows[0]["n_samples"] for rows in by_aud.values())


def test_robots_sitemaps_cross_host(spark, tmp_path):
    """CDN hosts (h % 5 == 0) flag cross-host sitemap pointers with
    the right counts; same-host publishers never flag."""
    t0 = _dt.datetime(2024, 6, 1)
    rows = [(h, t0, 1, "view", 1.0, "{}") for h in (0, 1, 4, 5)]
    write_events(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_robots_sitemaps")
    assert s == oracle_rows(tmp_path, "q_robots_sitemaps")
    by_host = {r[0]: r for r in s}
    # h=0: 1 sitemap (0%3+1), all on the CDN host
    assert by_host["site0.example.com"][1:] == (1, 1, 1, True)
    # h=5: 3 sitemaps (5%3+1), all cross-host, one distinct CDN host
    assert by_host["site5.example.com"][1:] == (3, 3, 1, True)
    # h=1: 2 sitemaps, same host, no flag
    assert by_host["site1.example.com"][1:] == (2, 0, 1, False)
    assert by_host["site4.example.com"][1:] == (2, 0, 1, False)


def test_embedding_quantize_grid_exactness(spark, tmp_path):
    """Grid endpoints reconstruct exactly (code 0 and 255 -> err 0),
    a midpoint lands on the floor grid with the closed-form error,
    and a constant dimension degenerates to one code with zero range."""
    write_embeddings(
        tmp_path,
        [
            (0, [0.0, 7.5], 0),
            (1, [1.0, 7.5], 0),
            (2, [0.5, 7.5], 0),
        ],
    )
    s = spark_rows(spark, tmp_path, "q_embedding_quantize")
    assert s == oracle_rows(tmp_path, "q_embedding_quantize")
    by_dim = {r[0]: r for r in s}
    # dim 1: xq {0, 5000, 10000}; endpoints err 0; midpoint:
    # code = 5000*255//10000 = 127, recon = 127*10000//255 = 4980,
    # err = 20
    assert by_dim[1][1:] == (3, 10000, 3, 20, 20)
    # dim 2: constant 7.5 -> xq 75000, range 0, single code, no error
    assert by_dim[2][1:] == (3, 0, 1, 0, 0)


def test_compression_ratio_matches_zlib_reference(spark, tmp_path):
    """Planted extremes fire all three classes and every aggregate
    matches a direct python-zlib recompute of the same texts — the
    correctness pin for the one rows-only (no-SQL-oracle) text op."""
    import zlib as zl

    texts = {
        0: "spam " * 400,                      # highly repetitive
        1: "xQ",                               # tiny: zlib overhead > raw
        2: " ".join(  # mid-range ratio ~573k ppm: hash-token salad
            __import__("hashlib").md5(str(i).encode()).hexdigest()[:8]
            for i in range(80)),
        3: "ham " * 300,                       # repetitive again
    }
    write_docs(
        tmp_path, [(k, v, "en", "s0", len(v)) for k, v in texts.items()]
    )
    s = spark_rows(spark, tmp_path, "q_compression_ratio")
    exp = {}
    for t in texts.values():
        raw = t.encode()
        comp = len(zl.compress(raw, 6))
        ppm = comp * 1000000 // len(raw)
        cls = ("highly_repetitive" if ppm < 450000
               else "incompressible" if ppm > 900000 else "normal")
        n, r, c = exp.get(cls, (0, 0, 0))
        exp[cls] = (n + 1, r + len(raw), c + comp)
    assert set(r[0] for r in s) == {"highly_repetitive", "normal",
                                    "incompressible"}
    for cls_name, n_docs, raw_b, comp_b, mean_ppm in s:
        n, r, c = exp[cls_name]
        assert (n_docs, raw_b, comp_b) == (n, r, c)
        assert mean_ppm == c * 1000000 // r


# ---------------------------------------------------------------------------
# Session-7 ops: sitemap coverage, IP colocation, freshness weights
# ---------------------------------------------------------------------------


def test_sitemap_coverage_both_defect_branches_live(spark, tmp_path):
    """Parity + dead-class discipline: on EVERY host both defect
    branches fire (odd declared items are never crawled -> missing;
    the even crawl tail exceeds the declared range -> orphan), and
    the set identities matched+missing=declared, matched+orphan=
    crawled hold exactly."""
    t0 = _dt.datetime(2026, 1, 1)
    rows = [(i, t0, i, "view", 1.0, "{}") for i in range(80)]
    write_events(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_sitemap_coverage")
    assert s == oracle_rows(tmp_path, "q_sitemap_coverage")
    assert len(s) == 40
    for host, nd, nc, nm, nmiss, norph, cov in s:
        assert nm + nmiss == nd and nm + norph == nc
        assert nmiss >= 1 and norph >= 1  # both branches live
        assert 0 <= cov <= 1000000
        assert cov == nm * 1000000 // nd


def test_ip_colocation_all_three_classes(spark, tmp_path):
    """Parity + regime coverage: the mega-farm subnet holds every
    4th host (25 of 97), singleton subnets exist (h>=90, h%4!=0),
    and the shared-hosting subnets hold 2-3 hosts each; the sorted
    3-host sample never exceeds 3 entries."""
    t0 = _dt.datetime(2026, 1, 1)
    rows = [(i, t0, i, "view", 1.0, "{}") for i in range(97)]
    write_events(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_ip_colocation")
    assert s == oracle_rows(tmp_path, "q_ip_colocation")
    by_class = {}
    for subnet, n, sample, cls in s:
        by_class.setdefault(cls, []).append((subnet, n))
        assert 1 <= len(sample.split(",")) <= 3
    assert ("10.0.99.0/24", 25) in by_class["farm"]
    assert len(by_class["dedicated"]) == 5  # 90,91,93,94,95
    assert all(2 <= n <= 3 for _, n in by_class["shared"])
    assert by_class["shared"]  # the middle regime fires too


def test_freshness_weights_exact_decay_and_share(spark, tmp_path):
    """Parity + exactness: per-bucket weight is the exact power-of-two
    step decay 1e6 >> k, mass = n * w, and the floored per-source
    shares sum to within nrows of 1e6 (floor rounding only)."""
    rows = [
        (i, "w " * 4, "en", "s", 8) for i in range(400)
    ]
    write_docs(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_freshness_weights")
    assert s == oracle_rows(tmp_path, "q_freshness_weights")
    per_source = {}
    for source, k, n, w, mass, share in s:
        assert w == 1000000 >> k
        assert mass == n * w
        per_source.setdefault(source, []).append(share)
    for source, shares in per_source.items():
        assert 1000000 - len(shares) <= sum(shares) <= 1000000


def test_zipf_fit_matches_python_reference(spark, tmp_path):
    """Parity + exact python recompute: a hand-built corpus where term
    k appears floor(120/k) times is near-ideal Zipf; the integer-
    lattice fit must equal a python recompute on the SAME
    milli-quantized logs EXACTLY (the whole point of the lattice: no
    float-summation-order drift), and the slope must sit near -1."""
    import math

    counts = {f"t{k:02d}": 120 // k for k in range(1, 31)}
    words = [w for w, c in counts.items() for _ in range(c)]
    # spread tokens over docs so the tf aggregate actually combines
    rows = []
    for i in range(0, len(words), 7):
        rows.append((i, " ".join(words[i : i + 7]), "en", "s", 1))
    write_docs(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_zipf_fit")
    assert s == oracle_rows(tmp_path, "q_zipf_fit")
    (lang, n_ranks, top_mass, slope_micro, intercept_milli) = s[0]
    assert lang == "en" and n_ranks == 30
    assert top_mass == sum(counts.values())
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    xq = [math.floor(math.log(r) * 1000) for r in range(1, 31)]
    yq = [math.floor(math.log(c) * 1000) for _, c in ranked]
    n = 30
    sx, sy = sum(xq), sum(yq)
    sxy = sum(a * b for a, b in zip(xq, yq))
    sxx = sum(a * a for a in xq)
    num, den = n * sxy - sx * sy, n * sxx - sx * sx
    exp_slope = int(num * 1000000 / den) if num * 1000000 % den == 0 else (
        num * 1000000 // den if (num >= 0) == (den >= 0)
        else -((-num * 1000000) // den)
    )
    # Spark DIV / DuckDB // both truncate toward zero
    assert slope_micro == exp_slope
    assert -1200000 < slope_micro < -800000  # Zipf-ish corpus ≈ -1
    exp_int = sy * 1000000 - exp_slope * sx
    exp_int = (
        exp_int // (n * 1000000)
        if exp_int >= 0
        else -((-exp_int) // (n * 1000000))
    )
    assert intercept_milli == exp_int


def test_entity_density_closed_form(spark, tmp_path):
    """Parity + closed form: every synthesized doc carries exactly 12
    tokens and 3 true entities (mid-sentence name, city, post-'Later'
    name) while the decoys (document-initial 'The', sentence-initial
    'Later', all-caps 'NASA') never count; with doc_ids covering all
    residues the distinct-entity set is all 7 names + 11 cities."""
    rows = [(i, "x", "en", "s", 1) for i in range(77)]
    write_docs(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_entity_density")
    assert s == oracle_rows(tmp_path, "q_entity_density")
    (source, n_docs, n_tokens, n_entities, ppm, n_distinct) = s[0]
    assert (source, n_docs) == ("s", 77)
    assert n_tokens == 77 * 12 and n_entities == 77 * 3
    assert ppm == 3 * 1000000 // 12
    assert n_distinct == 7 + 11  # names ∪ cities; decoys excluded


def test_readability_forcast_closed_form(spark, tmp_path):
    """Parity + closed-form FORCAST: all-mono doc grades exactly 5.0
    (50000 on the lattice), all-disyllable 20.0, a 2/3-mono doc lands
    exactly on 10.0 (standard band); vowelless tokens read as ONE
    syllable (the GREATEST floor), and a >=3-vowel-group word counts
    as complex."""
    rows = [
        (0, "the cat sat on the mat", "en", "s", 22),          # all mono
        (1, "window table order merge paper", "en", "s", 30),  # all 2-syll
        (2, "cat dog window", "en", "s", 14),                  # 2/3 mono
        (3, "zz qq window", "en", "s", 12),                    # vowelless=1
        (4, "operationally cat", "en", "s", 17),               # complex
    ]
    write_docs(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_readability")
    assert s == oracle_rows(tmp_path, "q_readability")
    by_id = {r[0]: r for r in s}
    assert by_id[0] == (0, 6, 6, 0, 50000, "easy")
    assert by_id[1] == (1, 5, 0, 0, 200000, "advanced")
    assert by_id[2] == (2, 3, 2, 0, 100000, "standard")
    assert by_id[3][2] == 2 and by_id[3][5] == "standard"
    assert by_id[4][3] == 1  # operationally: 6 vowel groups -> complex
    assert {r[5] for r in s} == {"easy", "standard", "advanced"}


def test_license_detect_precedence_and_classes(spark, tmp_path):
    """Parity + dead-class discipline: all six license classes fire,
    the SA wordings (which CONTAIN the CC-BY wording) classify
    cc-by-sa — precedence, not pattern exclusivity — versions extract
    only from dotted numbers (copyright years never match), and the
    redistributable verdict covers exactly the open classes."""
    t0 = _dt.datetime(2026, 1, 1)
    rows = [(i, t0, i, "view", 1.0, "{}") for i in range(33)]
    write_events(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_license_detect")
    assert s == oracle_rows(tmp_path, "q_license_detect")
    got = {(r[0], r[1]): r for r in s}
    assert set(r[0] for r in s) == {
        "cc-by-sa", "cc-by", "public-domain",
        "all-rights-reserved", "mit", "none",
    }
    # both SA wordings landed on cc-by-sa with their own versions
    assert got[("cc-by-sa", "4.0")][2] == 3
    assert got[("cc-by-sa", "3.0")][2] == 3
    # cc-by has exactly the two BY wordings (nothing leaked from SA)
    assert got[("cc-by", "4.0")][2] == 6
    # copyright years are not versions
    assert got[("all-rights-reserved", "unversioned")][2] == 6
    assert got[("public-domain", "1.0")][2] == 3
    assert got[("public-domain", "unversioned")][2] == 3
    assert got[("mit", "unversioned")][2] == 3
    assert got[("none", "unversioned")][2] == 6
    for r in s:
        assert r[4] == (r[0] in ("cc-by-sa", "cc-by", "public-domain", "mit"))


def test_code_detect_all_classes_closed_form(spark, tmp_path):
    """Parity + dead-class discipline: python/js/C variants all score
    as code (kw boundaries verified: \\bint\\b never fires inside
    'printed'), the embedded-statement page lands in the MIDDLE class,
    prose scores exactly zero; scores are the closed-form integer
    signal sums."""
    t0 = _dt.datetime(2026, 1, 1)
    rows = [(i, t0, i, "view", 1.0, "{}") for i in range(12)]
    write_events(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_code_detect")
    assert s == oracle_rows(tmp_path, "q_code_detect")
    got = {r[0]: r for r in s}
    assert set(got) == {"code", "mixed", "prose"}
    # py: 3kw+2ind=11, js: 3kw+2*(2br+3semi)=19, c: 4kw+2*(2br+2semi)=20
    assert got["code"][1:4] == (6, 2 * (11 + 19 + 20), 20)
    assert got["mixed"][1:4] == (2, 2 * 3, 3)
    assert got["prose"][1:4] == (4, 0, 0)
    assert got["code"][4] > 0 and got["mixed"][4] > 0
    assert got["prose"][4] == 0


def test_tag_histogram_voids_and_malformed(spark, tmp_path):
    """Parity + closed-form census: void tags (img, br) surface as
    pure unclosed, the malformed page's dangling <p> and unbalanced
    <div> show up as +1 unclosed each, attributes/self-closing
    slashes never pollute the tag key, and </x> never counts as an
    open."""
    t0 = _dt.datetime(2026, 1, 1)
    rows = [(i, t0, i, "view", 1.0, "{}") for i in range(10)]
    write_events(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_tag_histogram")
    assert s == oracle_rows(tmp_path, "q_tag_histogram")
    got = {r[0]: r[1:] for r in s}  # tag -> (open, close, unclosed, pages)
    assert got["html"] == (10, 10, 0, 10)
    assert got["body"] == (10, 10, 0, 10)
    assert got["div"] == (8, 6, 2, 6)
    assert got["p"] == (8, 6, 2, 6)
    assert got["img"] == (4, 0, 4, 2)   # void, self-closing slash eaten
    assert got["br"] == (2, 0, 2, 2)    # void, bare
    assert got["a"] == (4, 4, 0, 4)
    assert got["td"] == (4, 4, 0, 2)
    assert got["script"] == (2, 2, 0, 2)
    assert set(got) == {
        "html", "body", "div", "p", "a", "img", "br",
        "table", "tr", "td", "head", "script",
    }


def test_wet_convert_parity_and_script_ordering(spark, tmp_path):
    """Parity + the ordering property that makes WET conversion
    correct: the script body's bare '<' comparison must vanish as part
    of the whole <script> block BEFORE the generic tag strip runs —
    otherwise '< 2;</script...' would be eaten as one giant "tag" (or
    code would leak into the text). Extracted text per record is the
    closed form 'Doc {id} Doc {id} {text}', so yield is exact."""
    rows = [
        (i, f"alpha beta gamma {i}", "en", f"s{i % 3}", 17)
        for i in range(50)
    ]
    write_docs(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_wet_convert")
    assert s == oracle_rows(tmp_path, "q_wet_convert")
    assert [r[0] for r in s] == [0, 1]  # 50 docs / 25 per file
    for file_id, n, html_chars, text_chars, yield_ppm, digest in s:
        assert n == 25
        ids = range(file_id * 25, file_id * 25 + 25)
        exp_txt = sum(
            len(f"Doc {i} Doc {i} alpha beta gamma {i}") for i in ids
        )
        assert text_chars == exp_txt  # no script/style chars leaked
        assert yield_ppm == text_chars * 1000000 // html_chars
        assert len(digest) == 32


def test_soft404_detect_class_precedence(spark, tmp_path):
    """14 pages = two full rotations of the 7 surface forms: a real
    404 whose body ALSO says 'not found' classifies hard-error (status
    precedence beats the phrase), the title-only and body-only soft-404
    wordings both land in soft-404, the short-but-honest page is thin,
    and share_ppm is the exact integer division of each class count."""
    t0 = _dt.datetime(2026, 1, 1)
    rows = [(i, t0, i, "view", 1.0, "{}") for i in range(14)]
    write_events(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_soft404_detect")
    assert s == oracle_rows(tmp_path, "q_soft404_detect")
    got = {r[0]: r[1:] for r in s}
    # ids {0,6,7,13} are 4xx/410 (13 -> kind 6); hosts {0,6,7} (13%13=0)
    assert got["hard-error"] == (4, 3, 4 * 1000000 // 14)
    assert got["soft-404"] == (4, 4, 4 * 1000000 // 14)
    assert got["thin"] == (2, 2, 2 * 1000000 // 14)
    assert got["ok"] == (4, 4, 4 * 1000000 // 14)
    assert set(got) == {"hard-error", "soft-404", "thin", "ok"}


def test_heading_outline_classes(spark, tmp_path):
    """Two full rotations of the six page shapes: every class live,
    close tags never double-count a level (n_headings is the OPEN-tag
    count), a page with one h1 that jumps 2->4 is 'skip' not 'clean',
    a multi-h1 page wins over its own skip, and deep counts only h4+."""
    rows = [(i, f"t {i}", "en", "s", 3) for i in range(12)]
    write_docs(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_heading_outline")
    assert s == oracle_rows(tmp_path, "q_heading_outline")
    got = {r[0]: r[1:] for r in s}  # class -> (pages, headings, h1, deep)
    assert got["clean"] == (2, 6, 2, 0)
    assert got["multi-h1"] == (2, 6, 4, 0)
    assert got["headless"] == (2, 4, 0, 0)
    assert got["skip"] == (4, 12, 4, 2)   # shapes 3 (1->3) and 4 (2->4)
    assert got["empty"] == (2, 0, 0, 0)
    assert set(got) == {"clean", "multi-h1", "headless", "skip", "empty"}


def test_politeness_audit_boundaries(spark, tmp_path):
    """Hosts at the verdict edges: all-gaps-above-delay (polite),
    exactly-half violating (mixed, not rude — strict majority rule),
    all violating (rude), a single-fetch host (unknown, NULL min gap,
    ppm 0 rather than a division blowup), and a same-instant pair
    whose event_id tiebreak makes the zero gap deterministic (rude)."""
    t0 = _dt.datetime(2026, 1, 1)
    sec = _dt.timedelta(seconds=1)
    rows = []
    # host 0, tier 0 (delay 1000 s): gaps 2000 s, 2000 s -> polite
    rows += [(0, t0, 0, "view", 1.0, "{}"),
             (13, t0 + 2000 * sec, 0, "view", 1.0, "{}"),
             (26, t0 + 4000 * sec, 0, "view", 1.0, "{}")]
    # host 1, tier 1 (delay 2800 s): gaps 1000 s, 5000 s -> 1/2 = mixed
    rows += [(1, t0, 0, "view", 1.0, "{}"),
             (14, t0 + 1000 * sec, 0, "view", 1.0, "{}"),
             (27, t0 + 6000 * sec, 0, "view", 1.0, "{}")]
    # host 2, tier 2 (delay 4000 s): gaps 1000 s, 2000 s -> 2/2 = rude
    rows += [(2, t0, 0, "view", 1.0, "{}"),
             (15, t0 + 1000 * sec, 0, "view", 1.0, "{}"),
             (28, t0 + 3000 * sec, 0, "view", 1.0, "{}")]
    # host 3: single fetch -> unknown
    rows += [(3, t0, 0, "view", 1.0, "{}")]
    # host 4, tier 1: two fetches at the SAME instant -> gap 0 -> rude
    rows += [(4, t0, 0, "view", 1.0, "{}"),
             (17, t0, 0, "view", 1.0, "{}")]
    write_events(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_politeness_audit")
    assert s == oracle_rows(tmp_path, "q_politeness_audit")
    got = {r[0]: r[1:] for r in s}
    assert got[0] == (3, 2, 0, 2000 * 1000, 0, "polite")
    assert got[1] == (3, 2, 1, 1000 * 1000, 500000, "mixed")
    assert got[2] == (3, 2, 2, 1000 * 1000, 1000000, "rude")
    assert got[3] == (1, 0, 0, None, 0, "unknown")
    assert got[4] == (2, 1, 1, 0, 1000000, "rude")


def test_tracker_census_broadcast_classes(spark, tmp_path):
    """15 pages = one full rotation of both script slots (lcm(5,3)):
    every tracker category is live, two distinct tracker hosts fold
    into the one 'analytics' category, unmatched CDNs and inline
    'self' scripts survive the LEFT join as first-party, and page
    counts are DISTINCT events (a page with two analytics scripts
    counts once)."""
    t0 = _dt.datetime(2026, 1, 1)
    rows = [(i, t0, i, "view", 1.0, "{}") for i in range(15)]
    write_events(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_tracker_census")
    assert s == oracle_rows(tmp_path, "q_tracker_census")
    got = {r[0]: r[1:] for r in s}  # category -> (scripts, pages, hosts)
    assert got["analytics"] == (8, 7, 7)
    assert got["social"] == (3, 3, 3)
    assert got["tag-manager"] == (3, 3, 3)
    assert got["first-party"] == (16, 12, 10)
    assert sum(r[1] for r in s) == 30  # 15 pages x 2 script slots


def test_url_params_census_classes(spark, tmp_path):
    """Two rotations of the six query-string shapes: the query-less
    url contributes ZERO param rows (split of '' must not yield an
    empty param), utm_ prefix matching is literal (the LIKE escape),
    'q' appearing in two shapes folds into one row, and carry_ppm is
    measured against ALL urls including query-less ones."""
    t0 = _dt.datetime(2026, 1, 1)
    rows = [(i, t0, i, "view", 1.0, "{}") for i in range(12)]
    write_events(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_url_params_census")
    assert s == oracle_rows(tmp_path, "q_url_params_census")
    got = {(r[0], r[1]): (r[2], r[3]) for r in s}
    assert got[("utm_source", "tracking")] == (2, 2 * 1000000 // 12)
    assert got[("utm_medium", "tracking")] == (2, 2 * 1000000 // 12)
    assert got[("gclid", "tracking")] == (2, 166666)
    assert got[("fbclid", "tracking")] == (2, 166666)
    assert got[("sessionid", "session")] == (2, 166666)
    assert got[("q", "functional")] == (4, 4 * 1000000 // 12)
    assert got[("id", "functional")] == (2, 166666)
    assert len(s) == 10
    assert sum(v[0] for v in got.values()) == 22  # kind-5 urls add none


def test_title_templates_threshold(spark, tmp_path):
    """Template threshold is >= 5 pages sharing a title WITHIN a host:
    five copies qualify, four do not; a host's unique article titles
    count toward n_titles but never toward template mass; ppm is the
    integer share of the host's own pages."""
    t0 = _dt.datetime(2026, 1, 1)
    ids = (
        [0, 117, 234, 351, 468]   # host 0, 'Home | Site 0' x5 -> template
        + [13]                    # host 0, unique 'Article 13 | Site 0'
        + [1, 118]                # host 1, 'Products | Site 1' x2
        + [54, 171, 288, 405]     # host 2, 'Home | Site 2' x4 -> below
        + [4]                     # host 4, unique article
    )
    rows = [(i, t0, 0, "view", 1.0, "{}") for i in ids]
    write_events(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_title_templates")
    assert s == oracle_rows(tmp_path, "q_title_templates")
    got = {r[0]: r[1:] for r in s}
    assert got[0] == (6, 2, 1, 5, 5 * 1000000 // 6)
    assert got[1] == (2, 1, 0, 0, 0)
    assert got[2] == (4, 1, 0, 0, 0)
    assert got[4] == (1, 1, 0, 0, 0)


def test_gibberish_detect_classes(spark, tmp_path):
    """Two rotations of the six text shapes with a controlled clean
    sentence: vowel ratio is measured among LETTERS (the all-symbol
    page reports ppm 0 but classifies symbol-heavy, not gibberish,
    because it has no letters), the consonant-run probe fires only on
    the mash shape (y is not a consonant for 'rhythms'), and the
    empty page short-circuits every ratio."""
    clean = "the quick brown fox jumps over a lazy dog"
    rows = [(i, clean, "en", "s", len(clean)) for i in range(12)]
    write_docs(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_gibberish_detect")
    assert s == oracle_rows(tmp_path, "q_gibberish_detect")
    got = {r[0]: r[1:] for r in s}  # class -> (docs, chars, vppm, run7)
    letters = sum(c.isalpha() for c in clean)
    vowels = sum(c in "aeiou" for c in clean)
    vppm = vowels * 1000000 // letters
    assert got["clean"] == (4, 4 * len(clean), vppm, 0)
    assert got["gibberish"][0] == 4      # mash x2 + vowel-less x2
    assert got["gibberish"][2] == 0      # zero vowels in both shapes
    assert got["gibberish"][3] == 2      # run7 fires only on the mash
    assert got["symbol-heavy"] == (2, 2 * 27, 0, 0)
    assert got["empty"] == (2, 0, 0, 0)


def test_citation_density_classes(spark, tmp_path):
    """Two rotations of the five shapes over a bracket-free baseline:
    '[12]' counts as ONE marker, the inline-marker shape without a
    bibliography is 'cited', the bibliography-without-markers page is
    'refs-only', and density is floor(total markers * 1e6 / chars)."""
    base = "plain body with no citations"
    rows = [(i, base, "en", "s", len(base)) for i in range(10)]
    write_docs(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_citation_density")
    assert s == oracle_rows(tmp_path, "q_citation_density")
    got = {r[0]: r[1:] for r in s}
    sch = ("As shown in [1] and [2], results improve with scale [3]. "
           "References: 1. Smith 2. Jones")
    see = "See [12] [13] [14] [15] plus the notes"
    wiki = base + " [4]"
    refs = "References and further reading"
    assert got["cited+refs"] == (
        2, 6, 3, 6 * 1000000 // (2 * len(sch)))
    assert got["cited"] == (
        4, 10, 4, 10 * 1000000 // (2 * len(see) + 2 * len(wiki)))
    assert got["refs-only"] == (2, 0, 0, 0)
    assert got["uncited"] == (2, 0, 0, 0)


def test_bandwidth_apportion_sums_to_budget(spark, tmp_path):
    """Hamilton apportionment invariants: quotas sum EXACTLY to the
    10000-slot budget; with three equal hosts the 9999-floor leaves
    one extra slot that the host-id tiebreak gives to host 0; with
    shares that divide evenly there are zero extras."""
    t0 = _dt.datetime(2026, 1, 1)
    a, b = tmp_path / "a", tmp_path / "b"
    a.mkdir(); b.mkdir()
    # A: three equal hosts -> base 3333 each, one remainder slot
    write_events(a, [(i, t0, 0, "view", 1.0, "{}") for i in range(3)])
    s = spark_rows(spark, a, "q_bandwidth_apportion")
    assert s == oracle_rows(a, "q_bandwidth_apportion")
    got = {r[0]: r[1:] for r in s}
    assert got[0] == (1, 3333, 1, 3334)   # tie on remainder -> host 0
    assert got[1] == (1, 3333, 0, 3333)
    assert got[2] == (1, 3333, 0, 3333)
    assert sum(r[4] for r in s) == 10000
    # B: masses 7/2/1 of 10 -> exact division, no extras
    ids = [0, 13, 26, 39, 52, 65, 78, 1, 14, 2]
    write_events(b, [(i, t0, 0, "view", 1.0, "{}") for i in ids])
    s = spark_rows(spark, b, "q_bandwidth_apportion")
    assert s == oracle_rows(b, "q_bandwidth_apportion")
    got = {r[0]: r[1:] for r in s}
    assert got[0] == (7, 7000, 0, 7000)
    assert got[1] == (2, 2000, 0, 2000)
    assert got[2] == (1, 1000, 0, 1000)


def test_https_migration_trajectories(spark, tmp_path):
    """One url per scheme behavior, three captures each with strictly
    increasing timestamps: endpoints classify migrated/regressed even
    when the interior flaps; a url whose endpoints agree but whose
    interior dipped is 'flapping', not stable; the sparse unique-url
    arm lands in 'single' with no trajectory."""
    t0 = _dt.datetime(2026, 1, 1)
    sec = _dt.timedelta(seconds=1)
    ids = [5, 106, 207,      # url 5: ck 0 -> http-stable
           6, 107, 208,      # url 6: ck 1 -> https-stable
           7, 108, 209,      # url 7: ck 2, point 1 -> 0,1,1 migrated
           8, 109, 210,      # url 8: ck 3, point 2 -> 1,1,0 regressed
           9, 110, 211,      # url 9: ck 4 -> 0,1,0 flapping
           997]              # singles arm: url 1098, one capture
    rows = [(i, t0 + i * sec, 0, "view", 1.0, "{}") for i in ids]
    write_events(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_https_migration")
    assert s == oracle_rows(tmp_path, "q_https_migration")
    got = {r[0]: r[1:] for r in s}  # class -> (urls, caps, https, hosts)
    assert got["http-stable"] == (1, 3, 0, 1)
    assert got["https-stable"] == (1, 3, 3, 1)
    assert got["migrated"] == (1, 3, 2, 1)
    assert got["regressed"] == (1, 3, 2, 1)
    assert got["flapping"] == (1, 3, 1, 1)
    # url 1098: ck 3, point 1 + 1098 % 7 = 7, k = 9 -> http capture
    assert got["single"] == (1, 1, 0, 1)
    assert set(got) == {"http-stable", "https-stable", "migrated",
                        "regressed", "flapping", "single"}


def test_image_alt_coverage_classes(spark, tmp_path):
    """Two rotations of the five page shapes: empty alt (deliberate
    opt-out) is distinct from missing alt, the placeholder value is
    judged on the captured attribute, imageless pages land in
    no-image, and shares are exact integer ppm of all pages."""
    t0 = _dt.datetime(2026, 1, 1)
    rows = [(i, t0, i, "view", 1.0, "{}") for i in range(10)]
    write_events(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_image_alt_coverage")
    assert s == oracle_rows(tmp_path, "q_image_alt_coverage")
    got = {r[0]: r[1:] for r in s}
    for cls in ("alt-ok", "alt-empty", "alt-missing",
                "alt-placeholder", "no-image"):
        assert got[cls] == (2, 2, 200000), cls


def test_ndcg_eval_rotation_lattice(spark, tmp_path):
    """Five queries = the full grade-rotation cycle: every query has
    the same {3,2,1,0,0} multiset so IDCG is the constant 4760 milli;
    the perfectly-descending rotation scores exactly 1000000 ppm; the
    mean/min are the exact integer values recomputed in python."""
    rows = [(i, "t", "en", "s", 1) for i in range(50)]
    write_docs(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_ndcg_eval")
    assert s == oracle_rows(tmp_path, "q_ndcg_eval")
    disc = {1: 1000, 2: 630, 3: 500, 4: 431, 5: 386}
    ppms = []
    for qp in range(5):  # qids 0,10,20,30,40 -> q' = 0..4
        rels = [max(0, 3 - (qp + r) % 5) for r in range(1, 6)]
        dcg = sum(rel * disc[r] for r, rel in enumerate(rels, 1))
        idcg = sum(
            rel * disc[r]
            for r, rel in enumerate(sorted(rels, reverse=True), 1)
        )
        assert idcg == 4760
        ppms.append(dcg * 1000000 // idcg)
    (n_q, mean_ppm, min_ppm, max_ppm, n_perfect) = s[0]
    assert n_q == 5
    assert mean_ppm == sum(ppms) // 5
    assert min_ppm == min(ppms)
    assert max_ppm == 1000000 and 1000000 in ppms
    assert n_perfect == 1


def test_robots_precedence_longest_match(spark, tmp_path):
    """18 urls = every path shape under every ruleset: the longer
    Allow overrides the shorter Disallow ('/private/public/x' is
    allowed inside a disallowed subtree), the blanket Disallow '/' is
    pierced only by '/articles/', '/private' (no trailing slash) does
    NOT match the '/private/' rule and falls to default, and the
    empty ruleset allows everything."""
    t0 = _dt.datetime(2026, 1, 1)
    rows = [(i, t0, 0, "view", 1.0, "{}") for i in range(18)]
    write_events(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_robots_precedence")
    assert s == oracle_rows(tmp_path, "q_robots_precedence")
    got = {(r[0], r[1], r[2]): r[3] for r in s}
    assert got[(0, "blocked", "/private/")] == 1
    assert got[(0, "allowed", "/private/public/")] == 1
    assert got[(0, "blocked", "/tmp")] == 1
    assert got[(0, "allowed", "(default)")] == 3  # incl. bare /private
    assert got[(1, "allowed", "/articles/")] == 1
    assert got[(1, "blocked", "/")] == 5
    assert got[(2, "allowed", "(default)")] == 6
    assert len(got) == 7


def test_crawl_trap_detect_classes(spark, tmp_path):
    """Two rotations of the six url shapes: the calendar date pattern
    wins precedence, depth counts non-empty segments only (the root
    path '/' is clean, never a repeated-empty-segment trap), the
    category loop is caught by multiplicity (no regexp backreference),
    and page=250 crosses the deep-pagination floor."""
    t0 = _dt.datetime(2026, 1, 1)
    rows = [(i, t0, 0, "view", 1.0, "{}") for i in range(12)]
    write_events(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_crawl_trap_detect")
    assert s == oracle_rows(tmp_path, "q_crawl_trap_detect")
    got = {r[0]: r[1:] for r in s}
    assert got["calendar-trap"] == (2, 2, 2 * 1000000 // 12)
    assert got["depth-trap"] == (2, 2, 166666)
    assert got["repeat-trap"] == (2, 2, 166666)
    assert got["deep-pagination"] == (2, 2, 166666)
    assert got["clean"] == (4, 4, 4 * 1000000 // 12)


def test_warc_revisit_economics(spark, tmp_path):
    """One fast-changing url (every capture a fresh digest — zero
    revisits) and one slow-changing url (nine captures, digest
    advances at the eighth — seven revisits): stored/revisit splits,
    the ppm rate, and bytes saved = (captures-1) x the digest's
    payload, all exact integers."""
    t0 = _dt.datetime(2026, 1, 1)
    ids = [4 + 101 * k for k in range(3)] + [5 + 101 * k for k in range(9)]
    rows = [(i, t0, 0, "view", 1.0, "{}") for i in ids]
    write_events(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_warc_revisit")
    assert s == oracle_rows(tmp_path, "q_warc_revisit")
    (n_urls, n_caps, n_stored, n_revisit, ppm, saved) = s[0]
    assert (n_urls, n_caps) == (2, 12)
    assert (n_stored, n_revisit) == (5, 7)   # 3 fresh + (1 + 1 slow)
    assert ppm == 7 * 1000000 // 12
    assert saved == 7 * (500 + (5 * 37 + 0) % 300)  # slow url, ver 0


def test_content_length_audit_classes(spark, tmp_path):
    """Two rotations of the five transfer regimes: the zero-byte page
    with a declared 0 is 'empty', never 'truncated' (the equality
    branch precedes the comparison), the undeclared sentinel is
    excluded from the deficit, and overlong responses net a NEGATIVE
    deficit against truncation."""
    t0 = _dt.datetime(2026, 1, 1)
    rows = [(i, t0, 0, "view", 1.0, "{}") for i in range(10)]
    write_events(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_content_length_audit")
    assert s == oracle_rows(tmp_path, "q_content_length_audit")
    got = {r[0]: r[1:] for r in s}
    assert got["exact"] == (2, 2, 2400, 0)
    assert got["truncated"] == (2, 2, 1600, 800)
    assert got["overlong"] == (2, 2, 2700, -300)
    assert got["undeclared"] == (2, 2, 1800, 0)
    assert got["empty"] == (2, 2, 0, 0)


def test_link_rot_join_and_rate(spark, tmp_path):
    """A full pass of the 200-target space from one source host: the
    x7 stride visits every target exactly once, so the rot rate is
    exactly the dimension's 30% dead share; a second host with a
    partial link set gets its own independent rate."""
    t0 = _dt.datetime(2026, 1, 1)
    # host 0: event_ids 0, 23, 46, ... 23*k covers k*161 % 200 ... use
    # 200 events all with event_id % 23 == 0 -> ids 23*k for k<200
    ids = [23 * k for k in range(200)]
    rows = [(i, t0, 0, "view", 1.0, "{}") for i in ids]
    write_events(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_link_rot")
    assert s == oracle_rows(tmp_path, "q_link_rot")
    got = {r[0]: r[1:] for r in s}
    # dst = (23k*7) % 200 = 161k % 200; gcd(161,200)=1 -> all targets
    assert got[0] == (200, 60, 60 * 1000000 // 200)


def test_cms_fingerprint_parsing(spark, tmp_path):
    """One rotation of the seven head shapes: the generator anchor
    never matches a viewport meta, 'Wix.com' keeps its dot in the
    product token, the Drupal url never pollutes the version (space
    anchor), and version-less/generator-less pages survive as
    first-class rows."""
    t0 = _dt.datetime(2026, 1, 1)
    rows = [(i, t0, 0, "view", 1.0, "{}") for i in range(7)]
    write_events(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_cms_fingerprint")
    assert s == oracle_rows(tmp_path, "q_cms_fingerprint")
    got = {(r[0], r[1]): r[2] for r in s}
    assert got[("WordPress", "6.4.2")] == 1
    assert got[("WordPress", "5.9")] == 1
    assert got[("Drupal", "10")] == 1
    assert got[("Hugo", "0.121.0")] == 1
    assert got[("Wix.com", "(unversioned)")] == 1
    assert got[("(none)", "(unversioned)")] == 2  # viewport + empty
    assert len(got) == 6


def test_compliance_run_job_composes(spark, tmp_path, monkeypatch, capsys):
    """jobs/compliance_run.py over the synthetic fetch log: written
    verdicts match an independent recompute through the SAME shared
    core the gate query uses, the politeness ledger maps each delay
    tier to exactly its designed verdict (the alternating 11/39 s
    cadence), and the work list's debt is 2 x blocked + violations
    with the stats line agreeing with the written tables."""
    import importlib
    import json as json_
    import sys as sys_

    sys_.path.insert(
        0, str(__import__("pathlib").Path(__file__).resolve().parent.parent
               / "jobs")
    )
    cj = importlib.import_module("compliance_run")
    out = tmp_path / "compliance"
    monkeypatch.setattr(
        sys_, "argv",
        ["compliance_run.py", "--fetches", "600", "--output", str(out)],
    )
    cj.main()
    stats = json_.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["fetches"] == 600
    assert stats["hosts"] == 25
    v = spark.read.parquet(str(out / "verdicts"))
    # written verdicts == independent recompute via the shared core
    from readembedability_spark.textops.robots import robots_verdicts_from

    log = cj.synth_fetch_log(spark, 600)
    exp = {
        r["fetch_id"]: (r["rule"], r["verdict"])
        for r in robots_verdicts_from(
            log.select("fetch_id", "g", "path"),
            cj.rulesets(spark),
            uid="fetch_id",
        ).collect()
    }
    got = {r["fetch_id"]: (r["rule"], r["verdict"]) for r in v.collect()}
    assert got == exp
    assert stats["blocked_fetches"] == sum(
        1 for _, verdict in got.values() if verdict == "blocked"
    )
    # ledger: delay tier -> verdict, exactly
    led = {r["host"]: r for r in
           spark.read.parquet(str(out / "ledger")).collect()}
    assert len(led) == 25
    for h, r in led.items():
        tier = int(h[1:].split(".")[0]) % 3
        assert r["politeness"] == ("polite", "mixed", "rude")[tier], h
        if tier == 2:
            assert r["violation_ppm"] == 1000000
    # work list: debt = 2 x blocked + violations; stats agree
    wl = spark.read.parquet(str(out / "work_list")).collect()
    for r in wl:
        assert r["debt"] == 2 * r["n_blocked"] + r["n_violations"]
    assert stats["total_debt"] == sum(r["debt"] for r in wl)
    assert stats["worst_debt"] == max(r["debt"] for r in wl)


def test_countmin_sketch_exact_recompute(spark, tmp_path):
    """300 singleton tokens + one heavy hitter: the sketch is
    recomputed exactly in python (same md5 digest slices, same 4x64
    geometry), the estimate equals the python min-over-rows for every
    reported token, and it NEVER underestimates. With ~4.7 tokens per
    cell the heavy hitter's collision mass is visible, exercising the
    overestimate column the sf corpus leaves at zero."""
    import hashlib as _hl

    rows = [(i, f"w{i:03d} common", "en", "s", 10) for i in range(300)]
    write_docs(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_countmin_sketch")
    assert s == oracle_rows(tmp_path, "q_countmin_sketch")
    # python replica
    tf = {"common": 300}
    for i in range(300):
        tf[f"w{i:03d}"] = 1

    def cell(w, i):
        return int(_hl.md5(w.encode()).hexdigest()[i * 8:(i + 1) * 8], 16) % 64

    cells = {}
    for w, n in tf.items():
        for i in range(4):
            cells[(i, cell(w, i))] = cells.get((i, cell(w, i)), 0) + n
    top = sorted(tf.items(), key=lambda kv: (-kv[1], kv[0]))[:8]
    exp = sorted(
        (w, n, min(cells[(i, cell(w, i))] for i in range(4)))
        for w, n in top
    )
    got = sorted((r[0], r[1], r[2]) for r in s)
    assert got == [tuple(e) for e in exp]
    for _, n, est in got:
        assert est >= n
    # the heavy hitter's cells all carry collision mass here
    common = [r for r in s if r[0] == "common"][0]
    assert common[3] == common[2] - 300 >= 0


def test_paywall_detect_declaration_precedence(spark, tmp_path):
    """Two rotations of the six page shapes: a page DECLARING
    isAccessibleForFree true stays free-declared even though its
    newsletter upsell contains the subscribe phrase (declaration
    beats phrase in both polarities); both phrase wordings fold into
    paywall-phrase; the consent wall is its own remediation class."""
    t0 = _dt.datetime(2026, 1, 1)
    rows = [(i, t0, i, "view", 1.0, "{}") for i in range(12)]
    write_events(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_paywall_detect")
    assert s == oracle_rows(tmp_path, "q_paywall_detect")
    got = {r[0]: r[1:] for r in s}
    assert got["paywall-declared"] == (2, 2, 166666)
    assert got["free-declared"] == (2, 2, 166666)
    assert got["paywall-phrase"] == (4, 4, 333333)
    assert got["consent-wall"] == (2, 2, 166666)
    assert got["free"] == (2, 2, 166666)


def test_embedding_norm_audit_lattice(spark, tmp_path):
    """Hand-built vectors on the integer lattice: the zeroed arm is
    exactly 0, the shrunk arm takes abs BEFORE integer division (a
    -0.55 element floors to -5500 on the lattice and must shrink to
    5, not split -5/-6 across engines), the amplified arm triples
    lattice values, and negative elements square away in the normal
    arm."""
    rows = [
        (0, [0.5, 0.5, 0.5, 0.5], 0),       # -> zeroed
        (1, [-0.55, 0.5, 0.5, 0.5], 1),     # -> tiny via abs//1000
        (2, [0.5, 0.5, 0.5, 0.5], 2),       # -> huge via x3
        (3, [-0.5, -0.5, -0.5, -0.5], 3),   # normal, negative elems
        (4, [0.5, 0.5, 0.5, 0.5], 4),       # normal
    ]
    write_embeddings(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_embedding_norm_audit")
    assert s == oracle_rows(tmp_path, "q_embedding_norm_audit")
    got = {r[0]: r[1:] for r in s}
    assert got["zero"] == (1, 1, 0, 0)
    # q = [-5500, 5000, 5000, 5000] -> abs//1000 = [5, 5, 5, 5]
    assert got["tiny"] == (1, 1, 100, 100)
    assert got["huge"] == (1, 1, 4 * 15000 ** 2, 4 * 15000 ** 2)
    assert got["normal"] == (2, 2, 4 * 5000 ** 2, 4 * 5000 ** 2)


def test_social_cards_bitmap(spark, tmp_path):
    """One full 3-bit rotation: every presence combination is its own
    bitmap row (no lossy precedence), completeness is the bit count,
    and the empty head lands in the all-false row."""
    t0 = _dt.datetime(2026, 1, 1)
    rows = [(i, t0, i, "view", 1.0, "{}") for i in range(8)]
    write_events(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_social_cards")
    assert s == oracle_rows(tmp_path, "q_social_cards")
    got = {(r[0], r[1], r[2]): (r[3], r[4]) for r in s}
    assert len(got) == 8
    for (t, i, c), (comp, n) in got.items():
        assert comp == int(t) + int(i) + int(c)
        assert n == 1


def test_anchor_rel_census_multivalued(spark, tmp_path):
    """One link per rel shape: 'ugc nofollow' counts toward BOTH
    qualifiers (multi-label, not a class), 'noopener' and the bare
    link land in follow (word-bounded probes — 'nofollow' never
    matches inside another token), and the double-qualified paid link
    is nofollow AND sponsored."""
    t0 = _dt.datetime(2026, 1, 1)
    rows = [(i, t0, 0, "view", 1.0, "{}") for i in range(6)]
    write_events(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_anchor_rel_census")
    assert s == oracle_rows(tmp_path, "q_anchor_rel_census")
    got = {r[0]: r[1:] for r in s}
    assert got[0] == (1, 1, 0, 0, 0, 1000000)   # nofollow
    assert got[1] == (1, 0, 1, 0, 0, 0)         # sponsored
    assert got[2] == (1, 1, 0, 1, 0, 1000000)   # ugc nofollow -> both
    assert got[3] == (1, 0, 0, 0, 1, 0)         # noopener -> follow
    assert got[4] == (1, 0, 0, 0, 1, 0)         # bare -> follow
    assert got[5] == (1, 1, 1, 0, 0, 1000000)   # nofollow sponsored


def test_mixed_content_classes(spark, tmp_path):
    """18 ids cover every (scheme, resource) combination: active beats
    passive per page, http pages land out of scope, and the ppm
    denominator is https pages only (host 2 has one https page that
    is active -> exactly 1000000)."""
    t0 = _dt.datetime(2026, 1, 1)
    rows = [(i, t0, 0, "view", 1.0, "{}") for i in range(18)]
    write_events(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_mixed_content")
    assert s == oracle_rows(tmp_path, "q_mixed_content")
    # every class fires (dead-class sanity on the synthesis key)
    tot = [sum(r[k] for r in s) for k in range(1, 8)]
    n_pages, n_https, n_active, n_passive, n_clean, n_http, _ = tot
    assert (n_pages, n_https, n_http) == (18, 9, 9)
    assert (n_active, n_passive, n_clean) == (3, 3, 3)
    host2 = next(r for r in s if r[0] == 2)
    assert host2[2] == 1 and host2[3] == 1 and host2[7] == 1000000


def test_security_headers_grades(spark, tmp_path):
    """One full 4-bit rotation: grade row counts follow the binomial
    (1,4,6,4,1) and within-grade marginals show what each cohort is
    missing (every header appears exactly once in grade 1)."""
    t0 = _dt.datetime(2026, 1, 1)
    rows = [(i, t0, 0, "view", 1.0, "{}") for i in range(16)]
    write_events(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_security_headers")
    assert s == oracle_rows(tmp_path, "q_security_headers")
    got = {r[0]: r[1:] for r in s}
    assert [got[g][0] for g in range(5)] == [1, 4, 6, 4, 1]
    assert got[1][1:5] == (1, 1, 1, 1)
    assert got[3][1:5] == (3, 3, 3, 3)
    assert got[0][1:5] == (0, 0, 0, 0)
    assert got[4][1:5] == (1, 1, 1, 1)


def test_cookie_attributes_rejection(spark, tmp_path):
    """One full 4-bit rotation: each SameSite class holds 4 cookies
    with independent Secure/HttpOnly bits, '(absent)' is its own row,
    and ONLY SameSite=None without Secure counts as rejected (the
    RFC 6265bis hard error)."""
    t0 = _dt.datetime(2026, 1, 1)
    rows = [(i, t0, 0, "view", 1.0, "{}") for i in range(16)]
    write_events(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_cookie_attributes")
    assert s == oracle_rows(tmp_path, "q_cookie_attributes")
    got = {r[0]: r[1:] for r in s}
    assert set(got) == {"(absent)", "Lax", "Strict", "None"}
    for cls in got:
        assert got[cls][0] == 4 and got[cls][1] == 2 and got[cls][2] == 2
    assert got["None"][3] == 2
    assert got["(absent)"][3] == 0 and got["Lax"][3] == 0
    assert got["Strict"][3] == 0


def test_sri_coverage_cells(spark, tmp_path):
    """24 ids = one full (origin, integrity, algo) rotation: the
    exposure cell (third-party, none) carries 6 scripts, each algo
    splits 2/2 across origins, and first-party relative srcs never
    classify as third-party."""
    t0 = _dt.datetime(2026, 1, 1)
    rows = [(i, t0, 0, "view", 1.0, "{}") for i in range(24)]
    write_events(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_sri_coverage")
    assert s == oracle_rows(tmp_path, "q_sri_coverage")
    got = {(r[0], r[1]): r[2] for r in s}
    assert got[(True, "(none)")] == 6 and got[(False, "(none)")] == 6
    for algo in ("sha256", "sha384", "sha512"):
        assert got[(True, algo)] == 2 and got[(False, algo)] == 2
    assert len(got) == 8


def test_mojibake_classes(spark, tmp_path):
    """One full shape rotation x2: signature counts are exact (4
    double-utf8 hits in the Latin-1 arm, 2 NBSP, 2 U+FFFD), the
    severity precedence holds, and clean ASCII text never matches."""
    rows = [
        (i, "plain ascii text long enough", "en", "s0", 29)
        for i in range(10)
    ]
    write_docs(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_mojibake_detect")
    assert s == oracle_rows(tmp_path, "q_mojibake_detect")
    got = {r[0]: r[1:3] for r in s}
    assert set(got) == {"clean", "double-utf8", "nbsp-debris",
                        "replacement"}
    assert got["double-utf8"] == (4, 14)
    assert got["nbsp-debris"] == (2, 4)
    assert got["replacement"] == (2, 4)
    assert got["clean"] == (2, 0)


def test_truncation_classes(spark, tmp_path):
    """One shape rotation: the mid-tag cut outranks its own missing
    </html>, the balanced-but-unclosed page is no-close, the extra
    <div> with a proper close is unbalanced (deficit 1 each), and
    the complete page carries zero deficit."""
    rows = [(i, "body text", "en", "s0", 9) for i in range(8)]
    write_docs(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_truncation_detect")
    assert s == oracle_rows(tmp_path, "q_truncation_detect")
    got = {r[0]: r[1:3] for r in s}
    assert got["complete"] == (2, 0)
    assert got["no-close"] == (2, 0)
    assert got["mid-tag"] == (2, 2)
    assert got["unbalanced"] == (2, 2)


def test_date_sanity_classes(spark, tmp_path):
    """One shape rotation: future is the hard impossibility (3-day
    skew), the epoch leak lands in ancient with the largest absolute
    skew, missing is its own row with NULL skew, and the 10-day-old
    ok arm keeps its exact day count."""
    t0 = _dt.datetime(2026, 1, 20, 12, 0, 0)
    rows = [(i, t0, 0, "view", 1.0, "{}") for i in range(8)]
    write_events(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_date_sanity")
    assert s == oracle_rows(tmp_path, "q_date_sanity")
    got = {r[0]: r[1:] for r in s}
    assert got["ok"] == (2, 10)
    assert got["future"] == (2, 3)
    assert got["missing"] == (2, None)
    assert got["ancient"][0] == 2 and got["ancient"][1] > 20000


def test_parked_domain_classes(spark, tmp_path):
    """One shape rotation x2 with hosts spread mod 13: every phrase
    family fires, the thin floor catches the 9-char page, real text
    long enough stays content, and n_hosts counts distinct hosts per
    class (2 docs / 2 hosts each here)."""
    rows = [
        (i, "substantial real content " * 3, "en", "s0", 75)
        for i in range(10)
    ]
    write_docs(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_parked_domain")
    assert s == oracle_rows(tmp_path, "q_parked_domain")
    got = {r[0]: r[1:3] for r in s}
    assert set(got) == {"content", "parked", "suspended",
                        "placeholder", "thin"}
    for cls in got:
        assert got[cls] == (2, 2)


def test_jsonld_types_census(spark, tmp_path):
    """One shape rotation x2: every declared type is its own row, the
    @graph-wrapped BreadcrumbList still parses (nested envelope must
    not read as none), '(none)' is first-class, and has_headline
    fires only on the two article arms."""
    t0 = _dt.datetime(2026, 1, 1)
    rows = [(i, t0, 0, "view", 1.0, "{}") for i in range(12)]
    write_events(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_jsonld_types")
    assert s == oracle_rows(tmp_path, "q_jsonld_types")
    got = {r[0]: r[1:3] for r in s}
    assert set(got) == {"Article", "NewsArticle", "Product",
                        "FAQPage", "BreadcrumbList", "(none)"}
    assert got["Article"] == (2, 2)
    assert got["NewsArticle"] == (2, 2)
    assert got["BreadcrumbList"] == (2, 0)
    assert got["(none)"] == (2, 0)


def test_resource_hints_missing_as(spark, tmp_path):
    """One full 4-bit rotation: per-hint tallies come off the single
    aggregated row (8 pages carry each hint), and the preload defect
    column counts exactly the as=-less half of the preload pages —
    zero for the other hints by construction."""
    t0 = _dt.datetime(2026, 1, 1)
    rows = [(i, t0, 0, "view", 1.0, "{}") for i in range(16)]
    write_events(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_resource_hints")
    assert s == oracle_rows(tmp_path, "q_resource_hints")
    got = {r[0]: r[1:4] for r in s}
    assert got["preconnect"] == (8, 8, 0)
    assert got["dns-prefetch"] == (8, 8, 0)
    assert got["preload"] == (8, 8, 4)


def test_amp_pairing_classes(spark, tmp_path):
    """16 events = 8 url pairs = 2 per class: paired collapses, the
    dangling pointer is frontier work (amp capture absent), the
    orphaned amp capture exists without a declaring canonical, and
    no-amp is the remainder."""
    t0 = _dt.datetime(2026, 1, 1)
    rows = [(i, t0, 0, "view", 1.0, "{}") for i in range(16)]
    write_events(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_amp_pairing")
    assert s == oracle_rows(tmp_path, "q_amp_pairing")
    got = {r[0]: r[1] for r in s}
    assert got == {"paired": 2, "dangling-pointer": 2,
                   "orphan-amp": 2, "no-amp": 2}


def test_capture_quality_job_composes(spark, tmp_path, monkeypatch, capsys):
    """jobs/capture_quality.py over the synthetic capture table:
    written verdicts match an independent recompute through the SAME
    shared cores the three gate queries use, the verdict mixture is
    exactly the designed 3/8 keep, 3/8 drop, 1/8 fix, 1/8 refetch,
    and every host's keep_ppm is 375000 (arm and host keys coprime)."""
    import importlib
    import json as json_
    import sys as sys_

    sys_.path.insert(
        0, str(__import__("pathlib").Path(__file__).resolve().parent.parent
               / "jobs")
    )
    cq = importlib.import_module("capture_quality")
    out = tmp_path / "capq"
    monkeypatch.setattr(
        sys_, "argv",
        ["capture_quality.py", "--docs", "400", "--output", str(out)],
    )
    cq.main()
    stats = json_.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["docs"] == 400 and stats["hosts"] == 25
    assert (stats["n_keep"], stats["n_drop"],
            stats["n_fix"], stats["n_refetch"]) == (150, 150, 50, 50)
    assert stats["worst_keep_ppm"] == 375000
    # written verdicts == independent recompute via the shared cores
    v = spark.read.parquet(str(out / "verdicts"))
    got = {r["doc_id"]: (r["capture_class"], r["text_class"],
                         r["page_class"], r["verdict"])
           for r in v.collect()}
    exp = {r["doc_id"]: (r["capture_class"], r["text_class"],
                         r["page_class"], r["verdict"])
           for r in cq.verdicts_from(cq.synth_corpus(spark, 400)).collect()}
    assert got == exp
    # arm -> verdict map is the designed one (all four verdicts live)
    arm_verdict = {0: "keep", 1: "keep", 2: "fix", 3: "drop",
                   4: "drop", 5: "drop", 6: "refetch", 7: "keep"}
    for doc_id, (_, _, _, verdict) in got.items():
        assert verdict == arm_verdict[doc_id % 8], doc_id
    # work list: keep_ppm uniform, n_docs per host = 16
    wl = spark.read.parquet(str(out / "host_worklist")).collect()
    assert len(wl) == 25
    for r in wl:
        assert r["n_docs"] == 16 and r["keep_ppm"] == 375000
        assert r["n_refetch"] == 2 and r["n_fix"] == 2 and r["n_drop"] == 6


def test_conditional_get_ledger(spark, tmp_path):
    """24 fetches over 8 hosts: validator coverage, 304 outcomes and
    byte mass all recompute closed-form from the id lattice, and
    saved_ppm uses the would-have-shipped total as denominator."""
    t0 = _dt.datetime(2026, 1, 1)
    rows = [(i, t0, 0, "view", 1.0, "{}") for i in range(24)]
    write_events(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_conditional_get")
    assert s == oracle_rows(tmp_path, "q_conditional_get")
    exp = {}
    for i in range(24):
        h = i % 8
        has_v = i % 4 != 0
        is304 = has_v and (i // 4) % 3 != 2
        pb = 1000 + (i % 7) * 100
        e = exp.setdefault(h, [0, 0, 0, 0, 0])
        e[0] += 1
        e[1] += has_v
        e[2] += is304
        e[3] += 0 if is304 else pb
        e[4] += pb if is304 else 0
    for r in s:
        e = exp[r[0]]
        assert list(r[1:6]) == e
        assert r[6] == e[4] * 1000000 // max(e[3] + e[4], 1)
    assert sum(e[2] for e in exp.values()) == 12


def test_vary_audit_precedence(spark, tmp_path):
    """One shape rotation x2: the multi-member Vary lands in
    user-agent (a benign member never launders a fragmenting one),
    star and cookie are uncacheable, accept-encoding stays benign."""
    t0 = _dt.datetime(2026, 1, 1)
    rows = [(i, t0, 0, "view", 1.0, "{}") for i in range(12)]
    write_events(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_vary_audit")
    assert s == oracle_rows(tmp_path, "q_vary_audit")
    got = {r[0]: (r[1], r[2]) for r in s}
    assert got["(none)"] == (False, 2)
    assert got["accept-encoding"] == (False, 2)
    assert got["user-agent"] == (True, 4)
    assert got["cookie"] == (True, 2)
    assert got["star"] == (True, 2)


def test_retry_after_compliance(spark, tmp_path):
    """12 fetches per host at a fixed 60 s cadence: Retry-After 30 is
    respected, 90 is violated with a 30 s deficit, the header-less
    throttles count as missing, and the closed-form per-host ledger
    recomputes from the id lattice."""
    t0 = _dt.datetime(2026, 1, 1)
    rows = [(i, t0, 0, "view", 1.0, "{}") for i in range(60)]
    write_events(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_retry_after")
    assert s == oracle_rows(tmp_path, "q_retry_after")
    exp = {}
    for h in range(5):
        thr = miss = viol = 0
        for k in range(12):
            if k % 4 in (1, 2):
                thr += 1
                r = ((h + 5 * k) // 10) % 3
                if r == 2:
                    miss += 1
                elif r == 1 and k < 11:
                    viol += 1
        exp[h] = (12, thr, miss, viol, 30 if viol else None)
    got = {r[0]: tuple(r[1:]) for r in s}
    assert got == exp
    assert any(v[3] > 0 for v in exp.values())
    assert any(v[2] > 0 for v in exp.values())


def test_robots_diff_transitions(spark, tmp_path):
    """18 urls = every (ruleset, path) combo once: dropping the
    '/private/public/' Allow purges exactly that url, adding the
    '/index.html' Allow unlocks exactly that url in the blanket-
    Disallow group, and the no-rules group stays allowed wholesale."""
    t0 = _dt.datetime(2026, 1, 1)
    rows = [(i, t0, 0, "view", 1.0, "{}") for i in range(18)]
    write_events(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_robots_diff")
    assert s == oracle_rows(tmp_path, "q_robots_diff")
    got = {r[0]: (r[1], r[2]) for r in s}
    assert got["purge"] == (1, 1)
    assert got["unlock"] == (1, 1)
    assert got["still-allowed"] == (10, 3)
    assert got["still-blocked"] == (6, 2)


def test_bitext_mine_ratio_gate(spark, tmp_path):
    """4 clusters x (en, de, fr, filler): the de arm tracks the
    source length and passes the 2x cross-multiplication gate, the
    5x-too-short fr stub is rejected, and usable char mass sums the
    accepted target lengths exactly."""
    rows = [(i, "t", "en", "s0", 1) for i in range(16)]
    write_docs(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_bitext_mine")
    assert s == oracle_rows(tmp_path, "q_bitext_mine")
    got = {r[0]: r[1:] for r in s}
    de_chars = sum(400 + (c % 7) * 10 + c % 9 for c in range(4))
    assert got["de"] == (4, 4, 0, de_chars)
    assert got["fr"] == (4, 0, 4, 0)


def test_dom_nesting_depths(spark, tmp_path):
    """One shape rotation x2: the div pyramid peaks at 5, the flat
    page at 2, and the void elements (br/img) add ZERO depth — the
    page that uses them still peaks at 3, with its tag count intact
    (opens without closes counted as tags, not as depth)."""
    rows = [(i, "t", "en", "s0", 1) for i in range(8)]
    write_docs(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_dom_nesting")
    assert s == oracle_rows(tmp_path, "q_dom_nesting")
    got = {r[0]: (r[1], r[2]) for r in s}
    # arm0 depth 3 (6 tags), arm1 depth 5 (10), arm2 depth 2 (6),
    # arm3 depth 3 (8 tags incl. the 2 voids)
    assert got[5] == (2, 20)
    assert got[2] == (2, 12)
    assert got[3] == (4, 28)


def test_split_leakage_contrast(spark, tmp_path):
    """100 docs over 50 two-doc hosts: the doc-hash split (mod 7,
    coprime with the host key) leaks on exactly the hosts where one
    sibling hashes to eval (15 of 50), while the host-hash split
    leaks on ZERO hosts by construction — the contrast the audit
    exists to show."""
    rows = [(i, "t", "en", "s0", 1) for i in range(100)]
    write_docs(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_split_leakage")
    assert s == oracle_rows(tmp_path, "q_split_leakage")
    got = {r[0]: r[1:4] for r in s}
    exp_leaky = sum(
        1 for h in range(50)
        if (h % 7 == 0) != ((h + 50) % 7 == 0)
    )
    assert exp_leaky == 15
    assert got["doc-hash"] == (50, 15, 15 * 1000000 // 50)
    assert got["host-hash"] == (50, 0, 0)


def test_instruction_detect_classes(spark, tmp_path):
    """One shape rotation x2: the two-question page and the
    single-question FAQ page BOTH land in qa-format (the FAQ header
    rescues the single question from prose), numbered steps make
    howto, the line-leading quote makes forum, and sft yield counts
    only the mechanically-convertible classes."""
    rows = [
        (i, "plain prose long enough to matter", "en", "s0", 33)
        for i in range(10)
    ]
    write_docs(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_instruction_detect")
    assert s == oracle_rows(tmp_path, "q_instruction_detect")
    got = {r[0]: r[1:3] for r in s}
    assert got["qa-format"] == (4, 6)   # 2x(2 Q:) + 2x(1 Q:)
    assert got["howto"] == (2, 0)
    assert got["forum"] == (2, 0)
    assert got["prose"] == (2, 0)


def test_script_mix_homoglyph(spark, tmp_path):
    """One shape rotation x2: the interleaved Cyrillic-a brand word
    outranks every honest script class, honest CJK/Cyrillic pages
    classify by range counts, digits-and-punctuation lands in
    other, and plain corpus text stays latin."""
    rows = [
        (i, "plain latin corpus text", "en", "s0", 24)
        for i in range(10)
    ]
    write_docs(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_script_mix")
    assert s == oracle_rows(tmp_path, "q_script_mix")
    got = {r[0]: r[1] for r in s}
    assert got == {"latin": 2, "cjk": 2, "cyrillic": 2,
                   "mixed-homoglyph": 2, "other": 2}


def test_status_flap_classes(spark, tmp_path):
    """36 fetches over 6 hosts x 6 each — ALL FOUR classes live: the
    always-200 pair is healthy, the always-500 pair is hard-down
    with ZERO transitions (rate says down, flap says stable — the
    backoff case), the per-fetch alternator is flapping with 5
    transitions (the immediate-retry case), and the
    first-fetch-only error host is degraded with exactly one
    transition (non-periodic by design — a periodic error rule
    would flip to flapping as n grows)."""
    t0 = _dt.datetime(2026, 1, 1)
    rows = [(i, t0, 0, "view", 1.0, "{}") for i in range(36)]
    write_events(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_status_flap")
    assert s == oracle_rows(tmp_path, "q_status_flap")
    got = {r[0]: r[1:] for r in s}
    assert got["healthy"] == (2, 0, 0)
    assert got["hard-down"] == (2, 0, 1000000)
    assert got["flapping"] == (1, 5, 500000)
    assert got["degraded"] == (1, 1, 1000000 // 6)


def test_render_need_classes(spark, tmp_path):
    """One shape rotation x2 — all four classes live: both empty-root
    arms are spa-shell (the noscript fallback text is counted but
    stays under the shell floor, and the noscript marginal tracks
    it), the thin-text script page is hybrid, the rich article with
    an analytics script is enhanced-static (scripts alone never
    demote rich text), and script JS/src never counts as text."""
    t0 = _dt.datetime(2026, 1, 1)
    rows = [(i, t0, 0, "view", 1.0, "{}") for i in range(10)]
    write_events(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_render_need")
    assert s == oracle_rows(tmp_path, "q_render_need")
    got = {r[0]: r[1:4] for r in s}
    assert got["static"] == (2, 0, 500)
    assert got["spa-shell"] == (4, 2, 2 * 28)
    assert got["hybrid"] == (2, 0, 180)
    assert got["enhanced-static"] == (2, 0, 600)


def test_hidden_text_stuffing(spark, tmp_path):
    """One shape rotation x2: both hiding idioms with keyword lists
    land in stuffing, the one-char visibility:hidden element is
    hidden-minor (legitimate templates do this), clean pages carry
    zero hidden mass, and hidden_ppm is the poisoned share."""
    rows = [(i, "t", "en", "s0", 1) for i in range(8)]
    write_docs(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_hidden_text")
    assert s == oracle_rows(tmp_path, "q_hidden_text")
    got = {r[0]: r[1:3] for r in s}
    assert got["stuffing"][0] == 4 and got["stuffing"][1] == 2 * (43 + 35)
    assert got["hidden-minor"] == (2, 2)
    assert got["clean"] == (2, 0)


def test_cdn_detect_chaining(spark, tmp_path):
    """One shape rotation x2: each provider classifies from its
    header family, the bare-nginx response is (origin), and the
    cloudflare-in-front-of-cloudfront arm names the EDGE with the
    chained marginal set."""
    t0 = _dt.datetime(2026, 1, 1)
    rows = [(i, t0, 0, "view", 1.0, "{}") for i in range(12)]
    write_events(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_cdn_detect")
    assert s == oracle_rows(tmp_path, "q_cdn_detect")
    got = {r[0]: r[1:3] for r in s}
    assert got["cloudflare"] == (4, 2)   # plain x2 + chained x2
    assert got["fastly"] == (2, 0)
    assert got["cloudfront"] == (2, 0)
    assert got["akamai"] == (2, 0)
    assert got["(origin)"] == (2, 0)


def test_typosquat_distances(spark, tmp_path):
    """One shape rotation x2: exact brand labels score 0, the
    fat-finger and duplication labels land in squatting range (1),
    and 'news' stays unrelated (min distance >= 3 against every
    brand in the dimension)."""
    t0 = _dt.datetime(2026, 1, 1)
    rows = [(i, t0, 0, "view", 1.0, "{}") for i in range(12)]
    write_events(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_typosquat")
    assert s == oracle_rows(tmp_path, "q_typosquat")
    got = {r[0]: r[1:] for r in s}
    assert got["brand"] == (4, 2, 0, 0)        # paypal x2, github x2
    assert got["typosquat"] == (6, 3, 1, 1)    # paypa1, gooogle, amazn
    assert got["unrelated"][0] == 2 and got["unrelated"][2] >= 3


def test_subdomain_explosion_buckets(spark, tmp_path):
    """640 pages over 10 registrables — all four fan-out arms live:
    five single-www domains, three 4-subdomain spreads (few), one
    16-subdomain domain (many), one 64-subdomain wildcard farm
    (explosion), with page mass conserved per class."""
    t0 = _dt.datetime(2026, 1, 1)
    rows = [(i, t0, 0, "view", 1.0, "{}") for i in range(640)]
    write_events(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_subdomain_explosion")
    assert s == oracle_rows(tmp_path, "q_subdomain_explosion")
    got = {r[0]: r[1:] for r in s}
    assert got["single"] == (5, 1, 320)
    assert got["few"] == (3, 4, 192)
    assert got["many"] == (1, 16, 64)
    assert got["explosion"] == (1, 64, 64)


def test_robots_pattern_to_regex():
    """The RFC 9309 translation is the single source the wildcard
    gate AND its oracle embed: '*' spans octets, trailing '$'
    anchors, dots are literal."""
    from readembedability_spark.textops.robots import robots_pattern_to_regex

    assert robots_pattern_to_regex("/private/*.html") == \
        r"^/private/.*\.html"
    assert robots_pattern_to_regex("/downloads/*.html$") == \
        r"^/downloads/.*\.html$"
    assert robots_pattern_to_regex("/downloads/*") == \
        r"^/downloads/.*"
    # regex metacharacters legal in robots.txt patterns stay literal
    # octets (ADVICE r08): '?', '+', parens/brackets, and a
    # NON-trailing '$' (only a trailing '$' anchors per RFC 9309)
    import re

    r = robots_pattern_to_regex("/*?")
    assert r == r"^/.*\?"
    assert re.search(r, "/index.php?sess=1")
    assert not re.search(r, "/index.php")
    r = robots_pattern_to_regex("/a$b/*.php")
    assert r == r"^/a\$b/.*\.php"
    assert re.search(r, "/a$b/x.php")
    r = robots_pattern_to_regex("/x+(y)")
    assert r == r"^/x\+\(y\)"
    assert re.search(r, "/x+(y)")
    assert not re.search(r, "/xxy")


def test_robots_wildcard_verdicts(spark, tmp_path):
    """18 urls x all rulesets: the mid-pattern wildcard blocks html
    anywhere under /private/ (including under the pub allow — 15
    octets beat 13, RFC longest-match counts wildcards), the
    $-anchored allow rescues the bare .html but NOT the same path
    with a query string, and the empty ruleset defaults allowed."""
    t0 = _dt.datetime(2026, 1, 1)
    rows = [(i, t0, 0, "view", 1.0, "{}") for i in range(18)]
    write_events(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_robots_wildcard")
    assert s == oracle_rows(tmp_path, "q_robots_wildcard")
    got = {(r[0], r[1], r[2]): r[3] for r in s}
    assert got[(0, "blocked", "/private/*.html")] == 2
    assert got[(1, "allowed", "/downloads/*.html$")] == 1
    assert got[(1, "blocked", "/downloads/*")] == 2
    assert got[(2, "allowed", "(default)")] == 6
    assert sum(v for (g, verdict, _), v in got.items()
               if verdict == "blocked") == 4


def test_etag_stability_classes(spark, tmp_path):
    """48 captures over 12 urls x 4 each: the churn arm wastes 3
    refetches per url (4 ETags over 1 digest), the honest-change arm
    stays consistent (ETag and digest move TOGETHER), and the weak
    validator is its own class regardless of stability."""
    t0 = _dt.datetime(2026, 1, 1)
    rows = [(i, t0, 0, "view", 1.0, "{}") for i in range(48)]
    write_events(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_etag_stability")
    assert s == oracle_rows(tmp_path, "q_etag_stability")
    got = {r[0]: r[1:] for r in s}
    assert got["consistent"] == (6, 0, 24)
    assert got["etag-churn"] == (3, 9, 12)
    assert got["weak"] == (3, 0, 12)


def test_frontier_hygiene_job_composes(spark, tmp_path, monkeypatch,
                                       capsys):
    """jobs/frontier_hygiene.py over the synthetic frontier: written
    verdicts match an independent recompute through the SAME three
    shared cores the gate queries use, precedence holds (robots
    blocked beats typosquat beats farm-collapse), exactly one farm
    budget row exists for the 64-subdomain registrable, and the
    stats line agrees with the written tables."""
    import importlib
    import json as json_
    import sys as sys_

    sys_.path.insert(
        0, str(__import__("pathlib").Path(__file__).resolve().parent.parent
               / "jobs")
    )
    fh = importlib.import_module("frontier_hygiene")
    out = tmp_path / "fh"
    monkeypatch.setattr(
        sys_, "argv",
        ["frontier_hygiene.py", "--urls", "600", "--output", str(out)],
    )
    fh.main()
    stats = json_.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["urls"] == 600 and stats["farms"] == 1
    # written verdicts == independent recompute via the shared cores
    got = {}
    for name in ("admitted", "quarantine"):
        for r in spark.read.parquet(str(out / name)).collect():
            got[r["url_id"]] = r["verdict"]
    exp_all = {
        r["url_id"]: r["verdict"]
        for r in fh.verdicts_from(
            spark, fh.synth_frontier(spark, 600)
        ).collect()
    }
    exp_written = {k: v for k, v in exp_all.items() if v != "blocked"}
    assert got == exp_written
    # precedence: every paypa1 url that is not robots-blocked is
    # quarantined (never admitted), and blocked paypa1 urls exist
    squat_ids = [i for i in range(600) if i % 10 == 0]
    assert any(exp_all[i] == "blocked" for i in squat_ids)
    assert all(exp_all[i] in ("blocked", "quarantine")
               for i in squat_ids)
    # the farm: one budget row, the 64-subdomain registrable
    fb = spark.read.parquet(str(out / "farm_budgets")).collect()
    assert len(fb) == 1
    assert fb[0]["registrable"] == "site9.example"
    assert fb[0]["n_subs"] == 60 and fb[0]["shared_budget"] == 100
    # stats agree with written tables
    assert stats["admitted"] == sum(
        1 for v in exp_written.values() if v in ("admit", "collapse")
    )
    assert stats["quarantined"] == sum(
        1 for v in exp_written.values() if v == "quarantine"
    )
    assert stats["blocked"] == sum(
        1 for v in exp_all.values() if v == "blocked"
    )


def test_csp_audit_classes(spark, tmp_path):
    """One shape rotation x2: the strict policy stays strict, each
    unsafe keyword is its own class, the kitchen-sink policy is
    both-unsafe AND carries the wildcard-default marginal, and the
    empty header is missing."""
    t0 = _dt.datetime(2026, 1, 1)
    rows = [(i, t0, 0, "view", 1.0, "{}") for i in range(10)]
    write_events(tmp_path, rows)
    s = spark_rows(spark, tmp_path, "q_csp_audit")
    assert s == oracle_rows(tmp_path, "q_csp_audit")
    got = {r[0]: r[1:3] for r in s}
    assert got["strict"] == (2, 0)
    assert got["unsafe-inline"] == (2, 0)
    assert got["unsafe-eval"] == (2, 0)
    assert got["both-unsafe"] == (2, 2)
    assert got["missing"] == (2, 0)
