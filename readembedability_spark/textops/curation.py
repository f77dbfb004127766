"""Document curation: language ID, quality scores, Gopher rules and
repetition signals, PII scrubbing, the blocklist and filter funnel,
host quotas and quality priors, CCNet buckets, DSIR weights, the
composed admission policy and the end-to-end curation pipelines, plus
the per-host and per-document text audits they read.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from readembedability_spark.queries import (
    REGISTRY,
    _persist,
    _t,
    q,
)
from readembedability_spark.schemas import local_table
from readembedability_spark.text_signals import (
    alpha_ratio,
    doc_tokens,
    feature_bucket,
    gopher_labels,
    head_split_join,
    quality_blend,
    synthetic_host,
    word_ngrams,
)
from readembedability_spark.textops.dedup import (
    _ML_TEXT_SQL,
    _WORD_TOKS_SQL,
    _WORDS_SQL,
    _cc_reps_sql,
    _connected_components,
    _ml_text_col,
    _shingles_from,
    _verified_pairs_from,
    _verified_pairs_sql,
    _words_df,
)
from readembedability_spark.textops.training import _GOPHER_LAB_SQL


@q(
    """
    SELECT COUNT(*) AS n_rows,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           ROUND(SUM(CASE WHEN text IS NULL OR text = '' THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*), 4) AS empty_text_frac,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars,
           ROUND(AVG(n_chars), 2) AS mean_chars
    FROM documents
    """,
)
def q_profile_documents(spark, sf_dir):
    """Table profiling (the catalog health check every ingest runs
    before curation): row count, categorical cardinalities, empty-text
    fraction, length min/max/mean — one pass, all map-side-combining
    aggregates into a single row. At 100 TB this is the nightly data
    quality report that alarms on schema drift (a lang cardinality
    explosion or an empty-text spike) before a bad batch reaches
    training."""
    docs = _t(spark, sf_dir, "documents")
    return docs.agg(
        F.count("*").alias("n_rows"),
        F.count_distinct("lang").alias("n_langs"),
        F.count_distinct("source").alias("n_sources"),
        F.round(
            F.sum(
                F.when(
                    F.col("text").isNull() | (F.col("text") == ""), 1
                ).otherwise(0)
            )
            / F.count("*"),
            4,
        ).alias("empty_text_frac"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
        F.round(F.avg("n_chars"), 2).alias("mean_chars"),
    )


_LANG_WORDS = [
    ("en", "the and of to in is that it was for"),
    ("de", "der die und das ist nicht mit ein auf den"),
    ("fr", "le les et des une est dans pour qui pas"),
    ("es", "el los que y en un una por con para"),
]

_LANG_VALUES_SQL = ", ".join(
    f"('{lang}', '{w}')" for lang, words in _LANG_WORDS for w in words.split()
)


@q(
    f"""
    WITH {_WORDS_SQL},
    langwords(lid, w) AS (VALUES {_LANG_VALUES_SQL}),
    scores AS (
      SELECT words.doc_id, langwords.lid, COUNT(*) AS hits
      FROM words JOIN langwords ON words.w = langwords.w
      GROUP BY words.doc_id, langwords.lid),
    best AS (
      SELECT doc_id, lid, hits,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY hits DESC, lid) AS rn
      FROM scores)
    SELECT d.doc_id,
           COALESCE(b.lid, 'und') AS detected,
           COALESCE(b.hits, 0) AS hits
    FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id AND b.rn = 1
    """,
)
def q_langid(spark, sf_dir):
    """Language ID by stopword-set voting (n-gram-free deterministic
    heuristic; argmax with lexicographic tie-break, 'und' if no hits)."""
    words = _words_df(spark, sf_dir)
    lw = local_table(
        spark,
        [(lang, w) for lang, ws in _LANG_WORDS for w in ws.split()],
        "lid string, w string",
    )
    scores = (
        words.join(F.broadcast(lw), "w")
        .groupBy("doc_id", "lid")
        .agg(F.count("*").alias("hits"))
    )
    w_best = Window.partitionBy("doc_id").orderBy(F.desc("hits"), F.asc("lid"))
    best = (
        scores.withColumn("rn", F.row_number().over(w_best))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lid", "hits")
    )
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return docs.join(best, "doc_id", "left").select(
        "doc_id",
        F.coalesce("lid", F.lit("und")).alias("detected"),
        F.coalesce("hits", F.lit(0)).alias("hits"),
    )


@q(
    """
    SELECT doc_id,
           n_tokens,
           ROUND(alpha_ratio, 4) AS alpha_ratio,
           ROUND(LEAST(1.0, n_tokens / 100.0) * 0.5 + alpha_ratio * 0.5, 4)
             AS quality
    FROM (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0
               / NULLIF(length(text), 0) AS alpha_ratio
      FROM documents)
    """,
)
def q_quality_score(spark, sf_dir):
    """Quality scoring: token count + alphabetic-character ratio blended
    into a [0,1] score (length/punct heuristics)."""
    docs = _t(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " "))
    alpha = alpha_ratio()
    return docs.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        F.round(alpha, 4).alias("alpha_ratio"),
        F.round(quality_blend(n_tokens, alpha), 4).alias("quality"),
    )


@q(
    r"""
    SELECT doc_id,
           len(string_split_regex(trim(text), '\s+')) AS ws_tokens,
           len(regexp_extract_all(text,
               '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS bpe_ish_tokens
    FROM documents
    """,
)
def q_token_count(spark, sf_dir):
    """Token counting: whitespace tokens + a BPE-ish regex token count
    (letters runs / single digits / punctuation marks)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+"))
        .cast("long")
        .alias("ws_tokens"),
        F.regexp_count(
            F.col("text"), F.lit(r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]")
        )
        .cast("long")
        .alias("bpe_ish_tokens"),
    )


@q(
    """
    SELECT doc_id,
           md5(lower(text)) AS fp,
           substr(md5(lower(text)), 1, 8) AS fp_prefix,
           length(text) AS n_chars_fp
    FROM documents
    """,
)
def q_fingerprint(spark, sf_dir):
    """Document fingerprinting: content hash + bucket prefix."""
    docs = _t(spark, sf_dir, "documents")
    fp = F.md5(F.encode(F.lower("text"), "UTF-8"))
    return docs.select(
        "doc_id",
        fp.alias("fp"),
        F.substring(fp, 1, 8).alias("fp_prefix"),
        F.length("text").cast("long").alias("n_chars_fp"),
    )


def curation_gated_from(docs, langs, min_tokens, min_alpha):
    """(doc_id, lang, text, n_tokens) rows of ``docs`` that pass the
    language allowlist (empty = every language) and the row-local
    quality gates: space-split token count >= ``min_tokens`` and
    alphabetic-character ratio >= ``min_alpha``. A pure map that
    pushes into the scan."""
    gated = docs.select(
        "doc_id",
        "lang",
        "text",
        F.size(F.split("text", " ")).alias("n_tokens"),
        alpha_ratio().alias("alpha_ratio"),
    )
    if langs:
        gated = gated.filter(F.col("lang").isin(*langs))
    return gated.filter(
        (F.col("n_tokens") >= min_tokens)
        & (F.col("alpha_ratio") >= min_alpha)
    ).drop("alpha_ratio")


def near_dup_reps_from(spark, docs):
    """``docs`` (doc_id, text, ...) plus ``rep``, the component-min
    doc_id of its near-dup cluster: 3-gram shingles → capped
    MinHash-LSH candidates → exact-Jaccard verify → connected
    components. A doc with no near-dup edge is its own rep via the
    left join."""
    shingles = _shingles_from(docs.select("doc_id", "text"))
    vpairs = _verified_pairs_from(shingles)
    labels = _connected_components(spark, vpairs.select("a", "b"))
    return (
        docs.join(
            labels.select(F.col("node").alias("doc_id"), "label"),
            "doc_id",
            "left",
        )
        .withColumn("rep", F.coalesce("label", "doc_id"))
        .drop("label")
    )


def curated_clusters_from(spark, docs, langs, min_tokens, min_alpha):
    """Gates → near-dup clusters → one representative per cluster:
    curation_gated_from, then near_dup_reps_from over the GATED subset
    only. Each cluster keeps its rep with the cluster multiplicity.
    Returns (doc_id, lang, text, n_tokens, cluster_size); the gated
    table is a tracked persist, so materialize the result before
    release_caches."""
    gated = _persist(curation_gated_from(docs, langs, min_tokens, min_alpha))
    return (
        near_dup_reps_from(spark, gated)
        .withColumn(
            "cluster_size", F.count("*").over(Window.partitionBy("rep"))
        )
        .filter(F.col("doc_id") == F.col("rep"))
        .select("doc_id", "lang", "text", "n_tokens", "cluster_size")
    )


@q(
    """
    WITH scored AS (
      SELECT doc_id, lang, text,
             len(string_split(text, ' ')) AS n_tokens,
             length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0
               / NULLIF(length(text), 0) AS alpha_ratio,
             md5(text) AS h
      FROM documents),
    gated AS (
      SELECT * FROM scored
      WHERE lang IN ('en', 'de', 'fr')
        AND n_tokens >= 30
        AND alpha_ratio >= 0.6),
    keep AS (
      SELECT doc_id, lang, n_tokens, h,
             ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY h) AS n_dups
      FROM gated)
    SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_dups AS BIGINT) AS n_dups
    FROM keep WHERE rn = 1
    """,
)
def q_curation_pipeline(spark, sf_dir):
    """The end-to-end curation composition the training-data operators
    exist for: language allowlist → quality gates (token count +
    alphabetic ratio) → exact dedup keeping the lowest doc_id per
    content hash, emitting the curated set with duplicate multiplicity.
    One shuffle (the dedup window on the content hash) — the quality
    gates are row-local and push into the scan; at 100 TB swap the
    exact-dedup window for the MinHash-LSH → verify → cluster chain
    (q_minhash_lsh → q_dedup_lsh_verified → q_dedup_clusters) keyed by
    cluster rep instead of md5."""
    gated = curation_gated_from(
        _t(spark, sf_dir, "documents"), ("en", "de", "fr"), 30, 0.6
    ).withColumn("h", F.md5(F.encode("text", "UTF-8")))
    w_keep = Window.partitionBy("h").orderBy("doc_id")
    w_cnt = Window.partitionBy("h")
    return (
        gated.withColumn("rn", F.row_number().over(w_keep))
        .withColumn("n_dups", F.count("*").over(w_cnt))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            "lang",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("n_dups").cast("long").alias("n_dups"),
        )
    )


@q(
    f"""
    WITH RECURSIVE gated AS (
      SELECT doc_id, lang, text,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents
      WHERE lang IN ('en', 'de', 'fr')
        AND len(string_split(text, ' ')) >= 30
        AND length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0
              / NULLIF(length(text), 0) >= 0.6),
    {_verified_pairs_sql("gated")},
    {_cc_reps_sql("vpairs", "creps")},
    labeled AS (
      SELECT g.doc_id, g.lang, g.n_tokens,
             COALESCE(r.rep, g.doc_id) AS rep
      FROM gated g LEFT JOIN creps r ON r.node = g.doc_id)
    SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(cluster_size AS BIGINT) AS cluster_size
    FROM (
      SELECT doc_id, lang, n_tokens, rep,
             COUNT(*) OVER (PARTITION BY rep) AS cluster_size
      FROM labeled)
    WHERE doc_id = rep
    """,
)
def q_curation_pipeline_lsh(spark, sf_dir):
    """Curation over NEAR-dup clusters — the 100 TB swap-in that
    q_curation_pipeline's docstring promised (VERDICT r02 #6): language
    allowlist + quality gates (token count, alphabetic ratio) pushed to
    the scan, then the full composed near-dup chain OVER THE GATED
    SUBSET — 3-gram shingles → capped MinHash-LSH candidates → exact-
    Jaccard verify (≥ 0.2) → large-star/small-star connected components
    — keeping one representative per cluster (the component-min doc_id,
    which IS the keeper since reps are component minima) with the
    cluster multiplicity. Ungated docs never reach the shingle stage;
    docs with no near-dup edge are their own singleton cluster via the
    left join. Oracle = the same gates + recursive-CTE reachability."""
    curated = curated_clusters_from(
        spark, _t(spark, sf_dir, "documents"), ("en", "de", "fr"), 30, 0.6
    )
    return curated.select(
        "doc_id",
        "lang",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("cluster_size").cast("long").alias("cluster_size"),
    )


#: the DSIR log-ratio chain over a `toks(doc_id, w)` CTE: Gopher labels,
#: hashed-bucket counts and the quantized per-bucket target/raw
#: log-ratio `ratio(b, lrq)`, the oracle side of dsir_weights_from.
_DSIR_RATIO_SQL = f"""lab AS (
      {_GOPHER_LAB_SQL}),
    bc AS MATERIALIZED (
      SELECT doc_id, substr(md5(w), 1, 2) AS b, COUNT(*) AS c
      FROM toks GROUP BY doc_id, b),
    raw AS (SELECT b, SUM(c) AS cr FROM bc GROUP BY b),
    tgt AS (
      SELECT bc.b, SUM(bc.c) AS ct
      FROM bc JOIN lab USING (doc_id) WHERE lab.y = 1 GROUP BY bc.b),
    totr AS (SELECT CAST(SUM(cr) AS BIGINT) AS t FROM raw),
    tott AS (SELECT CAST(COALESCE(SUM(ct), 0) AS BIGINT) AS t FROM tgt),
    ratio AS (
      SELECT raw.b,
             CAST(ROUND((ln((COALESCE(tgt.ct, 0) + 1) * 1.0
                             / (tott.t + 256))
                         - ln((raw.cr + 1) * 1.0 / (totr.t + 256)))
                        * 1000000.0) AS BIGINT) AS lrq
      FROM raw LEFT JOIN tgt ON tgt.b = raw.b
      CROSS JOIN totr CROSS JOIN tott)"""


@q(
    f"""
    WITH toks AS MATERIALIZED (
      {_WORD_TOKS_SQL}),
    {_DSIR_RATIO_SQL},
    sc AS (
      SELECT bc.doc_id,
             CAST(SUM(bc.c * ratio.lrq) AS BIGINT) AS score_micro
      FROM bc JOIN ratio ON ratio.b = bc.b GROUP BY bc.doc_id)
    SELECT sc.doc_id,
           CAST(lab.n_tok AS BIGINT) AS n_tokens,
           sc.score_micro,
           ROUND(sc.score_micro / 1000000.0 / lab.n_tok, 4) + 0.0
             AS dsir_logratio,
           sc.score_micro > 0 AS selected
    FROM sc JOIN lab ON lab.doc_id = sc.doc_id
    """,
)
def q_dsir_weights(spark, sf_dir):
    """DSIR-style importance weights for data selection (Data
    Selection via Importance Resampling, Xie et al. 2023: score raw
    documents by log p_target(x) − log p_raw(x) under hashed n-gram
    bag-of-features LMs, then keep the target-like ones). Target
    distribution = docs passing the gopher-pass rule (the same
    deterministic supervision the classifier family trains on); raw =
    the whole corpus; features = 256 md5-bucketed unigrams with
    add-one smoothing. Per-bucket log-ratios are quantized to micro
    units (exact BIGINTs from identical correctly-rounded doubles), so
    the per-doc score Σ_b c(doc,b)·lrq(b) is EXACT integer arithmetic
    — order-independent across engines — with one final double
    division for the length-normalized logratio; the keep decision
    (score_micro > 0) is an exact integer compare.

    Plan: one explode → groupBy(doc_id, b) map-side-combining count
    (the persisted per-doc feature table, reused for both corpus
    marginals and scoring), two 256-key aggregates, a ≤256-row
    broadcast ratio dim joined back, and a doc-keyed rollup — at
    100 TB: two passes over the feature table, no shuffle wider than
    the corpus tokenization itself, LM artifact broadcast-sized. A
    production variant swaps the unigram buckets for hashed bigrams
    (same shapes, bigger b-domain, still broadcast-sized at 10^4-10^5
    buckets)."""
    return dsir_weights_from(_t(spark, sf_dir, "documents"))


def dsir_weights_from(docs, toks=None):
    """q_dsir_weights over any (doc_id, text) DataFrame — the entry
    point the admission-policy blend and jobs use on their own
    corpus. Pass a pre-tokenized (doc_id, w) `toks` to share ONE
    corpus tokenize scan across signals (q_admission_policy does);
    tokenization is the identical explode either way, so results and
    hashes cannot differ."""
    if toks is None:
        toks = doc_tokens(docs, "doc_id")
    else:
        toks = toks.select("doc_id", "w")
    lab = gopher_labels(toks)
    bc = _persist(
        toks.select("doc_id", feature_bucket().alias("b"))
        .groupBy("doc_id", "b")
        .agg(F.count("*").alias("c"))
    )
    lab = _persist(lab)
    raw = bc.groupBy("b").agg(F.sum("c").alias("cr"))
    tgt = (
        bc.join(lab.filter(F.col("y") == 1).select("doc_id"), "doc_id")
        .groupBy("b")
        .agg(F.sum("c").alias("ct"))
    )
    totr = raw.agg(F.sum("cr").cast("long").alias("tr"))
    tott = tgt.agg(
        F.coalesce(F.sum("ct"), F.lit(0)).cast("long").alias("tt")
    )
    ratio = (
        raw.join(tgt, "b", "left")
        .crossJoin(F.broadcast(totr))
        .crossJoin(F.broadcast(tott))
        .select(
            "b",
            F.round(
                (
                    F.log(
                        (F.coalesce("ct", F.lit(0)) + 1)
                        * F.lit(1.0)
                        / (F.col("tt") + 256)
                    )
                    - F.log(
                        (F.col("cr") + 1) * F.lit(1.0) / (F.col("tr") + 256)
                    )
                )
                * F.lit(1000000.0)
            )
            .cast("long")
            .alias("lrq"),
        )
    )
    sc = (
        bc.join(F.broadcast(ratio), "b")
        .groupBy("doc_id")
        .agg(F.sum(F.col("c") * F.col("lrq")).cast("long").alias("score_micro"))
    )
    return sc.join(lab, "doc_id").select(
        "doc_id",
        F.col("n_tok").cast("long").alias("n_tokens"),
        "score_micro",
        (
            F.round(
                F.col("score_micro") / F.lit(1000000.0) / F.col("n_tok"), 4
            )
            # + 0.0 collapses IEEE −0.0 (a doc whose score rounds to
            # zero from below) to +0.0 — DuckDB's ROUND preserves the
            # sign bit, Spark's does not; both engines add it so the
            # hashed decimal strings agree
            + F.lit(0.0)
        ).alias("dsir_logratio"),
        (F.col("score_micro") > 0).alias("selected"),
    )


@q(
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
    tok_stats AS (
      SELECT doc_id,
             COUNT(*) AS n_tokens,
             AVG(length(w)) AS mean_wl,
             SUM(CASE WHEN w IN ('the','and','of','to','in','is','that',
                                 'it','was','for') THEN 1 ELSE 0 END) * 1.0
               / COUNT(*) AS stop_frac
      FROM toks WHERE w <> '' GROUP BY doc_id),
    chars AS (
      SELECT doc_id,
             length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) * 1.0
               / NULLIF(length(text), 0) AS sym_ratio
      FROM documents)
    SELECT t.doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           ROUND(mean_wl, 4) AS mean_word_len,
           ROUND(stop_frac, 4) AS stop_frac,
           ROUND(sym_ratio, 4) AS symbol_ratio,
           CAST(mean_wl BETWEEN 3 AND 10
                AND sym_ratio <= 0.1
                AND n_tokens BETWEEN 50 AND 100000 AS BOOLEAN) AS passes
    FROM tok_stats t JOIN chars c ON t.doc_id = c.doc_id
    """,
)
def q_gopher_rules(spark, sf_dir):
    """Gopher-style document quality rules (mean word length bounds,
    symbol-to-char ratio, token-count bounds, stopword fraction as a
    signal) — the rule family large-scale curation pipelines apply
    before training. All row-local or one groupBy(doc_id): map-side
    partial agg, no joins beyond the stats merge."""
    docs = _t(spark, sf_dir, "documents")
    toks = doc_tokens(docs, "doc_id")
    stop = ("the", "and", "of", "to", "in", "is", "that", "it", "was", "for")
    tok_stats = toks.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.avg(F.length("w")).alias("mean_wl"),
        (
            F.sum(F.when(F.col("w").isin(*stop), 1).otherwise(0))
            / F.count("*")
        ).alias("stop_frac"),
    )
    chars = docs.select(
        "doc_id",
        (
            F.length(F.regexp_replace("text", r"[A-Za-z0-9\s]", ""))
            / F.nullif(F.length("text").cast("double"), F.lit(0.0))
        ).alias("sym_ratio"),
    )
    passes = (
        F.col("mean_wl").between(3, 10)
        & (F.col("sym_ratio") <= 0.1)
        & F.col("n_tokens").between(50, 100000)
    )
    return (
        tok_stats.join(chars, "doc_id")
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.round("mean_wl", 4).alias("mean_word_len"),
            F.round("stop_frac", 4).alias("stop_frac"),
            F.round("sym_ratio", 4).alias("symbol_ratio"),
            passes.alias("passes"),
        )
    )


@q(
    """
    WITH toks AS (
      SELECT doc_id,
             generate_subscripts(string_split(text, ' '), 1) AS i,
             unnest(string_split(text, ' ')) AS w
      FROM documents),
    big AS (
      SELECT doc_id,
             lag(w) OVER (PARTITION BY doc_id ORDER BY i) || ' ' || w AS bg
      FROM toks),
    cnt AS (
      SELECT doc_id, bg, COUNT(*) AS c
      FROM big WHERE bg IS NOT NULL GROUP BY doc_id, bg),
    tot AS (
      SELECT doc_id, MAX(c) AS m, SUM(c) AS t FROM cnt GROUP BY doc_id)
    SELECT doc_id, CAST(m AS BIGINT) AS top_bigram_count,
           ROUND(m * 1.0 / t, 4) AS top_bigram_frac
    FROM tot
    """,
)
def q_doc_repetition(spark, sf_dir):
    """Within-document repetition signal (Gopher's repetition family):
    the most frequent bigram's share of all bigrams — high values flag
    boilerplate/spam/generated loops. Bigrams via a lag window over
    token positions (no self-join); two aggregations, both keyed by
    doc_id so the shuffle is one exchange reused."""
    docs = _t(spark, sf_dir, "documents")
    # adjacent bigrams straight from the token array (r9): no lag
    # window, no corpus-token exchange + sort; identical pairs
    big = (
        docs.select("doc_id", F.split("text", " ").alias("arr"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(slice(arr, 1, size(arr) - 1),"
                    " (x, i) -> concat_ws(' ', x, arr[i + 1]))"
                )
            ).alias("bg"),
        )
    )
    cnt = big.groupBy("doc_id", "bg").agg(F.count("*").alias("c"))
    tot = cnt.groupBy("doc_id").agg(
        F.max("c").alias("m"), F.sum("c").alias("t")
    )
    return tot.select(
        "doc_id",
        F.col("m").cast("long").alias("top_bigram_count"),
        F.round(F.col("m") / F.col("t"), 4).alias("top_bigram_frac"),
    )


_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_URL_RE = r"https?://[^\s]+"


@q(
    f"""
    WITH enriched AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com at http://h' || CAST(doc_id AS VARCHAR)
                  || '.example.org/x' AS t
      FROM documents),
    scrubbed AS (
      SELECT doc_id,
             len(regexp_extract_all(t, '{_EMAIL_RE}')) AS n_emails,
             len(regexp_extract_all(t, '{_URL_RE}')) AS n_urls,
             regexp_replace(regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                            '{_URL_RE}', '<URL>', 'g') AS clean
      FROM enriched)
    SELECT doc_id, CAST(n_emails AS BIGINT) AS n_emails,
           CAST(n_urls AS BIGINT) AS n_urls,
           md5(clean) AS scrubbed_md5
    FROM scrubbed
    """,
)
def q_pii_scrub(spark, sf_dir):
    """PII scrubbing pass (training-data hygiene): count and redact
    email- and URL-shaped spans, emitting redaction counts plus the md5
    of the scrubbed text (the hash proves both engines produced the
    SAME scrubbed bytes). The synthetic corpus carries no PII, so a
    deterministic email+URL per doc is appended first — the scrub
    expressions are the operator under test. Entirely row-local
    (regexp_count + regexp_replace in whole-stage codegen): zero
    shuffle in front of a 100 TB scan. Patterns are RE2/Java-regex
    portable (no lookbehind)."""
    docs = _t(spark, sf_dir, "documents")
    t = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com at http://h"),
        F.col("doc_id").cast("string"),
        F.lit(".example.org/x"),
    )
    clean = F.regexp_replace(
        F.regexp_replace(t, _EMAIL_RE, "<EMAIL>"), _URL_RE, "<URL>"
    )
    return docs.select(
        "doc_id",
        F.regexp_count(t, F.lit(_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(t, F.lit(_URL_RE)).cast("long").alias("n_urls"),
        F.md5(F.encode(clean, "UTF-8")).alias("scrubbed_md5"),
    )


@q(
    """
    WITH hosts AS (
      SELECT 'host' || CAST(doc_id % 50 AS VARCHAR) || '.example.com' AS host
      FROM documents),
    cnt AS (SELECT host, COUNT(*) AS c FROM hosts GROUP BY host),
    tot AS (SELECT SUM(c) AS t, MAX(c) AS m, COUNT(*) AS nh FROM cnt)
    SELECT CAST(nh AS BIGINT) AS n_hosts,
           ROUND((ln(t) - SUM(c * ln(c)) / t) / ln(2), 4)
             AS host_entropy_bits,
           ROUND(m * 1.0 / t, 4) AS top_host_share
    FROM cnt CROSS JOIN tot
    GROUP BY t, m, nh
    """,
)
def q_host_diversity(spark, sf_dir):
    """Corpus-level source-diversity health metric: Shannon entropy of
    the host distribution plus the top host's share — curation
    pipelines alarm on low diversity (one spam network dominating a
    crawl collapses entropy long before per-document quality gates
    notice). One groupBy(host) then a 1-row reduce; the same
    H = log2(T) - Σc·ln(c)/(T·ln2) identity as q_char_entropy so
    neither engine materializes probabilities."""
    docs = _t(spark, sf_dir, "documents")
    cnt = docs.select(synthetic_host().alias("host")).groupBy("host").agg(
        F.count("*").alias("c")
    )
    return cnt.agg(
        F.count("*").cast("long").alias("n_hosts"),
        F.round(
            (F.log(F.sum("c")) - F.sum(F.col("c") * F.log("c")) / F.sum("c"))
            / F.log(F.lit(2.0)),
            4,
        ).alias("host_entropy_bits"),
        F.round(F.max("c") / F.sum("c"), 4).alias("top_host_share"),
    )


@q(
    """
    WITH chars AS (
      SELECT doc_id, unnest(regexp_extract_all(text, '.')) AS ch
      FROM documents),
    cnt AS (SELECT doc_id, ch, COUNT(*) AS c FROM chars GROUP BY doc_id, ch),
    agg AS (
      SELECT doc_id, SUM(c) AS t, SUM(c * ln(c)) AS s
      FROM cnt GROUP BY doc_id)
    SELECT doc_id,
           ROUND((ln(t) - s / t) / ln(2), 4) AS char_entropy_bits
    FROM agg
    """,
)
def q_char_entropy(spark, sf_dir):
    """Character-level Shannon entropy per document (bits/char) — the
    cheap perplexity proxy curation pipelines use to drop binary-junk,
    compressed-blob and repeated-char documents (very low or very high
    entropy = not natural text). H = log2(t) - Σc·ln(c)/(t·ln2) needs
    only two per-doc sums over character counts: one
    groupBy(doc_id, ch) (≤ ~100 distinct chars per doc of state) and
    one groupBy(doc_id) — both map-side combining, keyed by doc_id."""
    docs = _t(spark, sf_dir, "documents")
    chars = docs.select(
        "doc_id", F.explode(F.split("text", "")).alias("ch")
    ).filter(F.col("ch") != "")
    cnt = chars.groupBy("doc_id", "ch").agg(F.count("*").alias("c"))
    agg = cnt.groupBy("doc_id").agg(
        F.sum("c").alias("t"),
        F.sum(F.col("c") * F.log(F.col("c"))).alias("s"),
    )
    return agg.select(
        "doc_id",
        F.round(
            (F.log(F.col("t")) - F.col("s") / F.col("t")) / F.log(F.lit(2.0)),
            4,
        ).alias("char_entropy_bits"),
    )


@q(
    """
    WITH arrs AS (
      SELECT doc_id, string_split(text, ' ') AS arr FROM documents
      WHERE len(string_split(text, ' ')) >= 4),
    units AS (
      SELECT doc_id, 'g3' AS kind,
             unnest(list_transform(range(1, len(arr) - 1),
                    k -> array_to_string(list_slice(arr, k, k + 2), ' ')))
               AS unit
      FROM arrs
      UNION ALL
      SELECT doc_id, 'g4',
             unnest(list_transform(range(1, len(arr) - 2),
                    k -> array_to_string(list_slice(arr, k, k + 3), ' ')))
      FROM arrs
      UNION ALL
      SELECT doc_id, 'line',
             unnest(list_transform(
                    range(0, CAST(ceil(len(arr) / 10.0) AS BIGINT)),
                    k -> array_to_string(
                         list_slice(arr, k * 10 + 1, k * 10 + 10), ' ')))
      FROM arrs),
    cnt AS (SELECT doc_id, kind, unit, COUNT(*) AS c
            FROM units GROUP BY doc_id, kind, unit),
    stats AS (SELECT doc_id, kind, MAX(c) AS m, SUM(c) AS t, COUNT(*) AS u
              FROM cnt GROUP BY doc_id, kind)
    SELECT doc_id,
           ROUND(MAX(CASE WHEN kind = 'g3' THEN m * 1.0 / t END), 4)
             AS top_trigram_frac,
           ROUND(MAX(CASE WHEN kind = 'g4' THEN m * 1.0 / t END), 4)
             AS top_quadgram_frac,
           ROUND(MAX(CASE WHEN kind = 'line' THEN (t - u) * 1.0 / t END), 4)
             AS dup_line_frac
    FROM stats GROUP BY doc_id
    """,
)
def q_doc_repetition_ngrams(spark, sf_dir):
    """Extended within-document repetition family (Gopher parity,
    VERDICT r02 #8): top-trigram and top-quadgram share plus the
    duplicate-LINE fraction — lines are 10-token tumbling windows (this
    corpus has no newlines, so a deterministic pseudo-line both engines
    compute from the token array; on real web text swap the splitter
    for split(text, '\\n') — same plan). All units come out of ONE
    token-array column via higher-order transforms (no window, no
    self-join), tagged by kind and counted in a single
    groupBy(doc_id, kind, unit) → groupBy(doc_id, kind) →
    groupBy(doc_id) cascade — every shuffle keyed by doc_id prefixes.
    dup_line_frac = (total - distinct)/total lines."""
    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("arr"))
        .filter(F.size("arr") >= 4)
    )

    n_lines = F.ceil(F.size("arr") / F.lit(10.0)).cast("int")
    lines = F.transform(
        F.sequence(F.lit(0), n_lines - 1),
        lambda k: F.concat_ws(" ", F.slice("arr", k * 10 + 1, F.lit(10))),
    )

    # ONE scan: tag each unit family inside a single array-of-structs
    # column and explode once (a 3-way union scans the text column 3×
    # — 3× the IO at 100 TB for the same rows)
    def tagged(kind, arr_expr):
        return F.transform(
            arr_expr,
            lambda u: F.struct(
                F.lit(kind).alias("kind"), u.alias("unit")
            ),
        )

    units = docs.select(
        "doc_id",
        F.explode(
            F.concat(
                tagged("g3", word_ngrams("arr", 3)),
                tagged("g4", word_ngrams("arr", 4)),
                tagged("line", lines),
            )
        ).alias("ku"),
    ).select("doc_id", F.col("ku.kind").alias("kind"), F.col("ku.unit").alias("unit"))
    cnt = units.groupBy("doc_id", "kind", "unit").agg(F.count("*").alias("c"))
    stats = cnt.groupBy("doc_id", "kind").agg(
        F.max("c").alias("m"), F.sum("c").alias("t"), F.count("*").alias("u")
    )
    return stats.groupBy("doc_id").agg(
        F.round(
            F.max(F.when(F.col("kind") == "g3", F.col("m") / F.col("t"))), 4
        ).alias("top_trigram_frac"),
        F.round(
            F.max(F.when(F.col("kind") == "g4", F.col("m") / F.col("t"))), 4
        ).alias("top_quadgram_frac"),
        F.round(
            F.max(
                F.when(
                    F.col("kind") == "line",
                    (F.col("t") - F.col("u")) / F.col("t"),
                )
            ),
            4,
        ).alias("dup_line_frac"),
    )


#: stand-in content blocklist (C4's badwords filtering shape); chosen
#: from the synthetic vocabulary so the filter has real work here — in
#: production this is the actual blocklist, same broadcast plan.
_BADWORDS = ("slow", "skew", "spill", "crash")

_BADWORDS_SQL = ", ".join(f"'{w}'" for w in _BADWORDS)


@q(
    f"""
    WITH toks AS (
      {_WORD_TOKS_SQL})
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN w IN ({_BADWORDS_SQL}) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_bad,
           ROUND(SUM(CASE WHEN w IN ({_BADWORDS_SQL}) THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*), 4) AS bad_frac,
           CAST(SUM(CASE WHEN w IN ({_BADWORDS_SQL}) THEN 1 ELSE 0 END) = 0
                AS BOOLEAN) AS keep
    FROM toks GROUP BY doc_id
    """,
)
def q_badwords_filter(spark, sf_dir):
    """Blocklist token filtering (the C4 badwords rule): per doc,
    count blocklisted tokens and keep only clean docs. The blocklist
    is a tiny broadcast-able literal set folded into the aggregate —
    one explode + one map-side-combining groupBy(doc_id), no joins at
    all; at 100 TB this is a pure single-shuffle map."""
    docs = _t(spark, sf_dir, "documents")
    toks = doc_tokens(docs, "doc_id")
    bad = F.when(F.col("w").isin(*_BADWORDS), 1).otherwise(0)
    return toks.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.sum(bad).cast("long").alias("n_bad"),
        F.round(F.sum(bad) * F.lit(1.0) / F.count("*"), 4).alias(
            "bad_frac"
        ),
        (F.sum(bad) == 0).alias("keep"),
    )


#: the oracle side of _stage_funnel: the per-stage rollup of a
#: `staged(doc_id, n_tokens, stage)` CTE.
_STAGE_FUNNEL_SQL = """total AS (SELECT COUNT(*) AS n FROM staged)
    SELECT stage,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           ROUND(COUNT(*) * 1.0 / MAX(total.n), 6) AS frac
    FROM staged CROSS JOIN total GROUP BY stage"""


@q(
    f"""
    WITH toks AS (
      {_WORD_TOKS_SQL}),
    tstats AS (
      SELECT doc_id, COUNT(*) AS n_tokens, AVG(length(w)) AS mean_wl,
             SUM(CASE WHEN w IN ({_BADWORDS_SQL}) THEN 1 ELSE 0 END)
               AS n_bad
      FROM toks GROUP BY doc_id),
    cstats AS (
      SELECT doc_id,
             length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) * 1.0
               / NULLIF(length(text), 0) AS sym_ratio
      FROM documents),
    staged AS (
      -- LEFT join from the per-document side: a zero-token doc has no
      -- tstats row but must still be attributed (token count 0 →
      -- stage 1) and counted in the denominator
      SELECT c.doc_id, COALESCE(t.n_tokens, 0) AS n_tokens,
             CASE
               WHEN COALESCE(t.n_tokens, 0) NOT BETWEEN 50 AND 100000
                 THEN '1_token_count'
               WHEN t.mean_wl NOT BETWEEN 3 AND 10 THEN '2_word_length'
               WHEN c.sym_ratio > 0.1 THEN '3_symbols'
               WHEN t.n_bad > 0 THEN '4_badwords'
               ELSE '5_kept'
             END AS stage
      FROM cstats c LEFT JOIN tstats t USING (doc_id)),
    {_STAGE_FUNNEL_SQL}
    """,
)
def q_filter_funnel(spark, sf_dir):
    """Curation-funnel attribution — the table a data team publishes
    beside a corpus (RefinedWeb/Dolma style): every document is
    attributed to the FIRST gate that drops it in the fixed rule order
    token-count band (gopher 50..100000, both bounds) → gopher
    word-length band → symbol ratio → C4 badwords → kept, with
    per-stage doc/token counts and corpus fraction. The rules are the
    SAME expressions the standalone gate queries use (q_gopher_rules,
    q_badwords_filter), so the funnel stays consistent with them by
    construction; the stage table is driven from the per-DOCUMENT side
    (left join onto token stats) so zero-token docs are attributed to
    stage 1 instead of vanishing from the denominator. One explode +
    one doc-keyed combining shuffle for token stats, a row-local char
    pass, a tiny groupBy(stage) rollup, and a 1-row broadcast total
    for the fraction — nothing in the plan exceeds per-doc state at
    100 TB."""
    return filter_funnel_from(_t(spark, sf_dir, "documents"))


def filter_funnel_from(docs):
    """q_filter_funnel over any (doc_id, text) DataFrame — the entry
    point jobs (corpus_report) use on their own corpus."""
    toks = doc_tokens(docs, "doc_id")
    bad = F.when(F.col("w").isin(*_BADWORDS), 1).otherwise(0)
    tstats = toks.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.avg(F.length("w")).alias("mean_wl"),
        F.sum(bad).alias("n_bad"),
    )
    cstats = docs.select(
        "doc_id",
        (
            F.length(F.regexp_replace("text", r"[A-Za-z0-9\s]", ""))
            / F.nullif(F.length("text").cast("double"), F.lit(0.0))
        ).alias("sym_ratio"),
    )
    n_tok = F.coalesce("n_tokens", F.lit(0))
    staged = cstats.join(tstats, "doc_id", "left").select(
        n_tok.alias("n_tokens"),
        F.when(~n_tok.between(50, 100000), "1_token_count")
        .when(~F.col("mean_wl").between(3, 10), "2_word_length")
        .when(F.col("sym_ratio") > 0.1, "3_symbols")
        .when(F.col("n_bad") > 0, "4_badwords")
        .otherwise("5_kept")
        .alias("stage"),
    )
    return _stage_funnel(staged)


def _stage_funnel(staged):
    """(stage, n_docs, n_tokens, frac) of a per-doc (stage, n_tokens)
    table: docs and tokens per stage, and each stage's share of all
    docs through a 1-row broadcast total. The rollup of
    q_filter_funnel and q_admission_policy."""
    total = staged.agg(F.count("*").alias("n"))
    return (
        staged.crossJoin(F.broadcast(total))
        .groupBy("stage")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.round(F.count("*") * F.lit(1.0) / F.max("n"), 6).alias(
                "frac"
            ),
        )
    )


_QUOTA_K = 5


@q(
    f"""
    SELECT doc_id, host, CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT doc_id,
             'host' || CAST(doc_id % 50 AS VARCHAR) || '.example.com'
               AS host,
             ROW_NUMBER() OVER (
               PARTITION BY doc_id % 50
               ORDER BY n_chars DESC, doc_id) AS rk
      FROM documents)
    WHERE rk <= {_QUOTA_K}
    """,
)
def q_host_quota(spark, sf_dir):
    """Per-host document quota (anti-domination curation rule: cap any
    single host's contribution at _QUOTA_K docs, keeping its best by
    size with a deterministic doc_id tie-break). One host-partitioned
    row_number window — Spark plans the rank-≤-K filter as a
    WindowGroupLimit, so each map task pre-prunes to its local top-K
    before the shuffle and hot hosts cannot flood the exchange at
    100 TB."""
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy(F.col("doc_id") % 50).orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return (
        docs.select(
            "doc_id",
            synthetic_host().alias("host"),
            F.row_number().over(w).cast("long").alias("rk"),
        )
        .filter(F.col("rk") <= _QUOTA_K)
    )


@q(
    f"""
    WITH ml AS (
      SELECT doc_id, string_split({_ML_TEXT_SQL}, chr(10)) AS lines
      FROM documents),
    lx AS (
      SELECT doc_id, generate_subscripts(lines, 1) AS li,
             unnest(lines) AS line
      FROM ml),
    ltoks AS (
      SELECT doc_id, li, w FROM (
        SELECT doc_id, li, unnest(string_split(line, ' ')) AS w
        FROM lx) WHERE w <> ''),
    cf AS (SELECT w, COUNT(*) AS c FROM ltoks GROUP BY w),
    tot AS (SELECT SUM(c) AS t FROM cf),
    lb AS (
      SELECT lt.doc_id, lt.li,
             AVG(-ln(cf.c * 1.0 / tot.t)) / ln(2) AS bits
      FROM ltoks lt JOIN cf USING (w) CROSS JOIN tot
      GROUP BY lt.doc_id, lt.li)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           ROUND(MIN(bits), 4) AS min_line_bits,
           ROUND(MAX(bits), 4) AS max_line_bits,
           ROUND(AVG(bits), 4) AS mean_line_bits
    FROM lb GROUP BY doc_id
    """,
)
def q_paragraph_quality(spark, sf_dir):
    """Per-LINE quality scoring (the CCNet shape: perplexity is scored
    per paragraph, and docs are trimmed/bucketed by their worst and
    best paragraphs, not only the doc mean). Lines are the real-'\\n'
    ml lines; each line scores mean -log2 p(token) under the corpus
    unigram LM; per doc: min/max/mean line bits. Plan: corpus term
    frequencies once (map-side combining), token→freq join (Zipf skew
    → AQE; head-broadcast as in q_unigram_logloss is the 100 TB
    refinement), then two doc-keyed rollups (line, then doc)."""
    docs = _t(spark, sf_dir, "documents")
    lx = (
        docs.select("doc_id", F.posexplode(F.split(_ml_text_col(), "\n")))
        .withColumnsRenamed({"pos": "li0", "col": "line"})
        .select("doc_id", (F.col("li0") + 1).alias("li"), "line")
    )
    ltoks = (
        lx.select("doc_id", "li", F.explode(F.split("line", " ")).alias("w"))
        .filter(F.col("w") != "")
    )
    ltoks = _persist(ltoks)
    cf = _persist(ltoks.groupBy("w").agg(F.count("*").alias("c")))
    tot = F.broadcast(cf.groupBy().agg(F.sum("c").alias("t")))
    nll = -F.log(F.col("c") * F.lit(1.0) / F.col("t"))
    lb = (
        ltoks.join(cf, "w")
        .crossJoin(tot)
        .groupBy("doc_id", "li")
        .agg((F.avg(nll) / F.log(F.lit(2.0))).alias("bits"))
    )
    return lb.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.round(F.min("bits"), 4).alias("min_line_bits"),
        F.round(F.max("bits"), 4).alias("max_line_bits"),
        F.round(F.avg("bits"), 4).alias("mean_line_bits"),
    )


#: the per-doc quality blend in micro units, the oracle side of
#: text_signals.quality_blend as q_host_quality_prior rounds it.
_QUALITY_MICRO_SQL = """CAST(ROUND((LEAST(1.0, len(string_split(text, ' ')) / 100.0)
                          * 0.5
                         + COALESCE(
                             length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                               * 1.0 / NULLIF(length(text), 0), 0.0) * 0.5)
                        * 1000000.0) AS BIGINT)"""


@q(
    f"""
    WITH perdoc AS (
      SELECT 'host' || CAST(doc_id % 50 AS VARCHAR) || '.example.com' AS host,
             {_QUALITY_MICRO_SQL} AS q_micro
      FROM documents),
    per_host AS (
      SELECT host, COUNT(*) AS n_docs,
             CAST(SUM(q_micro) AS BIGINT) AS sum_micro
      FROM perdoc GROUP BY host),
    prior AS (
      SELECT CAST(SUM(sum_micro) AS BIGINT) AS tot_micro,
             CAST(SUM(n_docs) AS BIGINT) AS tot_docs
      FROM per_host)
    SELECT host,
           n_docs,
           ROUND(sum_micro / 1000000.0 / n_docs, 4) AS mean_quality,
           ROUND(tot_micro / 1000000.0 / tot_docs, 4) AS prior_mean,
           ROUND((sum_micro + 20.0 * tot_micro / tot_docs)
                 / 1000000.0 / (n_docs + 20), 4) AS shrunk_quality,
           (sum_micro + 20.0 * tot_micro / tot_docs)
             / 1000000.0 / (n_docs + 20) < 0.55 AS demoted
    FROM per_host CROSS JOIN prior
    """,
)
def q_host_quality_prior(spark, sf_dir):
    """Empirical-Bayes host quality prior: per-host mean document
    quality SHRUNK toward the corpus-wide mean with a pseudo-count of
    20 docs — shrunk = (Σq_h + m·q̄)/(n_h + m). This is the host-gating
    rule a curation pipeline actually wants: a 3-document host with
    three lucky pages must NOT outrank a 10,000-document host with a
    solid 0.8 mean, and a 2-document spam host must not be permanently
    blocked on 2 bad samples; the Beta-Binomial-style shrinkage makes
    the blocklist/allowlist decision sample-size-aware.

    Cross-engine determinism: per-doc quality (the q_quality_score
    blend) is quantized to micro units ROW-LOCALLY (one double round
    per row, identical in both engines), so the host and global sums
    are EXACT BIGINT arithmetic — order-independent across partitions;
    only the final shrinkage divisions are doubles, and they divide
    identical integers, so every engine computes the same value before
    the single ROUND.

    Plan/scale: per-doc scoring is row-local in the scan (zero
    shuffle), one groupBy(host) with map-side partial aggregation
    (aggregate state = 2 numbers/host), a 1-row global prior broadcast
    (CROSS JOIN prior), then row-local shrinkage over the host table —
    at 10^8 hosts this is one skew-tolerant host rollup plus a
    host-table map; the demote flag feeds the same broadcast anti-join
    that consumes q_host_stats' blocklist."""
    docs = _t(spark, sf_dir, "documents")
    return host_quality_prior_from(
        docs.select(synthetic_host().alias("host"), "text")
    )


def host_quality_prior_from(docs):
    """q_host_quality_prior over any (host, text) DataFrame — the
    entry point the admission-policy blend and jobs use on their own
    corpus (host from url there, the synthetic doc_id-derived host in
    the gate query)."""
    quality = quality_blend(
        F.size(F.split("text", " ")), F.coalesce(alpha_ratio(), F.lit(0.0))
    )
    q_micro = F.round(quality * F.lit(1000000.0)).cast("long")
    per_host = (
        docs.select("host", q_micro.alias("q_micro"))
        .groupBy("host")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("q_micro").cast("long").alias("sum_micro"),
        )
    )
    per_host = _persist(per_host)
    prior = per_host.agg(
        F.sum("sum_micro").cast("long").alias("tot_micro"),
        F.sum("n_docs").cast("long").alias("tot_docs"),
    )
    shrunk = (
        F.col("sum_micro")
        + F.lit(20.0) * F.col("tot_micro") / F.col("tot_docs")
    ) / F.lit(1000000.0) / (F.col("n_docs") + 20)
    return per_host.crossJoin(F.broadcast(prior)).select(
        "host",
        "n_docs",
        F.round(F.col("sum_micro") / F.lit(1000000.0) / F.col("n_docs"), 4)
        .alias("mean_quality"),
        F.round(F.col("tot_micro") / F.lit(1000000.0) / F.col("tot_docs"), 4)
        .alias("prior_mean"),
        F.round(shrunk, 4).alias("shrunk_quality"),
        (shrunk < 0.55).alias("demoted"),
    )


@q(
    """
    WITH hl AS (
      SELECT 'host' || CAST(doc_id % 50 AS VARCHAR) || '.example.com' AS host,
             lang, COUNT(*) AS c
      FROM documents GROUP BY host, lang),
    agg AS (
      SELECT host, COUNT(*) AS n_langs, SUM(c) AS t,
             SUM(c * ln(c)) AS s,
             MIN(CASE WHEN rn = 1 THEN lang END) AS top_lang
      FROM (SELECT host, lang, c,
                   ROW_NUMBER() OVER (PARTITION BY host
                                      ORDER BY c DESC, lang) AS rn
            FROM hl) GROUP BY host)
    SELECT host,
           CAST(n_langs AS BIGINT) AS n_langs,
           CAST(t AS BIGINT) AS n_docs,
           top_lang,
           ROUND((ln(t) - s / t) / ln(2), 4) AS lang_entropy_bits,
           (ln(t) - s / t) / ln(2) > 1.5 AS mixed_host
    FROM agg
    """,
)
def q_host_lang_entropy(spark, sf_dir):
    """Host language-mix entropy: Shannon entropy (bits) of the
    language distribution of each host's documents, plus the dominant
    language and a mixed-host flag (> 1.5 bits ≈ more than ~3
    balanced languages). Real crawls use this as a machine-translation
    / SEO-spam signal: a legitimate host publishes in one or two
    languages, while auto-translated content farms emit the same pages
    in a dozen — their host-level language entropy is anomalous even
    when each individual page passes per-doc language ID.

    Entropy uses the exact-count identity H = (ln t − Σc·ln c / t)/ln 2
    over INTEGER counts (the q_char_entropy construction): per-(host,
    lang) counts are exact, the ≤|langs|-term double sum is tiny and
    rounded once. Plan: one groupBy(host, lang) with map-side combine,
    one groupBy(host) rollup carrying a top-1 window over ≤|langs|
    rows per host — both shuffle keys are host-prefixed so the two
    exchanges coalesce into one at execution; no joins, no broadcast,
    scales as a single host-keyed aggregation pass."""
    docs = _t(spark, sf_dir, "documents")
    hl = docs.select(synthetic_host().alias("host"), "lang").groupBy(
        "host", "lang"
    ).agg(F.count("*").alias("c"))
    w = Window.partitionBy("host").orderBy(F.desc("c"), F.asc("lang"))
    ranked = hl.withColumn("rn", F.row_number().over(w))
    agg = ranked.groupBy("host").agg(
        F.count("*").cast("long").alias("n_langs"),
        F.sum("c").cast("long").alias("n_docs"),
        F.sum(F.col("c") * F.log("c")).alias("s"),
        F.min(F.when(F.col("rn") == 1, F.col("lang"))).alias("top_lang"),
    )
    h = (F.log("n_docs") - F.col("s") / F.col("n_docs")) / F.log(F.lit(2.0))
    return agg.select(
        "host",
        "n_langs",
        "n_docs",
        "top_lang",
        F.round(h, 4).alias("lang_entropy_bits"),
        (h > 1.5).alias("mixed_host"),
    )


#: the per-language tercile bounds `bounds(lang, t1_cb, t2_cb)` of a
#: `cbd(doc_id, lang, cb)` bucket CTE, the oracle side of the CCNet
#: buckets q_ccnet_buckets and the admission flags share.
_CCNET_BOUNDS_SQL = """hist AS (SELECT lang, cb, COUNT(*) AS hc FROM cbd GROUP BY lang, cb),
    cum AS (
      SELECT lang, cb,
             CAST(SUM(hc) OVER (PARTITION BY lang ORDER BY cb) AS BIGINT)
               AS cum,
             CAST(SUM(hc) OVER (PARTITION BY lang) AS BIGINT) AS n_l
      FROM hist),
    bounds AS (
      SELECT lang,
             MIN(CASE WHEN cum >= (n_l + 2) // 3 THEN cb END) AS t1_cb,
             MIN(CASE WHEN cum >= (2 * n_l + 2) // 3 THEN cb END) AS t2_cb
      FROM cum GROUP BY lang)"""


@q(
    f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, lang, w FROM (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
        FROM documents) WHERE w <> ''),
    cf AS (SELECT w, COUNT(*) AS c FROM toks GROUP BY w),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM cf),
    perdoc AS MATERIALIZED (
      SELECT doc_id, lang,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(CAST(ROUND(-ln(cf.c * 1.0 / tot.t) / ln(2)
                                 * 1000000.0) AS BIGINT)) AS BIGINT)
               AS sum_micro
      FROM toks JOIN cf USING (w) CROSS JOIN tot
      GROUP BY doc_id, lang),
    cbd AS (
      SELECT doc_id, lang, n_tokens, sum_micro,
             sum_micro // (n_tokens * 10000) AS cb
      FROM perdoc),
    {_CCNET_BOUNDS_SQL}
    SELECT cbd.doc_id, cbd.lang, cbd.n_tokens,
           (cbd.sum_micro * 10000) // (cbd.n_tokens * 1000000) / 10000.0
             AS bits_per_token,
           cbd.cb, bounds.t1_cb, bounds.t2_cb,
           CASE WHEN cbd.cb <= bounds.t1_cb THEN 'head'
                WHEN cbd.cb <= bounds.t2_cb THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM cbd JOIN bounds USING (lang)
    """,
)
def q_ccnet_buckets(spark, sf_dir):
    """CCNet-style per-language perplexity buckets (Wenzek et al.
    2020: split each language's documents into head/middle/tail
    terciles by LM perplexity, then train mostly on head+middle) —
    the per-LANGUAGE adaptive threshold a multilingual curation
    pipeline needs, because an absolute perplexity cutoff that keeps
    fluent English discards fluent Finnish. Score = the q_unigram_logloss
    self-perplexity (mean −log2 p(token) under corpus unigram
    frequencies), made ORDER-INDEPENDENT by quantizing each token's
    nll to micro-bits row-locally so per-doc sums are exact BIGINTs;
    the doc's centibit bucket cb = sum_micro div (n_tokens·10⁴) is
    pure integer arithmetic, and the displayed bits_per_token is the
    4-dp TRUNCATION computed by exact integer division (an sf0.1 doc
    landed its mean exactly on a ROUND half-boundary, where Spark and
    DuckDB disagree — truncation has no boundary).

    The tercile boundaries are the scale story: instead of a per-lang
    percent_rank over the CORPUS (one window task per language — the
    exact per-lang-window ceiling VERDICT r06 #1 retired from the
    packing family), boundaries come from a bounded (lang, centibit)
    HISTOGRAM — ≤ a few thousand buckets per language regardless of
    corpus size — so the per-lang cumulative window runs over the
    histogram, never the documents. Plan: corpus tokenize + unigram
    join (Zipf head broadcast as in q_unigram_logloss), one doc-keyed
    rollup, one (lang, cb) rollup, a histogram-sized window, and a
    per-lang broadcast boundary join back; every corpus-sized exchange
    is map-side combining."""
    return ccnet_buckets_from(_t(spark, sf_dir, "documents"))


def ccnet_buckets_from(docs, toks=None):
    """q_ccnet_buckets over any (doc_id, lang, text) DataFrame — the
    entry point the admission-policy blend and jobs use on their own
    corpus. Pass a pre-tokenized persisted (doc_id, lang, w) `toks`
    to share ONE corpus tokenize scan across signals."""
    if toks is None:
        toks = _persist(doc_tokens(docs, "doc_id", "lang"))
    cf = _persist(toks.groupBy("w").agg(F.count("*").alias("c")))
    tot = cf.agg(F.sum("c").cast("long").alias("t"))
    nll_micro = F.round(
        -F.log(F.col("c") * F.lit(1.0) / F.col("t"))
        / F.log(F.lit(2.0))
        * F.lit(1000000.0)
    ).cast("long")
    perdoc = _persist(
        head_split_join(toks, cf, ["w"])
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum(nll_micro).cast("long").alias("sum_micro"),
        )
        .withColumn(
            "cb", F.expr("sum_micro div (n_tokens * 10000)")
        )
    )
    hist = perdoc.groupBy("lang", "cb").agg(F.count("*").alias("hc"))
    w_cum = (
        Window.partitionBy("lang")
        .orderBy("cb")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("lang")
    cum = hist.select(
        "lang",
        "cb",
        F.sum("hc").over(w_cum).cast("long").alias("cum"),
        F.sum("hc").over(w_tot).cast("long").alias("n_l"),
    )
    bounds = cum.groupBy("lang").agg(
        F.min(
            F.when(
                F.col("cum") >= F.expr("(n_l + 2) div 3"), F.col("cb")
            )
        ).alias("t1_cb"),
        F.min(
            F.when(
                F.col("cum") >= F.expr("(2 * n_l + 2) div 3"), F.col("cb")
            )
        ).alias("t2_cb"),
    )
    return perdoc.join(F.broadcast(bounds), "lang").select(
        "doc_id",
        "lang",
        "n_tokens",
        (
            F.expr("(sum_micro * 10000) div (n_tokens * 1000000)")
            / F.lit(10000.0)
        ).alias("bits_per_token"),
        "cb",
        "t1_cb",
        "t2_cb",
        F.when(F.col("cb") <= F.col("t1_cb"), F.lit("head"))
        .when(F.col("cb") <= F.col("t2_cb"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


@q(
    """
    WITH mx AS (SELECT MAX(doc_id) + 1 AS m FROM documents),
    cl AS (
      SELECT CASE WHEN doc_id * 2 < mx.m THEN 'early' ELSE 'late' END
               AS batch,
             CAST(length(bin(n_chars + 1)) - 1 AS BIGINT) AS size_class
      FROM documents CROSS JOIN mx),
    per AS (
      SELECT size_class,
             CAST(SUM(CASE WHEN batch = 'early' THEN 1 ELSE 0 END)
                  AS BIGINT) AS early_n,
             CAST(SUM(CASE WHEN batch = 'late' THEN 1 ELSE 0 END)
                  AS BIGINT) AS late_n
      FROM cl GROUP BY size_class),
    tot AS (
      SELECT SUM(early_n) AS te, SUM(late_n) AS tl FROM per)
    SELECT size_class, early_n, late_n,
           ROUND(early_n * 1.0 / te, 4) AS early_share,
           ROUND(late_n * 1.0 / tl, 4) AS late_share,
           ROUND(ABS(early_n * 1.0 / te - late_n * 1.0 / tl), 4)
             AS share_delta,
           ROUND(SUM(ABS(early_n * 1.0 / te - late_n * 1.0 / tl))
                   OVER () / 2, 4) AS tvd
    FROM per CROSS JOIN tot
    """,
)
def q_length_drift(spark, sf_dir):
    """Crawl-batch distribution drift: the document length
    distribution (exact power-of-two n_chars classes, the
    q_degree_distribution binning) of the EARLY crawl half vs the
    LATE half, per-class shares, absolute share deltas, and their
    total-variation distance — the data-quality tripwire that fires
    when the late crawl silently changed character (a truncation bug,
    a crawler config change, a source mix shift) before those docs
    hit training. TVD = ½ Σ|p−q| over exact per-class count ratios —
    the integer-friendly drift stat (PSI's ln(p/q) adds nothing here
    but float-boundary risk).

    Plan/scale: a 1-row max-id broadcast pins the batch boundary
    (crawl order = doc_id, as q_novelty_curve), one map-side
    combining class rollup with BOTH batch counts as conditional
    sums (single pass, single shuffle of ≤64 class keys), a 1-row
    total, and a window over the ≤64-row class table for the TVD —
    every corpus-sized operation is the one combining groupBy."""
    docs = _t(spark, sf_dir, "documents")
    mx = docs.agg((F.max("doc_id") + 1).alias("m"))
    cl = docs.crossJoin(F.broadcast(mx)).select(
        (F.col("doc_id") * 2 < F.col("m")).alias("early"),
        (F.length(F.conv(F.col("n_chars") + 1, 10, 2)) - 1)
        .cast("long")
        .alias("size_class"),
    )
    per = cl.groupBy("size_class").agg(
        F.sum(F.col("early").cast("int")).cast("long").alias("early_n"),
        F.sum((~F.col("early")).cast("int")).cast("long").alias("late_n"),
    )
    tot = per.agg(
        F.sum("early_n").alias("te"), F.sum("late_n").alias("tl")
    )
    # try_divide: a degenerate corpus where one crawl half is EMPTY
    # (single-doc table, first-ever batch) must report NULL shares
    # like the DuckDB oracle's x/0, not raise Spark-ANSI
    # DIVIDE_BY_ZERO (boundary probe in test_round7)
    es = F.try_divide(F.col("early_n"), F.col("te"))
    ls = F.try_divide(F.col("late_n"), F.col("tl"))
    w = Window.partitionBy()  # ≤64 class rows: bounded by design
    return per.crossJoin(F.broadcast(tot)).select(
        "size_class",
        "early_n",
        "late_n",
        F.round(es, 4).alias("early_share"),
        F.round(ls, 4).alias("late_share"),
        F.round(F.abs(es - ls), 4).alias("share_delta"),
        F.round(F.sum(F.abs(es - ls)).over(w) / 2, 4).alias("tvd"),
    )


def admission_policy_from(docs):
    """First-gate admission attribution over any (doc_id, host, lang,
    text) DataFrame — the q_filter_funnel shape applied to the three
    round-7 QUALITY signals, in serving order: (1) the EB host prior's
    demote flag (host-level — cheapest, kills whole hosts), (2) the
    DSIR importance weight (integer-exact score_micro > 0), (3) the
    CCNet per-language perplexity tercile (tail dropped). Zero-token
    docs carry no DSIR/CCNet row and attribute to the DSIR gate
    (COALESCE(score, 0) <= 0) — the denominator never loses a doc.

    The keep-DECISION itself is one row-local CASE over three joined
    artifacts: a host-keyed table (broadcast here at 50 hosts; a
    host-keyed join at 10^8 hosts), the per-doc DSIR score and the
    per-doc tercile — each produced by the SAME `_from` entry points
    the standalone gate queries run, so policy and audits can never
    disagree. Output is the 4-row funnel (stage, n_docs, n_tokens,
    frac); jobs that need the per-doc decision use
    `admission_stages_from` directly (jobs/full_pipeline.py)."""
    # staged is one tiny row per doc but its lineage is the WHOLE
    # three-signal admission chain; it feeds both the funnel rollup and
    # the total-count broadcast, so without an anchor the entire chain
    # is planned and run twice (r9 — measured: the composed plan halves
    # from ~2100 to ~1050 formatted lines once staged is persisted).
    return _stage_funnel(_persist(admission_stages_from(docs)))


def admission_flags_from(docs):
    """Per-doc boolean signal flags (doc_id, n_tokens, f_host, f_dsir,
    f_ccnet) for the composed admission policy — the shared substrate
    both admission audits read (first-gate attribution in
    `admission_stages_from`, marginal attribution in
    q_admission_marginal), so the two can never disagree on what each
    gate would do. The corpus is TOKENIZED ONCE (persisted (doc_id,
    lang, w)) and shared by the DSIR and CCNet signals — composing
    three standalone queries naively would re-explode the corpus per
    signal; the host prior needs no token table (row-local
    size(split)). Zero-token docs carry no DSIR/CCNet row: f_dsir
    coalesces to True (COALESCE(score, 0) <= 0), f_ccnet to False."""
    toks = _persist(doc_tokens(docs, "doc_id", "lang"))
    hq = F.broadcast(
        host_quality_prior_from(docs.select("host", "text")).select(
            "host", "demoted"
        )
    )
    ds = dsir_weights_from(
        docs.select("doc_id", "text"), toks=toks
    ).select("doc_id", "n_tokens", "score_micro")
    cc = ccnet_buckets_from(
        docs.select("doc_id", "lang", "text"), toks=toks
    ).select("doc_id", "bucket")
    return (
        docs.select("doc_id", "host")
        .join(hq, "host")
        .join(ds, "doc_id", "left")
        .join(cc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.col("demoted").alias("f_host"),
            (F.coalesce("score_micro", F.lit(0)) <= 0).alias("f_dsir"),
            F.coalesce(F.col("bucket") == "tail", F.lit(False)).alias(
                "f_ccnet"
            ),
        )
    )


def admission_stages_from(docs):
    """Per-doc first-gate attribution (doc_id, n_tokens, stage) for
    the composed admission policy — stage '4_admitted' is the keep
    set. A row-local CASE in SERVING order over the shared
    `admission_flags_from` signal flags."""
    return admission_stages_from_flags(admission_flags_from(docs))


def admission_stages_from_flags(flags):
    """The first-gate CASE over an already-computed flags table —
    jobs that also read the marginal audit persist ONE flags table
    and derive both views from it (jobs/full_pipeline.py)."""
    return flags.select(
        "doc_id",
        "n_tokens",
        F.when(F.col("f_host"), F.lit("1_host_demoted"))
        .when(F.col("f_dsir"), F.lit("2_dsir_offtarget"))
        .when(F.col("f_ccnet"), F.lit("3_ccnet_tail"))
        .otherwise(F.lit("4_admitted"))
        .alias("stage"),
    )


#: Shared oracle body for the admission-policy family: everything
#: through the per-doc boolean signal flags (f_host / f_dsir /
#: f_ccnet), mirroring `admission_flags_from`. q_admission_policy
#: derives the first-gate stage from these flags; q_admission_marginal
#: derives per-gate marginal attribution from the SAME flags — shared
#: by construction in BOTH engines, like _BM25_SQL_BODY.
_ADMISSION_FLAGS_SQL = f"""toks AS MATERIALIZED (
      SELECT doc_id, lang, w FROM (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
        FROM documents) WHERE w <> ''),
    {_DSIR_RATIO_SQL},
    dsc AS (
      SELECT bc.doc_id,
             CAST(SUM(bc.c * ratio.lrq) AS BIGINT) AS score_micro
      FROM bc JOIN ratio ON ratio.b = bc.b GROUP BY bc.doc_id),
    cf AS (SELECT w, COUNT(*) AS c FROM toks GROUP BY w),
    ctot AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM cf),
    cperdoc AS MATERIALIZED (
      SELECT doc_id, lang,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(CAST(ROUND(-ln(cf.c * 1.0 / ctot.t) / ln(2)
                                 * 1000000.0) AS BIGINT)) AS BIGINT)
               AS sum_micro
      FROM toks JOIN cf USING (w) CROSS JOIN ctot
      GROUP BY doc_id, lang),
    cbd AS (
      SELECT doc_id, lang, n_tokens, sum_micro,
             sum_micro // (n_tokens * 10000) AS cb
      FROM cperdoc),
    {_CCNET_BOUNDS_SQL},
    cbuck AS (
      SELECT cbd.doc_id,
             CASE WHEN cbd.cb <= bounds.t1_cb THEN 'head'
                  WHEN cbd.cb <= bounds.t2_cb THEN 'middle'
                  ELSE 'tail' END AS bucket
      FROM cbd JOIN bounds USING (lang)),
    hperdoc AS (
      SELECT 'host' || CAST(doc_id % 50 AS VARCHAR) || '.example.com'
               AS host,
             {_QUALITY_MICRO_SQL} AS q_micro
      FROM documents),
    per_host AS (
      SELECT host, COUNT(*) AS n_docs,
             CAST(SUM(q_micro) AS BIGINT) AS sum_micro
      FROM hperdoc GROUP BY host),
    prior AS (
      SELECT CAST(SUM(sum_micro) AS BIGINT) AS tot_micro,
             CAST(SUM(n_docs) AS BIGINT) AS tot_docs
      FROM per_host),
    hostflag AS (
      SELECT host,
             (sum_micro + 20.0 * tot_micro / tot_docs)
               / 1000000.0 / (n_docs + 20) < 0.55 AS demoted
      FROM per_host CROSS JOIN prior),
    flags AS (
      SELECT d.doc_id, COALESCE(l.n_tok, 0) AS n_tokens,
             hf.demoted AS f_host,
             COALESCE(s.score_micro, 0) <= 0 AS f_dsir,
             COALESCE(cb2.bucket = 'tail', FALSE) AS f_ccnet
      FROM documents d
      JOIN hostflag hf
        ON hf.host = 'host' || CAST(d.doc_id % 50 AS VARCHAR)
                     || '.example.com'
      LEFT JOIN lab l ON l.doc_id = d.doc_id
      LEFT JOIN dsc s ON s.doc_id = d.doc_id
      LEFT JOIN cbuck cb2 ON cb2.doc_id = d.doc_id)"""


@q(
    f"""
    WITH {_ADMISSION_FLAGS_SQL},
    staged AS (
      SELECT doc_id, n_tokens,
             CASE WHEN f_host THEN '1_host_demoted'
                  WHEN f_dsir THEN '2_dsir_offtarget'
                  WHEN f_ccnet THEN '3_ccnet_tail'
                  ELSE '4_admitted' END AS stage
      FROM flags),
    {_STAGE_FUNNEL_SQL}
    """,
)
def q_admission_policy(spark, sf_dir):
    """Composed admission policy (VERDICT r07 #7): the three round-7
    quality signals — EB host prior (q_host_quality_prior), DSIR
    importance weight (q_dsir_weights) and CCNet perplexity tercile
    (q_ccnet_buckets) — blended into ONE curation keep-decision, with
    q_filter_funnel-style first-gate attribution so the published
    funnel explains exactly why every dropped doc dropped. All three
    signals come from the SAME `_from` entry points the standalone
    audits run (shared by construction, not by convention); the
    synthetic host is the q_host_quality_prior doc_id%50 convention so
    the host gate actually fires on the rule corpus."""
    docs = _t(spark, sf_dir, "documents")
    return admission_policy_from(
        docs.select("doc_id", synthetic_host().alias("host"), "lang", "text")
    )


@q(
    f"""
    WITH {_ADMISSION_FLAGS_SQL}
    SELECT 'host_demoted' AS gate,
           CAST(COALESCE(SUM(CASE WHEN f_host THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_blocked,
           CAST(COALESCE(SUM(CASE WHEN f_host AND NOT f_dsir
                                  AND NOT f_ccnet
                         THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_unique,
           CAST(COALESCE(SUM(CASE WHEN f_host AND NOT f_dsir
                                  AND NOT f_ccnet
                         THEN n_tokens ELSE 0 END), 0) AS BIGINT)
             AS recovered_tokens
    FROM flags
    UNION ALL
    SELECT 'dsir_offtarget' AS gate,
           CAST(COALESCE(SUM(CASE WHEN f_dsir THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_blocked,
           CAST(COALESCE(SUM(CASE WHEN f_dsir AND NOT f_host
                                  AND NOT f_ccnet
                         THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_unique,
           CAST(COALESCE(SUM(CASE WHEN f_dsir AND NOT f_host
                                  AND NOT f_ccnet
                         THEN n_tokens ELSE 0 END), 0) AS BIGINT)
             AS recovered_tokens
    FROM flags
    UNION ALL
    SELECT 'ccnet_tail' AS gate,
           CAST(COALESCE(SUM(CASE WHEN f_ccnet THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_blocked,
           CAST(COALESCE(SUM(CASE WHEN f_ccnet AND NOT f_host
                                  AND NOT f_dsir
                         THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_unique,
           CAST(COALESCE(SUM(CASE WHEN f_ccnet AND NOT f_host
                                  AND NOT f_dsir
                         THEN n_tokens ELSE 0 END), 0) AS BIGINT)
             AS recovered_tokens
    FROM flags
    """,
)
def q_admission_marginal(spark, sf_dir):
    """Per-gate MARGINAL attribution for the composed admission
    policy — the complement of q_admission_policy's first-gate
    funnel. First-gate attribution answers "which gate fired first";
    what it hides is overlap: a doc the host prior demotes may also
    be DSIR-off-target, so removing the host gate would NOT recover
    it. Per gate this reports n_blocked (docs the gate flags at all,
    regardless of the others), n_unique (docs ONLY this gate flags —
    exactly what relaxing it would re-admit) and recovered_tokens
    (token mass of those unique docs) — the numbers a curation owner
    reads before loosening a threshold.

    Both audits read the SAME `admission_flags_from` substrate (one
    tokenize scan shared by DSIR and CCNet, broadcast host prior), so
    funnel and marginal can never disagree on a gate's decision; the
    oracle nests the shared _ADMISSION_FLAGS_SQL body the same way.

    Plan/scale: the flags table is one pass over the corpus (the
    admission join plan already accepted at 10^12 docs); the marginal
    rollup is a single 1-row aggregate over 9 conditional sums —
    map-side partials, no extra shuffle beyond the signal joins — and
    a row-local 3-row stack. No per-gate re-scan: naive composition
    would run the admission chain once per gate."""
    docs = _t(spark, sf_dir, "documents")
    return admission_marginal_from_flags(
        admission_flags_from(
            docs.select("doc_id", synthetic_host().alias("host"), "lang", "text")
        )
    )


def admission_marginal_from_flags(flags):
    """The marginal rollup over an already-computed flags table — the
    ONE implementation q_admission_marginal and jobs/full_pipeline.py
    share (a job that persists one flags table derives funnel AND
    marginal from it). One 9-sum aggregate + row-local 3-row stack."""

    def _u(g, o1, o2):
        return F.col(g) & ~F.col(o1) & ~F.col(o2)

    agg = flags.agg(
        *[
            e
            for g, o1, o2 in (
                ("f_host", "f_dsir", "f_ccnet"),
                ("f_dsir", "f_host", "f_ccnet"),
                ("f_ccnet", "f_host", "f_dsir"),
            )
            for e in (
                F.sum(F.col(g).cast("long")).alias(f"b_{g}"),
                F.sum(_u(g, o1, o2).cast("long")).alias(f"u_{g}"),
                F.sum(
                    F.when(_u(g, o1, o2), F.col("n_tokens")).otherwise(
                        F.lit(0)
                    )
                )
                .cast("long")
                .alias(f"t_{g}"),
            )
        ]
    )
    # an empty flags table sums to NULL — a 3-row all-zero marginal is
    # the honest answer (and what the job's stats consumer expects)
    agg = agg.select(
        *[
            F.coalesce(c, F.lit(0)).cast("long").alias(c)
            for c in agg.columns
        ]
    )
    return agg.select(
        F.expr(
            "stack(3,"
            " 'host_demoted', b_f_host, u_f_host, t_f_host,"
            " 'dsir_offtarget', b_f_dsir, u_f_dsir, t_f_dsir,"
            " 'ccnet_tail', b_f_ccnet, u_f_ccnet, t_f_ccnet"
            ") as (gate, n_blocked, n_unique, recovered_tokens)"
        )
    )


@q(
    """
    WITH pages AS (
      SELECT doc_id,
             'h' || CAST(doc_id % 40 AS VARCHAR) || '.example.com' AS host,
             ['NAV home about contact ' || CAST(doc_id % 40 AS VARCHAR),
              CASE WHEN doc_id % 2 = 0
                   THEN 'PROMO subscribe newsletter '
                          || CAST(doc_id % 40 AS VARCHAR) END,
              'BODY ' || CAST(doc_id AS VARCHAR) || ' '
                || substr(text, 1, 48)] AS lines
      FROM documents),
    lx AS (
      SELECT host, doc_id, unnest(lines) AS line FROM pages),
    lines AS (
      SELECT host, line,
             CAST(COUNT(*) AS BIGINT) AS df,
             CAST(MIN(len(string_split(line, ' '))) AS BIGINT) AS tok
      FROM lx WHERE line IS NOT NULL GROUP BY host, line),
    hp AS (
      SELECT host, CAST(COUNT(*) AS BIGINT) AS n_pages
      FROM pages GROUP BY host),
    flagged AS (
      SELECT l.host, l.df, l.tok, h.n_pages,
             (l.df * 10 >= 3 * h.n_pages AND h.n_pages >= 10) AS boiler
      FROM lines l JOIN hp h ON l.host = h.host)
    SELECT host,
           CAST(MIN(n_pages) AS BIGINT) AS n_pages,
           CAST(COUNT(*) AS BIGINT) AS n_lines_distinct,
           CAST(SUM(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT)
             AS n_boiler_lines,
           CAST(SUM(CASE WHEN boiler THEN df * tok ELSE 0 END) AS BIGINT)
             AS boiler_tokens,
           CAST(SUM(df * tok) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN boiler THEN df * tok ELSE 0 END) * 1000000
                // SUM(df * tok) AS BIGINT) AS boiler_token_ppm
    FROM flagged GROUP BY host
    """,
)
def q_host_boilerplate(spark, sf_dir):
    """Host-template (boilerplate) detection — the corpus-level
    sibling of the extractor's per-page cleanup (A-4): a line that
    repeats across a large share of a HOST's pages is navigation /
    footer / promo chrome, not content, and a curation pipeline wants
    to know how much of each host's token mass that chrome is before
    spending training budget on it (CCNet and trafilatura both apply
    exactly this host-conditional document-frequency rule). A line is
    boilerplate when it appears on ≥30% of the host's pages AND the
    host has ≥10 pages (integer cross-multiplied threshold — no
    double compare); per host the audit reports page count, distinct
    lines, boilerplate lines and the boilerplate token share in ppm
    (exact integer DIV — engine-stable, no float division).

    Synthesis: every page carries its host's NAV line (df = 100%),
    even pages add a PROMO line (df = 50% — above threshold), and each
    page has a unique BODY line (df = 1/n — below). The oracle
    replays the rule over the same exploded lines, so a wrong
    document-frequency grain (corpus-global instead of per-host), a
    broken threshold, or token miscounts hash-fail the gate.

    Plan/scale: one projection builds the line array row-locally,
    explode + ONE (host, line)-keyed hash aggregate with map-side
    partials carries the heavy lifting; page counts are a host-keyed
    rollup joined back on the same key (no broadcast — the host dim
    is 10^7+ at corpus scale), then a final host-keyed rollup. No
    windows, no collect, no per-host single tasks: every exchange is
    keyed by host (+line) and AQE handles residual host skew."""
    docs = _t(spark, sf_dir, "documents")
    h = (F.col("doc_id") % 40).cast("string")
    host = F.concat(F.lit("h"), h, F.lit(".example.com"))
    nav = F.concat(F.lit("NAV home about contact "), h)
    promo = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(F.lit("PROMO subscribe newsletter "), h),
    )
    body = F.concat(
        F.lit("BODY "),
        F.col("doc_id").cast("string"),
        F.lit(" "),
        F.substring("text", 1, 48),
    )
    pages = docs.select(
        "doc_id", host.alias("host"), F.array(nav, promo, body).alias("lines")
    )
    lx = pages.select(
        "host", F.explode("lines").alias("line")
    ).filter(F.col("line").isNotNull())
    lines = lx.groupBy("host", "line").agg(
        F.count("*").alias("df"),
        F.min(F.size(F.split(F.col("line"), " "))).cast("long").alias("tok"),
    )
    hp = pages.groupBy("host").agg(F.count("*").alias("n_pages"))
    boiler = (F.col("df") * 10 >= 3 * F.col("n_pages")) & (
        F.col("n_pages") >= 10
    )
    flagged = lines.join(hp, "host").withColumn("boiler", boiler)
    btok = F.when(F.col("boiler"), F.col("df") * F.col("tok")).otherwise(
        F.lit(0)
    )
    return flagged.groupBy("host").agg(
        F.min("n_pages").cast("long").alias("n_pages"),
        F.count("*").alias("n_lines_distinct"),
        F.sum(F.when(F.col("boiler"), 1).otherwise(0))
        .cast("long")
        .alias("n_boiler_lines"),
        F.sum(btok).cast("long").alias("boiler_tokens"),
        F.sum(F.col("df") * F.col("tok")).cast("long").alias("total_tokens"),
        F.expr(
            "SUM(CASE WHEN boiler THEN df * tok ELSE 0 END) * 1000000"
            " DIV SUM(df * tok)"
        ).alias("boiler_token_ppm"),
    )


@q(
    """
    WITH aug AS (
      SELECT doc_id,
             CASE doc_id % 3
               WHEN 0 THEN 'decomposed'
               WHEN 1 THEN 'precomposed'
               ELSE 'ascii' END AS cls,
             text || CASE doc_id % 3
               WHEN 0 THEN ' cafe' || chr(769)
               WHEN 1 THEN ' caf' || chr(233)
               ELSE '' END AS t
      FROM documents),
    n AS (
      SELECT cls, t, nfc_normalize(t) AS nt FROM aug)
    SELECT cls,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN nt <> t THEN 1 ELSE 0 END) AS BIGINT)
             AS n_changed,
           CAST(SUM(length(t) - length(nt)) AS BIGINT)
             AS chars_delta_total,
           CAST(SUM(octet_length(encode(t)) - octet_length(encode(nt)))
                AS BIGINT) AS bytes_delta_total
    FROM n GROUP BY cls
    """,
)
def q_unicode_normalize(spark, sf_dir):
    """Unicode NFC normalization audit — the canonicalization pass a
    web-text corpus needs BEFORE any hash-keyed dedup or tokenizer
    training (the same text arrives composed from one CMS and
    decomposed from another; unnormalized, exact dedup misses the
    pair and the tokenizer learns two vocab entries). Each document
    is augmented with a deterministic suffix class: `decomposed`
    (e + U+0301 combining acute — NFC composes it), `precomposed`
    (U+00E9 — already canonical) or `ascii` (NFC is the identity);
    the audit reports per class how many documents change under NFC
    and the exact char/byte mass the normalization reclaims — the
    numbers that size the canonicalization's dedup impact. Spark has
    no built-in normalizer, so the normalize step runs as a
    vectorized pandas `Series.str.normalize('NFC')` inside
    mapInPandas (Arrow batches, no per-row Python); char/byte deltas
    are computed in the same batch and the rollup is JVM-side. The
    oracle is DuckDB's utf8proc-backed nfc_normalize over the same
    augmented text — two independent Unicode implementations
    agreeing on the hash is the point of the gate (the planted
    sequences are composition-stable across Unicode versions).

    Plan/scale: scan → one mapInPandas (the only Python in the plan,
    amortized over Arrow batches) → 3-group hash aggregate with
    map-side partials. No join, no window; at corpus scale the
    normalize pass pipelines with the extract stage it would fuse
    into."""
    import pandas as pd

    docs = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 3
    cls = (
        F.when(m == 0, F.lit("decomposed"))
        .when(m == 1, F.lit("precomposed"))
        .otherwise(F.lit("ascii"))
    )
    suffix = (
        F.when(m == 0, F.lit(" cafe\u0301"))  # e + combining acute
        .when(m == 1, F.lit(" caf\u00e9"))  # precomposed U+00E9
        .otherwise(F.lit(""))
    )
    aug = docs.select(
        cls.alias("cls"), F.concat("text", suffix).alias("t")
    )

    def norm_batches(batches):
        for pdf in batches:
            t = pdf["t"].astype("string")
            nt = t.str.normalize("NFC")
            yield pd.DataFrame(
                {
                    "cls": pdf["cls"],
                    "changed": (nt != t).astype("int64"),
                    "chars_delta": (
                        t.str.len() - nt.str.len()
                    ).astype("int64"),
                    "bytes_delta": (
                        t.str.encode("utf-8").str.len()
                        - nt.str.encode("utf-8").str.len()
                    ).astype("int64"),
                }
            )

    deltas = aug.mapInPandas(
        norm_batches,
        schema=(
            "cls string, changed long, chars_delta long, bytes_delta long"
        ),
    )
    return deltas.groupBy("cls").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("changed").cast("long").alias("n_changed"),
        F.sum("chars_delta").cast("long").alias("chars_delta_total"),
        F.sum("bytes_delta").cast("long").alias("bytes_delta_total"),
    )


@q(
    f"""
    WITH {_WORDS_SQL},
    langwords(lid, w) AS (VALUES {_LANG_VALUES_SQL}),
    scores AS (
      SELECT words.doc_id, langwords.lid, COUNT(*) AS hits
      FROM words JOIN langwords ON words.w = langwords.w
      GROUP BY words.doc_id, langwords.lid),
    best AS (
      SELECT doc_id, lid, hits,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY hits DESC, lid) AS rn
      FROM scores),
    conf AS (
      SELECT d.lang AS declared,
             COALESCE(b.lid, 'und') AS detected,
             CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents d
      LEFT JOIN best b ON d.doc_id = b.doc_id AND b.rn = 1
      GROUP BY 1, 2)
    SELECT declared, detected, n_docs,
           CASE WHEN detected = 'und' THEN 'undetermined'
                WHEN detected = declared THEN 'agree'
                ELSE 'mismatch' END AS cls,
           CAST(n_docs * 1000000 // SUM(n_docs)
                  OVER (PARTITION BY declared) AS BIGINT) AS share_ppm
    FROM conf
    """,
)
def q_lang_mismatch(spark, sf_dir):
    """Declared-vs-detected language confusion matrix — the metadata
    trust audit a multilingual curation run does before keying ANY
    per-lang decision (mixture weights, packing, CCNet buckets) on the
    declared `lang` column: detection replays q_langid's stopword-set
    vote verbatim (distinct-word hits per language, argmax with
    lexicographic tie-break, 'und' on zero hits), and the rollup
    crosses it with the DECLARED label. Every cell is classed `agree`
    / `mismatch` / `undetermined`, with an exact-ppm share within the
    declared language — the per-lang error rate that decides whether
    the declared column is usable at all. On this corpus the matrix
    exposes both real failure modes: declared langs outside the
    detector alphabet (zh) can never agree (detector blind spot), and
    the en-ish synthetic text pulls other declared langs to `en`
    (metadata lies OR detector bias — the audit can't tell, which is
    exactly why it reports both axes).

    Plan/scale: the q_langid scan/vote (word explode → distinct →
    broadcast stopword join → doc-grain window bounded by the 4-lang
    alphabet), then ONE (declared, detected) hash aggregate — ≤
    |langs|² groups — and a share window over that ≤25-row rollup,
    never the corpus. Cost class identical to q_langid itself."""
    detected = REGISTRY["q_langid"].spark(spark, sf_dir).select(
        "doc_id", "detected"
    )
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("lang").alias("declared")
    )
    conf = (
        docs.join(detected, "doc_id")
        .groupBy("declared", "detected")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )
    cls = (
        F.when(F.col("detected") == "und", F.lit("undetermined"))
        .when(F.col("detected") == F.col("declared"), F.lit("agree"))
        .otherwise(F.lit("mismatch"))
    )
    return conf.select(
        "declared",
        "detected",
        "n_docs",
        cls.alias("cls"),
        F.expr(
            "n_docs * 1000000 DIV SUM(n_docs)"
            " OVER (PARTITION BY declared)"
        ).alias("share_ppm"),
    )


@q(None)
def q_compression_ratio(spark, sf_dir):
    """Compressibility quality filter — the Gopher/CCNet signal with
    no SQL equivalent (zlib is not expressible in DuckDB, so this is
    one of the few rows-only driver entries; correctness is pinned by
    tests/test_round8.py against a direct python-zlib reference and
    by planted-extreme class tests): each document's zlib-6 ratio in
    exact integer ppm classifies it `highly_repetitive` (< 450000 —
    boilerplate/template farms; compression finds the duplication
    that n-gram dedup prices later, for one cheap pass), `normal`, or
    `incompressible` (> 900000 — already-compressed or binary junk
    masquerading as text). Per class: doc count, raw/compressed byte
    mass, exact mean ratio. Thresholds chosen so all three classes
    fire on the synthetic corpus (dead-class discipline).

    Plan/scale: one mapInPandas pass — zlib runs per row but each
    call is a C call amortized over Arrow batches (the same toll the
    extract stage pays), emitting two ints per doc — then a 3-group
    JVM rollup with map-side partials. At 100 TB the compression pass
    fuses into the extract stage's existing Python stage; nothing
    else scales with the corpus."""
    import pandas as pd

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def ratio_batches(batches):
        import zlib

        for pdf in batches:
            raw = pdf["text"].fillna("").str.encode("utf-8")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "raw_bytes": raw.str.len().astype("int64"),
                    "comp_bytes": raw.map(
                        lambda b: len(zlib.compress(b, 6))
                    ).astype("int64"),
                }
            )

    sized = docs.mapInPandas(
        ratio_batches,
        schema="doc_id long, raw_bytes long, comp_bytes long",
    )
    ratio = F.expr("comp_bytes * 1000000 DIV NULLIF(raw_bytes, 0)")
    cls = (
        F.when(ratio < 450000, F.lit("highly_repetitive"))
        .when(ratio > 900000, F.lit("incompressible"))
        .otherwise(F.lit("normal"))
    )
    return (
        sized.select(cls.alias("cls"), "raw_bytes", "comp_bytes")
        .groupBy("cls")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("raw_bytes").cast("long").alias("raw_bytes"),
            F.sum("comp_bytes").cast("long").alias("comp_bytes"),
            F.expr(
                "SUM(comp_bytes) * 1000000 DIV NULLIF(SUM(raw_bytes), 0)"
            ).alias("mean_ratio_ppm"),
        )
    )


@q(
    """
    WITH shaped AS (
      SELECT doc_id,
             CASE doc_id % 6
               WHEN 1 THEN '### $$$ %% ^^ && ** (()) !!'
               WHEN 2 THEN 'zxqwrtplkjhgfds zxqwrtplkjhgfds'
               WHEN 3 THEN 'rhythms myths glyphs nymphs'
               WHEN 5 THEN ''
               ELSE text END AS body
      FROM documents),
    feat AS (
      SELECT doc_id, lower(body) AS t, length(body) AS n_chars
      FROM shaped),
    sig AS (
      SELECT doc_id, n_chars,
             length(regexp_replace(t, '[^a-z]', '', 'g')) AS n_letters,
             length(regexp_replace(t, '[^aeiou]', '', 'g')) AS n_vowels,
             regexp_matches(t, '[bcdfghjklmnpqrstvwxz]{7,}') AS has_run7,
             length(regexp_replace(t, '[a-z0-9 ]', '', 'g')) AS n_symbols
      FROM feat),
    cls AS (
      SELECT doc_id, n_chars, has_run7,
             CASE WHEN n_letters = 0 THEN 0
                  ELSE n_vowels * 1000000 // n_letters END AS vowel_ppm,
             CASE
               WHEN n_chars = 0 THEN 'empty'
               WHEN n_letters > 0
                    AND (n_vowels * 1000000 // n_letters < 200000
                         OR has_run7)
                 THEN 'gibberish'
               WHEN n_letters = 0
                    OR n_symbols * 1000000 // n_chars > 300000
                 THEN 'symbol-heavy'
               ELSE 'clean' END AS text_class
      FROM sig)
    SELECT text_class,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           CAST(SUM(vowel_ppm) // COUNT(*) AS BIGINT)
             AS mean_vowel_ppm,
           CAST(COALESCE(SUM(CASE WHEN has_run7 THEN 1 END), 0)
                AS BIGINT) AS n_run7
    FROM cls GROUP BY text_class
    """,
)
def q_gibberish_detect(spark, sf_dir):
    """Gibberish detection — the cheapest quality gate a training-data
    pipeline runs after language-ID: keyboard mash, encoding debris
    and base64 blobs all share a phonotactic signature (too few vowels
    among letters, or an impossible consonant run) that no stopword
    or perplexity model is needed to catch. Documents carry six
    shapes (real corpus text for the clean arm, an all-symbol page, a
    consonant-mash page, a vowel-less-but-real-words page — the
    documented false positive of the vowel rule, 'rhythms myths' —
    and an empty page). Signals are pure letter arithmetic: vowel ppm
    among LETTERS (not chars — symbol pages must not dilute the
    ratio), a 7+ consonant-run probe, and symbol ppm among chars.
    Classes are PRECEDENCE-ordered: empty, gibberish (letters exist
    but vowels < 20% or a run fires), symbol-heavy (no letters at
    all, or symbols > 30%), clean. Per class: doc count, char mass,
    mean per-doc vowel ppm (floor-of-sum — no float), run count.

    Plan/scale: every signal is a regexp_replace length difference
    inside one codegen'd projection; ONE hash aggregate on the
    4-class alphabet."""
    docs = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 6
    body = (
        F.when(m == 1, F.lit("### $$$ %% ^^ && ** (()) !!"))
        .when(m == 2, F.lit("zxqwrtplkjhgfds zxqwrtplkjhgfds"))
        .when(m == 3, F.lit("rhythms myths glyphs nymphs"))
        .when(m == 5, F.lit(""))
        .otherwise(F.col("text"))
    )
    feat = docs.select(
        F.lower(body).alias("t"), F.length(body).alias("n_chars")
    )
    sig = feat.select(
        "n_chars",
        F.length(F.regexp_replace("t", "[^a-z]", "")).alias("n_letters"),
        F.length(F.regexp_replace("t", "[^aeiou]", "")).alias(
            "n_vowels"
        ),
        F.col("t").rlike("[bcdfghjklmnpqrstvwxz]{7,}").alias(
            "has_run7"
        ),
        F.length(F.regexp_replace("t", "[a-z0-9 ]", "")).alias(
            "n_symbols"
        ),
    )
    cls = sig.select(
        "n_chars",
        "has_run7",
        F.when(F.col("n_letters") == 0, F.lit(0))
        .otherwise(F.expr("n_vowels * 1000000 DIV n_letters"))
        .alias("vowel_ppm"),
        F.when(F.col("n_chars") == 0, "empty")
        .when(
            (F.col("n_letters") > 0)
            & (
                (F.expr("n_vowels * 1000000 DIV n_letters") < 200000)
                | F.col("has_run7")
            ),
            "gibberish",
        )
        .when(
            (F.col("n_letters") == 0)
            | (F.expr("n_symbols * 1000000 DIV n_chars") > 300000),
            "symbol-heavy",
        )
        .otherwise("clean")
        .alias("text_class"),
    )
    return cls.groupBy("text_class").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("n_chars"),
        F.expr("SUM(vowel_ppm) DIV COUNT(*)")
        .cast("long")
        .alias("mean_vowel_ppm"),
        F.coalesce(F.sum(F.when(F.col("has_run7"), 1)), F.lit(0))
        .cast("long")
        .alias("n_run7"),
    )


@q(
    """
    WITH shaped AS (
      SELECT doc_id,
             CASE doc_id % 5
               WHEN 1 THEN '\u4e2d\u6587\u6587\u6863\u5185\u5bb9'
               WHEN 2 THEN '\u043f\u0440\u0438\u0432\u0435\u0442 \u043c\u0438\u0440'
               WHEN 3 THEN 'p\u0430yp\u0430l account login'
               WHEN 4 THEN '12345 67890 !!'
               ELSE text END AS body
      FROM documents),
    sig AS (
      SELECT doc_id, length(body) AS n_chars,
             length(body) - length(regexp_replace(body,
               '[A-Za-z]', '', 'g')) AS n_latin,
             length(body) - length(regexp_replace(body,
               '[\u0400-\u04ff]', '', 'g')) AS n_cyr,
             length(body) - length(regexp_replace(body,
               '[\u4e00-\u9fff]', '', 'g')) AS n_cjk,
             regexp_matches(body,
               '[A-Za-z][\u0400-\u04ff]|[\u0400-\u04ff][A-Za-z]') AS homoglyph
      FROM shaped),
    cls AS (
      SELECT n_chars,
             CASE WHEN homoglyph THEN 'mixed-homoglyph'
                  WHEN n_cjk > 0 THEN 'cjk'
                  WHEN n_cyr > 0 THEN 'cyrillic'
                  WHEN n_latin > 0 THEN 'latin'
                  ELSE 'other' END AS script_class
      FROM sig)
    SELECT script_class,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars
    FROM cls GROUP BY script_class
    """,
)
def q_script_mix(spark, sf_dir):
    """Script-mix census with homoglyph detection \u2014 the spoofing
    gate the language-ID pass cannot provide (langid reads
    DISTRIBUTIONS; a phishing page that spells a latin brand word
    with a Cyrillic '\\u0430' inside it is distributionally latin and
    lexically a weapon): per-document char counts for the latin,
    Cyrillic and CJK ranges via regexp_replace length arithmetic,
    plus the ADJACENCY probe \u2014 a latin letter directly touching a
    Cyrillic one inside the same word is the homoglyph signature,
    and it OUTRANKS every honest script class (an honest bilingual
    page separates its scripts with spacing/punctuation; only
    spoofing interleaves them). Remaining precedence cjk > cyrillic
    > latin > other (digits/punctuation only). All non-ASCII
    pattern/literal codepoints are \\u-escaped in source.

    Plan/scale: three range-replace lengths + one adjacency regexp
    in a codegen'd projection; ONE hash aggregate on the 5-class
    key."""
    docs = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 5
    body = (
        F.when(m == 1, F.lit("\u4e2d\u6587\u6587\u6863\u5185\u5bb9"))
        .when(m == 2, F.lit("\u043f\u0440\u0438\u0432\u0435\u0442 \u043c\u0438\u0440"))
        .when(m == 3, F.lit("p\u0430yp\u0430l account login"))
        .when(m == 4, F.lit("12345 67890 !!"))
        .otherwise(F.col("text"))
    )
    sig = docs.select(
        F.length(body).alias("n_chars"),
        (
            F.length(body)
            - F.length(F.regexp_replace(body, "[A-Za-z]", ""))
        ).alias("n_latin"),
        (
            F.length(body)
            - F.length(F.regexp_replace(body, "[\u0400-\u04ff]", ""))
        ).alias("n_cyr"),
        (
            F.length(body)
            - F.length(F.regexp_replace(body, "[\u4e00-\u9fff]", ""))
        ).alias("n_cjk"),
        body.rlike("[A-Za-z][\u0400-\u04ff]|[\u0400-\u04ff][A-Za-z]").alias(
            "homoglyph"
        ),
    )
    cls = sig.select(
        "n_chars",
        F.when(F.col("homoglyph"), "mixed-homoglyph")
        .when(F.col("n_cjk") > 0, "cjk")
        .when(F.col("n_cyr") > 0, "cyrillic")
        .when(F.col("n_latin") > 0, "latin")
        .otherwise("other")
        .alias("script_class"),
    )
    return cls.groupBy("script_class").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("n_chars"),
    )
