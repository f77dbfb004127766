"""Edge cases of the shared text-signal core (text_signals.py).

The sf tables hold no double, leading or trailing space and no empty
text, so they cannot tell the token-count rules apart. This plants a
small documents table that does, runs every registry query built on
the core against its DuckDB oracle, and pins the full_pipeline
authority blend's keep probabilities on the same texts.
"""

from __future__ import annotations

import importlib
import sys
from pathlib import Path

import pytest

from helpers import planted_con, write_docs
from test_oracle_parity import _canon

_VOCAB = (
    "data spark query table value stream window batch merge column "
    "filter order"
).split()

#: (doc_id, text, lang). The doc_ids draw a small seeded uniform
#: md5('qs' ‖ doc_id), so most rows survive the sampling rules.
EDGE_DOCS = [
    (12, "  double  spaces  lead the row", "en"),
    (15, "trailing spaces end here  ", "en"),
    (27, "", "de"),
    (29, "café naïve über straße 東京 ok data", "fr"),
    (36, " ".join(_VOCAB[i % len(_VOCAB)] for i in range(130)), "en"),
    (38, "spark query table value stream", "en"),
    (46, "spark query table value stream", "de"),
    (50, "data data data spark window batch merge", "en"),
]

#: every registry query whose Spark side calls the core, plus
#: q_dedup_lines_global, whose oracle orders line owners by struct
REROUTED = """
q_admission_marginal q_admission_policy q_badwords_filter q_bigram_lm_bits
q_bm25_eval q_bm25_rank q_bpe_tokenize q_bpe_train q_bpe_train64
q_bpe_vocab q_ccnet_buckets q_countmin_sketch q_curation_pipeline
q_curation_pipeline_lsh q_dedup_jaccard q_dedup_lines_global
q_dsir_weights q_filter_funnel q_gopher_rules q_host_diversity
q_host_lang_entropy q_host_quality_prior q_host_quota q_host_stats
q_host_token_budget q_index_merge q_index_prune q_inverted_index q_langid
q_model_calibration q_model_pr_curve q_model_score q_model_score_trained
q_model_train q_pack_sequences_bpe q_postings_compression q_quality_score
q_readability q_sample_quality q_simhash q_simhash_pairs q_split_by_host
q_split_holdout q_tfidf q_tokenizer_fertility q_unigram_logloss
q_vocab_coverage q_zipf_fit
""".split()


def test_edge_docs_cover_the_cases():
    texts = [t for _, t, _ in EDGE_DOCS]
    assert any("  " in t for t in texts)
    assert any(t.startswith(" ") for t in texts)
    assert any(t.endswith(" ") for t in texts)
    assert "" in texts
    assert any(not t.isascii() for t in texts)
    assert any(len(t.split()) > 100 for t in texts)


#: the oracles that replay the extractor's whitespace collapse or walk
#: only the doc_ids present, checked on the edge table plus one row of
#: non-breaking spaces (Python's str.split() whitespace, not SQL's)
SPARSE_AND_WHITESPACE = ["q_metrics_rollup", "q_redirect_resolve", "q_link_depth"]
NBSP_DOC = (55, "\u00a0non\u00a0 breaking\u00a0\u00a0spaces here\u00a0", "en")


def _doc_rows(rows):
    """(doc_id, text, lang) rows as documents rows: source cycles over
    three values, n_chars is the text length."""
    return [(i, t, lang, f"src{i % 3}", len(t)) for i, t, lang in rows]


@pytest.fixture(scope="module")
def edge_dir(tmp_path_factory):
    return write_docs(
        tmp_path_factory.mktemp("edge_docs"), _doc_rows(EDGE_DOCS)
    )


@pytest.fixture(scope="module")
def nbsp_dir(tmp_path_factory):
    return write_docs(
        tmp_path_factory.mktemp("nbsp_docs"), _doc_rows(EDGE_DOCS + [NBSP_DOC])
    )


def _assert_matches_oracle(spark, sf_dir, name):
    import readembedability_spark.textops  # noqa: F401 - registers entries
    from readembedability_spark.queries import BASELINE_REGISTRY, REGISTRY

    qd = {**REGISTRY, **BASELINE_REGISTRY}[name]
    sdf = qd.spark(spark, sf_dir)
    got = _canon(sdf.columns, [tuple(r) for r in sdf.collect()])
    cur = planted_con(sf_dir).execute(qd.sql)
    want = _canon([c[0] for c in cur.description], cur.fetchall())
    assert got == want


@pytest.mark.parametrize("name", REROUTED)
def test_rerouted_query_matches_oracle_on_edge_docs(spark, edge_dir, name):
    _assert_matches_oracle(spark, edge_dir, name)


@pytest.mark.parametrize("name", SPARSE_AND_WHITESPACE)
def test_oracle_matches_on_sparse_ids_and_nbsp(spark, nbsp_dir, name):
    _assert_matches_oracle(spark, nbsp_dir, name)


def test_authority_blend_keep_probabilities_pinned(spark):
    """p_keep = 0.7·quality + 0.3·authority/max over the job's filtered
    token count: the empty text has a NULL alpha ratio and drops out.
    Values computed before the blend moved onto the core."""
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "jobs"))
    fp = importlib.import_module("full_pipeline")
    hosts = ["a.example.com", "b.example.com", "c.example.com"]
    docs = spark.createDataFrame(
        [
            (d, f"http://{hosts[i % 3]}/p{d}", t, "en")
            for i, (d, t, _) in enumerate(EDGE_DOCS)
        ],
        "doc_id long, url string, text string, lang string",
    )
    ranks = spark.createDataFrame(
        [(h, a) for h, a in zip(hosts, (2.0, 1.5, 1.0))],
        "host string, authority double",
    )
    got = sorted(
        (r["doc_id"], r["p_keep"])
        for r in fp.authority_blended_sample(docs, ranks).collect()
    )
    assert got == [
        (12, 0.5742),
        (15, 0.5217),
        (29, 0.5472),
        (36, 0.8693),
        (38, 0.4708),
        (46, 0.6208),
        (50, 0.5457),
    ]
