"""Each shared rule is written once on each engine's side, and each
module stays small enough to read.

The registry, the batch jobs and the stream call one core per rule
(text_signals.py, functions/, the stream's ledger core, the textops
families' politeness verdict, census tail, media, BM25, postings-gap
and CDX cores, and the cores sibling queries share). This counts the
lines of ``readembedability_spark/`` and ``jobs/`` that spell each rule
out, so a restated copy fails here instead of drifting from the core.
The DuckDB oracle side has one SQL fragment per rule that sibling
oracles share (the ``sql_`` entries), in the family module that owns
the rule's Spark core, and each of those is counted the same way.

No module there is over MAX_MODULE_LINES raw lines, and the textops
package's ``__init__`` only imports its family modules, so each name
has one home to import and to monkeypatch.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
SOURCE_ROOTS = ("readembedability_spark", "jobs")
MAX_MODULE_LINES = 4000

#: rule -> (regex over one source line, number of lines allowed)
RULES = {
    # text_signals.py
    "doc_tokens": (r'F\.explode\(F\.split\("text", " "\)\)\.alias\("w"\)', 1),
    "alpha_ratio": (r'"\[\^a-zA-Z\]"', 1),
    "quality_blend": (r"F\.least\(F\.lit\(1\.0\), ", 1),
    "seeded_hex6": (r"F\.conv\(F\.substring\(\w+, 1, 6\), 16, 10\)", 1),
    "feature_bucket": (r'F\.md5\(F\.encode\(\w+, "UTF-8"\)\), 1, 2\)', 1),
    "gopher_labels": (r'F\.col\("n_tok"\)\.between\(50, 100000\)', 1),
    "synthetic_host": (r'F\.lit\("host"\), \(F\.col\("doc_id"\) % 50\)', 1),
    "head_split_join": (r"\.limit\(_PPLX_HEAD_K\)", 1),
    "word_ngrams": (r"F\.slice\([^,]+, \w+, F\.lit\(\w+\)\)\)", 1),
    # functions/
    "epoch_us": (r"timestamp'1970-01-01 00:00:00'", 1),
    "capture_digest": (r'F\.md5\(F\.coalesce\("html"', 1),
    # the stream's ledger core; host_sessions and surt_index keep their
    # own wiring (no timestamp order or late rule to share)
    "ledger_batch": (r"pd\.concat\(list\(pdfs\)", 1),
    "ledger_wiring": (r"applyInPandasWithState\(", 3),
    # textops/dedup.py, robots.py and audits.py
    "jaccard": (r'F\.col\("sza"\) \+ F\.col\("szb"\)', 1),
    "politeness_verdict": (r'"rude"', 1),
    "class_census": (r'"_num DIV _tot"', 1),
    # the media, BM25, postings-gap and CDX cores of textops/media.py,
    # search.py and archive.py, which the media, search and archive
    # jobs call
    "image_thumbs": (r'F\.col\("thumb_w"\)\.cast\("string"\), F\.lit\("x"\)', 1),
    "video_frames": (r'"frame_idx \* 1000000 DIV 24"', 1),
    "audio_chunks": (r'"doc_id long, n_samples long, chunk_idx long,"', 1),
    "bm25_term_join": (r"\.crossJoin\(F\.broadcast\(corp\)\)", 1),
    "bm25_top5_window": (r'F\.desc\("score_micro"\), F\.asc\("doc_id"\)', 1),
    "bm25_corpus": (r'F\.sum\("dl"\) \* F\.lit\(1\.0\) / F\.count\("\*"\)', 1),
    "bm25_query_terms": (r'F\.slice\(F\.split\("text", " "\), 3, 3\)', 1),
    "postings_gaps": (r'F\.col\("doc_id"\) - F\.lag\("doc_id"\)', 1),
    "surt_cdx": (r'F\.countDistinct\("digest"\)\.alias\("n_versions"\)', 1),
    # rules shared by sibling queries; the training round's dot product
    # keeps its own max(y), so the model apply has two sites
    "event_captures": (r'F\.lit\("\.Example\.COM/item/"\)', 1),
    "model_apply": (r'F\.sum\(F\.col\("xq"\) \* F\.col\("w"\)\)', 2),
    "disallow_parse": (r'startswith\("Disallow: "\)', 1),
    "disallow_prefix_test": (r"\.startswith\(p\)", 1),
    "robots_probe_path": (r'"/private/public/x"', 1),
    "host_edges": (r'F\.regexp_extract\("link", \w+, 1\)\.cast\("long"\)', 1),
    "first_lines_kept": (r'F\.array_position\(F\.col\("lines"\), x\)', 1),
    "stage_funnel": (r'F\.count\("\*"\) \* F\.lit\(1\.0\) / F\.max\("n"\)', 1),
    "hits_half_step": (r'\.agg\(F\.sum\("r"\)\.alias\("s"\)\)', 1),
    # the DuckDB oracle fragments (one per rule, in the family module
    # that owns the Spark core)
    "sql_link_frontier": (r"LEFT JOIN pages p ON p\.url = l\.link", 1),
    "sql_link_graph": (r"\(doc_id \+ 1\) % \{_LINK_HOSTS\} AS dst", 1),
    "sql_graph_nodes": (r"SELECT nodes\.v FROM nodes LEFT JOIN deg ON deg\.src", 1),
    "sql_cc_walk": (r"SELECT w\.node, e\.b AS reach FROM walk w JOIN edges e", 1),
    "sql_pair_inter": (r"JOIN shingles sb ON sb\.doc_id = c\.b AND sb\.sh = sa\.sh", 1),
    "sql_word_toks": (r"SELECT doc_id, w FROM \($", 1),
    "sql_gopher_label": (r"AND n_tok BETWEEN 50 AND 100000 AS INT\) AS y", 1),
    "sql_dsir_ratio": (r"- ln\(\(raw\.cr \+ 1\) \* 1\.0 / \(totr\.t \+ 256\)\)", 1),
    "sql_ccnet_bounds": (r"MIN\(CASE WHEN cum >= \(2 \* n_l \+ 2\) // 3", 1),
    "sql_quality_micro": (r"\* 1\.0 / NULLIF\(length\(text\), 0\), 0\.0\) \* 0\.5\)", 1),
    "sql_stage_funnel": (r"ROUND\(COUNT\(\*\) \* 1\.0 / MAX\(total\.n\), 6\) AS frac", 1),
    "sql_emb_band_sims": (r"ON q\.band = t\.band AND q\.bsig = t\.bsig", 1),
    "sql_km_cells": (r"FROM e CROSS JOIN c\{_KM_ROUNDS\} cp\) WHERE rn = 1\)", 1),
    "sql_pq_exact": (r"JOIN e ec ON ec\.vec_id = short\.cand\)", 1),
    "sql_packed": (r"- n_tokens\) // \{_PACK_SEQ_TOKENS\} AS BIGINT\) AS seq_id", 1),
    "sql_robots_rules": (r"\(0, '/private/public/', 1\)", 1),
    "sql_robots_urls": (r"WHEN 1 THEN '/private/public/x'", 1),
    "sql_robots_winner": (r"ORDER BY length\(r\.pattern\) DESC, r\.is_allow DESC", 1),
    "sql_robots_verdict": (r"THEN 'allowed' ELSE 'blocked' END", 1),
    "sql_model_dot": (r"FROM feats f JOIN w\{_LRN_ROUNDS\} w USING \(b\)", 1),
    "sql_model_scored": (r'\{_LRN_P\.format\(x=_LRN_X\.format\(dot="sc\.dot"\)\)\} AS p$', 1),
    "sql_decon_eval": (r"FROM documents WHERE doc_id % 20 = 0\)", 1),
    "sql_decon_train": (r"list_slice\(arr, k, k \+ 12\)", 1),
    # extractor/links.py; the Spark-side twins of queries.py
    "url_resolution": (r"resolved\[:colon\]\.lower\(\)", 1),
    "order_urls": (r'F\.lit\("\.example\.com/orders/"\)', 1),
    "resume_done_buckets": (r'F\.col\("n_nationkey"\)\.alias\("bucket"\)', 1),
}


def _source_files():
    for root in SOURCE_ROOTS:
        yield from sorted((REPO / root).rglob("*.py"))


def _source_lines():
    for path in _source_files():
        for i, line in enumerate(path.read_text().splitlines(), 1):
            yield f"{path.relative_to(REPO)}:{i}", line


@pytest.mark.parametrize("rule", sorted(RULES))
def test_rule_written_once(rule):
    pattern, allowed = RULES[rule]
    rx = re.compile(pattern)
    sites = [where for where, line in _source_lines() if rx.search(line)]
    assert len(sites) == allowed, sites


def test_no_module_over_max_lines():
    sizes = {
        str(path.relative_to(REPO)): len(path.read_text().splitlines())
        for path in _source_files()
    }
    over = {p: n for p, n in sizes.items() if n > MAX_MODULE_LINES}
    assert not over, over


def test_textops_init_only_imports_families():
    init = REPO / "readembedability_spark" / "textops" / "__init__.py"
    doc, *rest = ast.parse(init.read_text()).body
    assert isinstance(doc, ast.Expr) and isinstance(doc.value.value, str)
    assert rest and all(
        isinstance(node, (ast.Import, ast.ImportFrom)) for node in rest
    )
