"""Each shared rule has one Spark-side site.

The registry, the batch jobs and the stream call one core per rule
(text_signals.py, functions/, the stream's ledger core, textops'
politeness verdict, census tail, media, BM25, postings-gap and CDX
cores, and the cores sibling queries share). This counts the lines of
``readembedability_spark/`` and ``jobs/`` that spell each rule out, so a
restated copy fails here instead of drifting from the core. The DuckDB
oracle texts are SQL and match none of these patterns.
"""

from __future__ import annotations

import re
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent

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
    # textops.py
    "jaccard": (r'F\.col\("sza"\) \+ F\.col\("szb"\)', 1),
    "politeness_verdict": (r'"rude"', 1),
    "class_census": (r'"_num DIV _tot"', 1),
    # textops' media, BM25, postings-gap and CDX cores, which the media,
    # search and archive jobs call
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
}


def _source_lines():
    for root in ("readembedability_spark", "jobs"):
        for path in sorted((REPO / root).rglob("*.py")):
            for i, line in enumerate(path.read_text().splitlines(), 1):
                yield f"{path.relative_to(REPO)}:{i}", line


@pytest.mark.parametrize("rule", sorted(RULES))
def test_rule_written_once(rule):
    pattern, allowed = RULES[rule]
    rx = re.compile(pattern)
    sites = [where for where, line in _source_lines() if rx.search(line)]
    assert len(sites) == allowed, sites
