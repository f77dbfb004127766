"""Each shared rule has one Spark-side site.

The registry, the batch jobs and the stream call one core per rule
(text_signals.py, functions/, the stream's ledger core, textops'
politeness verdict and census tail). This counts the lines of
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
