"""Scale-shape guarantees for the composed similarity/dedup paths
(VERDICT r01 items 1/3/4/5): the bucketed variants must never cross-join
the full table, the LSH→Jaccard verify must join shingles keyed by the
candidate pair set, and degenerate (mostly-duplicate) LSH buckets must
emit a bounded pair set while preserving dedup connectivity."""

from __future__ import annotations

import re

import pytest

from readembedability_spark.textops import (  # noqa: F401 - registers
    _MAX_BUCKET_IDS,
    _MINHASH_CAND_SQL,
)
from readembedability_spark.queries import REGISTRY
from helpers import SF_MED as SF_DIR, formatted_plan, planted_con, write_docs


def _no_cross_join(plan: str):
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_ann_bucketed_no_full_cross_join(spark):
    """q_ann_bucketed's candidate join is an equi-join on bucket —
    never a cross join of the full embeddings table."""
    df = REGISTRY["q_ann_bucketed"].spark(spark, SF_DIR)
    _no_cross_join(formatted_plan(df))


def test_dedup_embedding_bucketed_no_full_cross_join(spark):
    df = REGISTRY["q_dedup_embedding_bucketed"].spark(spark, SF_DIR)
    _no_cross_join(formatted_plan(df))


def test_lsh_verified_candidate_keyed_rowlocal_verify(spark):
    """The verify stage must be keyed by the candidate pair's doc ids
    against the fused per-doc profile, with the exact intersection
    computed ROW-LOCALLY (array_intersect) — never the full-corpus
    shingle self-join of q_dedup_ngram_jaccard, and never a
    |pairs|×|shingles/doc| (a, b) re-aggregate (the pre-r9 shape whose
    (b, sh)-keyed join this test used to pin)."""
    df = REGISTRY["q_dedup_lsh_verified"].spark(spark, SF_DIR)
    plan = formatted_plan(df)
    _no_cross_join(plan)
    # single-key equi-joins on each side of the candidate pair …
    assert re.search(r"keys \[1\]: \[a#\d+L?\]", plan), plan
    assert re.search(r"keys \[1\]: \[b#\d+L?\]", plan), plan
    # … and the intersection evaluated inside the joined row
    assert "array_intersect" in plan, plan
    # the quadratic shape would join on the shingle alone
    assert not re.search(r"keys \[1\]: \[sh#\d+\]", plan), plan


@pytest.fixture(scope="module")
def dup_corpus(tmp_path_factory):
    """95%-duplicate corpus: one degenerate LSH bucket of 190 docs."""
    d = tmp_path_factory.mktemp("dupcorpus")
    dup_text = "the quick brown fox jumps over the lazy dog again and again"
    rows = []
    for i in range(200):
        if i < 190:
            text = dup_text
        else:
            text = f"unique document {i} with words alpha{i} beta{i} gamma{i} delta{i}"
        rows.append((i, text, "en", "synth", len(text)))
    return write_docs(d, rows)


def test_minhash_degenerate_bucket_capped(spark, dup_corpus):
    """A bucket of 190 identical docs emits head-pairs + star-pairs —
    C(cap,2) + (k-cap) rows instead of C(k,2) — and matches the oracle's
    ranked formulation exactly."""
    sdf = REGISTRY["q_minhash_lsh"].spark(spark, dup_corpus)
    s_rows = sorted(tuple(r) for r in sdf.collect())

    con = planted_con(dup_corpus)
    d_rows = sorted(
        con.execute(f"WITH {_MINHASH_CAND_SQL} SELECT a, b FROM cand").fetchall()
    )
    assert s_rows == d_rows

    k = 190
    cap = _MAX_BUCKET_IDS
    expected = cap * (cap - 1) // 2 + (k - cap)
    assert len(s_rows) == expected  # bounded: 2142, not C(190,2)=17955

    # dedup connectivity: every duplicate doc is linked into the cluster
    linked = {a for a, _ in s_rows} | {b for _, b in s_rows}
    assert linked == set(range(k))
