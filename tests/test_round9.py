"""Round-9 optimization-focused tests: every operator whose INTERNALS
changed this round gets a boundary/equivalence probe beyond the
whole-query oracle parity tier.

Covered internals:
- _minhash_minima + _lsh_bands: long-decoded mins re-hexed (%04x) must
  equal the naive MIN(string) over the hex slices (order isomorphism).
- _lsh_candidates: the lean minima and the per-doc profile yield the
  same capped candidate pairs, including the degenerate-bucket cap.
- _connected_components: the star-forest convergence probe must still
  produce exact component minima on shapes that need >1 contraction
  round (long chains), and on already-star inputs.
- q_cdc_chunks' array-land chunking: digests/boundaries on degenerate
  docs (shorter than the 4-gram window, empty text) match the oracle.
- _pair_intersections: i=0 pairs surface (not dropped) and counts
  equal the join-based intersection.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import readembedability_spark.textops as textops
from helpers import planted_con, uf_labels, write_docs


def test_minhash_long_min_equals_string_min(spark):
    """Band signatures from %04x over MIN(long-decoded slice) ==
    ','-joined MIN(hex-string slice) per band."""
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}x{j}" for j in range(12))) for i in range(30)],
        "doc_id long, text string",
    )
    shingles = textops._shingles_from(docs)
    fast = textops._lsh_bands(textops._minhash_minima(shingles))
    hashed = shingles.select(
        "doc_id", F.md5(F.encode("sh", "UTF-8")).alias("h")
    )
    naive = hashed.groupBy("doc_id").agg(
        *[
            F.min(F.substring("h", i * 4 + 1, 4)).alias(f"mh{i}")
            for i in range(textops._N_MINHASH)
        ]
    )
    rows = textops._N_MINHASH // textops._N_BANDS
    expected = {
        (r["doc_id"], b, ",".join(r[f"mh{b * rows + j}"] for j in range(rows)))
        for r in naive.collect()
        for b in range(textops._N_BANDS)
    }
    got = {tuple(r) for r in fast.select("doc_id", "band", "band_sig").collect()}
    assert len(got) == 30 * textops._N_BANDS
    assert got == expected


def test_lsh_candidates_lean_equals_profile(spark):
    """The lean minima and the persisted per-doc profile feed
    _lsh_candidates the same minima, so the capped pair sets are equal
    — including a bucket larger than _MAX_BUCKET_IDS (head pairs plus
    star pairs to the bucket minimum)."""
    cap = textops._MAX_BUCKET_IDS
    n_dup = cap + 6
    base = [f"tok{j}" for j in range(24)]
    texts = [(i, " ".join(["same"] + base)) for i in range(n_dup)]
    # planted near-dups: one word changed at the tail of a long doc
    for k in range(4):
        words = [f"nd{k}w{j}" for j in range(40)]
        texts.append((1000 + 2 * k, " ".join(words)))
        texts.append((1001 + 2 * k, " ".join(words[:-1] + ["changed"])))
    texts += [(2000 + i, " ".join(f"u{i}v{j}" for j in range(15)))
              for i in range(20)]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    shingles = textops._shingles_from(docs)

    def pairs(df):
        return {(r["a"], r["b"]) for r in df.collect()}

    lean = pairs(textops._lsh_candidates(textops._minhash_minima(shingles)))
    prof = pairs(textops._lsh_candidates(textops._doc_profiles_from(shingles)))
    assert lean == prof
    head = [(a, b) for a in range(cap) for b in range(a + 1, cap)]
    star = [(0, t) for t in range(cap, n_dup)]
    assert {p for p in lean if p[1] < n_dup} == set(head + star)
    planted = {(1000 + 2 * k, 1001 + 2 * k) for k in range(4)}
    assert lean & planted


@pytest.mark.parametrize(
    "edges",
    [
        # long chain: needs multiple contraction rounds
        [(i, i + 1) for i in range(1, 20)],
        # already a star forest: must stop after one probe
        [(10, 1), (11, 1), (12, 1), (21, 20)],
        # two components + a cycle
        [(1, 2), (2, 3), (3, 1), (7, 8)],
    ],
)
def test_cc_star_forest_convergence_exact(spark, edges):
    df = spark.createDataFrame(edges, "a long, b long")
    got = {
        r["node"]: r["label"]
        for r in textops._connected_components(spark, df).collect()
    }
    assert got == uf_labels(edges)


def test_cdc_chunks_degenerate_docs(spark, tmp_path):
    """Docs shorter than the 4-gram window (single chunk) and empty
    text (one empty-string token) chunk identically to the oracle's
    window formulation: one chunk spanning the whole array."""
    docs = [
        (0, ""),  # split -> [""]
        (1, "a b"),  # below the p>=4 boundary window
        (4, "one two three four five six"),
        (7, "x " * 40),  # long enough to plant boundaries
    ]
    write_docs(tmp_path, [(i, t, "en", "s0", len(t)) for i, t in docs])
    sdf = textops.REGISTRY["q_cdc_chunks"].spark(spark, str(tmp_path))
    sql = textops.REGISTRY["q_cdc_chunks"].sql
    oracle = planted_con(tmp_path).execute(sql).fetchall()

    def canon(rows):
        return sorted(tuple(str(v) for v in r) for r in rows)

    assert canon([tuple(r) for r in sdf.collect()]) == canon(oracle)


def test_pair_intersections_match_join_form(spark):
    """Array-intersect counts == the join-based posting intersection;
    zero-overlap candidate pairs surface with i=0."""
    texts = {
        1: "alpha beta gamma delta epsilon zeta",
        2: "alpha beta gamma delta epsilon eta",
        3: "one two three four five six",
    }
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    shingles = textops._shingles_from(docs)
    got = textops._pair_intersections(textops._doc_profiles_from(shingles))
    rows = {(r["a"], r["b"]): (r["i"], r["sza"], r["szb"]) for r in got.collect()}
    sh = {
        d: {
            " ".join(t.split()[k : k + 3])
            for k in range(len(t.split()) - 2)
        }
        for d, t in texts.items()
    }
    for (a, b), (i, sza, szb) in rows.items():
        assert i == len(sh[a] & sh[b])
        assert (sza, szb) == (len(sh[a]), len(sh[b]))
