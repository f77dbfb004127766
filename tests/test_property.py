"""Property-based invariants (hypothesis): the extractor must never
raise and must be bit-deterministic on ARBITRARY input — the properties
that keep a 10^12-row run from dying on page 10^11."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from readembedability_spark.extractor import extract_page
from readembedability_spark.extractor.decode import sniff_kind
from readembedability_spark.extractor.dom import parse_html
from readembedability_spark.extractor.result import ParseResult
from readembedability_spark.extractor.textify import textify

_STATUSES = {"ok", "empty", "non_html", "parse_error", "pdf", "oversize"}

# html-ish soup: tags, attrs, entities, text, brokenness
_tag_soup = st.text(
    alphabet=st.sampled_from(
        list("<>/=\"' abcdefghijklmnop&;!-\n\tp div table tr td li ul")
    ),
    max_size=400,
)


@settings(max_examples=150, deadline=None)
@given(_tag_soup)
def test_parse_and_textify_never_raise_and_deterministic(soup):
    r1 = parse_html(soup)
    r2 = parse_html(soup)
    assert textify(r1) == textify(r2)


@settings(max_examples=150, deadline=None)
@given(st.binary(max_size=2048))
def test_extract_page_total_on_arbitrary_bytes(blob):
    row1 = extract_page("https://example.com/x", blob)
    row2 = extract_page("https://example.com/x", blob)
    assert row1["status"] in _STATUSES
    assert row1 == row2  # bit-determinism
    assert sniff_kind(blob) in {"html", "pdf", "image", "empty", "other"}


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["title", "image", "summary"]),
            st.text(min_size=1, max_size=10),
            st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
        ),
        max_size=20,
    )
)
def test_parse_result_precedence(writes):
    """Final value of each field = first writer among max-confidence
    writers (strictly-higher overwrite rule)."""
    pr = ParseResult()
    for name, value, conf in writes:
        pr.set(name, value, conf)
    for field in {"title", "image", "summary"}:
        field_writes = [(v, c) for n, v, c in writes if n == field and c > 0]
        if not field_writes:
            assert pr.get(field) is None
            continue
        best_conf = max(c for _, c in field_writes)
        expected = next(v for v, c in field_writes if c == best_conf)
        assert pr.get(field) == expected
        assert pr.confidence(field) == best_conf


@settings(max_examples=100, deadline=None)
@given(st.text(max_size=300))
def test_textify_output_whitespace_canonical(text):
    """No run of spaces, no leading/trailing whitespace, no zero-width
    chars in textify output."""
    out = textify(parse_html(f"<p>{text}</p>"))
    assert "  " not in out
    assert out == out.strip()
    assert "​" not in out and "﻿" not in out


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.lists(st.integers(min_value=0, max_value=10_000), min_size=1,
                 max_size=200, unique=True),
        min_size=1,
        max_size=8,
    )
)
def test_capped_bucket_pairs_invariants(spark, buckets):
    """For ANY bucket contents, _capped_bucket_pairs must (1) bound the
    per-bucket pair count at C(cap,2)+(k-cap), (2) keep every bucket
    member connected to the bucket minimum (directly or via head
    pairs), and (3) emit only a<b pairs from within one bucket."""
    from readembedability_spark.textops.dedup import (
        _MAX_BUCKET_IDS,
        _capped_bucket_pairs,
    )

    rows = [(i, sorted(ids)) for i, ids in enumerate(buckets)]
    df = spark.createDataFrame(rows, "bucket int, ids array<bigint>")
    pairs = [(r["a"], r["b"]) for r in _capped_bucket_pairs(df).collect()]
    assert all(a < b for a, b in pairs)
    # per-bucket bound (global pairs are distinct across buckets, so the
    # union bound applies)
    cap = _MAX_BUCKET_IDS
    bound = sum(
        min(len(ids), cap) * (min(len(ids), cap) - 1) // 2
        + max(len(ids) - cap, 0)
        for ids in buckets
    )
    assert len(pairs) <= bound
    # connectivity: within each bucket, every id reaches the bucket min
    import collections

    adj = collections.defaultdict(set)
    for a, b in pairs:
        adj[a].add(b)
        adj[b].add(a)
    for ids in buckets:
        if len(ids) < 2:
            continue
        ids = sorted(ids)
        seen = {ids[0]}
        stack = [ids[0]]
        while stack:
            x = stack.pop()
            for y in adj[x]:
                if y not in seen:
                    seen.add(y)
                    stack.append(y)
        assert set(ids) <= seen


@settings(max_examples=200, deadline=None)
@given(st.lists(st.text(max_size=80), max_size=6))
def test_normalize_authors_total_and_idempotent(raws):
    """A-10 normalizer is total on arbitrary strings, idempotent
    (feeding its own output back changes nothing), order-preserving
    under case-insensitive dedup, and bounded per name."""
    from readembedability_spark.extractor.authors import normalize_authors

    out = normalize_authors(raws)
    assert normalize_authors(out) == out
    keys = [n.lower() for n in out]
    assert len(keys) == len(set(keys))
    assert all(0 < len(n) <= 60 for n in out)


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=40))
def test_parse_date_total_and_bounded(raw):
    """A-11 parse_date never raises on arbitrary input, is
    deterministic, and any accepted date sits inside the sanity year
    window with no timezone attached (UTC-normalized naive)."""
    from readembedability_spark.extractor.dates import parse_date

    d1 = parse_date(raw)
    d2 = parse_date(raw)
    assert d1 == d2
    if d1 is not None:
        assert 1995 <= d1.year <= 2035
        assert d1.tzinfo is None
