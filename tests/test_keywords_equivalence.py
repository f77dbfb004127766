"""A-19 keyword extraction: the Counter-based ``keywords_from_text``
gives exactly the ranking of the single-loop reference kept below, on
token soups that hit every gate and tie-break: stopwords, digits, mixed
case and non-ASCII case mappings, tokens just outside the 3..50 length
window, short texts under the 12-term rule, repeated bigrams, and ties
on frequency and first position."""

from __future__ import annotations

import re
from collections import Counter

from hypothesis import example, given, settings
from hypothesis import strategies as st

from readembedability_spark.extractor.keywords import keywords_from_text
from readembedability_spark.extractor.stopwords import STOPWORDS

_TOKEN_RE = re.compile(r"\w+", re.UNICODE)


def reference_keywords(text: str) -> list[str]:
    """The single-loop form the extractor shipped before the Counter
    rewrite: one pass keeps (index, term) for tokens passing the gates
    and pairs kept tokens adjacent in the raw stream into bigrams."""
    stop = STOPWORDS
    kept: list[tuple[int, str]] = []
    memo: dict[str, str | None] = {}
    miss = object()
    bigs: list[tuple[int, str]] = []
    prev_i = -2
    prev_t = ""
    for i, raw in enumerate(_TOKEN_RE.findall(text)):
        t = memo.get(raw, miss)
        if t is miss:
            tl = raw.lower()
            t = (
                tl
                if (3 <= len(tl) <= 50 and tl not in stop and not tl.isdigit())
                else None
            )
            memo[raw] = t
        if t is not None:
            kept.append((i, t))
            if i == prev_i + 1:
                bigs.append((prev_i, prev_t + " " + t))
            prev_i = i
            prev_t = t
    counts: dict[str, int] = dict(Counter(t for _, t in kept))
    first_pos = {t: i for i, t in reversed(kept)}
    counts.update(Counter(bg for _, bg in bigs))
    for pi, bg in reversed(bigs):
        first_pos[bg] = pi
    items = [
        (term, n)
        for term, n in counts.items()
        if n >= 2 or (len(counts) < 12 and " " not in term)
    ]
    items.sort(key=lambda kv: (-kv[1], first_pos[kv[0]], kv[0]))
    return [term for term, _ in items[:10]]


_WORDS = [
    # kept terms, in several casings
    "stream", "Stream", "STREAM", "state", "State", "operator", "shuffle",
    "straße", "Straße", "ǅemal", "ǆemal", "ﬁle",
    # dotted capital I: lower() grows it to two code points
    "İstanbul", "istanbul", "ISTANBUL", "İİ", "Iİ",
    # stopwords, some only once lowercased
    "the", "The", "and", "of", "also", "many", "I", "It",
    # digits, and tokens that merely contain them
    "123", "4567", "2024", "v2", "x86", "٣٤٥",
    # length window edges: 2 and 3, 50 and 51+
    "ab", "AB", "abc", "x" * 50, "y" * 51, "Z" * 64,
]
_SEPS = [" ", "  ", ", ", ". ", "\n", "-", "'", "/", "_", "; "]

_soup = st.lists(
    st.tuples(st.sampled_from(_WORDS), st.sampled_from(_SEPS)),
    max_size=60,
).map(lambda parts: "".join(w + s for w, s in parts))

# a small vocabulary repeats pairs, so bigrams pass n >= 2 and counts tie
_repetitive = st.lists(
    st.sampled_from(["stream", "state", "the", "shuffle", "123", "İstanbul"]),
    min_size=1,
    max_size=80,
).map(" ".join)

# more repeated terms than the top 10 holds, tied at the cut
_crowded = st.lists(
    st.sampled_from(
        "alpha beta gamma delta epsilon zeta theta kappa lambda sigma omega "
        "Alpha BETA the of 42".split()
    ),
    min_size=20,
    max_size=200,
).map(" ".join)


@settings(max_examples=400, deadline=None)
@given(st.one_of(_soup, _repetitive, _crowded))
@example("")
@example("the and of 123 ab")
@example("stream state stream state shuffle shuffle")  # freq + position ties
@example("b" * 51 + " stream " + "a" * 50 + " stream")
@example("İstanbul istanbul ISTANBUL İİ")
@example(" ".join(f"term{i} term{i}" for i in range(14)))  # ties at the cut
# every term twice, ~2 MB: 100k candidates tie at the cut, so finding
# their first positions must stay linear in the text, not per candidate
@example(" ".join(f"term{i} term{i}" for i in range(100_000)))
def test_keywords_match_single_loop_reference(text):
    assert keywords_from_text(text) == reference_keywords(text)


@settings(max_examples=100, deadline=None)
@given(st.text(max_size=300))
def test_keywords_match_reference_on_arbitrary_text(text):
    assert keywords_from_text(text) == reference_keywords(text)
