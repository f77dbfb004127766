"""A-19 keyword generation + A-20 summary generation.

Keywords: meta ``keywords`` if present; else deterministic term
extraction over ``content_text``: lowercase ``\\w+`` tokens, stopword
filter (vendored list), unigram+bigram counts, top-10 ordered by
(frequency desc, first-position asc). The reference used an NLP
dependency for this (SURVEY.md A-19 [R]); nltk is unavailable, so this
pure-Python equivalent is the frozen spec.

Summary: meta/og description if ≥ 40 chars; else the first sentences of
``content_text`` up to ~500 chars, cut on a sentence boundary (frozen
regex splitter).
"""

from __future__ import annotations

import re
from collections import Counter
from collections.abc import Iterator
from itertools import islice

from readembedability_spark.extractor.stopwords import STOPWORDS

_TOKEN_RE = re.compile(r"\w+", re.UNICODE)
_SENTENCE_RE = re.compile(r"(?<=[.!?])\s+(?=[\"'“‘]?[A-Z0-9])")
_MAX_KEYWORDS = 10
_MIN_TOKEN_LEN = 3
#: mirrors keywords_from_meta's 50-char cap: without it, a page whose
#: body is one giant unbroken token (hex dumps, minified blobs) emits a
#: multi-megabyte "keyword" (observed on a 6 MB hex page)
_MAX_TOKEN_LEN = 50
_SUMMARY_TARGET = 500
_MIN_DESC_LEN = 40


def keywords_from_meta(raw: str) -> list[str]:
    out: list[str] = []
    seen: set[str] = set()
    for part in re.split(r"[,;]", raw):
        kw = " ".join(part.split()).lower()
        if kw and kw not in seen and len(kw) <= 50:
            seen.add(kw)
            out.append(kw)
    return out[:_MAX_KEYWORDS]


def keywords_from_text(text: str) -> list[str]:
    """Hot path — called for every page without meta keywords. The
    keep/lowercase decision is made once per DISTINCT raw token (natural
    text is Zipf-repetitive); unigrams and the bigrams of kept tokens
    ADJACENT in the raw stream are counted in C (``Counter`` over the
    raw tokens and over the token pairs), and first positions are found
    only for the terms frequent enough to reach the top 10, by C-level
    ``list.index`` scans that together read the text once. Ranking:
    frequency desc, first position asc, then the term itself
    (golden-locked)."""
    tokens = _TOKEN_RE.findall(text)
    term_of: dict[str, str | None] = {}  # raw token -> kept term, None = dropped
    unigrams: dict[str, int] = {}
    stop = STOPWORDS
    for raw, n in Counter(tokens).items():
        t = raw.lower()
        if (
            _MIN_TOKEN_LEN <= len(t) <= _MAX_TOKEN_LEN
            and t not in stop
            and not t.isdigit()
        ):
            term_of[raw] = t
            unigrams[t] = unigrams.get(t, 0) + n
        else:
            term_of[raw] = None
    terms = list(map(term_of.__getitem__, tokens))
    # pairs with a dropped (None) side are counted too, and skipped below
    pairs = list(zip(terms, islice(terms, 1, None)))
    bigrams = Counter(pairs)
    # a bigram must repeat to count; unigrams need freq >= 2 on long texts
    small = len(unigrams) < 12 and (
        len(unigrams) + sum(None not in p for p in bigrams) < 12
    )
    uni = [(t, n) for t, n in unigrams.items() if n >= 2 or small]
    big = [(p, n) for p, n in bigrams.items() if n >= 2 and None not in p]
    if len(uni) + len(big) > _MAX_KEYWORDS:
        # only terms as frequent as the 10th most frequent can rank
        floor = sorted([n for _, n in uni + big], reverse=True)[_MAX_KEYWORDS - 1]
        uni = [c for c in uni if c[1] >= floor]
        big = [c for c in big if c[1] >= floor]
    ranked = list(_ranked(terms, uni))
    ranked += [(neg_n, i, " ".join(p)) for neg_n, i, p in _ranked(pairs, big)]
    ranked.sort()
    return [term for _, _, term in ranked[:_MAX_KEYWORDS]]


def _ranked(seq: list, counted: list[tuple]) -> Iterator[tuple]:
    """``(-count, first index in seq, key)`` per ``(key, count)``.

    ``counted`` lists its keys in first-occurrence order — the insertion
    order of the counting dicts above — so each ``seq.index`` scan
    resumes where the previous one stopped: all of them together read
    ``seq`` at most once, however many keys there are."""
    i = -1
    for key, n in counted:
        i = seq.index(key, i + 1)
        yield -n, i, key


def extract_keywords(meta_keywords: str | None, content_text: str) -> list[str]:
    if meta_keywords and meta_keywords.strip():
        kws = keywords_from_meta(meta_keywords)
        if kws:
            return kws
    if content_text:
        return keywords_from_text(content_text)
    return []


def split_sentences(text: str) -> list[str]:
    return [s for s in _SENTENCE_RE.split(text) if s.strip()]


def extract_summary(description: str | None, content_text: str) -> str | None:
    if description and len(description) >= _MIN_DESC_LEN:
        return description
    if not content_text:
        return description or None
    # first substantial paragraph's sentences up to the target length
    # (skip short leading blocks such as a repeated headline)
    paras = content_text.split("\n\n")
    first_para = next(
        (p for p in paras if len(p) >= 60), paras[0]
    ).replace("\n", " ")
    sentences = split_sentences(first_para)
    out: list[str] = []
    total = 0
    for s in sentences:
        s = s.strip()
        if not s:
            continue
        if total and total + len(s) + 1 > _SUMMARY_TARGET:
            break
        out.append(s)
        total += len(s) + 1
        if total >= _SUMMARY_TARGET:
            break
    summary = " ".join(out).strip()
    if not summary:
        summary = first_para[:_SUMMARY_TARGET].strip()
    return summary or (description or None)
