"""A-10: author extraction.

Sources in confidence order: meta ``author``/``article:author`` >
JSON-LD ``author.name`` > ``rel=author`` anchor text > byline heuristics
(class/id matching ``byline|author|writer|submitted``). Values split on
``,`` / `` and `` / ``&``, "By "-prefix stripped, title-cased when
all-lower/all-upper, de-duplicated preserving order.
"""

from __future__ import annotations

import re

from readembedability_spark.extractor.dom import Element
from readembedability_spark.extractor.meta import PageMeta

_BY_PREFIX_RE = re.compile(r"^\s*(?:by|von|par|por)[\s:]+", re.IGNORECASE)
_SPLIT_RE = re.compile(r",|\band\b|&|;", re.IGNORECASE)
_JUNK_RE = re.compile(
    r"^\s*$|staff|admin|editor(ial)?\s+team|correspondent$", re.IGNORECASE
)
_MAX_AUTHOR_LEN = 60


def _titlecase_if_flat(name: str) -> str:
    if name.islower() or name.isupper():
        return " ".join(w.capitalize() for w in name.split())
    return name


def normalize_authors(raw_values: list[str]) -> list[str]:
    """Split, strip, title-case, dedup (order-preserving, case-insensitive)."""
    out: list[str] = []
    seen: set[str] = set()
    for raw in raw_values:
        for part in _SPLIT_RE.split(raw):
            # strip the By-prefix PER PART (not only on the pre-split
            # value): 'Jane, by John' must yield John, not 'by John' —
            # per-part stripping also makes the normalizer idempotent
            # (property-tested)
            part = _BY_PREFIX_RE.sub("", part)
            name = " ".join(part.split()).strip(" .|-–—")
            if not name or len(name) > _MAX_AUTHOR_LEN:
                continue
            if _JUNK_RE.search(name):
                continue
            if name.startswith(("http://", "https://")):
                continue
            name = _titlecase_if_flat(name)
            key = name.lower()
            if key not in seen:
                seen.add(key)
                out.append(name)
    return out


def byline_authors_from(candidates: list[Element]) -> list[str]:
    """Byline heuristics: first candidate (document order, class/id
    matched during the single collect_meta pass) whose text looks like a
    short name line."""
    for el in candidates:
        text = " ".join(el.text_content().split())
        if 0 < len(text) <= 120:
            names = normalize_authors([text])
            if names:
                return names
    return []


def extract_authors(
    pm: PageMeta, jsonld_authors: list[str], root: Element
) -> list[tuple[list[str], float]]:
    """Candidates as (authors_list, confidence)."""
    out: list[tuple[list[str], float]] = []
    meta_vals = [
        v
        for v in (
            pm.names.get("author"),
            pm.properties.get("article:author"),
            pm.names.get("article:author"),
            pm.names.get("parsely-author"),
            pm.names.get("sailthru.author"),
        )
        if v
    ]
    metas = normalize_authors(meta_vals)
    if metas:
        out.append((metas, 0.9))
    if jsonld_authors:
        normalized = normalize_authors(jsonld_authors)
        if normalized:
            out.append((normalized, 0.85))
    rel = normalize_authors(pm.rel_author_texts)
    if rel:
        out.append((rel, 0.7))
    byline = byline_authors_from(pm.byline_candidates)
    if byline:
        out.append((byline, 0.6))
    return out
