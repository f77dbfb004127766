"""A-5/A-6: readability candidate scoring + sibling merge.

Arc90-family algorithm (BASELINE.json:6 "readability-style DOM scoring
(text-density, link-density, tag/class weight heuristics)"), frozen
constants:

- per text block (p/td/pre, or div acting as a paragraph):
  ``score = 1 + comma_count + min(len(text)//100, 3)``;
  parent gains ``score``, grandparent ``score/2``;
- class/id regex weight: ±25 (POSITIVE_RE / NEGATIVE_RE), tag weight
  (article/main/div +5, section +3, address/ol/ul/dl/dd/dt/li +(-3),
  h1-h6/th -5) applied when a parent is first initialized;
- final candidate score ``*= (1 - link_density)``;
- winner = max score, ties broken by document order;
- sibling merge: siblings with ``score >= max(10, 0.2*top)`` or
  ``<p>`` siblings with >80 chars and link_density < 0.25 join the
  content root.
"""

from __future__ import annotations

import re

from readembedability_spark.extractor.dom import (
    BLOCK_ELEMENTS,
    Element,
    body_or_root,
)

POSITIVE_RE = re.compile(
    r"article|body|content|entry|hentry|h-entry|main|page|pagination|post|"
    r"text|blog|story",
    re.IGNORECASE,
)
NEGATIVE_RE = re.compile(
    r"hidden|banner|combx|comment|com-|contact|foot|footer|footnote|gdpr|"
    r"masthead|media|meta|outbrain|promo|related|scroll|share|shoutbox|"
    r"sidebar|skyscraper|sponsor|shopping|tags|tool|widget|nav|ad-|advert",
    re.IGNORECASE,
)

_TAG_WEIGHTS = {
    "article": 5,
    "main": 5,
    "div": 5,
    "section": 3,
    "pre": 3,
    "td": 3,
    "blockquote": 3,
    "address": -3,
    "ol": -3,
    "ul": -3,
    "dl": -3,
    "dd": -3,
    "dt": -3,
    "li": -3,
    "form": -3,
    "h1": -5,
    "h2": -5,
    "h3": -5,
    "h4": -5,
    "h5": -5,
    "h6": -5,
    "th": -5,
}

_PARAGRAPH_TAGS = frozenset(["p", "td", "pre"])
_MIN_TEXT_LEN = 25


def class_weight(el: Element) -> float:
    w = 0.0
    ident = el.classes_and_id()
    if ident:
        if NEGATIVE_RE.search(ident):
            w -= 25.0
        if POSITIVE_RE.search(ident):
            w += 25.0
    return w


def _init_score(el: Element) -> float:
    return float(_TAG_WEIGHTS.get(el.tag, 0)) + class_weight(el)


def _link_densities(root: Element) -> dict[int, float]:
    """Link density — link-text length / text length, capped at 1 — of
    root and every element under it, keyed by id(), in ONE bottom-up
    pass over text lengths rather than a walk per candidate (candidate
    subtrees nest). An element's link-text length sums the text of
    every <a> in its subtree, itself included, so a nested <a> counts
    again inside its outer one."""
    lens: dict[int, tuple[int, int]] = {}
    for el in reversed(list(root.iter())):  # children before parents
        total = links = 0
        for c in el.children:
            if isinstance(c, str):
                total += len(c)
            else:
                t, n = lens[id(c)]
                total += t
                links += n
        if el.tag == "a":
            links += total
        lens[id(el)] = (total, links)
    return {
        key: min(1.0, links / total) if total else 0.0
        for key, (total, links) in lens.items()
    }


def _is_paragraph_div(el: Element) -> bool:
    """A div with no block element children acts as a paragraph."""
    if el.tag != "div":
        return False
    return not any(
        isinstance(c, Element) and c.tag in BLOCK_ELEMENTS for c in el.children
    )


def score_candidates(root: Element) -> dict[int, tuple[Element, float]]:
    """Score ancestor candidates; keys are id() of candidate elements."""
    candidates: dict[int, tuple[Element, float]] = {}

    def bump(el: Element | None, amount: float) -> None:
        if el is None or el.tag in ("#document", "html"):
            return
        key = id(el)
        if key not in candidates:
            candidates[key] = (el, _init_score(el))
        el_, s = candidates[key]
        candidates[key] = (el_, s + amount)

    for el in root.iter():
        if el.tag in _PARAGRAPH_TAGS or _is_paragraph_div(el):
            text = el.text_content()
            tlen = len(" ".join(text.split()))
            if tlen < _MIN_TEXT_LEN:
                continue
            score = 1.0 + text.count(",") + min(tlen // 100, 3)
            bump(el.parent, score)
            if el.parent is not None:
                bump(el.parent.parent, score / 2.0)
    return candidates


def top_candidate(root: Element) -> tuple[Element | None, float]:
    """Best-scoring candidate after link-density scaling (ties: doc order)."""
    top, score, _, _ = _top_with_candidates(root)
    return top, score


def _top_with_candidates(root: Element):
    """Single scoring pass shared by top_candidate/select_content.

    ``score_candidates`` visits in document order and dict preserves
    insertion order, so the first max wins on ties.
    """
    body = body_or_root(root)
    candidates = score_candidates(body)
    # a candidate may sit above <body> (a misnested body's parent), so
    # densities cover the whole document
    density = _link_densities(root) if candidates else {}
    best: Element | None = None
    best_score = 0.0
    for el, raw in candidates.values():
        final = raw * (1.0 - density[id(el)])
        if final > best_score:
            best, best_score = el, final
    if best is None:
        best = body
    return best, best_score, candidates, density


def select_content(root: Element) -> tuple[Element, list[Element]]:
    """A-5 + A-6: top candidate plus qualifying siblings, document order.

    Returns ``(top, members)`` where members includes top and merged
    siblings in document order.
    """
    top, top_score, candidates, density = _top_with_candidates(root)
    members = [top]
    parent = top.parent
    if parent is not None and top_score > 0:
        threshold = max(10.0, 0.2 * top_score)
        for sib in parent.children:
            if not isinstance(sib, Element) or sib is top:
                continue
            entry = candidates.get(id(sib))
            sib_score = entry[1] * (1.0 - density[id(sib)]) if entry else 0.0
            if sib_score >= threshold:
                members.append(sib)
            elif sib.tag == "p":
                text = " ".join(sib.text_content().split())
                if len(text) > 80 and density[id(sib)] < 0.25:
                    members.append(sib)
        # restore document order among parent's children
        order = {id(c): i for i, c in enumerate(parent.children)}
        members.sort(key=lambda e: order.get(id(e), -1))
    return top, members
