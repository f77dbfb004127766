"""Outbound-link extraction (A-23) — the crawl-graph surface.

The reference corpus is unavailable (SURVEY.md §0), so the rule set is
frozen here, in the repo's own spec style (cf. textify A-8):

  L-1  Candidates are every ``<a>`` carrying an ``href`` attribute, in
       document order (depth-first pre-order), collected from the RAW
       dom BEFORE cleanup — nav/boilerplate links are part of the
       out-link graph a crawler consumes, even though they are not
       part of the readable content.
  L-2  The href is stripped of leading/trailing ASCII whitespace;
       empty and fragment-only (``#…``) hrefs are dropped.
  L-3  Resolution: against the first ``<base>`` element THAT HAS an
       href (itself resolved against the page url — the HTML
       standard's base-URI rule), else the page url, via
       ``urllib.parse.urljoin`` (RFC 3986 reference resolution —
       deterministic stdlib).
  L-4  Only ``http``/``https`` results survive, matched
       case-insensitively (schemes are case-insensitive per RFC 3986;
       sanitize A-7 lowercases before matching too) and emitted with
       the scheme normalized to lowercase; ``javascript:``,
       ``mailto:``, ``data:`` … are dropped.
  L-5  The fragment is removed from the resolved url (fragments never
       reach a server; keeping them would split graph nodes).
  L-6  Ordered dedup: first occurrence wins.
  L-7  Anchor text: the whitespace-collapsed ``text_content()`` of the
       ``<a>`` element at the link's FIRST occurrence (the one L-6
       keeps); may be the empty string (image links, icon anchors).
  L-8  Nofollow flag (round 7, VERDICT r06 #7): a link is nofollow
       when the kept occurrence's ``rel`` attribute — split on ASCII
       whitespace, matched case-insensitively — contains any of
       ``nofollow``, ``sponsored`` or ``ugc`` (the link-scheme
       tokens crawlers honor). The link still RIDES the array (the
       graph wants to see it) with a positionally aligned boolean;
       consumers that model endorsement (PageRank edges, the crawl
       frontier, the anchor-text index) exclude flagged links, per
       the rule real crawl graphs apply.

The result feeds the link-graph queries (q_extract_links,
q_pagerank_links, q_anchor_text_index): host-level edges for
domain-authority PageRank over EXTRACTED edges rather than a
synthetic rule graph, and the anchor-text corpus retrieval training
mines for query-document pairs.
"""

from __future__ import annotations

from urllib.parse import urljoin

from readembedability_spark.extractor.dom import Element

_ALLOWED_PREFIXES = ("http://", "https://")

#: rel tokens that mark a link as not-endorsed (L-8)
_NOFOLLOW_TOKENS = frozenset({"nofollow", "sponsored", "ugc"})


def _strip_fragment(url: str) -> str:
    i = url.find("#")
    return url if i < 0 else url[:i]


def resolve_url(base: str, href: str) -> str | None:
    """``href`` resolved against ``base`` with its fragment removed and
    its scheme lowercased (L-3..L-5, F-3..F-5), or None when urljoin
    rejects it or the scheme is not http/https."""
    try:
        resolved = _strip_fragment(urljoin(base, href))
    except ValueError:
        return None
    # scheme match is case-insensitive; canonical output lowercases
    # the scheme (RFC 3986 §6.2.2.1)
    colon = resolved.find(":")
    if colon > 0:
        resolved = resolved[:colon].lower() + resolved[colon:]
    return resolved if resolved.startswith(_ALLOWED_PREFIXES) else None


def extract_anchors(
    root: Element, page_url: str
) -> list[tuple[str, str, bool]]:
    """Ordered, absolutized, deduped (link, anchor_text, nofollow)
    triples (rules L-1..L-8)."""
    # one walk finds both the <a> candidates and the first <base href>,
    # which applies to anchors before it too
    base_href = ""
    anchors: list[Element] = []
    for el in root.iter():
        if el.tag == "a":
            anchors.append(el)
        elif el.tag == "base" and not base_href:
            base_href = (el.get("href") or "").strip()
    base = page_url
    if base_href:
        try:
            base = urljoin(page_url, base_href)
        except ValueError:
            pass
    out: list[tuple[str, str, bool]] = []
    seen: set[str] = set()
    for el in anchors:
        href = (el.get("href") or "").strip()
        if not href or href.startswith("#"):
            continue
        resolved = resolve_url(base, href)
        if resolved is None or resolved in seen:
            continue
        seen.add(resolved)
        rel_tokens = (el.get("rel") or "").lower().split()
        nofollow = any(t in _NOFOLLOW_TOKENS for t in rel_tokens)
        out.append(
            (resolved, " ".join(el.text_content().split()), nofollow)
        )
    return out
