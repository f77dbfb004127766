"""Feed autodiscovery (F-1..F-5) — the ``<link rel=alternate>``
RSS/Atom surface every crawler mines for cheap recrawl signals.

The reference corpus is unavailable (SURVEY.md §0), so the rule set is
frozen here in the repo's own spec style (cf. links A-23):

  F-1  Candidates are every ``<link>`` whose ``rel`` token list
       (split on ASCII whitespace, matched case-insensitively)
       contains ``alternate`` AND whose ``type`` — lowercased, media
       parameters after ``;`` stripped — is ``application/rss+xml``
       or ``application/atom+xml``, in document order (collected in
       the same single DOM pass as the rest of PageMeta). oEmbed
       discovery links (``application/json+oembed``) share the
       ``alternate`` rel but are NOT feeds and must not leak in.
  F-2  The href is stripped of leading/trailing ASCII whitespace;
       empty hrefs are dropped.
  F-3  Resolution is against the page url via ``urllib.parse.urljoin``
       (reduced scope vs anchors' L-3: head feed links precede any
       ``<base>`` in practice, and the narrower rule is frozen here).
  F-4  Only ``http``/``https`` results survive (case-insensitive
       scheme match, emitted with the scheme lowercased — same RFC
       3986 §6.2.2.1 normalization as L-4).
  F-5  The fragment is stripped; ordered dedup on the resolved url,
       first occurrence wins (same as L-5/L-6).

The result feeds the recrawl scheduler (a host with a feed gets
change notifications instead of blind revisits) and the archive's
seed discovery.
"""

from __future__ import annotations

from readembedability_spark.extractor.links import resolve_url


def extract_feeds(pm, page_url: str) -> list[str]:
    """Ordered, absolutized, deduped feed urls (rules F-1..F-5) from
    the PageMeta ``feed_links`` candidates collected by collect_meta."""
    out: list[str] = []
    seen: set[str] = set()
    for href in pm.feed_links:
        href = href.strip()  # F-2
        if not href:
            continue
        resolved = resolve_url(page_url, href)  # F-3..F-5
        if resolved is None or resolved in seen:
            continue
        seen.add(resolved)
        out.append(resolved)
    return out
