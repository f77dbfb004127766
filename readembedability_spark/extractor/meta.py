"""A-9 title, A-12 canonical URL, A-13 OpenGraph, A-14 Twitter cards.

One DOM pass collects all ``<meta>``/``<link>``/``<title>`` facts into a
``PageMeta``; individual extractors read from it. First occurrence wins
for every map (deterministic under duplicated metas).
"""

from __future__ import annotations

import re
from urllib.parse import urlparse

from readembedability_spark.extractor.dom import Element
from readembedability_spark.extractor.sanitize import absolutize

_TITLE_DELIMS = (" | ", " - ", " – ", " — ", " :: ", " » ")


class PageMeta:
    """All per-page DOM facts gathered in ONE tree pass (hot path: every
    extra full traversal costs ~0.05 ms/page at Arrow-batch throughput).

    Beyond head metadata this also carries the facts other extractors
    would otherwise re-walk the tree for: JSON-LD script bodies, the
    oEmbed discovery link, iframe attributes, the first
    ``<time datetime>``, ``rel=author`` anchor texts, and byline
    candidate elements (document order preserved everywhere).
    """

    __slots__ = (
        "names",
        "properties",
        "links",
        "html_lang",
        "title_tag",
        "h1",
        "jsonld_texts",
        "discovery_link",
        "feed_links",
        "iframes",
        "time_datetime",
        "rel_author_texts",
        "byline_candidates",
    )

    def __init__(self) -> None:
        self.names: dict[str, str] = {}  # <meta name=...>
        self.html_lang: str | None = None  # <html lang=...> (M-1)
        self.properties: dict[str, str] = {}  # <meta property=...>
        self.links: dict[str, str] = {}  # <link rel=...> href (first wins)
        self.title_tag: str | None = None
        self.h1: str | None = None
        self.jsonld_texts: list[str] = []
        self.discovery_link: str | None = None
        self.feed_links: list[str] = []  # rel=alternate rss/atom hrefs (F-1)
        self.iframes: list[dict[str, str]] = []
        self.time_datetime: str | None = None
        self.rel_author_texts: list[str] = []
        self.byline_candidates: list = []  # Elements, doc order

    # convenience accessors ------------------------------------------------

    def og(self, key: str) -> str | None:
        return self.properties.get(f"og:{key}")

    def twitter(self, key: str) -> str | None:
        return self.names.get(f"twitter:{key}") or self.properties.get(
            f"twitter:{key}"
        )


_BYLINE_IDENT_RE = re.compile(
    r"byline|author|writer|submitted|contributor", re.IGNORECASE
)


def collect_meta(root: Element) -> PageMeta:
    pm = PageMeta()
    for el in root.iter():
        tag = el.tag
        if tag == "meta":
            content = el.attrs.get("content")
            if content is None:
                continue
            name = el.attrs.get("name")
            if name:
                pm.names.setdefault(name.strip().lower(), content)
            prop = el.attrs.get("property")
            if prop:
                pm.properties.setdefault(prop.strip().lower(), content)
            http_equiv = el.attrs.get("http-equiv")
            if http_equiv:
                pm.names.setdefault(http_equiv.strip().lower(), content)
        elif tag == "link":
            rel = el.attrs.get("rel")
            href = el.attrs.get("href")
            if rel and href:
                rel_l = rel.strip().lower()
                pm.links.setdefault(rel_l, href)
                if "alternate" in rel_l.split():
                    typ = (el.attrs.get("type") or "").strip().lower()
                    typ = typ.split(";", 1)[0].strip()  # drop parameters
                    if pm.discovery_link is None and typ in (
                        "application/json+oembed",
                        "text/xml+oembed",
                    ):
                        pm.discovery_link = href.strip()
                    elif typ in ("application/rss+xml", "application/atom+xml"):
                        pm.feed_links.append(href)  # F-1, doc order
        elif tag == "html" and pm.html_lang is None:
            lang_attr = el.attrs.get("lang")
            if lang_attr and lang_attr.strip():
                pm.html_lang = lang_attr.strip()
        elif tag == "title" and pm.title_tag is None:
            pm.title_tag = el.text_content()
        elif tag == "h1" and pm.h1 is None:
            pm.h1 = el.text_content()
        elif tag == "script":
            if (el.attrs.get("type") or "").strip().lower() == "application/ld+json":
                pm.jsonld_texts.append(el.text_content())
        elif tag == "iframe":
            pm.iframes.append(el.attrs)
        elif tag == "time":
            dt = el.attrs.get("datetime")
            if dt and pm.time_datetime is None:
                pm.time_datetime = dt
        elif tag == "a":
            rel = (el.attrs.get("rel") or "").lower()
            if "author" in rel.split():
                text = " ".join(el.text_content().split())
                if text:
                    pm.rel_author_texts.append(text)
        ident = el.classes_and_id()
        if ident and _BYLINE_IDENT_RE.search(ident):
            pm.byline_candidates.append(el)
    return pm


def _clean_ws(s: str | None) -> str | None:
    if s is None:
        return None
    out = " ".join(s.split())
    return out or None


def clean_title_tag(raw: str, url: str) -> str | None:
    """Split ``<title>`` on site-name delimiters; keep the most
    informative half (longest, with a penalty for halves that look like
    the host name)."""
    raw = " ".join(raw.split())
    if not raw:
        return None
    host = (urlparse(url).hostname or "").lower()
    host_stem = host.removeprefix("www.").split(".")[0] if host else ""
    for delim in _TITLE_DELIMS:
        if delim in raw:
            parts = [p.strip() for p in raw.split(delim) if p.strip()]
            if len(parts) >= 2:

                def informativeness(p: str) -> tuple[int, int]:
                    looks_site = int(
                        bool(host_stem)
                        and re.sub(r"[\s\-_]", "", p.lower()) == host_stem
                    )
                    return (-looks_site, len(p))

                best = max(parts, key=informativeness)
                return best
    return raw


def extract_title(pm: PageMeta, jsonld_headline: str | None, url: str):
    """A-9 priority chain → (value, confidence) candidates list."""
    out = []
    og_t = _clean_ws(pm.og("title"))
    if og_t:
        out.append((og_t, 0.9))
    tw_t = _clean_ws(pm.twitter("title"))
    if tw_t:
        out.append((tw_t, 0.85))
    if jsonld_headline:
        out.append((_clean_ws(jsonld_headline), 0.8))
    if pm.title_tag:
        cleaned = clean_title_tag(pm.title_tag, url)
        if cleaned:
            out.append((cleaned, 0.6))
    h1 = _clean_ws(pm.h1)
    if h1:
        out.append((h1, 0.5))
    return [(v, c) for v, c in out if v]


def extract_canonical(pm: PageMeta, url: str) -> str:
    """A-12: rel=canonical > og:url > input url, absolutized."""
    cand = pm.links.get("canonical") or pm.og("url")
    if cand:
        absolute = absolutize(cand.strip(), url)
        if absolute and absolute.startswith(("http://", "https://")):
            return absolute
    return url


def extract_description(pm: PageMeta) -> str | None:
    """Best meta description (og > twitter > meta name)."""
    for cand in (
        pm.og("description"),
        pm.twitter("description"),
        pm.names.get("description"),
    ):
        cleaned = _clean_ws(cand)
        if cleaned:
            return cleaned
    return None


# -- client-side metadata (M-1/M-2): declared language + meta refresh ------

_LANG_TAG_RE = re.compile(r"^[a-z]{2,3}(-[a-z0-9]{2,8})*$")

#: meta refresh content per the WHATWG "shared declarative refresh
#: steps": optional whole-second delay, then an optional ;/,-separated
#: url=... clause (key case-insensitive, value optionally quoted).
_REFRESH_RE = re.compile(
    r"^\s*(\d+)\s*(?:[;,]\s*url\s*=\s*(['\"]?)(.*?)\2\s*)?$",
    re.IGNORECASE | re.DOTALL,
)


def extract_declared_lang(pm: PageMeta) -> str | None:
    """M-1: the page's DECLARED language — ``<html lang>`` beats the
    ``Content-Language`` http-equiv meta (the html attribute is the
    language of the document, the header the language of the intended
    audience; processors prefer the attribute). Multi-valued headers
    ('de, en') keep the first entry. Values are lowercased and must
    look like a BCP-47-ish tag (2-3 letter primary + -subtags) or the
    field stays unset — declared metadata lies enough without keeping
    junk values."""
    cand = pm.html_lang or pm.names.get("content-language")
    if not cand:
        return None
    tag = cand.split(",", 1)[0].strip().lower()
    return tag if _LANG_TAG_RE.match(tag) else None


def extract_refresh(pm: PageMeta, page_url: str) -> str | None:
    """M-2: client-side redirect target from ``<meta http-equiv=
    "refresh">`` — the soft-redirect every archive resolver folds into
    the 3xx chain (q_redirect_resolve's pointer-jumping consumes these
    edges exactly like server redirects). Returns the ABSOLUTE target
    (resolved against the page url like every other extracted link) or
    None when the refresh is a pure timed reload (no url= clause) —
    a reload is not a redirect."""
    from urllib.parse import urljoin

    content = pm.names.get("refresh")
    if not content:
        return None
    m = _REFRESH_RE.match(content)
    if not m or not m.group(3):
        return None
    target = m.group(3).strip()
    if not target:
        return None
    return urljoin(page_url, target)


def extract_robots_meta(pm: PageMeta) -> tuple[bool, bool]:
    """M-3: page-level robots directives from ``<meta name="robots">``
    — the in-document compliance layer robots.txt cannot express
    (robots.txt gates FETCHING, the meta gates INDEXING/ENDORSING):
    returns (noindex, nofollow). Directives are comma-split,
    case-insensitive; ``none`` is the spec'd shorthand for both. An
    absent or unrecognized meta means indexable — the default is
    permissive by design, exactly like the live web."""
    content = pm.names.get("robots")
    if not content:
        return False, False
    dirs = {d.strip().lower() for d in content.split(",")}
    noindex = "noindex" in dirs or "none" in dirs
    nofollow = "nofollow" in dirs or "none" in dirs
    return noindex, nofollow


def extract_amp_url(pm: PageMeta, page_url: str) -> str | None:
    """M-4: the ``rel=amphtml`` alternate — the AMP twin every mobile
    crawl captures alongside the canonical page; surfacing the link
    lets dedup treat the (page, AMP) pair as one document family
    instead of rediscovering it as a near-duplicate. Resolved
    absolute against the page url like every extracted link."""
    from urllib.parse import urljoin

    href = pm.links.get("amphtml")
    if not href or not href.strip():
        return None
    return urljoin(page_url, href.strip())
