"""A-15: JSON-LD / schema.org parser.

All ``<script type="application/ld+json">`` blocks → tolerant JSON parse
(arrays, ``@graph`` wrappers, trailing garbage → skip block). From the
first Article-like node (Article, NewsArticle, BlogPosting, Report,
ScholarlyArticle, WebPage) extract headline, author name(s),
datePublished, image URL, description.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

_ARTICLE_TYPES = frozenset(
    ["article", "newsarticle", "blogposting", "report", "scholarlyarticle",
     "webpage", "liveblogposting", "medicalscholarlyarticle"]
)


@dataclass
class JsonLd:
    headline: str | None = None
    authors: list[str] = field(default_factory=list)
    date_published: str | None = None
    image: str | None = None
    description: str | None = None


def _norm_type(t) -> set[str]:
    if isinstance(t, str):
        return {t.strip().lower()}
    if isinstance(t, list):
        return {str(x).strip().lower() for x in t}
    return set()


def _author_names(author) -> list[str]:
    out: list[str] = []
    items = author if isinstance(author, list) else [author]
    for item in items:
        if isinstance(item, str):
            name = " ".join(item.split())
            if name:
                out.append(name)
        elif isinstance(item, dict):
            name = item.get("name")
            if isinstance(name, str):
                name = " ".join(name.split())
                if name:
                    out.append(name)
    return out


def _image_url(image) -> str | None:
    if isinstance(image, str):
        return image.strip() or None
    if isinstance(image, list) and image:
        return _image_url(image[0])
    if isinstance(image, dict):
        url = image.get("url") or image.get("contenturl") or image.get("contentUrl")
        if isinstance(url, str):
            return url.strip() or None
    return None


def _iter_nodes(doc):
    """Yield candidate dict nodes from a parsed JSON-LD document."""
    if isinstance(doc, list):
        for item in doc:
            yield from _iter_nodes(item)
    elif isinstance(doc, dict):
        graph = doc.get("@graph")
        if isinstance(graph, list):
            for item in graph:
                yield from _iter_nodes(item)
        yield doc


def parse_jsonld_texts(texts: list[str]) -> JsonLd:
    """Parse pre-collected ld+json script bodies (single-pass facts)."""
    result = JsonLd()
    for raw in texts:
        raw = raw.strip()
        if not raw:
            continue
        try:
            doc = json.loads(raw)
        except ValueError:
            # tolerate trailing garbage: retry up to the last closing brace
            end = max(raw.rfind("}"), raw.rfind("]"))
            if end <= 0:
                continue
            try:
                doc = json.loads(raw[: end + 1])
            except ValueError:
                continue
        for node in _iter_nodes(doc):
            types = _norm_type(node.get("@type"))
            if not (types & _ARTICLE_TYPES):
                continue
            if result.headline is None and isinstance(node.get("headline"), str):
                result.headline = " ".join(node["headline"].split()) or None
            if not result.authors and "author" in node:
                result.authors = _author_names(node["author"])
            if result.date_published is None and isinstance(
                node.get("datePublished"), str
            ):
                result.date_published = node["datePublished"].strip() or None
            if result.image is None and "image" in node:
                result.image = _image_url(node["image"])
            if result.description is None and isinstance(
                node.get("description"), str
            ):
                result.description = " ".join(node["description"].split()) or None
    return result
