"""Per-document extraction pipeline: A-1..A-23 wired in chain order.

``extract_page`` is the single implementation used by BOTH the pytest
oracle and the Spark ``mapInPandas`` stage (SURVEY.md §5.2) — that
identity is what makes "byte-identical extracted text per url"
(BASELINE.json:15) testable without the reference's fixtures.

Statuses: ``ok | empty | non_html | parse_error | pdf | oversize``.
"""

from __future__ import annotations

from datetime import datetime
from typing import Any

from readembedability_spark.extractor import decode
from readembedability_spark.extractor.authors import extract_authors
from readembedability_spark.extractor.cleanup import clean
from readembedability_spark.extractor.dates import extract_published
from readembedability_spark.extractor.dom import free_tree, parse_html
from readembedability_spark.extractor.feeds import extract_feeds
from readembedability_spark.extractor.images import extract_image
from readembedability_spark.extractor.jsonld import parse_jsonld_texts
from readembedability_spark.extractor.keywords import extract_keywords, extract_summary
from readembedability_spark.extractor.links import extract_anchors
from readembedability_spark.extractor.meta import (
    collect_meta,
    extract_amp_url,
    extract_canonical,
    extract_declared_lang,
    extract_description,
    extract_refresh,
    extract_robots_meta,
    extract_title,
)
from readembedability_spark.extractor.oembed import detect_embed
from readembedability_spark.extractor.pdftext import extract_pdf_text
from readembedability_spark.extractor.result import ParseResult
from readembedability_spark.extractor.sanitize import sanitize
from readembedability_spark.extractor.scoring import select_content
from readembedability_spark.extractor.textify import textify

#: Pages larger than this are quarantined (status='oversize') instead of
#: risking Arrow-batch memory blowups (SURVEY.md §7 hard part 5). The
#: scan prefilter (sources/pages.py) imports this same limit.
MAX_HTML_BYTES = 8 << 20  # 8 MiB


def _empty_row(url: str, status: str) -> dict[str, Any]:
    return {
        "url": url,
        "content_html": None,
        "content_text": None,
        "title": None,
        "authors": None,
        "published_at": None,
        "image": None,
        "keywords": None,
        "summary": None,
        "canonical_url": url,
        "embed": False,
        "links": None,
        "anchor_texts": None,
        "link_nofollow": None,
        "feeds": None,
        "declared_lang": None,
        "refresh_url": None,
        "robots_noindex": False,
        "robots_nofollow": False,
        "amp_url": None,
        "confidences": {},
        "status": status,
    }


def extract_page(url: str, html: bytes | None) -> dict[str, Any]:
    """Extract one page → dict matching EXTRACTED_SCHEMA (minus
    warc_ts/salt, which the relational layer owns)."""
    kind = decode.sniff_kind(html)
    if kind == decode.KIND_EMPTY:
        return _empty_row(url, "empty")
    if kind == decode.KIND_PDF:
        row = _empty_row(url, "pdf")
        try:
            payload = decode.gunzip_if_needed(html, limit=MAX_HTML_BYTES)
        except decode.OversizeDecompressed:
            return _empty_row(url, "oversize")
        text = extract_pdf_text(payload)
        if text:
            row["content_text"] = text
            row["summary"] = extract_summary(None, text)
            row["keywords"] = extract_keywords(None, text) or None
        return row
    if kind in (decode.KIND_IMAGE, decode.KIND_OTHER):
        return _empty_row(url, "non_html")
    if len(html) > MAX_HTML_BYTES:
        return _empty_row(url, "oversize")

    try:
        return _extract_html(url, html)
    except decode.OversizeDecompressed:
        # gzip payload expanded past MAX_HTML_BYTES — quarantine like any
        # other oversize page instead of parsing a decompression bomb
        return _empty_row(url, "oversize")
    except Exception:
        return _empty_row(url, "parse_error")


def _extract_html(url: str, html: bytes) -> dict[str, Any]:
    text = decode.decode_html(html, limit=MAX_HTML_BYTES)  # A-2
    root = parse_html(text)  # A-3
    try:
        return _extract_from_dom(url, root)
    finally:
        free_tree(root)  # break parent cycles → no cyclic-GC pressure


def _extract_from_dom(url: str, root) -> dict[str, Any]:

    # all DOM facts in ONE pass on the RAW dom (cleanup strips meta/link)
    pm = collect_meta(root)
    ld = parse_jsonld_texts(pm.jsonld_texts)  # A-15
    embed, _endpoint = detect_embed(pm, root, url)  # A-16/A-17
    canonical = extract_canonical(pm, url)  # A-12
    anchors = extract_anchors(root, url)  # A-23 (raw dom, pre-cleanup)
    feeds = extract_feeds(pm, url)  # F-1..F-5 (head facts, raw dom)
    declared_lang = extract_declared_lang(pm)  # M-1
    refresh_url = extract_refresh(pm, url)  # M-2 (client-side redirect)
    noindex, nofollow = extract_robots_meta(pm)  # M-3
    amp_url = extract_amp_url(pm, url)  # M-4

    result = ParseResult()
    for value, conf in extract_title(pm, ld.headline, url):  # A-9/13/14
        result.set("title", value, conf)
    for value, conf in extract_authors(pm, ld.authors, root):  # A-10
        result.set("authors", value, conf)
    for value, conf in extract_published(pm, ld.date_published, root, url):  # A-11
        result.set("published_at", value, conf)

    # content isolation on the cleaned dom (A-4, A-5, A-6)
    clean(root)
    top, members = select_content(root)
    for value, conf in extract_image(pm, ld.image, members, canonical):  # A-18
        result.set("image", value, conf)

    content_html = sanitize(members, canonical)  # A-7
    blocks = [textify(m) for m in members]  # A-8
    content_text = "\n\n".join(b for b in blocks if b)

    description = extract_description(pm) or ld.description
    summary = extract_summary(description, content_text)  # A-20
    if summary:
        result.set("summary", summary, 0.8 if description else 0.5)
    kws = extract_keywords(pm.names.get("keywords"), content_text)  # A-19
    if kws:
        result.set("keywords", kws, 0.9 if pm.names.get("keywords") else 0.5)

    published: datetime | None = result.get("published_at")
    return {
        "url": url,
        "content_html": content_html,
        "content_text": content_text if content_text else None,
        "title": result.get("title"),
        "authors": result.get("authors"),
        "published_at": published,
        "image": result.get("image"),
        "keywords": result.get("keywords"),
        "summary": result.get("summary"),
        "canonical_url": canonical,
        "embed": embed,
        "links": [a for a, _, _ in anchors] or None,
        "anchor_texts": [t for _, t, _ in anchors] or None,
        "link_nofollow": [nf for _, _, nf in anchors] or None,
        "feeds": feeds or None,
        "declared_lang": declared_lang,
        "refresh_url": refresh_url,
        "robots_noindex": noindex,
        "robots_nofollow": nofollow,
        "amp_url": amp_url,
        "confidences": result.confidences,
        "status": "ok",
    }
