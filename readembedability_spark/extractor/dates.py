"""A-11: published-date extraction.

Sources in confidence order: meta ``article:published_time`` /
``datePublished`` / ``date`` family > JSON-LD ``datePublished`` >
``<time datetime=...>`` > URL path pattern ``/YYYY/MM/DD/``.
Parsing: ISO-8601 + common formats via ``dateutil`` with a **fixed**
default date (no wall-clock → deterministic), UTC-normalized, naive
(tz dropped after conversion). Years outside [1995, 2035] rejected.
"""

from __future__ import annotations

import re
from datetime import datetime, timezone

from dateutil import parser as du_parser

from readembedability_spark.extractor.dom import Element
from readembedability_spark.extractor.meta import PageMeta

# Fixed anchor so missing fields never read the wall clock.
_DEFAULT = datetime(2000, 1, 1, 0, 0, 0)
_URL_DATE_RE = re.compile(r"/((?:19|20)\d{2})/(\d{1,2})(?:/(\d{1,2}))?(?=/|$)")
_MIN_YEAR, _MAX_YEAR = 1995, 2035


def parse_date(raw: str | None) -> datetime | None:
    """Parse one date string → naive UTC datetime, or None."""
    if not raw:
        return None
    raw = raw.strip()
    if not raw:
        return None
    # epoch seconds/millis
    if re.fullmatch(r"\d{10}", raw):
        dt = datetime.fromtimestamp(int(raw), tz=timezone.utc)
        return _validate(dt.replace(tzinfo=None))
    if re.fullmatch(r"\d{13}", raw):
        dt = datetime.fromtimestamp(int(raw) / 1000.0, tz=timezone.utc)
        return _validate(dt.replace(tzinfo=None))
    try:
        dt = du_parser.parse(raw, default=_DEFAULT)
    except (ValueError, OverflowError, TypeError):
        return None
    if dt.tzinfo is not None:
        dt = dt.astimezone(timezone.utc).replace(tzinfo=None)
    return _validate(dt)


def _validate(dt: datetime) -> datetime | None:
    if _MIN_YEAR <= dt.year <= _MAX_YEAR:
        return dt
    return None


def date_from_url(url: str) -> datetime | None:
    m = _URL_DATE_RE.search(url)
    if not m:
        return None
    year, month = int(m.group(1)), int(m.group(2))
    day = int(m.group(3)) if m.group(3) else 1
    try:
        return _validate(datetime(year, month, day))
    except ValueError:
        return None


def extract_published(
    pm: PageMeta, jsonld_date: str | None, root: Element, url: str
) -> list[tuple[datetime, float]]:
    """Candidates as (datetime, confidence)."""
    out: list[tuple[datetime, float]] = []
    meta_raw = (
        pm.properties.get("article:published_time")
        or pm.names.get("article:published_time")
        or pm.names.get("datepublished")
        or pm.names.get("date")
        or pm.names.get("dc.date")
        or pm.names.get("dc.date.issued")
        or pm.names.get("parsely-pub-date")
        or pm.names.get("sailthru.date")
        or pm.names.get("publish-date")
        or pm.names.get("publication_date")
    )
    dt = parse_date(meta_raw)
    if dt is not None:
        out.append((dt, 0.9))
    dt = parse_date(jsonld_date)
    if dt is not None:
        out.append((dt, 0.85))
    dt = parse_date(pm.time_datetime)
    if dt is not None:
        out.append((dt, 0.7))
    dt = date_from_url(url)
    if dt is not None:
        out.append((dt, 0.5))
    return out
