"""A-16 oEmbed resolve + A-17 embed detection.

Reference behavior: match the url against the published oembed providers
registry + in-page discovery (``<link rel="alternate"
type="application/json+oembed">``), then HTTP-fetch the endpoint.
No-network deviation (SURVEY.md A-16): (a) discovery-link detection →
``embed=true`` + endpoint recorded; (b) a small static providers
registry matched on host — the registry is also exposed as a table for
the Spark-side broadcast join (operators O-9).

Embed detection (A-17): og:type video/audio, oembed discovery link, or a
dominant iframe player (video host + large declared size).
"""

from __future__ import annotations

from urllib.parse import urlparse

from readembedability_spark.extractor.dom import Element
from readembedability_spark.extractor.meta import PageMeta

#: Static provider registry: host suffix -> (provider_name, endpoint).
#: Subset of the public oembed.com providers list (public knowledge).
OEMBED_PROVIDERS: list[tuple[str, str, str]] = [
    ("youtube.com", "YouTube", "https://www.youtube.com/oembed"),
    ("youtu.be", "YouTube", "https://www.youtube.com/oembed"),
    ("vimeo.com", "Vimeo", "https://vimeo.com/api/oembed.json"),
    ("flickr.com", "Flickr", "https://www.flickr.com/services/oembed/"),
    ("soundcloud.com", "SoundCloud", "https://soundcloud.com/oembed"),
    ("twitter.com", "Twitter", "https://publish.twitter.com/oembed"),
    ("x.com", "Twitter", "https://publish.twitter.com/oembed"),
    ("instagram.com", "Instagram", "https://graph.facebook.com/v16.0/instagram_oembed"),
    ("tiktok.com", "TikTok", "https://www.tiktok.com/oembed"),
    ("spotify.com", "Spotify", "https://open.spotify.com/oembed"),
    ("dailymotion.com", "Dailymotion", "https://www.dailymotion.com/services/oembed"),
    ("twitch.tv", "Twitch", "https://api.twitch.tv/v5/oembed"),
    ("slideshare.net", "SlideShare", "https://www.slideshare.net/api/oembed/2"),
    ("ted.com", "TED", "https://www.ted.com/services/v1/oembed.json"),
    ("giphy.com", "Giphy", "https://giphy.com/services/oembed"),
]

_VIDEO_HOST_MARKERS = (
    "youtube.com/embed",
    "player.vimeo.com",
    "dailymotion.com/embed",
    "youtube-nocookie.com/embed",
    "open.spotify.com/embed",
    "w.soundcloud.com/player",
)


def provider_for_host(host: str) -> tuple[str, str] | None:
    host = (host or "").lower()
    for suffix, name, endpoint in OEMBED_PROVIDERS:
        if host == suffix or host.endswith("." + suffix):
            return name, endpoint
    return None


def _dominant_iframe(iframes: list[dict]) -> bool:
    for attrs in iframes:
        src = (attrs.get("src") or "").lower()
        if any(marker in src for marker in _VIDEO_HOST_MARKERS):
            return True
        try:
            w = int((attrs.get("width") or "0").rstrip("%"))
            h = int((attrs.get("height") or "0").rstrip("%"))
        except ValueError:
            continue
        if w >= 400 and h >= 240:
            return True
    return False


def detect_embed(pm: PageMeta, root: Element, url: str) -> tuple[bool, str | None]:
    """A-16/A-17 → (embed, oembed_endpoint_or_None).

    Uses facts gathered by collect_meta on the RAW dom (before cleanup
    strips iframes).
    """
    endpoint = pm.discovery_link
    og_type = (pm.og("type") or "").lower()
    is_media_type = og_type.startswith(("video", "music", "audio"))
    host = (urlparse(url).hostname or "").lower()
    provider = provider_for_host(host)
    if provider is not None and endpoint is None:
        endpoint = provider[1]
    embed = bool(endpoint) or is_media_type or _dominant_iframe(pm.iframes)
    return embed, endpoint
