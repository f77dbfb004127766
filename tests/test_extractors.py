"""Per-extractor unit tests (A-5, A-9..A-21)."""

from datetime import datetime

from readembedability_spark.extractor.authors import normalize_authors
from readembedability_spark.extractor.dates import date_from_url, parse_date
from readembedability_spark.extractor.dom import parse_html
from readembedability_spark.extractor.jsonld import parse_jsonld_texts
from readembedability_spark.extractor.keywords import (
    extract_keywords,
    extract_summary,
    keywords_from_text,
)
from readembedability_spark.extractor.meta import clean_title_tag, collect_meta
from readembedability_spark.extractor.oembed import detect_embed, provider_for_host
from readembedability_spark.extractor.pdftext import extract_pdf_text
from readembedability_spark.extractor.sanitize import absolutize, sanitize
from readembedability_spark.extractor.scoring import select_content, top_candidate


# --- A-5 scoring -----------------------------------------------------------

ARTICLE = """
<html><body>
<nav class="nav"><a href="/">Home</a><a href="/b">B</a></nav>
<div class="article-content">
<p>A long paragraph with commas, detail, and enough characters to matter
for the scoring algorithm, which counts commas, and length.</p>
<p>Another substantial paragraph, again with commas, and again with plenty
of words to pass the minimum thresholds easily.</p>
</div>
<div class="sidebar"><p>short promo</p><a href="/x">link</a></div>
</body></html>
"""


def test_top_candidate_prefers_article_div():
    root = parse_html(ARTICLE)
    top, score = top_candidate(root)
    assert top.attrs.get("class") == "article-content"
    assert score > 25  # class bonus + paragraph scores


def test_link_density_penalizes_nav():
    nav_heavy = """
    <html><body>
    <div class="a"><p>text, text, and more text with plenty of commas, and
    length enough to beat the minimum easily for scoring</p></div>
    <div class="b"><p><a href="/1">all of this paragraph text, is one, big,
    link with lots of commas, and enough length to score highly</a></p></div>
    </body></html>
    """
    root = parse_html(nav_heavy)
    top, _ = top_candidate(root)
    assert top.attrs.get("class") == "a"


def test_link_densities_one_pass_matches_per_element_walk():
    """The one-pass densities equal text_content + find_all("a") per
    element, with nested and text-less anchors included."""
    from readembedability_spark.extractor.scoring import _link_densities

    root = parse_html(
        "<div>lead <a href=1>one</a><p>x<a>out<a>in</a></a>tail</p>"
        "<p><a href=2></a></p><section><a>all link</a></section><p></p></div>"
    )
    got = _link_densities(root)
    assert len(got) == sum(1 for _ in root.iter())
    for el in root.iter():
        total = len(el.text_content())
        links = sum(len(a.text_content()) for a in el.find_all("a"))
        assert got[id(el)] == (min(1.0, links / total) if total else 0.0)


def test_sibling_merge_pulls_long_p():
    html = """
    <html><body><div>
    <div class="content"><p>The main paragraph, heavy with commas, words,
    and general substance, easily the top candidate of this page.</p>
    <p>Second paragraph inside, also has commas, and more text.</p></div>
    <p>A long sibling paragraph outside the main div that still belongs to
    the article body and has enough text to be merged into the content.</p>
    </div></body></html>
    """
    root = parse_html(html)
    top, members = select_content(root)
    texts = " ".join(m.text_content() for m in members)
    assert "long sibling paragraph" in texts


# --- A-9 title -------------------------------------------------------------

def test_title_delimiter_split():
    assert (
        clean_title_tag("Real Headline That Informs - Example Site",
                        "https://example.com/x")
        == "Real Headline That Informs"
    )
    # host-stem half is penalized even when longer
    assert (
        clean_title_tag("Example - My Very Long Story", "https://example.com/x")
        == "My Very Long Story"
    )
    assert clean_title_tag("No Delimiter Title", "https://e.com/x") == "No Delimiter Title"


# --- A-10 authors ----------------------------------------------------------

def test_normalize_authors():
    assert normalize_authors(["By jane doe and John Smith"]) == [
        "Jane Doe", "John Smith",
    ]
    assert normalize_authors(["SMITH, JONES"]) == ["Smith", "Jones"]
    assert normalize_authors(["Jane Doe", "jane doe"]) == ["Jane Doe"]
    assert normalize_authors(["Staff"]) == []
    assert normalize_authors(["https://facebook.com/janedoe"]) == []


# --- A-11 dates ------------------------------------------------------------

def test_parse_date_iso_and_tz():
    assert parse_date("2024-03-15T10:30:00Z") == datetime(2024, 3, 15, 10, 30)
    assert parse_date("2023-11-20T14:00:00+01:00") == datetime(2023, 11, 20, 13, 0)
    assert parse_date("March 15, 2024") == datetime(2024, 3, 15)
    assert parse_date("not a date") is None
    assert parse_date("0024-01-01") is None  # out of range


def test_date_from_url():
    assert date_from_url("https://e.com/2024/03/15/story") == datetime(2024, 3, 15)
    assert date_from_url("https://e.com/2024/03/story") == datetime(2024, 3, 1)
    assert date_from_url("https://e.com/story") is None
    assert date_from_url("https://e.com/1234/99/x") is None


# --- A-12/A-13/A-14 meta ---------------------------------------------------

def test_collect_meta_first_wins():
    root = parse_html(
        '<meta property="og:title" content="first">'
        '<meta property="og:title" content="second">'
        '<title>t1</title><title>t2</title>'
    )
    pm = collect_meta(root)
    assert pm.og("title") == "first"
    assert pm.title_tag == "t1"


# --- A-15 json-ld ----------------------------------------------------------

def test_jsonld_graph_and_arrays():
    root = parse_html(
        '<script type="application/ld+json">'
        '{"@graph":[{"@type":"WebSite","name":"x"},'
        '{"@type":["NewsArticle"],"headline":"H","author":"Solo Author",'
        '"datePublished":"2024-01-02","image":["https://i.example/img.jpg"]}]}'
        "</script>"
    )
    ld = parse_jsonld_texts(collect_meta(root).jsonld_texts)
    assert ld.headline == "H"
    assert ld.authors == ["Solo Author"]
    assert ld.date_published == "2024-01-02"
    assert ld.image == "https://i.example/img.jpg"


def test_jsonld_bad_json_skipped():
    root = parse_html(
        '<script type="application/ld+json">{"@type":"NewsArticle","headline":"OK"}</script>'
        '<script type="application/ld+json">NOT JSON {{{</script>'
    )
    assert parse_jsonld_texts(collect_meta(root).jsonld_texts).headline == "OK"


# --- A-16/A-17 oembed ------------------------------------------------------

def test_provider_registry():
    assert provider_for_host("www.youtube.com")[0] == "YouTube"
    assert provider_for_host("youtu.be")[0] == "YouTube"
    assert provider_for_host("example.com") is None


def test_embed_detection_discovery():
    root = parse_html(
        '<link rel="alternate" type="application/json+oembed" href="https://v/oembed">'
    )
    pm = collect_meta(root)
    embed, endpoint = detect_embed(pm, root, "https://example.com/x")
    assert embed is True
    assert endpoint == "https://v/oembed"


def test_embed_detection_negative():
    root = parse_html("<p>plain page</p>")
    pm = collect_meta(root)
    embed, endpoint = detect_embed(pm, root, "https://example.com/x")
    assert embed is False and endpoint is None


# --- A-7 sanitize ----------------------------------------------------------

def test_sanitize_whitelist_and_absolutize():
    root = parse_html(
        '<div class="c" onclick="evil()"><p style="x">text '
        '<a href="/rel" target="_blank">link</a> '
        '<img src="img.png" width="10"><span>span text</span></p></div>'
    )
    div = root.find_all("div")[0]
    html = sanitize([div], "https://example.com/base/page")
    assert html == (
        '<div><p>text <a href="https://example.com/rel">link</a> '
        '<img src="https://example.com/base/img.png"/>span text</p></div>'
    )


def test_absolutize_edge_cases():
    assert absolutize("#frag", "https://e.com/x") == "#frag"
    assert absolutize("//cdn.e.com/a.js", "https://e.com/x") == "https://cdn.e.com/a.js"
    assert absolutize(None, "https://e.com/x") is None


# --- A-19/A-20 keywords + summary -----------------------------------------

def test_keywords_meta_path():
    assert extract_keywords("Spark, DataFrames, spark", "ignored") == [
        "spark", "dataframes",
    ]


def test_keywords_text_deterministic():
    text = (
        "stream processing rules. stream processing wins. operator state "
        "grows. operator state shrinks."
    )
    k1 = keywords_from_text(text)
    k2 = keywords_from_text(text)
    assert k1 == k2
    assert "stream processing" in k1 and "operator state" in k1


def test_summary_prefers_long_description():
    desc = "D" * 50
    assert extract_summary(desc, "content text") == desc
    assert extract_summary("short", "A full sentence here. Another one.") \
        == "A full sentence here. Another one."


def test_summary_cuts_on_sentence_boundary():
    text = ("First sentence is short. " + "Second sentence padded " + "x" * 480
            + ". Third sentence never appears.")
    out = extract_summary(None, text)
    assert out.startswith("First sentence")
    assert "Third sentence" not in out


# --- A-21 pdf --------------------------------------------------------------

def test_pdf_text_uncompressed_and_flate(tmp_path):
    from pathlib import Path

    fixtures = Path(__file__).parent / "fixtures"
    assert extract_pdf_text((fixtures / "tiny_doc.pdf").read_bytes()) == (
        "Hello PDF world.\nSecond line of text."
    )
    assert extract_pdf_text((fixtures / "tiny_doc_flate.pdf").read_bytes()) == (
        "Compressed stream text."
    )
    assert extract_pdf_text(b"not a pdf") == ""


# --- pipeline statuses: oversize + gzip transport ------------------------

def test_oversize_page_quarantined():
    from readembedability_spark.extractor import extract_page
    from readembedability_spark.extractor.pipeline import MAX_HTML_BYTES

    blob = b"<html><body>" + b"<p>x</p>" * (MAX_HTML_BYTES // 8) + b"</body>"
    assert len(blob) > MAX_HTML_BYTES
    row = extract_page("https://e.com/huge", blob)
    assert row["status"] == "oversize"
    assert row["content_text"] is None


def test_gzip_page_decodes():
    import gzip

    from readembedability_spark.extractor import extract_page

    html = (
        b"<html><head><title>Gz Page</title></head><body>"
        b'<div class="content"><p>Compressed transport page, with commas, '
        b"and enough text to extract successfully.</p></div></body></html>"
    )
    row = extract_page("https://e.com/gz", gzip.compress(html))
    assert row["status"] == "ok"
    assert row["title"] == "Gz Page"
    assert "Compressed transport page" in row["content_text"]


def test_declared_lang_precedence_and_validation():
    """<html lang> beats Content-Language; multi-value headers keep the
    first entry; junk values are rejected rather than kept."""
    from readembedability_spark.extractor import extract_page

    # precedence + lowercasing
    r = extract_page(
        "https://ex.com/",
        b'<html lang="EN-us"><head>'
        b'<meta http-equiv="content-language" content="fr">'
        b"<title>T</title></head><body><p>x</p></body></html>",
    )
    assert r["declared_lang"] == "en-us"
    # meta fallback, first of multi-value
    r = extract_page(
        "https://ex.com/",
        b'<html><head><meta http-equiv="Content-Language" '
        b'content="de, en"><title>T</title></head>'
        b"<body><p>x</p></body></html>",
    )
    assert r["declared_lang"] == "de"
    # junk value rejected
    r = extract_page(
        "https://ex.com/",
        b'<html lang="click here!"><head><title>T</title></head>'
        b"<body><p>x</p></body></html>",
    )
    assert r["declared_lang"] is None
    # whitespace-only attribute ignored, meta used
    r = extract_page(
        "https://ex.com/",
        b'<html lang="  "><head><meta http-equiv="content-language" '
        b'content="PT-br"><title>T</title></head>'
        b"<body><p>x</p></body></html>",
    )
    assert r["declared_lang"] == "pt-br"


def test_meta_refresh_parse_scope():
    """The WHATWG-ish refresh grammar at declared scope: ;/, separators,
    case-insensitive url key, optional quotes, relative absolutization;
    timed reloads and malformed clauses yield NULL."""
    from readembedability_spark.extractor import extract_page

    def refresh(content, url="https://ex.com/a/b"):
        # single-quoted attribute so double-quoted url= targets survive
        html = (
            "<html><head><meta http-equiv=\"refresh\" content='"
            + content
            + "'><title>T</title></head><body><p>x</p></body></html>"
        ).encode()
        return extract_page(url, html)["refresh_url"]

    assert refresh("0;url=/next") == "https://ex.com/next"
    assert refresh("5; URL=page2") == "https://ex.com/a/page2"
    assert refresh('1 , url = "https://o.example.com/x"') == (
        "https://o.example.com/x"
    )
    assert refresh('2;url="rel/y"') == "https://ex.com/a/rel/y"
    assert refresh("300") is None          # timed reload, not a redirect
    assert refresh("0;url=") is None       # empty target
    assert refresh("banana") is None       # malformed


def test_robots_meta_and_amp_scope():
    """Directive parsing: case-insensitive, comma-split, 'none' sets
    BOTH flags, absent meta means permissive (false, never None);
    rel=amphtml absolutizes."""
    from readembedability_spark.extractor import extract_page

    def page(head):
        html = (
            "<html><head><title>T</title>" + head
            + "</head><body><p>x</p></body></html>"
        ).encode()
        return extract_page("https://ex.com/a/p", html)

    r = page('<meta name="robots" content="NOINDEX , Follow">')
    assert (r["robots_noindex"], r["robots_nofollow"]) == (True, False)
    r = page('<meta name="robots" content="none">')
    assert (r["robots_noindex"], r["robots_nofollow"]) == (True, True)
    r = page('<meta name="robots" content="max-snippet:50">')
    assert (r["robots_noindex"], r["robots_nofollow"]) == (False, False)
    r = page("")
    assert (r["robots_noindex"], r["robots_nofollow"]) == (False, False)
    r = page('<link rel="amphtml" href="amp/">')
    assert r["amp_url"] == "https://ex.com/a/amp/"
    r = page("")
    assert r["amp_url"] is None
