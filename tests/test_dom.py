"""A-3 mini-DOM: construction + HTML5-style recovery rules."""

from readembedability_spark.extractor.dom import (
    Element,
    body_or_root,
    find_first,
    parse_html,
)


def tags(el):
    return [c.tag for c in el.children if isinstance(c, Element)]


def test_basic_tree():
    root = parse_html("<html><body><div><p>hi</p></div></body></html>")
    body = find_first(root, "body")
    assert body is not None
    div = body.children[0]
    assert div.tag == "div"
    assert div.children[0].tag == "p"
    assert div.children[0].children == ["hi"]


def test_attrs_first_wins_and_none_value():
    root = parse_html('<div id="a" id="b" hidden><p>x</p></div>')
    div = find_first(root, "div")
    assert div.attrs["id"] == "a"
    assert div.attrs["hidden"] == ""
    assert list(div.attrs) == ["id", "hidden"]  # first-occurrence order
    a = find_first(parse_html('<a rel="x" href="/h" Class="c">t</a>'), "a")
    assert a.attrs == {"rel": "x", "href": "/h", "class": "c"}
    assert list(a.attrs) == ["rel", "href", "class"]


def test_void_elements_never_nest():
    root = parse_html("<p>a<br>b<img src=x>c</p>")
    p = find_first(root, "p")
    assert [c.tag if isinstance(c, Element) else c for c in p.children] == [
        "a", "br", "b", "img", "c",
    ]


def test_p_autoclose_on_new_p():
    root = parse_html("<div><p>one<p>two<p>three</div>")
    div = find_first(root, "div")
    assert tags(div) == ["p", "p", "p"]
    assert [p.text_content() for p in div.children if isinstance(p, Element)] == [
        "one", "two", "three",
    ]


def test_p_autoclose_on_block_start():
    root = parse_html("<p>start<div>inner</div>")
    body = body_or_root(root)
    # div must be a sibling of p, not a child
    p = find_first(root, "p")
    assert find_first(p, "div") is None


def test_li_autoclose():
    root = parse_html("<ul><li>a<li>b<li>c</ul>")
    ul = find_first(root, "ul")
    assert tags(ul) == ["li", "li", "li"]
    # li content must not nest
    assert [li.text_content() for li in ul.children] == ["a", "b", "c"]


def test_table_cell_autoclose():
    root = parse_html("<table><tr><td>one<td>two<tr><td>three</table>")
    table = find_first(root, "table")
    rows = table.find_all("tr")
    assert len(rows) == 2
    assert [td.text_content() for td in rows[0].find_all("td")] == ["one", "two"]
    assert [td.text_content() for td in rows[1].find_all("td")] == ["three"]


def test_stray_end_tag_ignored():
    root = parse_html("<div><p>text</p></span></div><p>after</p>")
    assert find_first(root, "div") is not None
    ps = body_or_root(root).find_all("p")
    assert len(ps) == 2


def test_end_tag_pops_to_match():
    root = parse_html("<div><em>a<strong>b</div><p>out</p>")
    div = find_first(root, "div")
    # </div> implicitly closed em/strong; p is outside div
    assert find_first(div, "p") is None


def test_script_style_cdata():
    root = parse_html("<script>if (a < b) { x = '<p>'; }</script><p>real</p>")
    script = find_first(root, "script")
    assert "<p>" in script.text_content()
    assert len(body_or_root(root).find_all("p")) == 1


def test_dt_dd_autoclose():
    root = parse_html("<dl><dt>t1<dd>d1<dt>t2<dd>d2</dl>")
    dl = find_first(root, "dl")
    assert tags(dl) == ["dt", "dd", "dt", "dd"]


def test_never_raises_on_garbage():
    for bad in ["<", "<<<>>>", "<a href='", "</" + "x" * 5000, "<!doctype", "<p" ]:
        parse_html(bad)  # must not raise


def test_document_order_iteration():
    root = parse_html("<div><a>1</a><b><c>2</c></b><d>3</d></div>")
    order = [el.tag for el in find_first(root, "div").iter()]
    assert order == ["div", "a", "b", "c", "d"]


def test_node_cap_bounds_runaway_pages():
    from readembedability_spark.extractor import dom

    html = "<div>" + "<p>x</p>" * (dom.MAX_NODES // 2 + 100)
    root = parse_html(html)
    n = sum(1 for _ in root.iter())
    assert n <= dom.MAX_NODES + 2
    # determinism: same input truncates at the same node
    root2 = parse_html(html)
    assert sum(1 for _ in root2.iter()) == n
