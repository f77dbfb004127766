"""A-3: stdlib mini-DOM with HTML5-style error recovery.

The reference parses with ``lxml.html`` (BASELINE.json:6); lxml is
unavailable in this sandbox (SURVEY.md §0), so this is a small,
deterministic, error-recovering DOM built on ``html.parser.HTMLParser``.
Behavior is a frozen spec — every auto-close decision is observable
through the byte-identity surface, so rules here must never change
without regenerating golden fixtures.

Recovery rules implemented (subset of the HTML5 tree-construction
algorithm, chosen to cover real-world malformed pages):

- void elements never push onto the open-element stack;
- ``<p>`` auto-closes an open ``<p>`` (and any open block starts by
  closing an open ``<p>``);
- ``<li>`` closes an open ``<li>``; ``<dt>``/``<dd>`` close each other;
- ``<td>``/``<th>`` close an open cell; ``<tr>`` closes cell+row;
- ``<option>`` closes an open ``<option>``;
- a stray end tag with no matching open element is ignored;
- an end tag that matches a non-top open element pops (implicitly
  closing) everything above it.
"""

from __future__ import annotations

from html.parser import HTMLParser

VOID_ELEMENTS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)

#: Elements treated as block-level for textify / paragraph semantics.
BLOCK_ELEMENTS = frozenset(
    (
        "address article aside blockquote body caption center dd details dialog "
        "dir div dl dt fieldset figcaption figure footer form h1 h2 h3 h4 h5 h6 "
        "header hgroup hr html li main menu nav ol p pre section summary table "
        "tbody td tfoot th thead tr ul"
    ).split()
)

#: Start of any of these implicitly closes an open <p>.
_P_CLOSERS = frozenset(
    (
        "address article aside blockquote details dialog dir div dl fieldset "
        "figcaption figure footer form h1 h2 h3 h4 h5 h6 header hgroup hr main "
        "menu nav ol p pre section table ul li dt dd tr td th"
    ).split()
)

# tag being opened -> set of open tags it implicitly closes (nearest first)
_SIBLING_CLOSERS = {
    "li": frozenset(["li"]),
    "dt": frozenset(["dt", "dd"]),
    "dd": frozenset(["dt", "dd"]),
    "td": frozenset(["td", "th"]),
    "th": frozenset(["td", "th"]),
    "tr": frozenset(["td", "th", "tr"]),
    "option": frozenset(["option"]),
    "optgroup": frozenset(["option", "optgroup"]),
    "thead": frozenset(["td", "th", "tr", "tbody", "thead", "tfoot"]),
    "tbody": frozenset(["td", "th", "tr", "tbody", "thead", "tfoot"]),
    "tfoot": frozenset(["td", "th", "tr", "tbody", "thead", "tfoot"]),
}

#: Implicit-close scan stops at these boundaries (don't close across them).
_SCOPE_BOUNDARIES = frozenset(
    ["table", "td", "th", "caption", "body", "html", "ol", "ul", "dl", "select"]
)


class Element:
    """One DOM element. Children are ``Element`` or ``str`` (text)."""

    __slots__ = ("tag", "attrs", "children", "parent")

    def __init__(self, tag: str, attrs: dict[str, str] | None = None, parent=None):
        self.tag = tag
        self.attrs = attrs or {}
        self.children: list[Element | str] = []
        self.parent: Element | None = parent

    def get(self, name: str, default: str | None = None) -> str | None:
        return self.attrs.get(name, default)

    # -- traversal helpers -------------------------------------------------

    def iter(self):
        """Depth-first pre-order over elements (self included)."""
        stack = [self]
        pop, push = stack.pop, stack.append
        while stack:
            el = pop()
            yield el
            # a plain loop: a generator expression per node costs more
            # than the few children it filters
            for c in reversed(el.children):
                if isinstance(c, Element):
                    push(c)

    def find_all(self, *tags: str):
        wanted = frozenset(tags)
        return [el for el in self.iter() if el.tag in wanted]

    def text_content(self) -> str:
        """All descendant text, concatenated raw (no whitespace rules)."""
        parts: list[str] = []
        stack: list[Element | str] = [self]
        while stack:
            n = stack.pop()
            if isinstance(n, str):
                parts.append(n)
            else:
                stack.extend(reversed(n.children))
        return "".join(parts)

    def remove_child(self, child) -> None:
        self.children.remove(child)
        if isinstance(child, Element):
            child.parent = None

    def classes_and_id(self) -> str:
        return (self.attrs.get("class", "") + " " + self.attrs.get("id", "")).strip()

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"<Element {self.tag} children={len(self.children)}>"


#: Structural runaway guard (SURVEY.md §4 straggler handling): pages
#: yielding more than this many DOM nodes stop accreting content —
#: bounds worst-case parse/score time deterministically (no wall-clock
#: interrupts, so the byte-identity invariant is preserved: the same
#: page always truncates at the same node).
MAX_NODES = 300_000


class _TreeBuilder(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = Element("#document")
        self.stack: list[Element] = [self.root]
        self.n_nodes = 0

    # -- implicit-close machinery -----------------------------------------

    def _close_implicit(self, tag: str) -> None:
        closers = _SIBLING_CLOSERS.get(tag)
        if closers:
            # HTML5-style scoped scan: look down the stack for the deepest
            # closable element (e.g. <tr> closes an open td AND its row;
            # <li> closes an li even across a transparent <div>), stopping
            # at scope boundaries (table/cell/list/select containers).
            cut = None
            for i in range(len(self.stack) - 1, 0, -1):
                t = self.stack[i].tag
                if t in closers:
                    cut = i
                elif t in _SCOPE_BOUNDARIES:
                    break
            if cut is not None:
                del self.stack[cut:]
        if tag in _P_CLOSERS:
            for i in range(len(self.stack) - 1, 0, -1):
                t = self.stack[i].tag
                if t == "p":
                    del self.stack[i:]
                    break
                if t in _SCOPE_BOUNDARIES:
                    break

    # -- HTMLParser callbacks ---------------------------------------------

    def updatepos(self, i: int, j: int) -> int:
        # the base class counts newlines here only to keep getpos()'s
        # line/offset current; nothing reads them, so skip the count
        return j

    def _append(self, tag: str, attrs) -> Element | None:
        if self.n_nodes >= MAX_NODES:
            return None
        self.n_nodes += 1
        self._close_implicit(tag)
        # first occurrence of an attribute wins; None value -> ""
        adict: dict[str, str] = {}
        for k, v in attrs:
            if k not in adict:
                adict[k] = v if v is not None else ""
        parent = self.stack[-1]
        el = Element(tag, adict, parent)
        parent.children.append(el)
        return el

    def handle_starttag(self, tag: str, attrs) -> None:
        el = self._append(tag, attrs)
        if el is not None and tag not in VOID_ELEMENTS:
            self.stack.append(el)

    def handle_startendtag(self, tag: str, attrs) -> None:
        # <tag/> — treat as immediately-closed (never pushes)
        self._append(tag, attrs)

    def handle_endtag(self, tag: str) -> None:
        if tag in VOID_ELEMENTS:
            return
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                return
        # stray end tag: ignore

    def handle_data(self, data: str) -> None:
        if data and self.n_nodes < MAX_NODES:
            self.n_nodes += 1
            self.stack[-1].children.append(data)

    # comments, declarations, PIs are dropped deliberately


def parse_html(text: str) -> Element:
    """Parse an HTML string into a mini-DOM; never raises on bad markup.

    Returns the ``#document`` root. ``html.parser`` is tolerant by design
    and handles ``<script>``/``<style>`` as raw text (CDATA) natively.
    """
    builder = _TreeBuilder()
    try:
        builder.feed(text)
        builder.close()
    except Exception:
        # html.parser very rarely raises (e.g. on pathological declarations);
        # keep whatever tree was built so far.
        pass
    return builder.root


def free_tree(root: Element) -> None:
    """Break parent/child reference cycles so the whole tree dies by
    refcount, without cyclic-GC involvement.

    Element.parent makes every tree a cycle; at mapInPandas throughput
    (~500k DOM nodes per Arrow batch) leaving those to the cyclic
    collector forces repeated full-heap gen2 scans in every worker —
    measured as multi-second jitter per partition. Called by
    extract_page after each page.
    """
    stack = [root]
    push = stack.append
    while stack:
        el = stack.pop()
        children = el.children
        el.parent = None
        el.children = []
        for c in children:
            if isinstance(c, Element):
                push(c)


def find_first(root: Element, *tags: str) -> Element | None:
    wanted = frozenset(tags)
    for el in root.iter():
        if el.tag in wanted:
            return el
    return None


def body_or_root(root: Element) -> Element:
    """The <body> element if present, else the document root."""
    return find_first(root, "body") or root
