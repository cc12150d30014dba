"""Lenient HTML -> element-tree parser (hast equivalent).

Re-implements the parse stage of the reference pipeline
(rehype-parse, the reference's package-lock.json:16036).  The product
path, ``parse_html``, runs ``_fast_parse``: a regex tokenizer with the
tree building inlined.  There is no fallback parser: an exception in
the parser reaches the caller, and the extraction and boilerplate row
functions turn it into a ``parse_error`` row.  The tree is pinned
against a stdlib ``html.parser`` builder, the oracle of
tests/test_fast_parser.py (tests/stdlib_parser_oracle.py).  The node
model is minimal and hast-like:

    Element(tag, attrs, children)
    Text(value)

Void elements, implied closes for <p>/<li>/<tr>/<td> etc., and character
references are handled so that fixture-grade HTML (unclosed <br>, entities
like &#x26;) parses into the same tree shape rehype-parse would emit.
"""

from __future__ import annotations

import re
from collections import deque


class Text:
    __slots__ = ("value",)

    def __init__(self, value: str):
        self.value = value

    def __repr__(self):  # pragma: no cover
        return f"Text({self.value!r})"


class Element:
    # no parent backrefs: keeps the tree acyclic so refcounting frees it
    # without cyclic-GC walks (matters in long-lived python workers)
    __slots__ = ("tag", "attrs", "children")

    def __init__(self, tag: str, attrs=None):
        self.tag = tag
        self.attrs = dict(attrs or {})
        self.children: list = []

    # -- tree helpers -------------------------------------------------
    def append(self, node):
        self.children.append(node)

    def get(self, name: str, default=None):
        return self.attrs.get(name, default)

    @property
    def classes(self) -> list[str]:
        return (self.attrs.get("class") or "").split()

    def element_children(self) -> list["Element"]:
        return [c for c in self.children if isinstance(c, Element)]

    def find_all(self, tag: str):
        # BFS (deque keeps popleft O(1)); order is part of the contract —
        # find() takes the first BFS match
        out = []
        queue = deque((self,))
        popleft = queue.popleft
        append = queue.append
        while queue:
            n = popleft()
            for c in n.children:
                if isinstance(c, Element):
                    if c.tag == tag:
                        out.append(c)
                    append(c)
        return out

    def find(self, tag: str):
        # same BFS order as find_all, but stops at the first match
        queue = deque((self,))
        popleft = queue.popleft
        append = queue.append
        while queue:
            n = popleft()
            for c in n.children:
                if isinstance(c, Element):
                    if c.tag == tag:
                        return c
                    append(c)
        return None

    def text_content(self) -> str:
        # DFS pre-order = DOCUMENT order: a BFS here moved nested-
        # element text after sibling text ('<code>foo<b>bar</b>baz'
        # read back as 'foobazbar'), scrambling inline-code and
        # metadata harvesting
        parts = []
        stack = list(reversed(self.children))
        while stack:
            c = stack.pop()
            if isinstance(c, Text):
                parts.append(c.value)
            else:
                stack.extend(reversed(c.children))
        return "".join(parts)

    def __repr__(self):  # pragma: no cover
        return f"Element({self.tag}, {self.attrs}, {len(self.children)} kids)"


VOID = {
    "area", "base", "br", "col", "embed", "hr", "img", "input", "link",
    "meta", "param", "source", "track", "wbr",
}

# tags whose open implicitly closes a set of currently-open tags
_IMPLIED_CLOSE = {
    "p": {"p"},
    "li": {"li"},
    "tr": {"tr", "td", "th"},
    "td": {"td", "th"},
    "th": {"td", "th"},
    "thead": {"tr", "td", "th"},
    "tbody": {"thead", "tr", "td", "th"},
    "tfoot": {"tbody", "tr", "td", "th"},
    "option": {"option"},
    "dt": {"dt", "dd"},
    "dd": {"dt", "dd"},
}

# inline formatting tags an implied close may scan through
_FORMATTING = {
    "a", "b", "i", "em", "strong", "u", "s", "small", "span", "code",
    "sub", "sup", "font", "mark",
}

# block-ish tags that implicitly close an open <p>
_P_CLOSERS = {
    "address", "article", "aside", "blockquote", "div", "dl", "fieldset",
    "figure", "footer", "form", "h1", "h2", "h3", "h4", "h5", "h6",
    "header", "hr", "main", "nav", "ol", "pre", "section", "table", "ul",
}


# ---------------------------------------------------------------------------
# fast regex tokenizer (same tree shape as the stdlib html.parser builder
# in tests/stdlib_parser_oracle.py, at ~2x its speed; differentially
# tested by tests/test_fast_parser.py).
# ---------------------------------------------------------------------------

_TAG_RE = re.compile(
    # comment alternatives: '>' / '->' first — HTML5's abruptly-closed
    # empty comments ('<!-->', '<!--->'); a lazy .*? alone would fail to
    # find '-->' and fall through to $, eating the document to EOF.
    # attrs: after quoted/unquoted items, tolerate ONE trailing
    # unterminated quote run (stdlib html.parser ends the tag at '>'
    # for a typo'd quote instead of dropping the whole tag)
    r"<(?:"
    r"!--(?P<comment>>|->|.*?(?:-->|$))"
    r"|!\[CDATA\[(?P<cdata>.*?)(?:\]\]>|$)"
    r"|(?P<decl>![^>]*)>"
    r"|\?(?P<pi>[^>]*)>"
    r"|(?P<close>/)?(?P<name>[a-zA-Z][^\t\n\r\f />]*)"
    r"(?P<attrs>(?:\"[^\"]*\"|'[^']*'|[^\"'>])*(?:\"[^\">]*|'[^'>]*)?)>"
    r")",
    re.S,
)
_ATTR_RE = re.compile(
    r"([^\s=/>]+)(?:\s*=\s*(\"([^\"]*)\"|'([^']*)'|([^\s>]*)))?"
)
# raw-text elements: content is NOT entity-decoded, ends at the literal
# closing tag (matches html.parser CDATA_CONTENT_ELEMENTS).  The close
# scan is case-INsensitive and requires a delimiter after the name:
# '</SCRIPT>' must close (html.parser matches CDATA end tags
# case-insensitively) and '</scripty' must NOT (longer tag names stay
# inside the raw text)
_RAWTEXT = ("script", "style")
_RAWTEXT_END = {
    t: re.compile(rf"</{t}(?=[\t\n\r\f />])", re.I) for t in _RAWTEXT
}


# tags for which _fast_parse must run the implied-close scan at all —
# everything else skips both _close_implied lookups (hot path)
_IMPLIED_ANY = _P_CLOSERS | set(_IMPLIED_CLOSE)

from html import unescape as _unescape  # noqa: E402 - hot-path binding


def _fast_parse(html: str) -> Element:
    # The tree-building is inlined (no _TreeBuilder method dispatch, no
    # re-lowercasing of the already-lowered tag name): byte-identical
    # trees to the oracle's parse_html_stdlib
    # (tests/stdlib_parser_oracle.py), pinned by tests/test_fast_parser.py.
    unescape = _unescape
    tag_match = _TAG_RE.match
    attr_finditer = _ATTR_RE.finditer
    find = html.find
    # slot-direct construction (no __init__ frame, no dict(attrs) copy)
    element_new = Element.__new__
    root = Element("#root")
    stack = [root]
    top = root  # invariant: top is stack[-1]
    pos = 0
    n = len(html)
    while pos < n:
        lt = find("<", pos)
        if lt < 0:
            data = html[pos:]
            if data:
                top.children.append(
                    Text(unescape(data) if "&" in data else data)
                )
            break
        if lt > pos:
            data = html[pos:lt]
            top.children.append(
                Text(unescape(data) if "&" in data else data)
            )
        m = tag_match(html, lt)
        if not m:
            # stray '<' treated as text (lenient)
            top.children.append(Text("<"))
            pos = lt + 1
            continue
        pos = m.end()
        # groups by index (5=close, 6=name, 7=attrs), one call
        close, name, raw_attrs = m.group(5, 6, 7)
        if not name:
            continue  # comment/decl/pi dropped
        if not name.islower():
            # names start with a letter, so islower() is a pure
            # already-lowercase test (no allocation on the common path)
            name = name.lower()
        if close:
            # -- end tag (inline of _TreeBuilder.handle_endtag) --------
            if name not in VOID:
                for i in range(len(stack) - 1, 0, -1):
                    if stack[i].tag == name:
                        del stack[i:]
                        top = stack[-1]
                        break
                # stray close tag: ignore
            continue
        # -- implied closes (inline of _TreeBuilder._close_implied) ----
        if name in _IMPLIED_ANY:
            if name in _P_CLOSERS:
                for i in range(len(stack) - 1, 0, -1):
                    t = stack[i].tag
                    if t == "p":
                        del stack[i:]
                        break
                    if t in ("td", "th", "li", "caption"):
                        break
            closes = _IMPLIED_CLOSE.get(name)
            if closes:
                # scan THROUGH open formatting elements (an unclosed <b>
                # inside a cell must not defeat the implied td/tr/li
                # close); anything non-formatting is a scope boundary
                while True:
                    i = len(stack) - 1
                    while i > 0 and stack[i].tag in _FORMATTING:
                        i -= 1
                    if i > 0 and stack[i].tag in closes:
                        del stack[i:]
                        continue
                    break
            top = stack[-1]
        el = element_new(Element)
        el.tag = name
        el.attrs = attrs = {}
        el.children = []
        last_end = 0
        if raw_attrs:
            for am in attr_finditer(raw_attrs):
                key, dq, sq, uq = am.group(1, 3, 4, 5)
                val = dq if dq is not None else (sq if sq is not None else uq)
                if val is not None and "&" in val:
                    val = unescape(val)
                if not key.islower():
                    key = key.lower()
                # dict insert keeps the LAST duplicate attr, matching
                # _TreeBuilder's dict(attrs-list) construction
                attrs[key] = val
                last_end = am.end()
        top.children.append(el)
        # self-closing ONLY when a '/' sits immediately before '>' AND is
        # not part of an unquoted attribute value (html.parser: the value
        # pattern consumes '/', the name pattern does not; '/ >' is NOT
        # self-closing) — so check what's left AFTER attribute parsing,
        # e.g. <a href=http://x/> is a plain start tag with the '/'
        # inside the value
        if raw_attrs.endswith("/") and last_end < len(raw_attrs):
            continue  # startend tag: appended but never pushed
        if name in VOID:
            continue
        stack.append(el)
        top = el
        if name in _RAWTEXT:
            em = _RAWTEXT_END[name].search(html, pos)
            if em is None:
                data = html[pos:]
                if data:
                    el.children.append(Text(data))
                pos = n
            else:
                end = em.start()
                data = html[pos:end]
                if data:
                    el.children.append(Text(data))
                gt = find(">", end)
                # inline handle_endtag(name): el is the top of stack
                stack.pop()
                top = stack[-1]
                pos = (gt + 1) if gt >= 0 else n
    return root


def parse_html(html: str) -> Element:
    """Parse an HTML string into an element tree; returns the root."""
    return _fast_parse(html)
