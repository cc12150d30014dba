"""The stdlib ``html.parser`` tree builder, kept as the differential
oracle of ``core/dom.py::_fast_parse``.

This is the parser the package shipped as ``parse_html``'s fallback: an
``HTMLParser`` subclass whose callbacks build the same minimal tree
(``Element``/``Text``), with the void elements, implied closes and
formatting scan-through of ``core/dom.py``.  ``_fast_parse`` inlines
this builder around a regex tokenizer; ``tests/test_fast_parser.py``
parses fixtures, synthetic pages and random HTML with both and asserts
identical trees.
"""

from __future__ import annotations

from html.parser import HTMLParser

from helix_html2md_spark.core.dom import (
    VOID, _FORMATTING, _IMPLIED_CLOSE, _P_CLOSERS, Element, Text,
)


class _TreeBuilder(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.root = Element("#root")
        self.stack: list[Element] = [self.root]

    # -- helpers ------------------------------------------------------
    def _cur(self) -> Element:
        return self.stack[-1]

    def _close_implied(self, tag: str):
        # close <p> when a block tag opens
        if tag in _P_CLOSERS:
            for i in range(len(self.stack) - 1, 0, -1):
                if self.stack[i].tag == "p":
                    del self.stack[i:]
                    break
                if self.stack[i].tag in ("td", "th", "li", "caption"):
                    break
        closes = _IMPLIED_CLOSE.get(tag)
        if closes:
            # scan THROUGH open formatting elements (an unclosed <b>
            # inside a cell must not defeat the implied td/tr/li close —
            # browsers close the cell regardless); anything non-
            # formatting is a scope boundary and blocks the close
            while True:
                i = len(self.stack) - 1
                while i > 0 and self.stack[i].tag in _FORMATTING:
                    i -= 1
                if i > 0 and self.stack[i].tag in closes:
                    del self.stack[i:]
                    continue
                break

    # -- parser callbacks ----------------------------------------------
    def handle_starttag(self, tag, attrs):
        tag = tag.lower()
        self._close_implied(tag)
        el = Element(tag, attrs)
        self._cur().append(el)
        if tag not in VOID:
            self.stack.append(el)

    def handle_startendtag(self, tag, attrs):
        tag = tag.lower()
        self._close_implied(tag)
        self._cur().append(Element(tag, attrs))

    def handle_endtag(self, tag):
        tag = tag.lower()
        if tag in VOID:
            return
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                return
        # stray close tag: ignore

    def handle_data(self, data):
        if data:
            self._cur().append(Text(data))


def parse_html_stdlib(html: str) -> Element:
    """Reference tree builder on stdlib html.parser (oracle)."""
    p = _TreeBuilder()
    p.feed(html)
    p.close()
    return p.root
