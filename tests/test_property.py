"""Property-based robustness: arbitrary HTML never crashes the transform
and the output-span invariant always holds (hypothesis)."""

import string

from hypothesis import given, settings, strategies as st

from helix_html2md_spark.core.dom import _fast_parse
from helix_html2md_spark.core.html2md import html2md
from helix_html2md_spark.core.transform import ConstraintsError
from helix_html2md_spark.operators.extract import decompose_md

TAGS = [
    "div", "p", "h1", "h2", "span", "em", "strong", "ul", "li", "table",
    "tr", "td", "br", "img", "a", "pre", "code", "blockquote", "main",
]

text_st = st.text(
    alphabet=string.ascii_letters + string.digits + " .,:*_[]|<>&#\\`'\"-",
    max_size=40,
)


@st.composite
def html_fragment(draw, depth=0):
    if depth > 3:
        return draw(text_st)
    parts = []
    for _ in range(draw(st.integers(0, 4))):
        kind = draw(st.integers(0, 3))
        if kind == 0:
            parts.append(draw(text_st))
        elif kind == 1:
            tag = draw(st.sampled_from(TAGS))
            inner = draw(html_fragment(depth=depth + 1))
            parts.append(f"<{tag}>{inner}</{tag}>")
        elif kind == 2:
            tag = draw(st.sampled_from(TAGS))
            parts.append(f"<{tag}>")  # unclosed
        else:
            parts.append(draw(st.sampled_from(["&amp;", "&#x26;", "&bogus;", "<!-- c -->"])))
    return "".join(parts)


@given(html_fragment())
@settings(max_examples=150, deadline=None)
def test_never_crashes_and_invariant_holds(fragment):
    html = f"<html><body><main><div>{fragment}</div></main></body></html>"
    try:
        md = html2md(html, {})
    except ConstraintsError:
        return  # valid outcome (bad json-ld etc.)
    md = md.strip()
    spans = decompose_md(md)
    assert "".join(s["text"] for s in spans) == md
    assert [s["order"] for s in spans] == list(range(len(spans)))


@given(st.text(max_size=200))
@settings(max_examples=100, deadline=None)
def test_arbitrary_text_roundtrip(text):
    # a fixed alphanumeric sentinel rides along with the arbitrary
    # text: beyond no-crash, the paragraph CONTENT must survive into
    # the markdown (a transform regressing to empty output would
    # otherwise sail through all 100 examples)
    html = f"<main><div><p>sentinelXYZ {text}</p></div></main>"
    md = html2md(html, {})
    assert isinstance(md, str)
    assert "sentinelXYZ" in md


# markup pieces where a regex tokenizer can go wrong: unterminated
# comments, CDATA, raw-text elements, entities and quotes
_HOSTILE = st.sampled_from([
    "<", ">", "</", "/>", "<!--", "-->", "<!-->", "<![CDATA[", "]]>", "<!",
    "<?", "<script>", "</script", "</SCRIPT>", "<style>", "</style ",
    "&", "&#", "&#x", "&#x26;", "&amp", "&bogus;", '"', "'", "=",
    "<a href=", "<td colspan=", "<p ", "<br/", "\x00", "\ud800",
])


@given(st.one_of(
    html_fragment(),
    st.text(),
    st.lists(st.one_of(_HOSTILE, text_st), max_size=30).map("".join),
))
@settings(max_examples=400, deadline=None)
def test_fast_parse_never_raises(html):
    # parse_html has no fallback parser: an exception here would turn
    # the document into a parse_error row
    assert _fast_parse(html).tag == "#root"
