"""Fast regex HTML tokenizer vs the stdlib oracle
(tests/stdlib_parser_oracle.py): tree-identical on all fixtures, the
synthetic corpus and the golden digest set's pages and gridtable cases;
output-identical on structured random HTML."""

import random
import string
from pathlib import Path

from helix_html2md_spark.core.dom import Text, _fast_parse
from tests.stdlib_parser_oracle import parse_html_stdlib

FIX = Path("/root/reference/test/fixtures")


def dump(node):
    out = []
    stack = [(node, 0)]
    while stack:
        n, d = stack.pop()
        if isinstance(n, Text):
            out.append(("T", d, n.value))
        else:
            out.append(("E", d, n.tag, tuple(sorted(n.attrs.items()))))
            for c in reversed(n.children):
                stack.append((c, d + 1))
    return out


def test_fixtures_tree_identical():
    for p in sorted(FIX.glob("*.html")):
        h = p.read_text()
        assert dump(parse_html_stdlib(h)) == dump(_fast_parse(h)), p.stem


def test_synthetic_tree_identical():
    """In-repo HTML through both parsers: synthetic documents, the
    golden digest set's small_pages pages and its gridtable edge cases."""
    from helix_html2md_spark.operators.extract import assemble_html
    from helix_html2md_spark.sources.synthetic import gen_doc
    from tests.golden_synth_inputs import GRID_CASES, _main, page_docs

    for i in range(40):
        h = assemble_html(gen_doc(42, i)["spans"])
        assert dump(parse_html_stdlib(h)) == dump(_fast_parse(h)), i
    for doc_id, h, _media in page_docs():
        assert dump(parse_html_stdlib(h)) == dump(_fast_parse(h)), doc_id
    for name, body in GRID_CASES:
        h = _main(body)
        assert dump(parse_html_stdlib(h)) == dump(_fast_parse(h)), name


def test_unquoted_attr_trailing_slash():
    """An unquoted attribute value ending in '/' must NOT make the tag
    self-closing (html.parser: the value pattern consumes the '/')."""
    cases = [
        '<a href=http://example.com/>click</a>',
        '<a href=/docs/>click</a>',
        "<div data-x=a/>inside</div>",
        "<br/>",  # still self-closing
        '<img src="x.png"/>',  # quoted value + '/>' still self-closing
        "<input disabled/>",  # valueless attr + '/>' still self-closing
        "<a href=x/ >t</a>",
    ]
    for h in cases:
        assert dump(parse_html_stdlib(h)) == dump(_fast_parse(h)), h
    # the anchor must CONTAIN its text and keep the full value
    tree = _fast_parse("<a href=http://example.com/>click</a>")
    a = tree.children[0]
    assert a.tag == "a" and a.attrs["href"] == "http://example.com/"
    assert isinstance(a.children[0], Text) and a.children[0].value == "click"


def test_attr_syntax_fuzz_tree_identical():
    """Differential fuzz over attribute syntax variants: quoted /
    unquoted (incl. values ending in '/') / valueless / self-closing."""
    rng = random.Random(23)
    vals = ["x", "http://e.com/", "/a/b/", "a-b_c", "q?r=1/", ""]

    def attr():
        k = rng.choice(["href", "src", "data-x", "alt", "disabled"])
        style = rng.randrange(4)
        if style == 0:
            return k
        v = rng.choice(vals)
        if style == 1:
            return f'{k}="{v}"'
        if style == 2:
            return f"{k}='{v}'"
        return f"{k}={v}" if v else k
    for _ in range(300):
        attrs = " ".join(attr() for _ in range(rng.randint(0, 3)))
        slash = rng.choice(["", "/", " /", "/ "])
        tag = rng.choice(["a", "span", "div", "br", "img"])
        h = f"<p>t1<{tag} {attrs}{slash}>t2</{tag}>t3</p>"
        assert dump(parse_html_stdlib(h)) == dump(_fast_parse(h)), h


def test_structured_random_output_identical():
    import helix_html2md_spark.core.html2md as H
    from helix_html2md_spark.core.transform import ConstraintsError

    rng = random.Random(11)
    alpha = string.ascii_letters + ' ="&;#x-'
    tags = ["div", "p", "ul", "li", "em", "strong", "pre", "code", "br",
            'a href="#"', 'img src="a.png"']

    def md(parser, h):
        orig = H.parse_html
        H.parse_html = parser
        try:
            return H.html2md(h, {})
        except ConstraintsError as e:
            return f"CE:{e}"
        finally:
            H.parse_html = orig

    for _ in range(120):
        parts = []
        for _ in range(rng.randint(1, 6)):
            tag = rng.choice(tags)
            body = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 25)))
            close = f"</{tag.split()[0]}>" if rng.random() < 0.8 else ""
            parts.append(f"<{tag}>{body}{close}")
        h = "<main><div>" + "".join(parts) + "</div></main>"
        assert md(parse_html_stdlib, h) == md(_fast_parse, h), h
