"""Inputs and digests of ``data/golden_synth_md.parquet``.

The frozen end-to-end oracle of the HTML extraction path: every
document below goes through ``operators.extract.extract_row`` and is
reduced to ``(doc_id, status, md_md5, spans_md5)``.  Three groups:

* ``zipf:*``  — the 1000 seed-1 ``zipf_html`` documents, built by
  ``perfbench.corpus`` exactly as the benchmark builds them, run with
  the benchmark's defaults (media rewrite on);
* ``page:*``  — the first 50 seed-1 ``small_pages`` pages
  (boilerplate fallback on);
* ``grid:*``  — hand-written gridtable edge cases (spans, header,
  align/valign, atoms, fences, nested tables, hard breaks, holes).

``scratch/gen_golden_synth.py`` writes the parquet from these inputs;
``tests/test_golden_synth.py`` recomputes it.
"""

from __future__ import annotations

import hashlib

ZIPF_SEED = 1
ZIPF_DOCS = 1000
PAGES = 50
RS, FS = "\x1e", "\x1f"


def _main(body: str) -> str:
    return f"<html><body><main>{body}</main></body></html>"


_TALL = "<br>".join(f"line {i} of content" for i in range(8))
_LONG = (
    "Lorem ipsum dolor sit amet, consectetur adipiscing elit, sed do "
    "eiusmod tempor incididunt ut labore et dolore magna aliqua. Ut enim "
    "ad minim veniam, quis nostrud exercitation ullamco laboris nisi."
)
_STRONG31 = "<strong>" + "x" * 27 + "</strong>"
_STRONG46 = "<strong>" + " ".join(["word"] * 9) + "</strong>"


def _row(*cells: str) -> str:
    return "<tr>" + "".join(cells) + "</tr>"


# (name, table html) — each becomes one <main> document
GRID_CASES = [
    ("rowspan_past_last_row",
     f'<table><tr><td rowspan="5">{_TALL}</td><td>x</td></tr></table>'),
    ("colspan_clamp",
     '<table><tr><td colspan="99999999">a</td></tr><tr><td>b</td></tr></table>'),
    ("header",
     "<table><thead><tr><th>Name</th><th>Value</th></tr></thead><tbody>"
     + _row("<td>alpha</td>", "<td>1</td>")
     + _row("<td>beta</td>", f"<td>{_LONG}</td>") + "</tbody></table>"),
    ("header_only",
     "<table><thead><tr><th>A</th><th>B</th></tr></thead></table>"),
    ("header_rowspan",
     '<table><thead><tr><th rowspan="2">H</th><th>top</th></tr>'
     "<tr><th>second</th></tr></thead><tbody>"
     + _row("<td>a</td>", "<td>b</td>") + "</tbody></table>"),
    ("align_valign",
     "<table>"
     + _row('<td data-align="left">l</td>', '<td data-align="center">c</td>',
            '<td data-align="right">r</td>', '<td data-align="justify">j</td>')
     + _row('<td data-valign="top">t</td>', '<td data-valign="middle">m</td>',
            '<td data-valign="bottom">b</td>',
            '<td data-align="center" data-valign="middle">cm</td>')
     + _row('<td colspan="2" data-align="right" data-valign="bottom">wide</td>',
            '<td rowspan="2" data-align="center">tall</td>', "<td>z</td>")
     + _row("<td>p</td>", "<td>q</td>", "<td>s</td>")
     + "</table>"),
    ("strong_atoms_4col",
     "<table>"
     + _row(f"<td>{_STRONG31} tail words here</td>",
            f"<td>{_STRONG46} and more</td>", "<td>c</td>", "<td>d</td>")
     + _row("<td>short</td>", f"<td>{_LONG}</td>", "<td>e</td>", "<td>f</td>")
     + "</table>"),
    ("fence_in_cell",
     "<table>" + _row(
         "<td><pre><code>def f(x):\n    return x * 2\n</code></pre></td>",
         f"<td>{_LONG}</td>") + "</table>"),
    ("nested_table",
     "<table>" + _row(
         "<td><table>" + _row("<td>in1</td>", "<td>in2</td>")
         + _row('<td colspan="2">in3</td>') + "</table></td>",
         "<td>outer</td>") + "</table>"),
    ("hard_breaks",
     "<table>" + _row(
         "<td>alpha beta gamma delta epsilon zeta eta theta iota kappa "
         "lambda mu<br>nu xi omicron<br>pi</td>",
         f"<td>{_LONG}<br>{_LONG}</td>") + "</table>"),
    ("empty_cells",
     "<table>" + _row("<td></td>", "<td>x</td>", "<td></td>")
     + _row("<td></td>", "<td></td>", "<td></td>") + "</table>"),
    ("empty_table", "<table></table>"),
    ("empty_row",
     "<table><tr></tr>" + _row("<td>a</td>", "<td>b</td>") + "</table>"),
    ("short_rows_fill",
     "<table>" + _row("<td>a</td>", "<td>b</td>", "<td>c</td>")
     + _row("<td>d</td>") + _row("<td>e</td>", "<td>f</td>") + "</table>"),
    ("hole_after_rowspan",
     "<table>" + _row("<td>x</td>", "<td>y</td>", '<td rowspan="2">z</td>')
     + _row("<td>w</td>") + "</table>"),
    ("mixed_spans",
     "<table>"
     + _row("<td>a</td>", '<td rowspan="2">tall cell with text</td>', "<td>c</td>")
     + _row("<td>d</td>", "<td>e</td>")
     + _row('<td colspan="2">wide cell</td>', "<td>f</td>")
     + _row('<td colspan="3">full</td>')
     + "</table>"),
    ("adjacent_rowspans",
     "<table>"
     + _row('<td rowspan="3">A</td>', '<td rowspan="3">B</td>', "<td>1</td>")
     + _row("<td>2</td>") + _row("<td>3</td>") + _row("<td>x</td>", "<td>y</td>",
                                                      "<td>z</td>")
     + "</table>"),
    ("rowspan_taller_than_rows",
     "<table>"
     + _row("<td>a</td>", f'<td rowspan="2">{_TALL}</td>', "<td>b</td>")
     + _row("<td>c</td>", "<td>d</td>") + _row("<td>e</td>", "<td>f</td>",
                                                "<td>g</td>")
     + "</table>"),
    ("lists_quotes_links",
     "<table>" + _row(
         "<td><ul><li>one item that is fairly long to wrap around</li>"
         "<li>two</li></ul><blockquote>quoted text that goes on and on and on"
         " and on</blockquote></td>",
         '<td><a href="https://example.com/a/very/long/link/target">link</a>'
         " and <code>inline code</code> with <em>emphasis</em></td>")
     + "</table>"),
    ("wide_12_columns",
     "<table>"
     + _row(*[f"<td>column {i} text here</td>" for i in range(12)])
     + _row(*[f"<td>{i}</td>" for i in range(11)])
     + "</table>"),
    ("block_divs",
     '<div class="columns"><div><div>a</div><div>b</div><div>c</div></div>'
     "<div><div>only</div></div></div>"
     '<div class="section-metadata"><div><div>Style</div><div>dark</div>'
     "</div></div>"),
]


def zipf_docs():
    """(doc_id, html, media) of the seed-1 zipf_html corpus."""
    from perfbench.corpus import _zipf_table
    from perfbench.workloads import _html_of, _media_of

    for row in _zipf_table(ZIPF_SEED, ZIPF_DOCS).to_pylist():
        yield row["doc_id"], _html_of(row["spans"]), _media_of(row["spans"])


def page_docs():
    """(doc_id, html, media) of the first seed-1 small_pages pages."""
    from perfbench.corpus import _pages_table

    t = _pages_table(ZIPF_SEED, PAGES)
    for doc_id, spans in zip(
        t.column("doc_id").to_pylist(), t.column("spans").to_pylist()
    ):
        yield doc_id, spans[0]["text"], []


def inputs():
    """(doc_id, html, media, defaults) of every golden document."""
    from perfbench.corpus import PAGE_DEFAULTS, ZIPF_DEFAULTS

    for doc_id, html, media in zipf_docs():
        yield doc_id, html, media, ZIPF_DEFAULTS
    for doc_id, html, media in page_docs():
        yield doc_id, html, media, PAGE_DEFAULTS
    for name, body in GRID_CASES:
        yield f"grid:{name}", _main(body), [], {}


def versions() -> dict:
    """Generator versions the zipf_html and small_pages inputs depend on."""
    from perfbench.corpus import CORPUS_VERSION
    from helix_html2md_spark.sources.synthetic import GEN_VERSION

    return {"GEN_VERSION": str(GEN_VERSION), "CORPUS_VERSION": str(CORPUS_VERSION)}


def _md5(s: str) -> str:
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def digest_rows():
    """(doc_id, status, md_md5, spans_md5) of every golden document."""
    from helix_html2md_spark.operators.extract import extract_row

    for doc_id, html, media, defaults in inputs():
        res = extract_row(html, media, defaults)
        spans = RS.join(
            FS.join((s["kind"], s["text"], s["media_ref"], str(s["order"])))
            for s in res["spans"]
        )
        yield doc_id, res["status"], _md5(res["md"]), _md5(spans)
