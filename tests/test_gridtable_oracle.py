"""Differential test of the row-wise gridtable renderer against the canvas
renderer it replaced (tests/gridtable_canvas_oracle.py): random gridTable
trees — header and body parts, bare rows, colspans and rowspans (past
the last row, overlapping, clamped), holes, align/valign markers, and
cell lines with ``**strong**`` atoms, fences, nested-table lines, lists,
quotes, hard breaks and empty lines — must render to the same bytes."""

from hypothesis import given, settings, strategies as st

from helix_html2md_spark.core.gridtable import render_gridtable
from tests import gridtable_canvas_oracle as oracle

WORDS = st.sampled_from([
    "a", "spark", "gridtable", "x" * 30, "y" * 70, "**bold**", "**strong run**",
    "**" + " ".join(["long"] * 12) + "**", "`code`", "[l](u)", "*em*", "re**b**ed",
])

LINES = st.one_of(
    st.lists(WORDS, min_size=1, max_size=14).map(" ".join),
    st.sampled_from([
        "", "```", "~~~", "    indented code", "# heading", "- list item text",
        "1. numbered item", "> quoted text that runs on", "hard break \\",
        "+----+----+", "| nested | cell |", "+====+", "  leading spaces",
        "+ 41 22 555 0100 is prose", "\\* escaped",
    ]),
)

SPAN = st.one_of(
    st.none(), st.integers(1, 3), st.integers(1, 3), st.sampled_from([0, 5, 40]),
)


@st.composite
def cells(draw):
    return {
        "type": "gtCell",
        "colSpan": draw(SPAN),
        "rowSpan": draw(st.one_of(st.none(), st.integers(1, 4), st.just(99))),
        "align": draw(st.sampled_from(
            [None, None, "left", "center", "right", "justify", "bogus"])),
        "valign": draw(st.sampled_from(
            [None, None, "top", "middle", "bottom", "bogus"])),
        "lines": draw(st.lists(LINES, max_size=5)),
    }


ROWS = st.builds(
    lambda cs: {"type": "gtRow", "children": cs},
    st.lists(cells(), max_size=5),
)


@st.composite
def tables(draw):
    parts = []
    for _ in range(draw(st.integers(0, 3))):
        kind = draw(st.sampled_from(["gtHeader", "gtBody", "gtRow"]))
        if kind == "gtRow":
            parts.append(draw(ROWS))
        else:
            parts.append(
                {"type": kind, "children": draw(st.lists(ROWS, max_size=4))}
            )
    return {"type": "gridTable", "children": parts}


def render_cell(node):
    return list(node["lines"]) or [""]


@given(tables())
@settings(max_examples=400, deadline=None)
def test_row_wise_renderer_matches_canvas_oracle(table):
    assert render_gridtable(table, render_cell) == oracle.render_gridtable(
        table, render_cell
    )
