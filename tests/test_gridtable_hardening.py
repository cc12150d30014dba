"""Regression tests for the round-5 gridtable review findings
(core/gridtable.py): span clamping, rowspan-overflow crash, wrap
tokenizer adjacency, hard-break placement, '+ ' prose misclassification,
and the grid-area bound.  All scenarios were repro-verified against the
pre-fix code."""

import pytest

from helix_html2md_spark.core import gridtable
from helix_html2md_spark.core.gridtable import (
    _is_atom_line, _wrap_text, min_content_width, wrap_cell,
)
from helix_html2md_spark.core.html2md import html2md
from helix_html2md_spark.core.transform import ConstraintsError
from helix_html2md_spark.operators.extract import extract_row


def _table_md(html):
    return html2md(f"<html><body><main>{html}</main></body></html>")


def test_rowspan_past_last_row_does_not_crash():
    """rowSpan extending past the table's real rows with content taller
    than the spanned height used to IndexError in the height
    distribution; now it clamps to existing rows."""
    tall = "<br>".join(f"line {i} of content" for i in range(8))
    md = _table_md(
        f'<table><tr><td rowspan="5">{tall}</td><td>x</td></tr></table>'
    )
    assert "line 0 of content" in md and "| x" in md


def test_garbage_spans_are_clamped():
    """colspan='99999999' must not allocate an O(colspan) canvas."""
    md = _table_md(
        '<table><tr><td colspan="99999999">a</td></tr>'
        "<tr><td>b</td></tr></table>"
    )
    # the canvas stays bounded: every rendered line is modest
    assert max(len(line) for line in md.splitlines()) < 5000
    assert "| a" in md and "| b" in md


def test_grid_area_bound_fails_fast():
    """25 rows of ten colspan="100000" cells (7 KB of html, 25 x 10,000
    grid) once rendered 2 MB of markdown in over a second.  The grid is
    refused as a constraint error before any cell is rendered, and the
    bound counts grid positions, not cells."""
    html = "<table>" + (
        "<tr>" + '<td colspan="100000">x</td>' * 10 + "</tr>"
    ) * 25 + "</table>"
    with pytest.raises(ConstraintsError, match="more than 100000 cells"):
        _table_md(html)
    res = extract_row(f"<html><body><main>{html}</main></body></html>", [], {})
    assert res["status"] == "constraint_error"
    assert res["error"] == "grid table covers more than 100000 cells"

    def table(nrows, *row):  # nrows copies of one row of colspans
        return {"children": [
            {"type": "gtRow", "children": [{"colSpan": c} for c in row]}
        ] * nrows}

    def never(node):
        raise AssertionError("a refused table renders no cell")

    assert gridtable.MAX_GRID_CELLS == 100_000
    cells, grid, ncols, _, _ = gridtable.layout_rows(
        table(100, 1000), lambda node: [""]
    )
    assert (len(cells), len(grid), ncols) == (100, 100, 1000)
    with pytest.raises(ConstraintsError):
        gridtable.layout_rows(table(101, 1000), never)
    # overlapping spans count every position they cover: on a 100 x 1000
    # grid (at the bound), a 999-wide cell spans all rows and the next
    # row's 1000-wide cell is placed over it
    overlap = {"children": [
        {"type": "gtRow", "children": [
            {"colSpan": 1}, {"colSpan": 999, "rowSpan": 100}]},
    ] + [
        {"type": "gtRow", "children": [{"colSpan": 1000}]}
    ] * 99}
    with pytest.raises(ConstraintsError):
        gridtable.layout_rows(overlap, never)


def test_wrap_keeps_abutting_strong_run_glued():
    """'**bold**suffix' is one word: a soft wrap between the atom and
    its abutting text would re-parse as a space inside the word."""
    lines = _wrap_text("word1 word2 word3 **bold**suffix more", 10, 40)
    assert "**bold**suffix" in lines
    lines2 = _wrap_text("re**bold**ing is one single word here", 8, 40)
    assert "re**bold**ing" in lines2
    # min-content honors the glued unit too
    assert min_content_width(["x **bold**suffix"], 40) >= len(
        "**bold**suffix"
    )


def test_hard_break_backslash_stays_at_line_end():
    """The ' \\' hard-break marker must stay at the end of the (last)
    wrapped line, never wrap onto a line of its own."""
    out = wrap_cell(["alpha beta gamma delta \\", "next line here"], 12, 22)
    assert "\\" not in [line.strip() for line in out]
    joined = [line for line in out if line.endswith(" \\")]
    assert len(joined) == 1 and joined[0].endswith("delta \\")


def test_plus_space_prose_is_wrappable():
    """'+ 41 22 ...' is prose, not a nested gridtable border — it must
    wrap instead of inflating the column to the full line length."""
    line = "+ 41 22 555 0100 is our phone number for all support calls"
    assert not _is_atom_line(line, False)
    assert min_content_width([line], 40) < len(line)
    # real nested-table lines stay atomic: border and content row forms
    assert _is_atom_line("+----+----+", False)
    assert _is_atom_line("| cell text |", False)
    assert _is_atom_line("+=====+", False)
