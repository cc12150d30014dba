"""The canvas gridtable renderer, kept as the differential oracle of
``core/gridtable.py::render_gridtable``.

This is the renderer the package shipped before the row-wise one: an
occupancy dict keyed ``(row << 32) | col`` places the cells, and the
table is drawn onto a ``total_h x total`` grid of one-character lists
(borders, then alignment markers, then cell content), whose rows are
joined and right-stripped.  Width computation and wrapping are the
pre-row-wise versions too; the tokenizer and line classifiers it shares
with the package did not change.  ``tests/test_gridtable_oracle.py``
renders random gridTable trees with both and asserts equal bytes.
"""

from __future__ import annotations

import math

from helix_html2md_spark.core.gridtable import (
    ATOM_SLACK, LINE_WIDTH, _LIST_RE, _QUOTE_RE, _fence_match,
    _is_atom_line, _tokenize,
)

_OCC_SHIFT = 32


def _wrap_text(text: str, width: int, atom_limit: int) -> list[str]:
    if len(text) <= width:
        return [text]
    toks = _tokenize(text, atom_limit)
    lines: list[str] = []
    cur = ""
    cur_sp = ""
    for w, sp in toks:
        cand = cur + cur_sp + w if cur else w
        if cur and len(cand) > width:
            lines.append(cur)
            cur = w
        else:
            cur = cand
        cur_sp = sp
    if cur:
        lines.append(cur)
    return lines or [""]


def min_content_width(lines: list[str], atom_limit: int, floor: int = 0) -> int:
    """Longest unbreakable unit across the cell's rendered lines.

    ``floor``: callers take max(share, result), so lines shorter than the
    share can be skipped entirely (hot path)."""
    best = floor
    in_fence = False
    for line in lines:
        fm = _fence_match(line)
        if len(line) <= best:
            pass  # cannot raise the max
        elif _is_atom_line(line, in_fence):
            best = len(line)
        else:
            m = _LIST_RE.match(line)
            q = _QUOTE_RE.match(line)
            prefix = len(m.group(0)) if m else (len(q.group(0)) if q else 0)
            body = line[prefix:]
            for w, _sp in _tokenize(body, atom_limit):
                lw = prefix + len(w)
                if lw > best:
                    best = lw
        if fm:
            in_fence = not in_fence
    return best


def wrap_cell(lines: list[str], width: int, atom_limit: int) -> list[str]:
    """Re-wrap rendered cell lines at ``width``.

    Consecutive plain (wrappable) lines belonging to one paragraph are
    joined before re-wrapping (soft line breaks re-flow, json-ld.md:3-8).
    Hard-break lines (ending ``\\``) stay separate.
    """
    if len(lines) == 1 and len(lines[0]) <= width:
        # single line that already fits: every branch below reproduces it
        # verbatim (fence/atom/empty pass through; prefix+body re-concats;
        # _wrap_text returns a fitting body unchanged — len(body) <=
        # width - len(prefix) by construction)
        return lines
    out: list[str] = []
    in_fence = False
    i = 0
    n = len(lines)
    while i < n:
        line = lines[i]
        fm = _fence_match(line)
        if fm:
            out.append(line)
            in_fence = not in_fence
            i += 1
            continue
        if in_fence or line == "" or _is_atom_line(line, in_fence):
            out.append(line)
            i += 1
            continue
        m = _LIST_RE.match(line)
        q = _QUOTE_RE.match(line)
        if m:
            prefix, cont = m.group(0), " " * len(m.group(0))
            body = line[len(prefix):]
            j = i  # list item bodies are single lines already
        elif q:
            prefix = q.group(0)
            cont = prefix
            body = line[len(prefix):]
            j = i
        else:
            prefix, cont = "", ""
            body = line
            j = i
            # join following plain lines of the same paragraph
            while (
                j + 1 < n
                and lines[j + 1] != ""
                and not lines[j].rstrip().endswith("\\")
                and not _fence_match(lines[j + 1])
                and not _is_atom_line(lines[j + 1], False)
                and not _LIST_RE.match(lines[j + 1])
                and not _QUOTE_RE.match(lines[j + 1])
            ):
                body = body + " " + lines[j + 1]
                j += 1
        # a hard-break line's trailing ' \' must stay at the END of its
        # (last) wrapped line: as a free token the backslash can wrap
        # onto a line of its own, which both moves the break and inserts
        # a soft break (a space) before it
        hard_tail = ""
        if len(body) > 2 and body.endswith(" \\"):
            hard_tail = " \\"
            body = body[:-2]
        wrapped = _wrap_text(body, max(width - len(prefix), 1), atom_limit)
        if hard_tail:
            wrapped[-1] += hard_tail
        for k, wl in enumerate(wrapped):
            out.append((prefix if k == 0 else cont) + wl)
        i = j + 1
    return out


class _Cell:
    __slots__ = (
        "node", "lines", "col", "row", "colspan", "rowspan",
        "align", "valign", "in_header",
    )

    def __init__(self, node, lines, row, col, in_header):
        self.node = node
        self.lines = lines
        self.row = row
        self.col = col
        # clamp to the browser limits (HTML spec: colspan <= 1000,
        # rowspan <= 65534) — unclamped garbage values make the
        # occupancy fill loop O(colspan*rowspan) and the canvas
        # allocation unbounded (a 30-byte <td colspan="99999999">
        # otherwise OOMs the executor)
        self.colspan = min(1000, max(1, int(node.get("colSpan", 1) or 1)))
        self.rowspan = min(65534, max(1, int(node.get("rowSpan", 1) or 1)))
        self.align = node.get("align")
        self.valign = node.get("valign")
        self.in_header = in_header


def layout_rows(table_node, render_cell):
    """Flatten gridTable node -> (cells, nrows, ncols, header_end_row)."""
    rows = []
    header_rows = 0
    for part in table_node.get("children", []):
        pt = part["type"]
        if pt == "gtRow":
            rows.append((part, False))
        else:
            is_header = pt == "gtHeader"
            for r in part.get("children", []):
                rows.append((r, is_header))
            if is_header:
                header_rows = len(rows)
    occupied: dict[int, _Cell] = {}
    cells: list[_Cell] = []
    ncols = 0
    for ri, (row, in_header) in enumerate(rows):
        ci = 0
        base = ri << _OCC_SHIFT
        for cn in row.get("children", []):
            while base | ci in occupied:
                ci += 1
            cell = _Cell(cn, None, ri, ci, in_header)
            # a rowSpan reaching past the last table row is sloppy but
            # common HTML; clamp to the rows that exist or the height
            # distribution indexes past `heights` (and the occupancy
            # fill wastes rowspan*colspan entries on phantom rows)
            cell.rowspan = min(cell.rowspan, len(rows) - ri)
            cells.append(cell)
            for dr in range(cell.rowspan):
                rbase = (ri + dr) << _OCC_SHIFT
                for dc in range(cell.colspan):
                    occupied[rbase | (ci + dc)] = cell
            ci += cell.colspan
        ncols = max(ncols, ci)
    nrows = len(rows)
    # fill trailing gaps: rows with fewer cells -> last cell spans to end
    for ri in range(nrows):
        # find rightmost occupied col
        base = ri << _OCC_SHIFT
        last = None
        for ci in range(ncols):
            c = occupied.get(base | ci)
            if c is not None:
                last = c
        if last is not None and last.row == ri:
            end = last.col + last.colspan
            if end < ncols and all(
                ((ri + dr) << _OCC_SHIFT) | cj not in occupied
                for dr in range(last.rowspan)
                for cj in range(end, ncols)
            ):
                for dr in range(last.rowspan):
                    rbase = (ri + dr) << _OCC_SHIFT
                    for cj in range(end, ncols):
                        occupied[rbase | cj] = last
                last.colspan = ncols - last.col
    for c in cells:
        c.lines = render_cell(c.node)
    return cells, nrows, ncols, header_rows, occupied


def compute_widths(cells, ncols):
    share = math.ceil((LINE_WIDTH - (3 * ncols + 1)) / ncols) if ncols else 0
    atom_limit = share + ATOM_SLACK
    widths = [1] * ncols
    # pass 1: per-column wrap width = max(share, column min-content), then
    # wrap every single-span cell at its column's width (blocks.md 4-col
    # cards: the 31-char strong in one cell widens wrapping for the whole
    # column)
    col_mc = [0] * ncols
    for c in cells:
        if c.colspan == 1:
            col_mc[c.col] = max(
                col_mc[c.col],
                min_content_width(c.lines, atom_limit, floor=share),
            )
    for c in cells:
        if c.colspan == 1:
            wrap_w = max(share, col_mc[c.col])
            c.lines = wrap_cell(c.lines, wrap_w, atom_limit)
            actual = max(map(len, c.lines), default=0)
            widths[c.col] = max(widths[c.col], actual, 1)
    # pass 2: spanning cells expand spanned columns sequentially
    # (blocks.md "Section Metadata" -> 7+6 over Style/dark)
    for c in cells:
        if c.colspan > 1:
            span_share = share * c.colspan + 3 * (c.colspan - 1)
            mc = min_content_width(c.lines, atom_limit, floor=span_share)
            wrap_w = max(span_share, mc)
            c.lines = wrap_cell(c.lines, wrap_w, atom_limit)
            actual = max(map(len, c.lines), default=0)
            rem = actual - 3 * (c.colspan - 1)
            for i, k in enumerate(range(c.col, c.col + c.colspan)):
                left = c.colspan - i
                per = math.ceil(rem / left) if rem > 0 else 0
                new_w = max(widths[k], per, 1)
                widths[k] = new_w
                rem -= new_w
    return widths, atom_limit


def render_gridtable(table_node, render_cell) -> list[str]:
    """render_cell(cell_node) -> list[str] rendered content lines."""
    cells, nrows, ncols, header_rows, occupied = layout_rows(table_node, render_cell)
    if nrows == 0 or ncols == 0:
        return [""]
    widths, atom_limit = compute_widths(cells, ncols)

    # x coordinate of each column boundary (0..ncols)
    xs = [0]
    for w in widths:
        xs.append(xs[-1] + w + 3)
    total = xs[-1] + 1

    # row heights
    heights = [1] * nrows
    for c in cells:
        if c.rowspan == 1:
            heights[c.row] = max(heights[c.row], len(c.lines))
    for c in cells:
        if c.rowspan > 1:
            have = sum(heights[c.row : c.row + c.rowspan]) + (c.rowspan - 1)
            if len(c.lines) > have:
                heights[c.row + c.rowspan - 1] += len(c.lines) - have

    # y coordinate of each row boundary
    ys = [0]
    for h in heights:
        ys.append(ys[-1] + h + 1)
    total_h = ys[-1] + 1

    canvas = [[" "] * total for _ in range(total_h)]

    def occ(r, c):
        if r < 0 or r >= nrows:
            return None
        return occupied.get((r << _OCC_SHIFT) | c)

    # --- border lines (between row r-1 and r, for r in 0..nrows) ---------
    # Junction '+' positions come from the row BELOW the line (the row
    # above for the bottom border): blocks-with-colspan.md:3-13,
    # tables.md:1-11.
    for r in range(nrows + 1):
        y = ys[r]
        seg_ch = []
        for c in range(ncols):
            above, below = occ(r - 1, c), occ(r, c)
            if above is not None and above is below:
                seg_ch.append(" ")  # rowspan cell continues across
            elif r == header_rows and header_rows > 0:
                seg_ch.append("=")
            else:
                seg_ch.append("-")
        ref_row = r if r < nrows else r - 1
        for c in range(ncols):
            canvas[y][xs[c] + 1 : xs[c + 1]] = seg_ch[c] * (
                xs[c + 1] - xs[c] - 1
            )
        for j in range(ncols + 1):
            x = xs[j]
            left = seg_ch[j - 1] if j > 0 else None
            right = seg_ch[j] if j < ncols else None
            edge = (
                j == 0
                or j == ncols
                or occ(ref_row, j - 1) is not occ(ref_row, j)
            )
            if (left in (None, " ")) and (right in (None, " ")):
                below_l = occ(r, j - 1) if j > 0 else None
                below_r = occ(r, j) if j < ncols else None
                if r < nrows and below_l is below_r and below_l is not None:
                    canvas[y][x] = " "  # interior of a continuing span
                else:
                    canvas[y][x] = "|"
            elif edge:
                canvas[y][x] = "+"
            else:
                canvas[y][x] = left if left not in (None, " ") else right

    # --- vertical borders between cells in content rows ------------------
    # border positions depend only on (r, j): compute once per row, then
    # stamp every content line of the row
    for r in range(nrows):
        base = r << _OCC_SHIFT
        border_xs = [
            xs[j]
            for j in range(ncols + 1)
            if j == 0
            or j == ncols
            or occupied.get(base | (j - 1)) is not occupied.get(base | j)
        ]
        for yy in range(ys[r] + 1, ys[r + 1]):
            row = canvas[yy]
            for x in border_xs:
                row[x] = "|"

    # --- alignment markers on the top border of aligned cells ------------
    for c in cells:
        if not (c.align or c.valign):
            continue
        x0, x1 = xs[c.col], xs[c.col + c.colspan]
        y0 = ys[c.row]
        if c.align in ("left", "center", "justify"):
            canvas[y0][x0 + 1] = ":"
        if c.align in ("right", "center"):
            canvas[y0][x1 - 1] = ":"
        if c.valign:
            mid = (x0 + x1) // 2
            mark = {"middle": "x", "bottom": "v", "top": "^"}.get(c.valign)
            if mark:
                canvas[y0][mid] = mark

    # --- cell content -----------------------------------------------------
    for c in cells:
        x0 = xs[c.col]
        y0 = ys[c.row]
        for k, line in enumerate(c.lines):
            y = y0 + 1 + k
            line = line[: total - 3 - x0]
            canvas[y][x0 + 2 : x0 + 2 + len(line)] = line

    return ["".join(r).rstrip() for r in canvas]
