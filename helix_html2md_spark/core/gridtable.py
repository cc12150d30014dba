"""ASCII gridtable serializer.

Re-implements the gridtable markdown extension of the reference pipeline
(@adobe/mdast-util-gridtables 4.0.15, /root/reference/package-lock.json:578-603;
node taxonomy /root/reference/src/gridTableMock.js:12-31) with the layout
model reverse-engineered from the golden fixtures:

* table target line width 120; per-column share = ceil((120 - (3n+1)) / n)
* cell content is rendered to markdown, then re-wrapped at the column's
  wrap width; the final column width shrinks to the longest actual line
  (measured: blocks.md, multiple-sections.md, default-content.md, json-ld.md)
* unconditionally unbreakable lines: headings, fenced-code lines, nested
  gridtable lines, lines containing inline code / links / images /
  single-`*` emphasis (incl. ``***``)  (codeblock.md:13, blocks.md:5,
  default-content.md:20)
* ``**strong**`` runs are atomic only while <= share+10 chars, else they
  wrap word-wise (blocks.md 4-col cards: 31-char strong kept, 46-char broken)
* colspan cells distribute their width need evenly over spanned columns
  (tables.md `bar heading` -> 6+6; blocks.md `Section Metadata` -> 7+9)
* header separator ``+===+`` only below rows of gtHeader (tables.md:3)
* data-align/valign markers on the row's top border:
  ``+:--x--:+`` / ``+:---+`` / ``+--v--+`` (blocks-with-alignment.md)
"""

from __future__ import annotations

import math
import re

LINE_WIDTH = 120
ATOM_SLACK = 10
# occupancy-grid key packing: (row << _OCC_SHIFT) | col
_OCC_SHIFT = 32


# ---------------------------------------------------------------------------
# wrapping
# ---------------------------------------------------------------------------

_FENCE_RE = re.compile(r"^\s*(`{3,}|~{3,})")
# a line can only match _FENCE_RE if it starts with whitespace, ` or ~
# (str.isspace() and re's unicode \s agree char-for-char in CPython) —
# checking the first char skips the regex for the typical prose line
def _fence_match(line: str):
    c = line[:1]
    if c in "`~" or (c != "" and c.isspace()):
        return _FENCE_RE.match(line)
    return None
_LIST_RE = re.compile(r"^(\s*)(-|\+|\*|\d+[.)])( +)")
_QUOTE_RE = re.compile(r"^(> ?)+")


# any char that could make a line unbreakable; plain word/space lines
# (the overwhelming majority) short-circuit out
_ATOMISH_RE = re.compile(r"[`<*#+|!\[\]]")


_GRID_OPEN_RE = re.compile(r"^(\+[-=+|:xv^]|\|[-=+|: xv^])")
_ESCAPE_RE = re.compile(r"\\.")


def _is_atom_line(line: str, in_fence: bool) -> bool:
    if in_fence:
        return True
    if not _ATOMISH_RE.search(line):
        return False
    s = line.lstrip()
    if s.startswith("#"):
        return True
    # nested gridtable line: '|' may be followed by a space (a content
    # row reads '| cell ...'), but '+' must abut a border char — a '+ '
    # opener is prose (e.g. a phone number), and classifying it atomic
    # would inflate the column to the full line length
    if _GRID_OPEN_RE.match(s):
        return True
    # list/quote markers are not part of the body being classified
    m = _LIST_RE.match(line)
    body = line[m.end():] if m else line
    q = _QUOTE_RE.match(body)
    if q:
        body = body[q.end():]
    t = _ESCAPE_RE.sub("", body) if "\\" in body else body
    if "`" in t:
        return True
    if "](" in t or "![" in t or "<" in t:
        return True
    # single-star emphasis (incl ***): any '*' left after removing '**' pairs
    if "*" in t.replace("**", ""):
        return True
    return False


_SPACE_SPLIT_RE = re.compile(r"( +)")
_WORD_SPACE_RE = re.compile(r"([^ ]+)( *)")
_STRONG_RUN_RE = re.compile(r"\*\*(?:[^*\\]|\\.)+\*\*")


_TOKENIZE_CACHE: dict = {}


def _tokenize(text: str, atom_limit: int):
    """Split text into (token, following_space_run) pairs.

    ``**...**`` runs are atomic while <= atom_limit chars.  Results are
    memoized (read-only downstream): cells repeat heavily in boilerplate
    corpora, and min-content + wrap both tokenize the same lines.
    """
    key = (text, atom_limit)
    hit = _TOKENIZE_CACHE.get(key)
    if hit is not None:
        return hit
    if "**" not in text:
        if text[:1] != " ":
            # fastest path: with no leading space run and no ** atoms,
            # the (word, space_after) pairs fall directly out of one
            # finditer — identical to split + _merge_tokens
            out = [m.group(1, 2) for m in _WORD_SPACE_RE.finditer(text)]
        else:
            # regex split yields the same word/space token stream as the
            # char scanner; the merge step is shared
            tokens = [p for p in _SPACE_SPLIT_RE.split(text) if p != ""]
            out = _merge_tokens(tokens)
    else:
        out = _tokenize_slow(text, atom_limit)
    if len(_TOKENIZE_CACHE) >= 16384:
        _TOKENIZE_CACHE.clear()
    _TOKENIZE_CACHE[key] = out
    return out


def _tokenize_slow(text: str, atom_limit: int):
    tokens: list[str] = []
    i = 0
    n = len(text)
    cur = ""
    while i < n:
        if text[i] == " ":
            j = i
            while j < n and text[j] == " ":
                j += 1
            if cur:
                tokens.append(cur)
                cur = ""
            tokens.append(" " * (j - i))
            i = j
            continue
        if text.startswith("**", i):
            m = _STRONG_RUN_RE.match(text, i)
            if m and len(m.group(0)) <= atom_limit:
                if cur:
                    tokens.append(cur)
                    cur = ""
                tokens.append(m.group(0))
                i = m.end()
                continue
        cur += text[i]
        i += 1
    if cur:
        tokens.append(cur)
    return _merge_tokens(tokens)


def _merge_tokens(tokens: list[str]):
    """Produce (word, space_after) pairs from a word/space token stream.

    CONSECUTIVE non-space tokens glue into one word: the slow tokenizer
    emits a ``**...**`` atom as its own token even when it directly
    abuts text ('re**bold**ing'), and a soft wrap between abutting
    tokens would re-parse as a space inside the word."""
    out = []
    append = out.append
    k = 0
    n = len(tokens)
    while k < n:
        w = tokens[k]
        if w[0] == " ":
            # leading spaces attach to the following word run as prefix
            if k + 1 < n and tokens[k + 1][0] != " ":
                j = k + 1
                while j < n and tokens[j][0] != " ":
                    j += 1
                append((w + "".join(tokens[k + 1 : j]), ""))
                k = j
            else:
                append((w, ""))
                k += 1
            continue
        j = k
        while j < n and tokens[j][0] != " ":
            j += 1
        word = "".join(tokens[k:j])
        if j < n:
            append((word, tokens[j]))
            k = j + 1
        else:
            append((word, ""))
            k = j
    return out


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


# ---------------------------------------------------------------------------
# table model & layout
# ---------------------------------------------------------------------------


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
    # occupancy grid, keyed (row << _OCC_SHIFT) | col — int keys hash
    # cheaper than tuples.  A column index reaching 1 << _OCC_SHIFT
    # would alias the next row's keys; the 1 MB html gate keeps tables
    # far below that, but the gate is configurable, so it is checked
    max_cols = 1 << _OCC_SHIFT
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
            if ci + cell.colspan > max_cols:
                raise ValueError(
                    f"grid table wider than {max_cols} columns"
                )
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
