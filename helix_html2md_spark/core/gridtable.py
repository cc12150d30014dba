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

Rendering is row-wise.  ``layout_rows`` places the cells on a grid of
per-row cell lists (``grid[r][c]`` is the cell covering row ``r``,
column ``c``, or None for a hole) and refuses tables larger than
``MAX_GRID_CELLS``.  Each grid row is cut into runs of one owner; every
output line is then joined from those runs:

* a border line is junction chars plus ``seg * width`` per run of the
  row below it (``-``, or ``=`` under the header rows);
* a content line is ``|`` plus ``" " + text`` padded to the run's width;
* a rowspan cell's content continues across the interior border lines
  it crosses, which are built column by column;
* align/valign markers are stamped onto the cell's top border line.

A table whose cells overlap (a colspan placed over a rowspan from an
earlier row; the later cell owns the shared columns) is drawn by
splicing: each line starts from its borders, and every cell covering
the row splices its text in, in document order, so where two cells
meet the later one's text wins.
"""

from __future__ import annotations

import math
import re

from .transform import ConstraintsError

LINE_WIDTH = 120
ATOM_SLACK = 10
# largest grid (rows x columns, and cells' summed rowspan x colspan) a
# table may cover: a 7 KB table of colspan="1000" cells otherwise
# renders megabytes; the largest seeded benchmark table has 15 cells
MAX_GRID_CELLS = 100_000


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


def _marker_match(line: str):
    """The list-marker match of a line, else its quote-marker match."""
    if line[:1].isalpha():
        return None  # letters are neither \s, \d nor a marker char
    return _LIST_RE.match(line) or _QUOTE_RE.match(line)


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
_STRONG_RUN_RE = re.compile(r"\*\*(?:[^*\\]|\\.)+\*\*")


_TOKENIZE_CACHE: dict = {}


def _tokenize(text: str, atom_limit: int):
    """Split text into (token, following_space_run) pairs.

    ``**...**`` runs are atomic while <= atom_limit chars.  Plain text
    with no leading space never gets here (``_longest_word`` and
    ``_wrap_text`` split it directly).  Results are memoized (read-only
    downstream): min-content + wrap both tokenize the same lines.
    """
    key = (text, atom_limit)
    hit = _TOKENIZE_CACHE.get(key)
    if hit is not None:
        return hit
    if "**" in text:
        out = _tokenize_slow(text, atom_limit)
    else:
        # regex split yields the same word/space token stream as the
        # char scanner; the merge step is shared
        out = _merge_tokens([p for p in _SPACE_SPLIT_RE.split(text) if p != ""])
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


_WRAP_RES: dict = {}


def _wrap_re(width: int):
    """Greedy word wrap at ``width`` as one regex: each match is the
    longest run from a word start to a word end that fits, or else one
    word longer than the width."""
    pat = _WRAP_RES.get(width)
    if pat is None:
        if len(_WRAP_RES) >= 1024:
            _WRAP_RES.clear()
        fit = "[^ ]" if width < 2 else f"[^ ](?:.{{0,{width - 2}}}[^ ])?"
        pat = _WRAP_RES[width] = re.compile(fit + r"(?= |\Z)|[^ ]+", re.S)
    return pat


def _wrap_text(text: str, width: int, atom_limit: int) -> list[str]:
    if len(text) <= width:
        return [text]
    if "**" not in text and text[:1] != " ":
        # words split only at spaces: every wrapped line is a slice of
        # the text from a word start to a word end
        return _wrap_re(width).findall(text)
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


def _longest_word(body: str, atom_limit: int) -> int:
    """Length of the longest word ``_tokenize`` finds in a non-empty body."""
    if "**" in body:
        return max(len(w) for w, _sp in _tokenize(body, atom_limit))
    if body[0] != " ":
        return max(map(len, body.split(" ")))
    words = body.lstrip(" ")
    lead = len(body) - len(words)  # leading spaces belong to the first word
    words = words.split(" ")
    return max(lead + len(words[0]), max(map(len, words)))


def min_content_width(lines: list[str], atom_limit: int, floor: int = 0) -> int:
    """Longest unbreakable unit across the cell's rendered lines.

    ``floor``: callers take max(share, result), so lines shorter than the
    share can be skipped entirely (hot path)."""
    best = floor
    if max(map(len, lines), default=0) <= best:
        return best  # no line can raise the max
    in_fence = False
    for line in lines:
        fm = _fence_match(line)
        if len(line) <= best:
            pass  # cannot raise the max
        elif _is_atom_line(line, in_fence):
            best = len(line)
        else:
            pm = _marker_match(line)
            prefix = pm.end() if pm else 0
            if prefix < len(line):
                unit = prefix + _longest_word(line[prefix:], atom_limit)
                if unit > best:
                    best = unit
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
        pm = _marker_match(line)
        if pm:
            # list item bodies are single lines already; a list item's
            # continuation lines indent, a quote's repeat the marker
            prefix = pm.group(0)
            cont = " " * len(prefix) if pm.re is _LIST_RE else prefix
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
                and not _marker_match(lines[j + 1])
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
        if prefix:
            out.append(prefix + wrapped[0])
            out.extend([cont + wl for wl in wrapped[1:]])
        else:
            out.extend(wrapped)
        i = j + 1
    return out


# ---------------------------------------------------------------------------
# table model & layout
# ---------------------------------------------------------------------------


class _Cell:
    __slots__ = (
        "node", "lines", "row", "col", "colspan", "rowspan", "align", "valign",
    )

    def __init__(self, node, row, col, nrows):
        self.node = node
        self.lines = None
        self.row = row
        self.col = col
        # clamp to the browser limits (HTML spec: colspan <= 1000,
        # rowspan <= 65534); a rowSpan reaching past the last table row
        # is sloppy but common HTML and clamps to the rows that exist
        cs = node.get("colSpan")
        if type(cs) is not int or not 0 < cs <= 1000:
            cs = min(1000, max(1, int(cs or 1)))
        self.colspan = cs
        rs = node.get("rowSpan")
        if type(rs) is not int or not 0 < rs <= 65534:
            rs = min(65534, max(1, int(rs or 1)))
        self.rowspan = rs if rs <= nrows - row else nrows - row
        self.align = node.get("align")
        self.valign = node.get("valign")


def layout_rows(table_node, render_cell):
    """Place a gridTable node's cells on a grid of per-row cell lists.

    Returns ``(cells, grid, ncols, header_rows, overlap)``: the cells in
    document order with their lines rendered; ``grid[r]``, the ``ncols``
    cells covering row ``r`` (None for a hole); the number of leading
    header rows; and whether any cell was placed over another.  Raises
    ConstraintsError, before any cell is rendered, once the grid or the
    cells' summed spans exceed MAX_GRID_CELLS."""
    rows = []
    header_rows = 0
    for part in table_node.get("children", []):
        if part["type"] == "gtRow":
            rows.append(part)
        else:
            rows.extend(part.get("children", []))
            if part["type"] == "gtHeader":
                header_rows = len(rows)
    nrows = len(rows)
    grid: list[list] = [[] for _ in rows]
    cells: list[_Cell] = []
    ncols = covered = 0
    overlap = False
    for ri, row in enumerate(rows):
        line = grid[ri]
        ci = 0
        for cn in row.get("children", []):
            if ci < len(line) and line[ci] is not None:
                # skip columns a rowspan from an earlier row occupies
                try:
                    ci = line.index(None, ci)
                except ValueError:
                    ci = len(line)
            cell = _Cell(cn, ri, ci, nrows)
            end = ci + cell.colspan
            if end > ncols:
                ncols = end
            covered += cell.rowspan * cell.colspan
            if covered > MAX_GRID_CELLS or nrows * ncols > MAX_GRID_CELLS:
                raise ConstraintsError(
                    f"grid table covers more than {MAX_GRID_CELLS} cells"
                )
            cells.append(cell)
            span = [cell] * cell.colspan
            if cell.rowspan == 1 and len(line) == ci:
                line += span  # the common case: a fresh column range
                ci = end
                continue
            for g in grid[ri : ri + cell.rowspan]:
                if any(g[ci:end]):
                    overlap = True  # the last cell placed wins the column
                if len(g) < end:
                    g.extend([None] * (end - len(g)))
                g[ci:end] = span
            ci = end
    for g in grid:
        g.extend([None] * (ncols - len(g)))
    # fill trailing gaps: a row's last cell spans to the table's right
    # edge when nothing occupies the columns it would take over
    for ri, g in enumerate(grid):
        j = ncols - 1
        while j >= 0 and g[j] is None:
            j -= 1
        last = g[j] if j >= 0 else None
        if last is not None and last.row == ri:
            end = last.col + last.colspan
            below = grid[ri : ri + last.rowspan]
            if end < ncols and not any(any(b[end:]) for b in below):
                for b in below:
                    b[end:] = [last] * (ncols - end)
                last.colspan = ncols - last.col
    for c in cells:
        c.lines = render_cell(c.node)
    return cells, grid, ncols, header_rows, overlap


def compute_widths(cells, ncols) -> list[int]:
    share = math.ceil((LINE_WIDTH - (3 * ncols + 1)) / ncols) if ncols else 0
    atom_limit = share + ATOM_SLACK
    widths = [1] * ncols
    # pass 1: per-column wrap width = max(share, column min-content), then
    # wrap every single-span cell at its column's width (blocks.md 4-col
    # cards: the 31-char strong in one cell widens wrapping for the whole
    # column).  A column's running min-content is the floor of the next
    # cell's, so a one-line cell that fits under it costs a length check.
    singles = [c for c in cells if c.colspan == 1]
    wrap_w = [share] * ncols
    for c in singles:
        lines = c.lines
        if len(lines) != 1 or len(lines[0]) > wrap_w[c.col]:
            wrap_w[c.col] = min_content_width(lines, atom_limit, wrap_w[c.col])
    for c in singles:
        lines = c.lines
        if len(lines) != 1 or len(lines[0]) > wrap_w[c.col]:
            c.lines = lines = wrap_cell(lines, wrap_w[c.col], atom_limit)
        actual = len(lines[0]) if len(lines) == 1 else max(map(len, lines), default=0)
        if actual > widths[c.col]:
            widths[c.col] = actual
    # pass 2: spanning cells expand spanned columns sequentially
    # (blocks.md "Section Metadata" -> 7+6 over Style/dark)
    for c in cells:
        if c.colspan > 1:
            span_share = share * c.colspan + 3 * (c.colspan - 1)
            mc = min_content_width(c.lines, atom_limit, floor=span_share)
            c.lines = wrap_cell(c.lines, mc, atom_limit)
            actual = max(map(len, c.lines), default=0)
            rem = actual - 3 * (c.colspan - 1)
            for i, k in enumerate(range(c.col, c.col + c.colspan)):
                left = c.colspan - i
                per = math.ceil(rem / left) if rem > 0 else 0
                new_w = max(widths[k], per, 1)
                widths[k] = new_w
                rem -= new_w
    return widths


# ---------------------------------------------------------------------------
# rendering
# ---------------------------------------------------------------------------

_VMARK = {"middle": "x", "bottom": "v", "top": "^"}


def _runs(g: list, xs: list) -> list[tuple]:
    """(owner, inner width) of each run of grid columns with one owner."""
    out = []
    a = 0
    owner = g[0]
    for j, c in enumerate(g):
        if c is not owner:
            out.append((owner, xs[j] - xs[a] - 1))
            owner, a = c, j
    out.append((owner, xs[len(g)] - xs[a] - 1))
    return out


def render_gridtable(table_node, render_cell) -> list[str]:
    """render_cell(cell_node) -> list[str] rendered content lines."""
    cells, grid, ncols, header_rows, overlap = layout_rows(
        table_node, render_cell
    )
    nrows = len(grid)
    if nrows == 0 or ncols == 0:
        return [""]
    widths = compute_widths(cells, ncols)

    # x coordinate of each column boundary (0..ncols)
    xs = [0]
    for w in widths:
        xs.append(xs[-1] + w + 3)
    total = xs[-1] + 1

    # row heights: single-row cells first, then each rowspan cell grows
    # the last row it spans by what its lines still need
    heights = [1] * nrows
    spanning = []
    crossed = set()  # rows a rowspan cell from an earlier row reaches
    marked: dict[int, list] = {}
    for c in cells:
        if c.rowspan == 1:
            if len(c.lines) > heights[c.row]:
                heights[c.row] = len(c.lines)
        else:
            spanning.append(c)
            crossed.update(range(c.row + 1, c.row + c.rowspan))
        if c.align or c.valign:
            marked.setdefault(c.row, []).append(c)
    for c in spanning:
        have = sum(heights[c.row : c.row + c.rowspan]) + (c.rowspan - 1)
        if len(c.lines) > have:
            heights[c.row + c.rowspan - 1] += len(c.lines) - have

    # y coordinate of each row boundary
    ys = [0]
    for h in heights:
        ys.append(ys[-1] + h + 1)

    runs = [_runs(g, xs) for g in grid]
    # every cell covering each row, in document order: the stamping
    # order of overlapping cells
    stamps: list[list] = []
    if overlap:
        stamps = [[] for _ in grid]
        for c in cells:
            for r in range(c.row, c.row + c.rowspan):
                stamps[r].append(c)

    def general_border(r: int, fill: str) -> str:
        # column by column: a rowspan cell continuing across the line
        # keeps its columns blank, and junctions inside it disappear
        above = grid[r - 1] if r > 0 else None
        below = grid[r] if r < nrows else None
        ref = below if below is not None else above
        seg = [
            " " if above is not None and below is not None
            and above[c] is not None and above[c] is below[c] else fill
            for c in range(ncols)
        ]
        parts = []
        for j in range(ncols + 1):
            left = seg[j - 1] if j > 0 else None
            right = seg[j] if j < ncols else None
            if left in (None, " ") and right in (None, " "):
                inside = (
                    below is not None and 0 < j < ncols
                    and below[j] is not None and below[j - 1] is below[j]
                )
                parts.append(" " if inside else "|")
            elif j == 0 or j == ncols or ref[j - 1] is not ref[j]:
                parts.append("+")
            else:
                parts.append(left if left not in (None, " ") else right)
            if j < ncols:
                parts.append(seg[j] * (xs[j + 1] - xs[j] - 1))
        return "".join(parts)

    def stamp(line: str, y: int, covering) -> str:
        # splice the line of each covering cell that falls on y
        for c in covering:
            k = y - ys[c.row] - 1
            if 0 <= k < len(c.lines):
                x = xs[c.col] + 2
                text = c.lines[k][: total - 1 - x]
                line = line[:x] + text + line[x + len(text):]
        return line

    out: list[str] = []
    for r in range(nrows + 1):
        # --- border line above row r (the bottom border for r == nrows).
        # Junction '+' positions come from the row BELOW the line (the
        # row above for the bottom border): blocks-with-colspan.md:3-13,
        # tables.md:1-11.
        fill = "=" if r == header_rows and header_rows > 0 else "-"
        if 0 < r < nrows and overlap:
            line = general_border(r, fill)
            continuing = stamps[r]
        else:
            continuing = r in crossed and [
                c for c, _w in runs[r] if c is not None and c.row < r
            ]
            if continuing:
                line = general_border(r, fill)
            else:
                line = "+" + "+".join(
                    [fill * w for _c, w in runs[min(r, nrows - 1)]]
                ) + "+"
        if r in marked:
            chars = list(line)
            for c in marked[r]:
                x0, x1 = xs[c.col], xs[c.col + c.colspan]
                if c.align in ("left", "center", "justify"):
                    chars[x0 + 1] = ":"
                if c.align in ("right", "center"):
                    chars[x1 - 1] = ":"
                mark = _VMARK.get(c.valign)
                if mark:
                    chars[(x0 + x1) // 2] = mark
            line = "".join(chars)
        if continuing:
            line = stamp(line, ys[r], continuing)
        out.append(line)
        if r == nrows:
            break
        # --- content lines of row r
        h = heights[r]
        if overlap:
            base = "|" + "|".join([" " * w for _c, w in runs[r]]) + "|"
            for y in range(ys[r] + 1, ys[r + 1]):
                out.append(stamp(base, y, stamps[r]))
            continue
        # one column of padded text per run, the row's lines zipped
        # across them; a rowspan cell from an earlier row continues at
        # the line it reached
        cols = []
        for c, w in runs[r]:
            if c is None:
                cols.append([" " * w] * h)
                continue
            k0 = ys[r] - ys[c.row]
            col = [(" " + t).ljust(w) for t in c.lines[k0 : k0 + h]]
            if len(col) < h:
                col += [" " * w] * (h - len(col))
            cols.append(col)
        out.extend(["|" + "|".join(p) + "|" for p in zip(*cols)])
    return out
