"""Top-level html -> markdown transform (the reference's ``html2md`` call,
/root/reference/src/index.js:213-222) as a pure function, plus the limits /
error taxonomy of the service wrapper (src/index.js:159-166,242-254).
"""

from __future__ import annotations

import re
from urllib.parse import urljoin

from .dom import parse_html
from .gridtable import render_gridtable
from .serialize import Ctx, render_blocks
from .transform import ConstraintsError, Transformer

DEFAULT_MAX_HTML_SIZE = 1024 * 1024
DEFAULT_MAX_IMAGE_SIZE = 20 * 1024 * 1024
DEFAULT_MAX_IMAGES = 200


class TooManyImagesError(Exception):
    pass


class SizeTooLargeError(Exception):
    pass


# ---------------------------------------------------------------------------
# media / url handling
# ---------------------------------------------------------------------------

_MEDIA_REF_RE = re.compile(
    r"^media:1(?P<hash>[0-9a-f]+):(?P<w>\d+)x(?P<h>\d+):(?P<ct>[\w/+.-]+)"
    r"(?::(?P<size>\d+))?$"
)


def resolve_url(url: str, base: str | None) -> str:
    """Resolve relative image URLs against the page URL
    (/root/reference/test/index.test.js:109-111) — stdlib urljoin, which
    performs WHATWG dot-segment normalization the previous hand-rolled
    join skipped ('../img.png' kept its '../' and missed the media
    lookup, silently degrading the image to about:error)."""
    if not base or re.match(r"^[a-z][a-z0-9+.-]*:", url):
        return url
    return urljoin(base, url)


def media_ref_to_info(ref: str) -> dict | None:
    """Parse a content-addressed ``media_ref`` string
    (``media:1<sha1>:<w>x<h>:<content-type>``, FIXTURES.md §1) into the
    lookup-info dict used by :func:`html2md` — the deterministic stand-in
    for the bytes the reference's MediaHandler would fetch
    (/root/reference/src/index.js:176-210)."""
    m = _MEDIA_REF_RE.match(ref or "")
    if not m:
        return None
    ct = m.group("ct")
    ext = ct.split("/")[1] if "/" in ct else "bin"
    info = {
        "hash": m.group("hash"),
        "width": int(m.group("w")),
        "height": int(m.group("h")),
        "ext": ext,
    }
    if m.group("size"):
        info["size"] = int(m.group("size"))
    return info


def _is_media_shaped(url: str) -> bool:
    path = url.split("?")[0].split("#")[0]
    name = path.rsplit("/", 1)[-1]
    return bool(re.match(r"^media_[0-9a-f]{40,}", name))


# ---------------------------------------------------------------------------
# image reference pass
# ---------------------------------------------------------------------------


def _count_images(nodes) -> int:
    """Number of ``image`` nodes in the mdast forest ``nodes``."""
    count = 0
    stack = [nodes]
    pop = stack.pop
    push = stack.append
    while stack:
        for n in pop():
            if isinstance(n, dict):
                if n["type"] == "image":
                    count += 1
                if "children" in n:
                    push(n["children"])
    return count


class _ImageRegistry:
    """Image numbering shared across passes; dedup map is per-pass
    (images.md: body and metadata dedup separately, counter shared)."""

    def __init__(self):
        self.counter = 0
        self.definitions: list[tuple[str, str]] = []


def _convert_images(nodes, registry, rewrite):
    dedup: dict[str, str] = {}
    _convert(nodes, registry, rewrite, dedup)


def _convert(nodes, registry, rewrite, dedup):
    # iterative pre-order walk (identifier assignment stays in document
    # order); a stack of live iterators replaces the recursion
    stack = [iter(nodes)]
    while stack:
        for n in stack[-1]:
            if not isinstance(n, dict):
                continue
            if n["type"] == "image":
                final = rewrite(n.get("url", ""))
                if final in dedup:
                    ident = dedup[final]
                else:
                    ident = f"image{registry.counter}"
                    registry.counter += 1
                    dedup[final] = ident
                    registry.definitions.append((ident, final))
                alt = n.get("alt")
                n.clear()
                n.update(
                    {"type": "imageReference", "identifier": ident, "alt": alt}
                )
            elif "children" in n:
                stack.append(iter(n["children"]))
                break
        else:
            stack.pop()


# ---------------------------------------------------------------------------
# main entry
# ---------------------------------------------------------------------------


def html2md(html: str, config: dict | None = None) -> str:
    """Transform an HTML document to helix-flavoured markdown.

    config keys: source_url, org, site, media_enabled, media_lookup,
    unspread_lists, external_prefixes, max_images, max_html_size.
    Raises ConstraintsError / TooManyImagesError / SizeTooLargeError like
    the reference error taxonomy (400/409, src/index.js:242-254).
    """
    cfg = config or {}
    max_html = cfg.get("max_html_size") or DEFAULT_MAX_HTML_SIZE
    if len(html) > max_html:
        mb = max_html / (1024 * 1024)
        raise SizeTooLargeError(f"html source larger than {mb:.0f}MB")

    root = parse_html(html)
    tr = Transformer(
        {"unspread_lists": bool(cfg.get("unspread_lists"))}
    )

    main = root.find("main")
    # metadata harvest may raise ConstraintsError (invalid json-ld) even
    # when <main> is missing
    entries = tr.metadata_entries(root)
    if main is None and cfg.get("boilerplate_fallback"):
        # no <main>: fall back to the Arc90 boilerplate-strip winner
        # (core/boilerplate.py) and transform its subtree as ONE section
        # (a synthetic main > div wrapper).  Off by default: the
        # reference's no-main semantics (empty output,
        # test/fixtures/no-main.md) are fixture-pinned.
        from .boilerplate import select_content
        from .dom import Element

        winner = select_content(root)
        if winner is not None:
            wrapper_div = Element("div")
            wrapper_div.children = list(winner.children)
            main = Element("main")
            main.children = [wrapper_div]
    if main is None:
        return ""

    body = tr.sections(main)

    # --- image rewrite + reference collection ---------------------------
    base_url = cfg.get("source_url")
    media_enabled = bool(cfg.get("media_enabled"))
    external_prefixes = cfg.get("external_prefixes") or []
    lookup = cfg.get("media_lookup")
    max_images = cfg.get("max_images") or DEFAULT_MAX_IMAGES
    max_image_size = cfg.get("max_image_size") or DEFAULT_MAX_IMAGE_SIZE
    site, org = cfg.get("site", "repo"), cfg.get("org", "owner")

    # the cap counts EVERY image the document will reference — body AND
    # metadata-harvested (og:image etc.); counting only the body let a
    # page with many meta images defeat the resource limit entirely
    n_meta_images = sum(
        1 for _, v in entries if isinstance(v, dict) and v.get("type") == "image"
    )
    n_images = _count_images(body) + n_meta_images
    if n_images > max_images:
        raise TooManyImagesError(
            f"maximum number of images reached: {n_images} of {max_images} max."
        )

    too_large: list[int] = []
    img_index = [0]

    def rewrite(url: str) -> str:
        url = url or ""
        if not media_enabled:
            return url
        if url.startswith(("data:", "about:")):
            return url
        if _is_media_shaped(url):
            return url
        if any(url.startswith(p) for p in external_prefixes):
            return url
        resolved = resolve_url(url, base_url)
        img_index[0] += 1
        info = lookup(resolved) if lookup else None
        if info is None:
            return "about:error"
        if isinstance(info, dict) and info.get("size", 0) > max_image_size:
            too_large.append(img_index[0])
            return "about:error"
        h = info["hash"]
        ext = info.get("ext", "png")
        w, ht = info.get("width", 0), info.get("height", 0)
        return (
            f"https://main--{site}--{org}.aem.page/"
            f"media_1{h}.{ext}#width={w}&height={ht}"
        )

    registry = _ImageRegistry()
    _convert_images(body, registry, rewrite)

    # metadata table (separate dedup pass, shared counter; images.md:23-37)
    meta_nodes = []
    if entries:
        meta_table = tr.metadata_table(entries)
        _convert_images([meta_table], registry, rewrite)
        meta_nodes = [meta_table]

    if too_large:
        limit = max_image_size / (1024 * 1024)
        if len(too_large) == 1:
            raise SizeTooLargeError(
                f"Image {too_large[0]} exceeds allowed limit of {limit:.2f}MB"
            )
        idx = [str(i) for i in too_large]
        raise SizeTooLargeError(
            f"Images {' and '.join([', '.join(idx[:-1]), idx[-1]] if len(idx) > 2 else idx)} "
            f"exceed allowed limit of {limit:.2f}MB"
        )

    defs = [
        {"type": "definition", "identifier": ident, "url": url}
        for ident, url in registry.definitions
    ]

    doc = body + meta_nodes + defs
    return serialize_document(doc)


def serialize_document(blocks: list) -> str:
    ctx = Ctx()

    def grid_renderer(node, c):
        def render_cell(cell_node):
            cell_ctx = Ctx(in_cell=True)
            lines = render_blocks(
                cell_node.get("children", []), cell_ctx, grid_renderer
            )
            return lines or [""]

        return render_gridtable(node, render_cell)

    lines = render_blocks(blocks, ctx, grid_renderer)
    out = "\n".join(lines).strip("\n")
    if out:
        out += "\n"
    return out
