"""In-memory span tracing around the engine's public functions.

The benchmark wraps each layer's public entry point where it is looked
up at call time (a module global or a class attribute), records one
span per call — name, start, end, parent — and restores the originals
afterwards.  Spans stay in memory until :meth:`Tracer.write`.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager


def layer_patches():
    """(span name, owner, attribute) for every traced layer boundary.

    The owner is the namespace the caller reads the name from, so a
    function imported into another module is wrapped there too
    (``core.html2md`` reads ``parse_html`` from its own globals)."""
    from pyspark.sql import readwriter

    from helix_html2md_spark.core import boilerplate, html2md, pdfparse
    from helix_html2md_spark.core.transform import Transformer
    from helix_html2md_spark.operators import extract
    from helix_html2md_spark.plans import job

    return [
        ("dom.parse", html2md, "parse_html"),
        ("transform.sections", Transformer, "sections"),
        ("transform.metadata", Transformer, "metadata_entries"),
        ("serialize", html2md, "serialize_document"),
        ("gridtable", html2md, "render_gridtable"),
        ("boilerplate.select", boilerplate, "select_content"),
        ("html2md", html2md, "html2md"),
        ("html2md", extract, "html2md"),
        ("extract.row", extract, "extract_row"),
        ("extract.decompose", extract, "decompose_md"),
        ("pdf.parse", pdfparse, "parse_pdf"),
        ("job.remaining", job, "remaining_documents"),
        ("job.run", job, "run_extract_job"),
        ("job.write", readwriter.DataFrameWriter, "parquet"),
    ]


class Tracer:
    """Records nested spans: (id, parent id, name, start, end, size)."""

    def __init__(self):
        self.spans: list[tuple] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, size: int = 0):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append(None)
        self._stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.spans[sid] = (sid, parent, name, t0, t1, size)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            # the parsers take the document as their first argument
            doc = args[0] if args else None
            size = len(doc) if isinstance(doc, (str, bytes)) else 0
            with self.span(name, size):
                return fn(*args, **kwargs)

        return traced

    @contextmanager
    def patched(self, patches):
        saved = []
        try:
            for name, owner, attr in patches:
                orig = owner.__dict__[attr]
                saved.append((owner, attr, orig))
                setattr(owner, attr, self.wrap(name, orig))
            yield self
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)

    def summary(self) -> dict[str, dict]:
        """Per span name: calls, total seconds, self seconds, bytes."""
        child_time = defaultdict(float)
        for _, parent, _, t0, t1, _ in self.spans:
            if parent >= 0:
                child_time[parent] += t1 - t0
        out: dict[str, dict] = {}
        for sid, _, name, t0, t1, size in self.spans:
            s = out.setdefault(
                name, {"calls": 0, "total_s": 0.0, "self_s": 0.0, "bytes": 0}
            )
            s["calls"] += 1
            s["total_s"] += t1 - t0
            s["self_s"] += (t1 - t0) - child_time[sid]
            s["bytes"] += size
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sid, parent, name, t0, t1, size in self.spans:
                f.write(
                    json.dumps(
                        {"id": sid, "parent": parent, "name": name,
                         "start": t0, "end": t1, "bytes": size}
                    )
                    + "\n"
                )
