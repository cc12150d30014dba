"""The extraction operator: documents(spans) -> extracted(spans, md, ...).

Spark-first design (SURVEY.md §3.4):

* admission gating (``maxHTMLSize``) runs JVM-side *before* the Python
  stage, as a native ``_gate_error`` column over the assembled length —
  Catalyst cannot push predicates through an opaque UDF, so we order it
  explicitly (reference size gate: /root/reference/src/index.js:159-166)
* placement: ``repartition='hash'`` (the default) spreads rows over the
  partitions with one shuffle on doc_id; ``'none'`` keeps the input's
  partitioning, for pre-split (byte-balanced) or streaming input
* one ``mapInArrow`` crossing per Arrow batch runs the pure-Python
  transform (helix_html2md_spark.core) through ``gate.map_rows`` — no
  per-row Python UDF, no pandas conversion, and the output batch is
  built on ``EXTRACTED_SCHEMA``'s Arrow form
* per-row error capture into ``status``/``error`` columns instead of
  HTTP statuses (reference taxonomy: src/index.js:242-254)
"""

from __future__ import annotations

import re
from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType, IntegerType, StringType, StructField, StructType,
)

from ..core.html2md import (
    SizeTooLargeError, TooManyImagesError, html2md, media_ref_to_info,
    resolve_url,
)
from ..core.transform import ConstraintsError
from .gate import apply_gate, map_rows

SPAN_TYPE = StructType(
    [
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("order", IntegerType()),
    ]
)

EXTRACTED_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("spans", ArrayType(SPAN_TYPE)),
        StructField("md", StringType()),
        StructField("status", StringType()),
        StructField("error", StringType()),
        StructField("n_images", IntegerType()),
        StructField("n_blocks", IntegerType()),
        StructField("n_chars", IntegerType()),
    ]
)

_CONFIG_COLS = (
    "source_url", "org", "site", "media_enabled", "unspread_lists",
    "external_prefixes", "max_images", "max_image_size", "max_html_size",
    "boilerplate_fallback",
)

# JVM-side span assembly as SQL lambdas (see prepare_for_extract)
_HTML_SRC = (
    "array_join(transform(array_sort(filter(spans, s -> s.kind = 'html'),"
    " (a, b) -> CASE WHEN a.offset < b.offset THEN -1"
    " WHEN a.offset > b.offset THEN 1 ELSE 0 END), s -> s.text), '')"
)
_MEDIA_SPANS = "filter(spans, s -> s.kind = 'media')"

_DEF_RE = re.compile(r"^\[(image\d+)\]: (.*)$", re.M)
_REF_RE = re.compile(r"!\[[^\]\n]*\]\[(image\d+)\]")


def assemble_html(spans) -> str:
    """Concat of kind='html' span texts ordered by offset (FIXTURES.md §1)."""
    html_spans = sorted(
        (s for s in spans if s["kind"] == "html"), key=lambda s: s["offset"]
    )
    return "".join(s["text"] or "" for s in html_spans)


def build_media_lookup(spans, source_url):
    """media spans -> {resolved src url: media info dict}."""
    table = {}
    for s in spans:
        if s["kind"] != "media":
            continue
        src = s["text"] or ""
        info = media_ref_to_info(s["media_ref"] or "")
        table[resolve_url(src, source_url)] = info

    def lookup(resolved_url: str):
        return table.get(resolved_url)

    return lookup


def decompose_md(md: str):
    """markdown -> ordered output spans (FIXTURES.md §2).

    kind='media' for each ``![alt][imageN]`` occurrence and each
    ``[imageN]: url`` definition line; kind='text' for everything else.
    concat(text) == md.
    """
    defs = {m.group(1): m.group(2) for m in _DEF_RE.finditer(md)}
    spans = []
    pos = 0
    events = []
    for m in _REF_RE.finditer(md):
        events.append((m.start(), m.end(), defs.get(m.group(1), "")))
    for m in _DEF_RE.finditer(md):
        events.append((m.start(), m.end(), m.group(2)))
    events.sort()
    order = 0
    for start, end, ref in events:
        if start < pos:
            # a ref-pattern match NESTED inside an already-consumed
            # definition line (adversarial url text): emitting it would
            # duplicate text and move pos backwards, breaking the
            # concat(span.text) == md invariant
            continue
        if start > pos:
            spans.append(("text", md[pos:start], "", order))
            order += 1
        spans.append(("media", md[start:end], ref, order))
        order += 1
        pos = end
    if pos < len(md):
        spans.append(("text", md[pos:], "", order))
    return [
        {"kind": k, "text": t, "media_ref": r, "order": o}
        for k, t, r, o in spans
    ]


def _failed(status: str, error: str) -> dict:
    """extract_row's result for a document that did not convert."""
    return dict(md="", status=status, error=error, spans=[])


def extract_row(html, media_spans, cfg_row) -> dict:
    """Transform one document (html pre-assembled JVM-side).

    EVERYTHING per-row — config parsing, media-lookup construction
    (which resolves URLs and can raise on malformed source_url), and
    the transform itself — sits inside the try: a hostile row must
    become an error ROW, never a task failure."""
    try:
        source_url = cfg_row.get("source_url")
        config = {
            "source_url": source_url,
            "org": cfg_row.get("org") or "owner",
            "site": cfg_row.get("site") or "repo",
            "media_enabled": bool(cfg_row.get("media_enabled")),
            "media_lookup": build_media_lookup(media_spans, source_url),
            "unspread_lists": bool(cfg_row.get("unspread_lists")),
            "external_prefixes": [
                p for p in (cfg_row.get("external_prefixes") or "").split(",")
                if p
            ],
            "max_images": int(cfg_row.get("max_images") or 0) or None,
            "max_image_size": int(cfg_row.get("max_image_size") or 0) or None,
            "max_html_size": int(cfg_row.get("max_html_size") or 0) or None,
            "boilerplate_fallback": bool(cfg_row.get("boilerplate_fallback")),
        }
        md = html2md(html, config)
    except (ConstraintsError, TooManyImagesError, SizeTooLargeError) as e:
        return _failed("constraint_error", str(e))
    except Exception as e:  # noqa: BLE001 - parse never aborts the job
        return _failed("parse_error", f"{type(e).__name__}: {e}")
    md_stripped = md.strip()
    out_spans = decompose_md(md_stripped)
    return dict(md=md_stripped, status="ok", error="", spans=out_spans)


def _output(res: dict) -> dict:
    """extract_row's result -> the EXTRACTED_SCHEMA columns."""
    md = res["md"]
    spans = res["spans"]
    # counts media SPANS — each ![alt][imageN] occurrence AND each
    # [imageN]: url definition line — i.e. "how much of the output is
    # media markup", NOT distinct images (that count is the number of
    # definition lines).  Pinned by the golden parquet and the
    # __spark_entry__ query contract since round 1.
    res["n_images"] = sum(1 for s in spans if s["kind"] == "media")
    res["n_blocks"] = md.count("\n\n") + (1 if md else 0)
    res["n_chars"] = len(md)
    return res


def _extract_one(row: dict) -> dict:
    return _output(
        extract_row(row["html_src"] or "", row["media_spans"] or [], row)
    )


def _gated(message: str) -> dict:
    return _output(_failed("constraint_error", message))


def _extract_batches(
    batches: Iterator[pa.RecordBatch],
) -> Iterator[pa.RecordBatch]:
    # the transform allocates heavily (DOM/mdast trees); the trees are
    # acyclic so raise the cyclic-GC threshold to keep workers off
    # needless collection walks
    import gc

    gc.set_threshold(200_000, 50, 50)
    return map_rows(batches, _extract_one, EXTRACTED_SCHEMA, _gated)


def _validate_defaults(defaults: dict) -> dict:
    """Row-INVARIANT misconfiguration must fail loudly at the driver.
    extract_row's per-row try exists for hostile DATA; without this
    check a bad job default (max_images='abc', external_prefixes as a
    list) would stamp EVERY row parse_error and the job would 'succeed'
    with a fully degraded corpus.  A list of prefixes is normalized to
    the comma-joined string the per-row contract expects."""
    out = dict(defaults)
    ep = out.get("external_prefixes")
    if isinstance(ep, (list, tuple)):
        if not all(isinstance(p, str) for p in ep):
            raise TypeError("external_prefixes entries must be strings")
        out["external_prefixes"] = ",".join(ep)
    elif ep is not None and not isinstance(ep, str):
        raise TypeError(
            "external_prefixes must be a comma-joined string or a list"
        )
    for key in ("max_images", "max_image_size", "max_html_size"):
        v = out.get(key)
        if v is None:
            continue
        try:
            int(v)
        except (TypeError, ValueError):
            raise ValueError(
                f"defaults[{key!r}] must be an integer, got {v!r}"
            ) from None
    return out


def prepare_for_extract(df: DataFrame, defaults: dict) -> DataFrame:
    """Attach config columns and assemble spans JVM-side.

    html = concat of kind='html' span texts ordered by offset; media
    spans ride along as a (small) separate array.  Handing Python two
    flat columns instead of the full nested array<struct> keeps the
    Arrow crossing cheap (nested structs materialize per-row python
    objects).  The derived columns come from one ``withColumns`` and one
    ``select`` (``_html_len`` reads the assembled ``html_src``) and the
    higher-order functions are SQL lambdas: a ``withColumn`` per column
    re-analysed the plan each time, and each Python lambda cost py4j
    round trips, for the same optimized plan.
    """
    defaults = _validate_defaults(defaults)
    names = df.columns
    assembled = {
        c: F.coalesce(F.col(c), F.lit(defaults[c]))
        if c in names else F.lit(defaults.get(c))
        for c in _CONFIG_COLS
        if c not in names or c in defaults
    }
    assembled["html_src"] = F.expr(_HTML_SRC)
    assembled["media_spans"] = F.expr(_MEDIA_SPANS)
    df = df.withColumns(assembled)
    return df.select(
        *[c for c in df.columns if c != "spans"],
        F.expr("length(html_src) AS _html_len"),
    )


def gate_oversized(df: DataFrame, defaults: dict) -> DataFrame:
    """JVM admission gate (reference: src/index.js:159-166), single-pass.

    Instead of splitting into ok/oversized branches (a Union whose two
    branches each re-scan the input and re-run span assembly), route
    oversized rows with a ``_gate_error`` status column and BLANK their
    html/media before the Arrow crossing: one scan, one assembly, and no
    oversized bytes ever reach Python.  The error text is byte-identical
    to the Python tier's ``f"html source larger than {mb:.0f}MB"``
    (bround = half-even, no thousands grouping).
    """
    max_html_default = int(defaults.get("max_html_size") or 1024 * 1024)
    # <= 0 means "unset" on the Python tier (`or`-chains; a negative
    # would otherwise reject everything with a '-0MB' message there);
    # coalesce alone would keep a literal 0 and reject EVERY non-empty
    # document with a '...larger than 0MB' error.  The RESOLVED limit
    # is written back into max_html_size so the Python re-check reads
    # the SAME value the gate enforced — without the write-back, a
    # row-level 0 with a job default other than 1MB resolves to the
    # job default here but to the library's 1MB in extract_row,
    # and the two tiers disagree about admission.
    limit = F.expr(
        "CAST(CASE WHEN max_html_size IS NULL OR max_html_size <= 0"
        f" THEN {max_html_default} ELSE max_html_size END AS BIGINT)"
    )
    err = F.expr(
        "concat('html source larger than ', CAST(CAST(bround(max_html_size"
        f" / {1024 * 1024}, 0) AS DECIMAL(20,0)) AS STRING), 'MB')"
    )
    return apply_gate(
        df.withColumns({"max_html_size": limit}),
        [(F.expr("_html_len > max_html_size"), err)],
        {
            "html_src": F.lit(""),
            "media_spans": F.expr("filter(media_spans, s -> false)"),
        },
    )


def extract_documents(
    docs: DataFrame,
    config: DataFrame | None = None,
    *,
    num_partitions: int | None = None,
    defaults: dict | None = None,
) -> DataFrame:
    """documents(doc_id, spans[]) [+ per-doc config] -> extracted table.

    ``config`` is a small per-doc-config DataFrame broadcast-joined on
    doc_id; job-level ``defaults`` fill missing values.
    """
    spark = docs.sparkSession
    defaults = defaults or {}

    df = docs.select("doc_id", "spans")
    if config is not None:
        df = df.join(F.broadcast(config), "doc_id", "left")

    # ---- assembly + admission gate (before any Python;
    # src/index.js:159-166): ONE scan, ONE assembly — oversized rows are
    # routed via a status column with html blanked, not a Union of
    # re-scanning branches
    df = prepare_for_extract(df, defaults)
    ok = gate_oversized(df, defaults)

    # ---- placement -------------------------------------------------------
    # The transform is a pure map: partitioning only matters for byte
    # balance.  Modes:
    #   none     - input already byte-balanced (parquet/iceberg splits
    #              sized by maxPartitionBytes at scale): zero shuffle.
    #   hash     - (default) one shuffle on doc_id; statistically
    #              balanced when docs/partition is large (law of large
    #              numbers) -- the right default at corpus scale.
    n = num_partitions or spark.sparkContext.defaultParallelism
    mode = defaults.get("repartition") or "hash"
    if mode == "none":
        balanced = ok
    elif mode == "hash":
        balanced = ok.repartition(n, "doc_id")
    else:
        raise ValueError(
            f"unknown repartition mode {mode!r}"
            " (expected 'none' or 'hash')"
        )

    return balanced.drop("_html_len").mapInArrow(
        _extract_batches, schema=EXTRACTED_SCHEMA
    )
