"""PDF layout-parse operator: (doc_id, payload) -> layout spans.

The north rule's pipeline is "HTML boilerplate strip, PDF/layout parse,
DOM heuristics"; the reference service covers only the HTML leg
(/root/reference/src/index.js), so this operator extends the same span
contract (operators/extract.py SPAN_TYPE) to PDF inputs using the pure
parser in core/pdfparse.py.

Spark-first shape — the same plan discipline as the HTML extraction
operator:

* JVM admission gate BEFORE the Python stage, single-pass (no Union):
  byte-size cap and ``%PDF-`` magic check are native expressions; a
  rejected row's payload is blanked so oversized/non-PDF bytes never
  cross the Arrow boundary
* exactly one ``mapInArrow`` (Arrow-batched; no per-row Python UDF, no
  pandas conversion) through ``gate.map_rows``, on the extraction
  operator's own ``SPAN_TYPE``
* per-row error capture into status/error — a malformed PDF degrades
  that row, never the job
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType, IntegerType, StringType, StructField, StructType,
)

from ..core.pdfparse import PdfError, parse_pdf
from .extract import SPAN_TYPE
from .gate import apply_gate, map_rows

PDF_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("spans", ArrayType(SPAN_TYPE)),
        StructField("status", StringType()),
        StructField("error", StringType()),
        StructField("n_headings", IntegerType()),
        StructField("n_text", IntegerType()),
        StructField("n_images", IntegerType()),
        StructField("n_chars", IntegerType()),
    ]
)

_MAGIC = "255044462D"  # b"%PDF-"


def _pdf_row(spans: list[dict], status: str, error: str) -> dict:
    """The PDF_SCHEMA columns of one parsed (or failed) document."""
    return {
        "spans": spans,
        "status": status,
        "error": error,
        "n_headings": sum(1 for s in spans if s["kind"] == "heading"),
        "n_text": sum(1 for s in spans if s["kind"] == "text"),
        "n_images": sum(1 for s in spans if s["kind"] == "image"),
        "n_chars": sum(len(s["text"] or "") for s in spans),
    }


def _parse_one(row: dict) -> dict:
    try:
        return _pdf_row(parse_pdf(bytes(row["payload"])), "ok", "")
    except PdfError as e:
        return _pdf_row([], "parse_error", str(e))
    except Exception as e:  # noqa: BLE001 - row-level resilience
        return _pdf_row([], "parse_error", f"{type(e).__name__}: {e}")


def _gated(message: str) -> dict:
    return _pdf_row([], "constraint_error", message)


def _parse_batches(
    batches: Iterator[pa.RecordBatch],
) -> Iterator[pa.RecordBatch]:
    return map_rows(batches, _parse_one, PDF_SCHEMA, _gated)


def parse_pdf_documents(
    pdfs: DataFrame,
    *,
    max_pdf_size: int = 16 * 1024 * 1024,
    num_partitions: int | None = None,
) -> DataFrame:
    """Parse a (doc_id, payload binary) table into layout spans.

    Single-pass JVM gate (size + magic) -> one mapInArrow.  At 100 TB
    the gate matters twice: Catalyst cannot push predicates through the
    Python stage, and blanking rejected payloads JVM-side keeps dead
    bytes off the Arrow channel entirely.
    """
    # a NULL payload must be gated EXPLICITLY and FIRST: the other
    # predicates evaluate to NULL for it (skipped branches), so without
    # this condition it slipped through un-blanked and surfaced as a
    # misleading Python-side parse_error
    gated = apply_gate(
        pdfs.select("doc_id", "payload"),  # prune before Arrow
        [
            (F.expr("payload IS NULL"), "payload missing"),
            (
                F.expr(f"length(payload) > {max_pdf_size}"),
                f"pdf larger than {max_pdf_size} bytes",
            ),
            (
                F.expr(f"NOT substring(payload, 1, 5) = X'{_MAGIC}'"),
                "not a PDF (missing %PDF- magic)",
            ),
        ],
        {"payload": F.lit(b"")},
    )
    if num_partitions:
        gated = gated.repartition(num_partitions, "doc_id")
    return gated.mapInArrow(_parse_batches, PDF_SCHEMA)
