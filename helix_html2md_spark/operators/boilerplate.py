"""Boilerplate-strip operator: (doc_id, html) -> main-content selection.

Wraps core/boilerplate.strip_boilerplate (Arc90-readability-style
text/link-density scoring) in the same Spark shape as the HTML and PDF
extraction operators: a single-pass JVM admission gate below one
Arrow-batched mapInArrow (``gate.map_rows``), with per-row error capture.
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    DoubleType, IntegerType, StringType, StructField, StructType,
)

from ..core.boilerplate import strip_boilerplate
from .gate import apply_gate, map_rows

BOILER_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("status", StringType()),
        StructField("error", StringType()),
        StructField("content_tag", StringType()),
        StructField("content_text", StringType()),
        StructField("text_len", IntegerType()),
        StructField("link_density", DoubleType()),
        StructField("n_paras", IntegerType()),
        StructField("score", IntegerType()),
    ]
)


def _failed(status: str, error: str) -> dict:
    return {
        "status": status, "error": error,
        "content_tag": None, "content_text": "",
        "text_len": 0, "link_density": 0.0, "n_paras": 0, "score": 0,
    }


def _strip_one(row: dict) -> dict:
    try:
        out = strip_boilerplate(row["html"] or "")
    except Exception as e:  # noqa: BLE001 - row resilience
        return _failed("parse_error", f"{type(e).__name__}: {e}")
    out["error"] = ""
    return out


def _gated(message: str) -> dict:
    return _failed("constraint_error", message)


def _strip_batches(
    batches: Iterator[pa.RecordBatch],
) -> Iterator[pa.RecordBatch]:
    return map_rows(batches, _strip_one, BOILER_SCHEMA, _gated)


def strip_boilerplate_documents(
    docs: DataFrame,
    *,
    max_html_size: int = 4 * 1024 * 1024,
    num_partitions: int | None = None,
) -> DataFrame:
    """Strip boilerplate from a (doc_id, html) table.

    Single-pass JVM size gate (oversized html is blanked before the
    Arrow crossing) -> one mapInArrow.
    """
    # octet_length: the budget bounds Python-worker/Arrow batch MEMORY,
    # so it is a byte limit (F.length counts characters — a multibyte
    # CJK page would cross at up to 4x the stated budget)
    gated = apply_gate(
        docs.select("doc_id", "html"),  # prune before the Arrow crossing
        [(
            F.expr(f"octet_length(html) > {max_html_size}"),
            f"html larger than {max_html_size} bytes",
        )],
        {"html": F.lit("")},
    )
    if num_partitions:
        gated = gated.repartition(num_partitions, "doc_id")
    return gated.mapInArrow(_strip_batches, BOILER_SCHEMA)
