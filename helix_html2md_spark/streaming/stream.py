"""Structured Streaming surface.

The reference is a synchronous request/response service (SURVEY.md §2B:
no stream, no cross-request state), so batch is the primary mode; these
two operators exist for pipeline deployments that tail a landing zone:

* ``stream_extract``: readStream over a spans-table directory ->
  the same extraction operator -> writeStream (exactly-once via
  checkpointLocation + idempotent parquet sink)
* ``stream_pdf_extract``: the same over a (doc_id, payload) PDF
  directory -> the batch PDF layout parse -> writeStream

Neither keeps state beyond the file-source checkpoint.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..sources.fixtures import DOC_SCHEMA


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    *,
    config=None,
    defaults: dict | None = None,
    available_now: bool = True,
):
    """Tail a spans-table directory and extract incrementally.

    Per-file exactly-once: the file-source checkpoint records consumed
    files; the parquet sink is append-only.  Uses the identical Arrow
    batch transform as the batch path (no per-row Python).  ``config``
    is an optional small static per-doc-config DataFrame, broadcast
    stream-static joined on doc_id exactly like the batch operator.
    """
    docs = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(input_dir)
    )
    from ..operators.extract import extract_documents

    # ONE implementation: the batch operator in its zero-shuffle 'none'
    # placement mode is stream-safe (select -> broadcast config join ->
    # assembly -> gate -> mapInArrow, no Window/repartition), so the
    # stream cannot drift from the batch gate/assembly — the oracle
    # requires byte-identical markdown from both surfaces
    defaults = dict(defaults or {})
    defaults.setdefault("repartition", "none")
    extracted = extract_documents(docs, config, defaults=defaults)
    writer = (
        extracted.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_pdf_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    *,
    max_pdf_size: int = 16 * 1024 * 1024,
    available_now: bool = True,
):
    """Tail a (doc_id, payload) PDF directory and layout-parse
    incrementally — the PDF twin of :func:`stream_extract`, with the
    identical single-pass JVM admission gate (size + ``%PDF-`` magic)
    below the one Arrow crossing.  Exactly-once via the file-source
    checkpoint + append-only parquet sink."""
    from pyspark.sql.types import (
        BinaryType, StringType, StructField, StructType,
    )

    from ..operators.pdf import parse_pdf_documents

    schema = StructType(
        [
            StructField("doc_id", StringType()),
            StructField("payload", BinaryType()),
        ]
    )
    pdfs = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 16)
        .parquet(input_dir)
    )
    parsed = parse_pdf_documents(pdfs, max_pdf_size=max_pdf_size)
    writer = (
        parsed.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
