"""Structured Streaming: incremental HTML and PDF extraction with
exactly-once resume."""

from pyspark.sql import functions as F

from helix_html2md_spark.sources.synthetic import synthetic_documents
from helix_html2md_spark.streaming.stream import stream_extract


def test_stream_extract_incremental(spark, tmp_path):
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    synthetic_documents(spark, 10, seed=3, partitions=2).write.mode(
        "append"
    ).parquet(inp)
    q = stream_extract(spark, inp, out, ckpt)
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == 10

    # new files arrive; restart picks up ONLY the new ones

    more = synthetic_documents(spark, 16, seed=3, partitions=2).filter(
        F.col("doc_id") >= "synth:00000010"
    )
    more.write.mode("append").parquet(inp)
    q2 = stream_extract(spark, inp, out, ckpt)
    q2.awaitTermination(120)
    final = spark.read.parquet(out)
    assert final.count() == 16
    assert final.select("doc_id").distinct().count() == 16


def test_stream_pdf_extract_incremental(spark, tmp_path):
    """Streaming PDF layout parse: exactly-once across a restart, spans
    identical to the batch operator's output."""
    from helix_html2md_spark.sources.pdfgen import synth_pdf
    from helix_html2md_spark.streaming.stream import stream_pdf_extract

    inp, out, ckpt = (
        str(tmp_path / d) for d in ("in", "out", "cp")
    )
    rows1 = [(f"pdf-{s:03d}", bytearray(synth_pdf(s)[0])) for s in range(6)]
    spark.createDataFrame(
        rows1, "doc_id string, payload binary"
    ).write.parquet(inp)
    q = stream_pdf_extract(spark, inp, out, ckpt)
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == 6

    rows2 = [
        (f"pdf-{s:03d}", bytearray(synth_pdf(s)[0])) for s in range(6, 10)
    ]
    spark.createDataFrame(
        rows2, "doc_id string, payload binary"
    ).write.mode("append").parquet(inp)
    q2 = stream_pdf_extract(spark, inp, out, ckpt)
    q2.awaitTermination(120)
    final = spark.read.parquet(out)
    assert final.count() == 10  # restart processed ONLY the new files
    assert final.filter("status = 'ok'").count() == 10

    # stream output == batch operator output, span for span
    from helix_html2md_spark.operators.pdf import parse_pdf_documents

    batch = parse_pdf_documents(
        spark.createDataFrame(rows1 + rows2, "doc_id string, payload binary")
    )
    got = {
        r["doc_id"]: [tuple(s) for s in r["spans"]] for r in final.collect()
    }
    for r in batch.collect():
        assert got[r["doc_id"]] == [tuple(s) for s in r["spans"]]
