"""Tests of the shared gate (operators/gate.py).

The Arrow row crossing (``map_rows``) is driven without Spark through
each operator's batch function, on hand-built RecordBatches; the error
rows are pinned literally: status, error text, zero counts and empty
payload columns are part of the output contract.  The JVM half
(``apply_gate``) is pinned on the session fixture: its column order, its
blanking and how a NULL predicate is routed."""

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from helix_html2md_spark.operators import boilerplate, extract, pdf
from helix_html2md_spark.operators.gate import apply_gate
from helix_html2md_spark.sources.pdfgen import synth_pdf

MEDIA = pa.list_(
    pa.struct([
        ("kind", pa.string()), ("text", pa.string()),
        ("media_ref", pa.string()), ("offset", pa.int32()),
    ])
)
EXTRACT_IN = pa.schema([
    ("doc_id", pa.string()), ("source_url", pa.string()),
    ("org", pa.string()), ("site", pa.string()),
    ("media_enabled", pa.bool_()), ("unspread_lists", pa.bool_()),
    ("external_prefixes", pa.string()), ("max_images", pa.int32()),
    ("max_image_size", pa.int64()), ("max_html_size", pa.int64()),
    ("boilerplate_fallback", pa.bool_()), ("html_src", pa.string()),
    ("media_spans", MEDIA),
])
SPAN = pa.struct([
    ("kind", pa.string()), ("text", pa.string()),
    ("media_ref", pa.string()), ("order", pa.int32()),
])


def _batch(schema, rows, gate=None):
    """RecordBatch of ``rows`` (dicts); ``gate`` adds ``_gate_error``."""
    cols = {f.name: [r.get(f.name) for r in rows] for f in schema}
    if gate is not None:
        schema = schema.append(pa.field("_gate_error", pa.string()))
        cols["_gate_error"] = gate
    return pa.RecordBatch.from_pydict(cols, schema=schema)


def _run(batch_fn, *batches):
    out = list(batch_fn(iter(batches)))
    assert len(out) == len(batches)  # one output batch per input batch
    return out


def _page(doc_id, html, **cfg):
    return {"doc_id": doc_id, "html_src": html, **cfg}


def test_extract_schema_and_gate_column_shapes():
    ok = _page("a", "<main><p>hello</p></main>")
    rejected = _page("b", "")
    with_gate = _batch(
        EXTRACT_IN, [ok, rejected], gate=[None, "html source larger than 1MB"]
    )
    absent = _batch(EXTRACT_IN, [ok])  # ungated input
    out = _run(extract._extract_batches, with_gate, absent)
    for b in out:
        assert b.schema.field("spans").type == pa.list_(SPAN)
        for name in ("n_images", "n_blocks", "n_chars"):
            assert b.schema.field(name).type == pa.int32()
        assert b.schema.names == extract.EXTRACTED_SCHEMA.names
    rows = out[0].to_pylist()
    assert rows[0] == out[1].to_pylist()[0] == {
        "doc_id": "a",
        "spans": [
            {"kind": "text", "text": "hello", "media_ref": "", "order": 0}
        ],
        "md": "hello", "status": "ok", "error": "",
        "n_images": 0, "n_blocks": 1, "n_chars": 5,
    }
    assert rows[1] == {
        "doc_id": "b", "spans": [], "md": "",
        "status": "constraint_error", "error": "html source larger than 1MB",
        "n_images": 0, "n_blocks": 0, "n_chars": 0,
    }


def test_extract_empty_batch_and_null_media_spans():
    empty = _batch(EXTRACT_IN, [], gate=[])
    null_media = _batch(
        EXTRACT_IN,
        [_page("m", "<main><p>x</p></main>", media_spans=None,
               media_enabled=None, max_images=None)],
    )
    out = _run(extract._extract_batches, empty, null_media)
    assert out[0].num_rows == 0
    assert out[0].schema == out[1].schema
    (row,) = out[1].to_pylist()
    assert (row["status"], row["md"]) == ("ok", "x")


def test_extract_error_rows():
    media = [{"kind": "media", "text": "a.png", "media_ref": "zz", "offset": 1}]
    rows = _batch(EXTRACT_IN, [
        # malformed source_url: the media lookup raises inside extract_row
        _page("p", "<main><img src='a.png'></main>",
              source_url="http://[bad", media_spans=media),
        _page("c", "<main><img src='1.png'><img src='2.png'>"
              "<img src='3.png'></main>", max_images=2),
    ])
    got = _run(extract._extract_batches, rows)[0].to_pylist()
    blank = {"spans": [], "md": "", "n_images": 0, "n_blocks": 0, "n_chars": 0}
    assert got == [
        {"doc_id": "p", **blank, "status": "parse_error",
         "error": "ValueError: Invalid IPv6 URL"},
        {"doc_id": "c", **blank, "status": "constraint_error",
         "error": "maximum number of images reached: 3 of 2 max."},
    ]


PDF_IN = pa.schema([("doc_id", pa.string()), ("payload", pa.binary())])


def test_pdf_rows_and_schema():
    payload, expected = synth_pdf(1)
    batch = _batch(
        PDF_IN,
        [
            {"doc_id": "ok", "payload": payload},
            {"doc_id": "gated", "payload": b""},
            {"doc_id": "trunc", "payload": b"%PDF-1.4\n1 0 obj"},
            {"doc_id": "null", "payload": None},  # ungated NULL
        ],
        gate=[None, "payload missing", None, None],
    )
    (out,) = _run(pdf._parse_batches, batch)
    assert out.schema.field("spans").type == pa.list_(SPAN)
    for name in ("n_headings", "n_text", "n_images", "n_chars"):
        assert out.schema.field(name).type == pa.int32()
    ok, *errors = out.to_pylist()
    assert ok["status"] == "ok" and len(ok["spans"]) == len(expected)
    assert [s["kind"] for s in ok["spans"]] == [k for k, _ in expected]
    blank = {"spans": [], "n_headings": 0, "n_text": 0, "n_images": 0,
             "n_chars": 0}
    assert errors == [
        {"doc_id": "gated", **blank, "status": "constraint_error",
         "error": "payload missing"},
        {"doc_id": "trunc", **blank, "status": "parse_error",
         "error": "no objects"},
        {"doc_id": "null", **blank, "status": "parse_error",
         "error": "TypeError: cannot convert 'NoneType' object to bytes"},
    ]
    (empty,) = _run(pdf._parse_batches, _batch(PDF_IN, []))
    assert empty.num_rows == 0 and empty.schema == out.schema


BOILER_IN = pa.schema([("doc_id", pa.string()), ("html", pa.string())])


def test_boilerplate_rows(monkeypatch):
    batch = _batch(
        BOILER_IN,
        [{"doc_id": "big", "html": ""}, {"doc_id": "null", "html": None}],
        gate=["html larger than 1024 bytes", None],
    )
    blank = {"content_tag": None, "content_text": "", "text_len": 0,
             "link_density": 0.0, "n_paras": 0, "score": 0}
    (out,) = _run(boilerplate._strip_batches, batch)
    assert out.schema.field("link_density").type == pa.float64()
    assert out.schema.field("score").type == pa.int32()
    assert out.to_pylist() == [
        {"doc_id": "big", "status": "constraint_error",
         "error": "html larger than 1024 bytes", **blank},
        {"doc_id": "null", "status": "no_content", "error": "", **blank},
    ]

    def boom(html):
        raise RuntimeError("scorer broke")

    monkeypatch.setattr(boilerplate, "strip_boilerplate", boom)
    (out,) = _run(boilerplate._strip_batches, _batch(BOILER_IN, [
        {"doc_id": "x", "html": "<p>y</p>"},
    ]))
    assert out.to_pylist() == [
        {"doc_id": "x", "status": "parse_error",
         "error": "RuntimeError: scorer broke", **blank},
    ]


@pytest.mark.parametrize("fn, schema", [
    (extract._extract_batches, EXTRACT_IN),
    (pdf._parse_batches, PDF_IN),
    (boilerplate._strip_batches, BOILER_IN),
])
def test_all_null_gate_column(fn, schema):
    """An all-NULL ``_gate_error`` (every row admitted) reads as None per
    row, the same as an ungated batch."""
    row = {"doc_id": "d", "html_src": "<p>x</p>", "payload": b"%PDF-",
           "html": "<p>x</p>"}
    (gated,) = _run(fn, _batch(schema, [row], gate=[None]))
    (ungated,) = _run(fn, _batch(schema, [row]))
    assert gated.column("status")[0].as_py() != "constraint_error"
    assert gated.equals(ungated)


def test_apply_gate_columns_blanking_and_null_predicates(spark):
    """First true predicate wins, a NULL predicate falls through to the
    next condition, rejected rows get every ``blank`` column blanked,
    and ``_gate_error`` is appended after the input columns in order."""
    df = spark.createDataFrame(
        [
            ("ok", "abc", 1),
            ("long", "abcdefgh", -2),  # two conditions hold: the first wins
            ("negative", "ab", -1),
            ("null_text", None, 3),  # length(NULL) > 5 is NULL: falls through
            ("null_n", "abc", None),  # every predicate false or NULL
        ],
        "doc_id string, text string, n int",
    )
    out = apply_gate(
        df,
        [
            (F.length("text") > 5, "too long"),
            (
                F.col("n") < 0,
                F.concat(F.lit("negative "), F.col("n").cast("string")),
            ),
            (F.col("text").isNull(), "missing"),
        ],
        {"n": F.lit(0), "text": F.lit("")},
    )
    assert out.columns == ["doc_id", "text", "n", "_gate_error"]
    assert sorted(tuple(r) for r in out.collect()) == [
        ("long", "", 0, "too long"),
        ("negative", "", 0, "negative -1"),
        ("null_n", "abc", None, None),
        ("null_text", "", 0, "missing"),
        ("ok", "abc", 1, None),
    ]
    with pytest.raises(ValueError, match="at least one condition"):
        apply_gate(df, [], {"text": F.lit("")})
