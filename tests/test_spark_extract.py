"""Tier-2: the full Spark pipeline over the fixture-derived spans table.

Asserts the per-row invariant from BASELINE.json/FIXTURES.md §2:
span-sequence equality -> md byte equality vs every golden fixture, plus
status/error classification for the error-only fixtures, all through
``mapInArrow`` on a local SparkSession.
"""

import pytest

from helix_html2md_spark.operators.extract import extract_documents
from helix_html2md_spark.sources.fixtures import (
    expected_markdown, fixture_documents, fixture_names,
)


@pytest.fixture(scope="module")
def extracted(spark):
    docs, cfg = fixture_documents(spark)
    out = extract_documents(docs, cfg, num_partitions=4)
    rows = {r["doc_id"]: r.asDict(recursive=True) for r in out.collect()}
    return rows


def test_all_fixtures_extracted(extracted):
    # pin the cardinality: fixture_names() is glob-derived, so a
    # missing/empty reference checkout would otherwise green the whole
    # tier-2 harness vacuously at 0 == 0
    assert len(fixture_names()) == 27
    assert len(extracted) == len(fixture_names())


@pytest.mark.parametrize("name", [n for n in fixture_names() if expected_markdown(n) is not None])
def test_md_matches_golden(extracted, name):
    row = extracted[f"fixture:{name}"]
    assert row["status"] == "ok", row["error"]
    assert row["md"] == expected_markdown(name)


@pytest.mark.parametrize("name", [n for n in fixture_names() if expected_markdown(n) is not None])
def test_span_sequence_invariant(extracted, name):
    """concat(span.text ordered by order) == md; media spans carry refs."""
    row = extracted[f"fixture:{name}"]
    spans = sorted(row["spans"], key=lambda s: s["order"])
    assert [s["order"] for s in spans] == list(range(len(spans)))
    assert "".join(s["text"] for s in spans) == row["md"]
    for s in spans:
        if s["kind"] == "media":
            assert s["text"].startswith(("![", "[image"))
            assert s["media_ref"] != "" or s["text"].startswith("![")
        else:
            assert s["media_ref"] == ""


def test_media_spans_resolved(extracted):
    row = extracted["fixture:images"]
    defs = [s for s in row["spans"] if s["kind"] == "media" and s["text"].startswith("[image")]
    assert len(defs) == 5
    assert defs[0]["media_ref"].startswith("https://main--repo--owner.aem.page/media_1c2e2")


def test_error_fixtures(extracted):
    assert extracted["fixture:json-ld-invalid"]["status"] == "constraint_error"
    assert extracted["fixture:json-ld-invalid"]["error"] == "invalid json-ld"
    assert extracted["fixture:images-large"]["status"] == "constraint_error"
    assert (
        extracted["fixture:images-large"]["error"]
        == "Images 1 and 2 exceed allowed limit of 20.00MB"
    )
    assert extracted["fixture:json-ld-too-large"]["status"] == "constraint_error"


def test_oversized_html_gated_jvm_side(spark):
    """maxHTMLSize admission gate routes rows without running Python."""
    docs = spark.createDataFrame(
        [
            {
                "doc_id": "big",
                "spans": [
                    {"kind": "html", "text": "x" * 2_000_000, "media_ref": "", "offset": 0}
                ],
            }
        ],
        schema="doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    out = extract_documents(docs, None, num_partitions=2).collect()
    assert out[0]["status"] == "constraint_error"
    assert "html source larger than 1MB" in out[0]["error"]


def test_hostile_docs_degrade_per_row(spark):
    """Pathological documents (recursion-blowing nesting, megabyte-scale
    attributes) must yield per-row parse_error/ok, never a task failure —
    one poisoned doc out of 10^12 cannot kill the job."""
    deep = "<main>" + "<div>" * 5000 + "x" + "</div>" * 5000 + "</main>"
    bigattr = '<main><p ' + "a" * 200_000 + '="x">hi</p></main>'
    rows = [
        {"doc_id": d, "spans": [
            {"kind": "html", "text": h, "media_ref": "", "offset": 0}
        ]}
        for d, h in (("deep", deep), ("bigattr", bigattr), ("fine", "<main><p>ok</p></main>"))
    ]
    docs = spark.createDataFrame(
        rows,
        schema="doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    out = {r["doc_id"]: r for r in extract_documents(docs, None, num_partitions=2).collect()}
    assert out["fine"]["status"] == "ok" and out["fine"]["md"] == "ok"
    assert out["bigattr"]["status"] == "ok" and out["bigattr"]["md"] == "hi"
    assert out["deep"]["status"] == "parse_error"
    assert "RecursionError" in out["deep"]["error"]


def test_malformed_source_url_degrades_per_row(spark):
    """Config parsing + media-lookup construction are per-row code: a
    malformed source_url ('http://[' raises Invalid IPv6 URL inside
    urlsplit) must yield an error ROW, never a task failure."""
    from pyspark.sql import Row

    spans = [
        Row(kind="html", text="<main><div><p>ok</p></div></main>",
            media_ref=None, offset=0),
        Row(kind="media", text="img.png", media_ref="ref:1:png:1:1:9",
            offset=1),
    ]
    docs = spark.createDataFrame(
        [("good", spans), ("bad", spans)],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    cfg = spark.createDataFrame(
        [("good", "https://x.example/p"), ("bad", "http://[")],
        "doc_id string, source_url string",
    )
    out = {
        r["doc_id"]: r
        for r in extract_documents(docs, cfg, num_partitions=2).collect()
    }
    assert out["good"]["status"] == "ok"
    assert out["bad"]["status"] == "parse_error"
    assert "ValueError" in out["bad"]["error"]


def test_gate_treats_zero_limit_as_unset(spark):
    """max_html_size=0 means 'use the default' on the Python tier; the
    JVM gate must agree (a literal 0 limit would constraint-error every
    non-empty document)."""
    from helix_html2md_spark.sources.synthetic import synthetic_documents

    docs = synthetic_documents(spark, 5, seed=9, partitions=1)
    out = extract_documents(
        docs, None, num_partitions=1, defaults={"max_html_size": 0}
    ).collect()
    assert all(r["status"] == "ok" for r in out)


def test_decompose_md_adversarial_nested_ref():
    """A definition line whose URL text itself matches the ref pattern
    must not break concat(span.text) == md."""
    from helix_html2md_spark.operators.extract import decompose_md

    md = "before\n\n![a][image0]\n\n[image0]: ![a][image0]"
    spans = decompose_md(md)
    assert "".join(s["text"] for s in spans) == md
    assert [s["order"] for s in spans] == list(range(len(spans)))


def _one_doc(spark, doc_id="d", html="<main><p>hello world</p></main>"):
    return spark.createDataFrame(
        [
            {
                "doc_id": doc_id,
                "spans": [
                    {"kind": "html", "text": html,
                     "media_ref": "", "offset": 0}
                ],
            }
        ],
        schema="doc_id string, spans array<struct<kind:string,"
               "text:string,media_ref:string,offset:int>>",
    )


def test_gate_resolved_limit_reaches_python_tier(spark):
    """A per-row max_html_size of 0 with a NON-1MB job default must
    resolve to the job default in BOTH tiers: pre-fix, the JVM gate
    admitted under the job default while the Python re-check fell back
    to the library's 1MB and spuriously constraint-errored."""
    big = _one_doc(spark, "big", "<main><p>" + "x" * 2_000_000
                   + "</p></main>")
    cfg = spark.createDataFrame(
        [("big", 0)], "doc_id string, max_html_size long"
    )
    out = extract_documents(
        big, cfg, num_partitions=1,
        defaults={"max_html_size": 4 * 1024 * 1024},
    ).collect()
    assert out[0]["status"] == "ok", out[0]["error"]
    # and the reverse: a small job default still gates JVM-side
    out2 = extract_documents(
        big, cfg, num_partitions=1,
        defaults={"max_html_size": 512 * 1024},
    ).collect()
    assert out2[0]["status"] == "constraint_error"
    # resolved limit 512KB: bround(524288/1048576) = bround(0.5) is
    # half-even -> "0MB" in the gate's message
    assert "larger than 0MB" in out2[0]["error"]


def test_gate_negative_limit_is_unset(spark):
    """Negative max_html_size means unset, same as 0 — pre-fix the gate
    rejected everything with 'larger than 0MB' while the Python tier
    said '-0MB'."""
    cfg = spark.createDataFrame(
        [("d", -1)], "doc_id string, max_html_size long"
    )
    out = extract_documents(
        _one_doc(spark), cfg, num_partitions=1
    ).collect()
    assert out[0]["status"] == "ok"


def test_invalid_defaults_fail_at_driver(spark):
    """Row-invariant misconfiguration raises before any task runs,
    instead of stamping every row parse_error."""
    docs = _one_doc(spark)
    with pytest.raises(ValueError):
        extract_documents(docs, None, defaults={"max_images": "abc"})
    with pytest.raises(TypeError):
        extract_documents(docs, None, defaults={"external_prefixes": 7})
    with pytest.raises(ValueError):
        extract_documents(
            docs, None, defaults={"repartition": "weigted"}
        ).collect()
    # a LIST of prefixes is normalized to the comma-joined contract
    out = extract_documents(
        docs, None, num_partitions=1,
        defaults={"external_prefixes": ["https://cdn."]},
    ).collect()
    assert out[0]["status"] == "ok"
    # an explicit None mode means the default (hash), not an unknown mode
    out2 = extract_documents(
        docs, None, num_partitions=1, defaults={"repartition": None}
    ).collect()
    assert out2[0]["status"] == "ok"
