"""The BPE pre-tokenizer (functions/text.py::bpe_tokens, bpe_token_count).

These are the units a byte-pair encoder would merge within, and the
segmentation that the `bpe_token_stats` query pins by md5. The oracle
layers here are a hand-counted word histogram and segmentation
invariants checked JVM-side over every sf0.001 document."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from helix_html2md_spark.functions.text import (
    WS_CLASS, bpe_token_count, bpe_tokens,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def _non_ws(segs):
    return F.filter(segs, lambda t: ~t.rlike("^" + WS_CLASS + "+$"))


def test_word_counts(spark):
    docs = spark.createDataFrame(
        [(1, "to be or"), (2, "to be")], "doc_id long, text string"
    )
    got = {
        r["word"]: r["n"]
        for r in docs.select(
            F.explode(_non_ws(bpe_tokens(F.col("text")))).alias("word")
        )
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    # space-glued: "to", " be"(x2), " or", "to" -> {"to":2," be":2," or":1}
    assert got == {"to": 2, " be": 2, " or": 1}
    n = {
        r["doc_id"]: r["n"]
        for r in docs.select(
            "doc_id", bpe_token_count(F.col("text")).alias("n")
        ).collect()
    }
    assert n == {1: 3, 2: 2}


def test_bpe_determinism_and_lossless(spark):
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    segs = docs.select(
        "doc_id", "text", bpe_tokens(F.col("text")).alias("segs")
    ).select(
        "doc_id",
        "text",
        "segs",
        _non_ws(F.col("segs")).alias("words"),
        bpe_token_count(F.col("text")).alias("n"),
    )
    # every check runs JVM-side over EVERY document; zero rows may diverge
    # lossless: the segments concatenate back to the text
    assert segs.filter(
        F.col("text").isNotNull()
        & (F.array_join("segs", "") != F.col("text"))
    ).count() == 0
    # a non-whitespace pre-token carries at most one glued leading space
    # and no other whitespace
    assert segs.filter(
        F.exists(
            "words",
            lambda t: ~t.rlike("^ ?[^ \\t\\n\\x0B\\f\\r]+$"),
        )
    ).count() == 0
    # bpe_token_count is exactly the non-whitespace segment count
    assert segs.filter(F.size("words") != F.col("n")).count() == 0
    # deterministic across evaluations
    a = segs.select("doc_id", "n", F.md5(F.array_join("words", "|")))
    assert sorted(a.collect()) == sorted(a.collect())
    # pre-tokens group characters: fewer tokens than non-space chars
    n_tokens, n_chars = segs.agg(
        F.sum("n"),
        F.sum(F.length(F.regexp_replace("text", WS_CLASS + "+", ""))),
    ).collect()[0]
    assert 0 < n_tokens < n_chars
