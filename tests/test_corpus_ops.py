"""Corpus-level term statistics + deterministic sampling operators."""

import hashlib

from pyspark.sql import functions as F

from helix_html2md_spark.operators.corpus import (
    hash_sample_stats, tfidf_top_terms,
)


def test_tfidf_ranks_rare_terms_first(spark):
    docs = spark.createDataFrame(
        [
            (1, "apple apple apple common"),
            (2, "banana common common"),
            (3, "common cherry"),
        ],
        "doc_id long, text string",
    )
    out = {
        (r["doc_id"], r["rank"]): r
        for r in tfidf_top_terms(docs, k=2).collect()
    }
    # doc 1: apple tf=3 df=1 -> score 3*3000=9000; common tf=1 df=3 -> 1000
    assert out[(1, 1)]["term"] == "apple"
    assert out[(1, 1)]["score"] == 9000
    assert out[(1, 2)]["term"] == "common"
    assert out[(1, 2)]["score"] == 1000
    # doc 3: cherry (df=1, 3000) beats common (df=3, 1000)
    assert out[(3, 1)]["term"] == "cherry"
    # integer quantization: floor(1000*3/2) = 1500 for a df=2 term
    docs2 = spark.createDataFrame(
        [(1, "pair"), (2, "pair"), (3, "solo")],
        "doc_id long, text string",
    )
    got = {
        r["term"]: r["score"]
        for r in tfidf_top_terms(docs2, k=1).collect()
    }
    assert got["pair"] == 1500 and got["solo"] == 3000


def test_tfidf_topk_bounded_and_dense(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = tfidf_top_terms(docs, k=5)
    per_doc = (
        out.groupBy("doc_id")
        .agg(F.count("*").alias("n"), F.max("rank").alias("mx"))
        .collect()
    )
    assert all(r["n"] <= 5 and r["mx"] == r["n"] for r in per_doc)


def test_hash_sample_deterministic_and_exact(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = hash_sample_stats(docs, numerator=64).collect()
    b = hash_sample_stats(docs, numerator=64).collect()
    assert a == b
    # the predicate is a pure function of doc_id: recompute in python
    rows = docs.select("doc_id", "lang", "n_chars").collect()
    exp = {}
    for r in rows:
        e = exp.setdefault(r["lang"], [0, 0, 0])
        e[0] += 1
        if hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[:2] < "40":
            e[1] += 1
            e[2] += r["n_chars"]
    got = {r["lang"]: r for r in a}
    assert set(got) == set(exp)
    for lang, (n_total, n_sampled, chars) in exp.items():
        assert got[lang]["n_total"] == n_total
        assert got[lang]["n_sampled"] == n_sampled
        assert got[lang]["chars_sampled"] == chars


def test_hash_sample_shuffle_free_predicate(spark):
    """The keep predicate must evaluate in the scan stage: exactly one
    exchange (the lang aggregation), nothing before it."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = (
        hash_sample_stats(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # one hash-agg exchange + the orderBy range exchange, no more
    assert plan.count("Exchange") <= 2


def test_mix_corpus_weights_and_edges(spark):
    from helix_html2md_spark.operators.corpus import mix_corpus

    docs = spark.createDataFrame(
        [
            (i, f"text {i}", "en", f"src{i % 3}", 10)
            for i in range(300)
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    # weight 256 keeps EVERY row ('zz' sentinel — '100' would keep none),
    # weight 0 drops the source entirely
    kept = mix_corpus(
        docs, {"src0": 256, "src1": 0}, default=64
    ).groupBy("source").count().collect()
    by_src = {r["source"]: r["count"] for r in kept}
    assert by_src["src0"] == 100
    assert "src1" not in by_src
    assert 0 < by_src["src2"] < 100  # ~25% of 100
    # deterministic across runs
    a = sorted(
        r["doc_id"]
        for r in mix_corpus(docs, {"src0": 77}, default=128).collect()
    )
    b = sorted(
        r["doc_id"]
        for r in mix_corpus(docs, {"src0": 77}, default=128).collect()
    )
    assert a == b

