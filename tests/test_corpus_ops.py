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


# --- persisted IVF index (operators/similarity.py) --------------------------


def test_ivf_index_partition_pruning(spark, tmp_path):
    """The probe filter must reach the scan as a PARTITION filter —
    only the probed cells' files are read (the on-disk nprobe prune)."""
    from helix_html2md_spark.operators.similarity import (
        build_ivf_index, ivf_topk_from_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    seeds = [
        list(r["embedding"])
        for r in emb.filter("vec_id < 8").orderBy("vec_id").collect()
    ]
    path = str(tmp_path / "idx")
    build_ivf_index(emb.filter("vec_id != 0"), path, seeds)
    out = ivf_topk_from_index(spark, path, seeds[0], k=5, nprobe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    after = plan.split("PartitionFilters", 1)[1][:120]
    assert "cell" in after, after
    rows = out.collect()
    assert len(rows) == 5
    # identical results to the in-memory path
    from helix_html2md_spark.operators.similarity import ivf_topk

    mem = ivf_topk(
        emb.filter("vec_id != 0"), seeds[0], seeds, k=5, nprobe=2
    ).collect()
    assert [(r["vec_id"], r["cosine"]) for r in rows] == [
        (r["vec_id"], r["cosine"]) for r in mem
    ]


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


def test_ivf_sq_index_pruning_and_rescore(spark, tmp_path):
    """IVF-SQ serving: probe filter reaches the code scan as a
    PARTITION filter; the exact rescore broadcasts the <= 4k candidate
    ids into the base table; top-k matches the full-precision IVF path
    on this corpus (SQ reconstruction error is far below the corpus's
    cosine gaps at rescore=4k)."""
    from helix_html2md_spark.operators.similarity import (
        build_ivf_index, build_ivf_sq_index, ivf_sq_topk_from_index,
        ivf_topk_from_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    seeds = [
        list(r["embedding"])
        for r in emb.filter("vec_id < 8").orderBy("vec_id").collect()
    ]
    base = emb.filter("vec_id != 0")
    sq_path = str(tmp_path / "sq")
    build_ivf_sq_index(base, sq_path, seeds)
    out = ivf_sq_topk_from_index(
        spark, sq_path, base, seeds[0], k=5, nprobe=2
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # two scans: the base table (rescore side, no partition columns)
    # and the index vectors — the probe must land on the LATTER
    scans = plan.split("PartitionFilters")[1:]
    assert any("cell" in s[:120] for s in scans), plan
    assert "BroadcastHashJoin" in plan  # candidate ids, never the base
    rows = out.collect()
    assert len(rows) == 5
    flat_path = str(tmp_path / "flat")
    build_ivf_index(base, flat_path, seeds)
    flat = ivf_topk_from_index(
        spark, flat_path, seeds[0], k=5, nprobe=2
    ).collect()
    assert [(r["vec_id"], r["cosine"]) for r in rows] == [
        (r["vec_id"], r["cosine"]) for r in flat
    ]
    # the index stores int codes + two doubles, NOT raw vectors
    stored = spark.read.parquet(f"{sq_path}/vectors")
    kinds = dict(stored.dtypes)
    assert kinds["codes"] == "array<int>"
    assert "embedding" not in kinds
    code_range = stored.select(
        F.min(F.array_min("codes")), F.max(F.array_max("codes"))
    ).collect()[0]
    assert code_range[0] >= 0 and code_range[1] <= 255


def test_pq_encode_pure_jvm_and_deterministic(spark):
    from helix_html2md_spark.operators.similarity import (
        pq_encode, train_pq_codebooks,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = train_pq_codebooks(emb, m=8, ksub=16)
    assert len(books) == 8 and all(len(b) == 16 for b in books)
    assert all(len(c) == 8 for b in books for c in b)
    # deterministic: same corpus -> identical codebooks
    assert books == train_pq_codebooks(emb, m=8, ksub=16)
    out = pq_encode(emb, books)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Exchange" not in plan
    rows = out.select("vec_id", "codes").orderBy("vec_id").collect()
    assert rows == out.select("vec_id", "codes").orderBy("vec_id").collect()
    for r in rows:
        assert len(r["codes"]) == 8
        assert all(0 <= c < 16 for c in r["codes"])
    # validation
    import pytest

    with pytest.raises(ValueError):
        train_pq_codebooks(emb, m=7)  # 64 % 7 != 0
    with pytest.raises(ValueError):
        pq_encode(emb, [])


def test_ivf_pq_index_pruning_and_rescore(spark, tmp_path):
    """IVF-PQ serving: probe filter is a PARTITION filter on the code
    scan; ADC scoring is pure JVM over the m-code arrays; candidates
    broadcast into the base table; exact rescore at rescore=64 agrees
    with the full-precision Flat path on this corpus."""
    from helix_html2md_spark.operators.similarity import (
        build_ivf_index, build_ivf_pq_index, ivf_pq_topk_from_index,
        ivf_topk_from_index, train_pq_codebooks,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    seeds = [
        list(r["embedding"])
        for r in emb.filter("vec_id < 8").orderBy("vec_id").collect()
    ]
    base = emb.filter("vec_id != 0")
    books = train_pq_codebooks(base, m=8, ksub=16)
    pq_path = str(tmp_path / "pq")
    build_ivf_pq_index(base, pq_path, seeds, books)
    out = ivf_pq_topk_from_index(
        spark, pq_path, base, seeds[0], k=5, nprobe=2, rescore=64
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    scans = plan.split("PartitionFilters")[1:]
    assert any("cell" in s[:120] for s in scans), plan
    assert "BroadcastHashJoin" in plan
    assert "Python" not in plan
    rows = out.collect()
    assert len(rows) == 5
    flat_path = str(tmp_path / "flat")
    build_ivf_index(base, flat_path, seeds)
    flat = ivf_topk_from_index(
        spark, flat_path, seeds[0], k=5, nprobe=2
    ).collect()
    assert [(r["vec_id"], r["cosine"]) for r in rows] == [
        (r["vec_id"], r["cosine"]) for r in flat
    ]
    # the index stores m uint8-range codes per vector, NOT raw arrays
    stored = spark.read.parquet(f"{pq_path}/vectors")
    kinds = dict(stored.dtypes)
    assert kinds["codes"] == "array<int>" and "embedding" not in kinds
    assert stored.select(F.max(F.size("codes"))).collect()[0][0] == 8
    # self-contained: codebooks persisted beside the centroids
    cb = spark.read.parquet(f"{pq_path}/codebooks")
    assert cb.count() == 8 * 16
