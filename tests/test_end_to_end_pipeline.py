"""End-to-end training-data pipeline composition at sf0.001:

    language gate (langid) -> exact-substring window dedup ->
    benchmark decontamination -> sequence packing.

Each stage is individually oracled elsewhere; this test pins that the
stages COMPOSE — schemas line up, every stage's monotone-shrink
invariant holds, the final pack assignment covers exactly the
surviving documents, and the whole chain stays inside the engine
(one collect at the very end)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from helix_html2md_spark.functions.langid import filter_language
from helix_html2md_spark.functions.text import token_count
from helix_html2md_spark.operators.dedup import (
    decontaminate, drop_dup_window_docs, release_persisted,
)
from helix_html2md_spark.operators.packing import pack_sequences

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def test_full_training_pipeline(spark):
    base = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    # salt the pool with non-English docs the language gate must drop
    foreign = spark.createDataFrame(
        [
            (90001, "le chat est dans la maison des voisins pour la "
                    "nuit et les enfants ne sont pas dans le jardin",
             "fr", "srcX", 0),
            (90002, "这是一个中文文档用来测试语言识别的门槛", "zh", "srcX", 0),
        ],
        base.schema,
    )
    pool = base.unionByName(foreign)
    n0 = pool.count()
    try:
        # 0. language gate: monolingual corpus — keep en (plus 'und'
        # for marker-less soup docs the later gates judge on merit).
        # localCheckpoint = the macro-stage boundary a real pipeline
        # puts here anyway: three more stages compose on top, and
        # without truncating the lineage the accumulated plan TEXT
        # (rendered by AQE on every update) grows past the driver heap
        docs = filter_language(pool, keep=("en", "und")).localCheckpoint()
        n_lang = docs.count()
        assert n_lang == n0 - 2  # exactly the salted foreign docs drop

        # 1. exact-substring window dedup (w=20, drop heavy overlap)
        stage1 = drop_dup_window_docs(docs, window=20, max_dup_ppm=500_000)
        n1 = stage1.count()
        assert 0 < n1 <= n_lang

        # 2. decontaminate against a "benchmark" cut from held-out docs
        bench = docs.filter("doc_id >= 490").selectExpr(
            "doc_id", "substr(text, 1, 120) AS text"
        )
        # a held-out doc shorter than the 13-gram window cannot collide
        # and is kept (decontaminate's contract); doc 490 has 10 tokens
        collidable = (F.col("doc_id") >= 490) & (
            token_count(F.col("text")) >= 13
        )
        # precondition: contaminated docs actually reached this stage
        # (otherwise the zero-survivors check below passes vacuously
        # even when decontaminate is a no-op)
        assert stage1.filter(collidable).count() > 0
        stage2 = decontaminate(stage1, bench, n=13)
        n2 = stage2.count()
        assert 0 < n2 <= n1
        # the self-contaminated held-out docs that survived stage 1
        # must be gone now
        assert stage2.filter(collidable).count() == 0

        # 3. pack into 512-token sequences (whitespace token budget,
        # pack_sequences' own unit)
        packed = pack_sequences(stage2, seq_len=512)
        rows = packed.select(
            "doc_id", "pack_id", "offset_in_pack"
        ).collect()  # materialize BEFORE release (lifetime contract)
        assert len(rows) == n2
        assert {r["doc_id"] for r in rows} == {
            r["doc_id"] for r in stage2.select("doc_id").collect()
        }
        assert all(
            0 <= r["offset_in_pack"] < 512 and r["pack_id"] >= 0
            for r in rows
        )
    finally:
        release_persisted()
