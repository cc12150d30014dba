"""Cross-document repeated-window dedup (operators/dedup.py
dup_window_stats / drop_dup_window_docs — Lee et al. 2022 exact-substring
formulation).

Layers per the repo's oracle discipline: construction-time expectations
(hand-computed interval unions on tiny documents), a row-for-row DuckDB
differential at sf0.001 (all-integer output, exact equality), and plan
shape (pure JVM, no cartesian product).  The short-document guard of
functions/text.py::token_ngrams, the windower the window hashes build
on, is pinned here too.
"""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from helix_html2md_spark.functions.text import SQL_TOKENS, token_ngrams, tokens
from helix_html2md_spark.operators.dedup import (
    drop_dup_window_docs,
    dup_window_stats,
    release_persisted,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def _stats(spark, rows, window):
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    try:
        return {
            x["doc_id"]: x.asDict()
            for x in dup_window_stats(df, window=window).collect()
        }
    finally:
        release_persisted()


def test_construction_expectations(spark):
    rows = [
        ("dA", "one two three four five six seven"),
        ("dB", "zero one two three four five ten"),
        ("dC", "unique alpha beta gamma delta"),
        ("dD", "x y"),                 # shorter than the window
        ("dE", "rep rep rep rep"),     # within-doc repetition counts
        ("dF", ""),                    # empty doc survives with zeros
    ]
    r = _stats(spark, rows, window=3)
    assert len(r) == 6  # one row per input document, no losses

    # dA/dB share 'one two three', 'two three four', 'three four five':
    # dA dup positions {0,1,2} -> union [0,5) = 5 of 7 tokens
    assert r["dA"]["dup_windows"] == 3 and r["dA"]["dup_tokens"] == 5
    assert r["dA"]["dup_ppm"] == (1_000_000 * 5) // 7
    # dB dup positions {1,2,3} -> union [1,6) = 5 of 7 tokens
    assert r["dB"]["dup_tokens"] == 5 and r["dB"]["n_tokens"] == 7

    # no repeated window anywhere for dC
    assert r["dC"]["dup_windows"] == 0 and r["dC"]["dup_ppm"] == 0
    # short + empty docs: zeros, never negative-index windows
    assert r["dD"]["n_tokens"] == 2 and r["dD"]["dup_tokens"] == 0
    assert r["dF"]["n_tokens"] == 0 and r["dF"]["dup_ppm"] == 0
    # dE: 'rep rep rep' at pos 0 and 1 -> same hash, cnt=2 ->
    # union [0,4) = whole doc
    assert r["dE"]["dup_windows"] == 2 and r["dE"]["dup_tokens"] == 4
    assert r["dE"]["dup_ppm"] == 1_000_000


def test_duckdb_differential(spark):
    """Row-for-row integer equality against a from-scratch DuckDB
    transcription (window function interval-union, same shape) over the
    real sf0.001 documents table at window=20."""
    W = 20
    path = os.path.join(SF_DIR, "documents.parquet")
    docs = spark.read.parquet(path).select("doc_id", "text")
    try:
        got = {
            x["doc_id"]: x.asDict()
            for x in dup_window_stats(docs, window=W).collect()
        }
    finally:
        release_persisted()

    toks = SQL_TOKENS.format(c="text")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW docs AS SELECT doc_id, text FROM read_parquet('{path}')"
    )
    sql = f"""
    WITH t AS (SELECT doc_id, {toks} toks FROM docs),
    w AS (SELECT doc_id, (u).pos AS pos, (u).h AS h FROM (
       SELECT doc_id, unnest(CASE WHEN len(toks) >= {W}
         THEN list_transform(range(1, len(toks)-{W}+2),
              i -> struct_pack(pos := i-1,
                    h := md5(array_to_string(toks[i:i+{W}-1], ' '))))
         ELSE [] END) AS u FROM t)),
    c AS (SELECT h FROM w GROUP BY h HAVING count(*) >= 2),
    d AS (SELECT w.doc_id, w.pos FROM w JOIN c USING (h)),
    u AS (SELECT doc_id, greatest(0, pos + {W} - greatest(coalesce(
            max(pos + {W}) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
            pos), pos)) AS contrib
          FROM d),
    a AS (SELECT doc_id, count(*) AS dup_windows,
            cast(sum(contrib) AS bigint) AS dup_tokens
          FROM u GROUP BY doc_id)
    SELECT t.doc_id, len(t.toks) AS n_tokens,
           coalesce(a.dup_windows, 0) AS dup_windows,
           coalesce(a.dup_tokens, 0) AS dup_tokens,
           (1000000 * coalesce(a.dup_tokens, 0))
             // greatest(len(t.toks), 1) AS dup_ppm
    FROM t LEFT JOIN a USING (doc_id)
    """
    want = {r[0]: r for r in con.execute(sql).fetchall()}
    assert len(got) == len(want) == 500
    for doc_id, g in got.items():
        w = want[doc_id]
        assert (
            g["n_tokens"], g["dup_windows"], g["dup_tokens"], g["dup_ppm"]
        ) == (w[1], w[2], w[3], w[4]), doc_id
    # the corpus must exercise both outcomes or the differential is weak
    hit = sum(1 for g in got.values() if g["dup_windows"] > 0)
    assert 0 < hit < len(got), hit


def test_drop_dup_window_docs(spark):
    rows = [
        ("keep1", "unique alpha beta gamma delta"),
        ("drop1", "copy of the shared boilerplate text here"),
        ("drop2", "copy of the shared boilerplate text here"),
        ("keep2", "zz"),  # short doc: zero coverage, kept
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    try:
        kept = {
            r["doc_id"]
            for r in drop_dup_window_docs(
                df, window=3, max_dup_ppm=500_000
            ).collect()
        }
    finally:
        release_persisted()
    # drop1/drop2 are full duplicates of each other: 100% coverage
    assert kept == {"keep1", "keep2"}


def test_plan_is_pure_jvm_no_cartesian(spark):
    docs = spark.createDataFrame(
        [("d", "a b c d e f g h")], ["doc_id", "text"]
    )
    try:
        plan = (
            dup_window_stats(docs, window=3)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    finally:
        release_persisted()
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize("n", [1, 2, 5])
def test_ngrams_short_doc_guard(spark, n):
    """size < n must yield an empty gram array, not a descending
    sequence with negative slice indices."""
    df = spark.createDataFrame([("s", "only two")], ["doc_id", "text"])
    out = df.select(
        F.size(token_ngrams(tokens(F.col("text")), n)).alias("k")
    ).collect()[0]["k"]
    assert out == max(0, 2 - n + 1)
