"""Physical-plan assertions: the plans we'd want at 100 TB, not just any
plan that passes (predicate pushdown to the scan, broadcast joins for
small dims, no Python in the JVM-only battery)."""

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_to_scan(spark):
    df = (
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .filter(F.col("l_quantity") > 25)
        .select("l_orderkey", "l_quantity")
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity" in plan
    # column pruning: scan schema restricted to the two needed columns
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


# queries whose ONE intentional Python crossing is the gated mapInArrow
# of extraction, PDF parse or boilerplate strip; everything else in the
# battery must stay pure JVM, and no query crosses through pandas
_MAP_IN_PYTHON_OK = {
    "extract_spans", "pdf_extract", "boilerplate", "extract_fallback",
}


def test_battery_queries_stay_jvm_side(spark):
    """No Python UDFs in the dedup/text battery — everything
    whole-stage-codegen-able.  Grouped Python (applyInPandas →
    FlatMapGroupsInPandas: whole groups cross Arrow) and mapInPandas are
    banned for EVERY query, exempted or not — the exempted queries' one
    allowed crossing is a gated mapInArrow (map-side, bounded batches),
    and it appears exactly once; row-at-a-time and scalar Arrow UDFs are
    banned everywhere."""
    import __spark_entry__ as E

    for name, fn in E.queries().items():
        if name in E.STREAMING_QUERIES:
            continue
        plan = _plan(fn(spark, "/root/testdata/sf0.001"))
        assert "FlatMapGroupsInPandas" not in plan, name
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        assert "MapInPandas" not in plan, name
        exempt = name in _MAP_IN_PYTHON_OK
        assert plan.count("MapInArrow") == (1 if exempt else 0), name


def test_pack_sequences_has_no_single_partition_window(spark):
    """The exact-packing default path must be the two-phase prefix sum:
    a Window.partitionBy(lit(0)) plans as `Exchange SinglePartition` and
    funnels the whole corpus through one task at scale (round-3 weak
    item).  The driver query's trailing orderBy plans as a range
    exchange, which is fine — only SinglePartition is banned."""
    import __spark_entry__ as E

    df = E.queries()["pack_sequences"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "Exchange SinglePartition" not in plan
    assert "BroadcastHashJoin" in plan  # offsets come back as a broadcast


def test_extraction_gate_before_python(spark):
    """The maxHTMLSize admission filter must sit below (before) the
    Python stage in the plan — Catalyst can't push through an opaque UDF,
    so the operator orders it explicitly."""
    from helix_html2md_spark.operators.extract import extract_documents
    from helix_html2md_spark.sources.synthetic import synthetic_documents

    docs = synthetic_documents(spark, 10, seed=1, partitions=2)
    out = extract_documents(docs, None, num_partitions=2)
    plan = _optimized(out)
    python_pos = plan.find("MapInArrow _extract_batches")
    assert python_pos >= 0
    # single-pass gate: the size-routing expression (html_len > 1 MB ->
    # blank html + _gate_error) sits in the subtree BELOW the python node
    # (later in the printed tree); no Union of re-scanning branches, one
    # source scan, one python crossing
    gate_pos = plan.find("1048576")
    assert gate_pos > python_pos
    assert "Union" not in plan
    assert plan.count("MapInArrow _extract_batches") == 1
    assert plan.count("MapInArrow") == 1
    assert plan.count("Range (0, 10") == 1


def test_broadcast_anti_join_resume(spark, tmp_path):
    from helix_html2md_spark.plans.job import remaining_documents
    from helix_html2md_spark.sources.synthetic import synthetic_documents

    docs = synthetic_documents(spark, 10, seed=2, partitions=2)
    out = str(tmp_path / "o")
    from helix_html2md_spark.operators.extract import extract_documents

    extract_documents(docs.limit(4), None, num_partitions=2).withColumn(
        "partition_id", F.spark_partition_id()
    ).write.parquet(out)
    todo = remaining_documents(docs, out)
    plan = _plan(todo)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_jaccard_verify_prunes_corpus_side(spark):
    """The exact-Jaccard verify stage must not shuffle the whole corpus's
    token arrays: the token table is semi-join pruned to candidate
    doc_ids BEFORE tokenization (at 100 TB most docs have no candidate
    pair; without the prune both verify joins shuffle every document's
    token array once the pair table outgrows the broadcast threshold)."""
    from helix_html2md_spark.operators.dedup import jaccard_verified_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _optimized(jaccard_verified_pairs(docs))
    assert "LeftSemi" in plan
    # the prune keys on doc_id only — token arrays never enter the semi
    # join's shuffle
    semi_line = next(l for l in plan.splitlines() if "LeftSemi" in l)
    assert "doc_id" in semi_line and "_t" not in semi_line


def test_driver_contract_holds_the_50_query_line():
    """The driver artifact records AT MOST 50 queries (measured across
    rounds 1-4); the contract therefore holds at most 50, every one
    oracled.  Growing past 50 silently drops rows from the correctness
    artifact — cut before adding (BASELINE.md 'Contract change
    (round 5)')."""
    import __spark_entry__ as E

    q, o = E.queries(), E.oracle_sql()
    assert len(q) <= 50, sorted(q)
    assert set(o) == set(q), {
        "missing_oracle": sorted(set(q) - set(o)),
        "orphan_oracle": sorted(set(o) - set(q)),
    }
    # the hand-kept name sets cannot outlive a query they name
    assert E.STREAMING_QUERIES <= set(q), sorted(E.STREAMING_QUERIES - set(q))
    assert _MAP_IN_PYTHON_OK <= set(q), sorted(_MAP_IN_PYTHON_OK - set(q))
