"""Resumable batch extraction job (SURVEY.md §3.4, M4).

Snapshot-checkpoint semantics without requiring Iceberg jars in the
sandbox: the output table is an append-only parquet dataset whose
committed files ARE the snapshot; resume = ``left_anti`` join of the
input against already-extracted doc_ids (broadcast when small).  On a
real deployment the same plan runs against Iceberg
(``spark.read.format("iceberg")`` / ``writeTo(...).append()``) — the
anti-join resume and lineage logic is storage-agnostic.

Per-partition lineage rows + run metrics (docs/sec, parse failures,
span counts — summed driver-side from the bounded per-partition lineage
aggregate) land next to the output
(FIXTURES.md §3: checkpoint_lineage / run_metrics).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.extract import extract_documents


# broadcast the done-set only while it plausibly fits every executor;
# past this row count, fall back to a shuffled anti-join (AQE picks the
# strategy) — an unconditional broadcast would OOM the driver / hit the
# 8GB broadcast cap exactly when resume matters most
_BROADCAST_DONE_MAX_ROWS = 10_000_000


def remaining_documents(docs: DataFrame, output_path: str) -> DataFrame:
    """Anti-join resume: drop doc_ids already present in the output.

    Only a MISSING output disables resume (first run).  Any other read
    failure — transient storage error, corrupt footer, wrong schema —
    must PROPAGATE: swallowing it would silently reprocess everything
    and append duplicate rows, breaking the exactly-once-per-doc
    invariant."""
    from pyspark.errors import AnalysisException

    spark = docs.sparkSession
    try:
        done = spark.read.parquet(output_path).select("doc_id")
        n_done = done.count()  # parquet metadata count — cheap
    except AnalysisException as e:
        msg = str(e)
        # UNABLE_TO_INFER_SCHEMA: the dir exists but holds no committed
        # data files (a first run whose driver died mid-write leaves
        # only _temporary/) — zero committed rows is semantically a
        # first run, and treating it as fatal wedges resume until the
        # directory is deleted by hand
        if (
            "PATH_NOT_FOUND" in msg
            or "Path does not exist" in msg
            or "UNABLE_TO_INFER_SCHEMA" in msg
        ):
            return docs  # first run: no (committed) output yet
        raise
    if n_done <= _BROADCAST_DONE_MAX_ROWS:
        done = F.broadcast(done)
    return docs.join(done, "doc_id", "left_anti")


def run_extract_job(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    *,
    run_id: str,
    config: DataFrame | None = None,
    num_partitions: int | None = None,
    defaults: dict | None = None,
) -> dict:
    """Extract all unprocessed documents; append output + lineage.

    Returns the run-metrics dict (also written to
    ``{output_path}_metrics``).
    """
    docs = spark.read.parquet(input_path)
    todo = remaining_documents(docs, output_path)

    extracted = extract_documents(
        todo, config, num_partitions=num_partitions, defaults=defaults
    )
    # attempt_id is generated PER CALL: the documented resume flow is
    # "rerun the identical command", so run_id repeats across a crashed
    # run and its resume — keying lineage/output rows on run_id alone
    # would make two attempts' rows indistinguishable (colliding
    # partition_ids, double-counted doc_ids_done in any forensic
    # read-back).  run_id stays the user-facing key; attempt_id
    # uniquely stamps the rows THIS call wrote.
    import uuid

    attempt_id = uuid.uuid4().hex
    extracted = extracted.withColumns({
        "partition_id": F.spark_partition_id(),
        "run_id": F.lit(run_id),
        "attempt_id": F.lit(attempt_id),
    })

    # persist so the lineage aggregate AND the write share one
    # extraction pass.  The alternative — re-reading output_path and
    # filtering on attempt_id — pays a file listing + footer pass over
    # the ENTIRE ever-growing output history on every run (O(total
    # files), linear in run count); the persisted attempt is O(this
    # attempt's rows) with disk spill, independent of history size.
    #
    # ORDER MATTERS: the lineage aggregate runs BEFORE the append and
    # its (one row per partition, bounded) result is collected to the
    # driver.  The cached plan READS output_path (the anti-join
    # resume), and the append invalidates every cache entry that
    # depends on the written path (recacheByPath) — a post-write
    # lineage aggregate would silently recompute against the new
    # files, where the anti-join matches everything and lineage
    # comes back EMPTY.  Lineage itself is only committed after the
    # append succeeds, preserving write-then-lineage ordering.
    extracted = extracted.persist()
    try:
        lineage = _attempt_lineage(extracted, run_id, attempt_id)
        t0 = time.perf_counter()
        lineage_rows = lineage.collect()  # materializes the cache
        extracted.write.mode("append").parquet(output_path)
        wall = time.perf_counter() - t0
        spark.createDataFrame(lineage_rows, lineage.schema).write.mode(
            "append"
        ).parquet(f"{output_path}_lineage")
    finally:
        extracted.unpersist()

    # run metrics FROM the lineage rows (already aggregated per
    # partition on the executors; summing a bounded row list here is
    # O(partitions)).  An .observe() would be zero-cost but its
    # Observation contract is one-action-only — the cached plan now
    # executes twice (lineage materialization + the append).
    docs_n = sum(r["doc_ids_done"] for r in lineage_rows)
    metrics = {
        "run_id": run_id,
        "docs": docs_n,
        "wall_sec": round(wall, 3),
        "docs_per_sec": round(docs_n / wall, 2) if wall > 0 else 0.0,
        "parse_failures": sum(r["docs_failed"] for r in lineage_rows),
        "span_count": sum(r["span_count"] for r in lineage_rows),
    }
    spark.createDataFrame([metrics]).write.mode("append").parquet(
        f"{output_path}_metrics"
    )
    return metrics


def _attempt_lineage(
    out: DataFrame, run_id: str, attempt_id: str
) -> DataFrame:
    """Per-partition lineage over THIS ATTEMPT'S rows only."""
    return (
        out.groupBy("partition_id")
        .agg(
            F.count("*").alias("doc_ids_done"),
            F.sum(
                F.when(F.expr("status != 'ok'"), 1).otherwise(0)
            ).alias("docs_failed"),
            F.sum("n_chars").alias("chars_out"),
            F.sum(F.size("spans")).alias("span_count"),
        )
        .withColumns(
            {"run_id": F.lit(run_id), "attempt_id": F.lit(attempt_id)}
        )
    )
