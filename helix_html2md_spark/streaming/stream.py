"""Structured Streaming surface.

The reference is a synchronous request/response service (SURVEY.md §2B:
no stream, no cross-request state), so batch is the primary mode; these
operators exist for pipeline deployments that tail a landing zone:

* ``stream_extract``: readStream over a spans-table directory ->
  the same extraction operator -> writeStream (exactly-once via
  checkpointLocation + idempotent parquet sink)
* ``windowed_event_counts``: watermarked sliding-window aggregation over
  the events table (late data dropped past the watermark)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sources.fixtures import DOC_SCHEMA


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    *,
    config=None,
    defaults: dict | None = None,
    available_now: bool = True,
):
    """Tail a spans-table directory and extract incrementally.

    Per-file exactly-once: the file-source checkpoint records consumed
    files; the parquet sink is append-only.  Uses the identical Arrow
    batch transform as the batch path (no per-row Python).  ``config``
    is an optional small static per-doc-config DataFrame, broadcast
    stream-static joined on doc_id exactly like the batch operator.
    """
    docs = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(input_dir)
    )
    from ..operators.extract import extract_documents

    # ONE implementation: the batch operator in its zero-shuffle 'none'
    # placement mode is stream-safe (select -> broadcast config join ->
    # assembly -> gate -> mapInArrow, no Window/repartition), so the
    # stream cannot drift from the batch gate/assembly — the oracle
    # requires byte-identical markdown from both surfaces
    defaults = dict(defaults or {})
    defaults.setdefault("repartition", "none")
    extracted = extract_documents(docs, config, defaults=defaults)
    writer = (
        extracted.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_pdf_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    *,
    max_pdf_size: int = 16 * 1024 * 1024,
    available_now: bool = True,
):
    """Tail a (doc_id, payload) PDF directory and layout-parse
    incrementally — the PDF twin of :func:`stream_extract`, with the
    identical single-pass JVM admission gate (size + ``%PDF-`` magic)
    below the one Arrow crossing.  Exactly-once via the file-source
    checkpoint + append-only parquet sink."""
    from pyspark.sql.types import (
        BinaryType, StringType, StructField, StructType,
    )

    from ..operators.pdf import parse_pdf_documents

    schema = StructType(
        [
            StructField("doc_id", StringType()),
            StructField("payload", BinaryType()),
        ]
    )
    pdfs = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 16)
        .parquet(input_dir)
    )
    parsed = parse_pdf_documents(pdfs, max_pdf_size=max_pdf_size)
    writer = (
        parsed.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _dedup_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    *,
    watermark_delay: str | None,
    available_now: bool,
):
    """Shared scaffold for both streaming dedup surfaces: documents
    landing-zone reader -> content-key projection (ONE hash definition,
    operators/dedup.py::content_key — batch and stream must agree) ->
    state-backed duplicate drop -> checkpointed parquet sink.

    ``watermark_delay=None``: full-state ``dropDuplicates`` (exact
    across the corpus lifetime).  With a delay: event-time schema +
    ``dropDuplicatesWithinWatermark`` (bounded state)."""
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType, TimestampType,
    )

    from ..operators.dedup import content_key

    fields = [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
    if watermark_delay is not None:
        fields.append(StructField("ts", TimestampType()))
    docs = (
        spark.readStream.schema(StructType(fields))
        .option("maxFilesPerTrigger", 16)
        .parquet(input_dir)
    )
    cols = [
        content_key().alias("content_md5"),
        F.length(F.coalesce("text", F.lit("")))
        .cast("long")
        .alias("text_len"),
    ]
    if watermark_delay is not None:
        deduped = (
            docs.select(*cols, "ts")
            .withWatermark("ts", watermark_delay)
            .dropDuplicatesWithinWatermark(["content_md5"])
        )
    else:
        deduped = docs.select(*cols).dropDuplicates(["content_md5"])
    writer = (
        deduped.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_dedup(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    *,
    available_now: bool = True,
):
    """Streaming exact dedup of a documents landing zone: state-backed
    ``dropDuplicates`` on the content hash — one surviving row per
    distinct content across ALL microbatches AND restarts (the dedup
    state lives in the checkpoint, so a restarted stream keeps
    suppressing content it has already emitted).

    The output carries only content-determined columns
    (content_md5, text_len): WHICH duplicate row survives is
    arrival-order-dependent on a stream, so the contract exposes
    nothing arrival-dependent.  At corpus scale, bound the state with
    :func:`stream_dedup_wm`; the plain documents table has no event
    time, so this surface keeps full state (hash-only rows, 48 B each —
    documented tradeoff).
    """
    return _dedup_stream(
        spark, input_dir, output_dir, checkpoint_dir,
        watermark_delay=None, available_now=available_now,
    )


def stream_dedup_wm(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    *,
    delay: str = "10 minutes",
    available_now: bool = True,
):
    """Streaming exact dedup with BOUNDED state: watermarked
    ``dropDuplicatesWithinWatermark`` over an event-time documents
    stream — the scale form of :func:`stream_dedup`, whose full-state
    tradeoff this closes.

    Semantics: a duplicate arriving within ``delay`` of the first
    occurrence's event time is suppressed (exactly-once emission per
    content hash within any watermark window, across microbatches AND
    restarts — the state lives in the checkpoint).  State for a hash is
    EVICTED once the watermark passes its event time + delay, so state
    size is O(rows per delay window), not O(corpus): a duplicate
    arriving later than that may re-emit — the documented, bounded
    tradeoff (downstream exact dedup of a trickle of re-emits is
    cheap; unbounded streaming state at 100 TB is not).

    Input schema: (doc_id, text, lang, source, n_chars, ts timestamp).
    Output: (content_md5, text_len, ts).  content_md5/text_len are
    content-determined; the emitted ``ts`` is the FIRST-ARRIVING
    duplicate's event time, which IS arrival-order-dependent when
    duplicates of one content carry different event times — consumers
    needing replay-stable rows should drop ts or derive it from
    content (the driver harness does the latter).
    """
    return _dedup_stream(
        spark, input_dir, output_dir, checkpoint_dir,
        watermark_delay=delay, available_now=available_now,
    )


def stateful_sessionize(
    events_stream, gap_minutes: int = 30, use_timeout: bool = True
):
    """Custom stateful streaming operator: per-user session aggregation
    via ``applyInPandasWithState`` (GroupState + processing-time timeout).

    Emits a row per CLOSED session (closed by a gap > ``gap_minutes`` in
    event time within the batch, or by state timeout between batches).

    ``use_timeout=False`` disables the processing-time timeout: needed
    for bounded ``availableNow`` replays — with a timeout configured, the
    query keeps scheduling "cleaning up state" batches until every
    group's wall-clock timeout fires (gap_minutes later), so an
    available-now run would not terminate for half an hour.  In that
    mode each user's FINAL session necessarily stays open in state (no
    later event, no timeout): after the query terminates, flush them
    with :func:`open_sessions_from_checkpoint` and union the
    ``closed_by='eof'`` rows for the complete session set.

    TIMEZONE CONTRACT: gap arithmetic runs on ``.timestamp()`` of the
    tz-NAIVE local timestamps Arrow hands the UDF, which is only
    correct under a UTC session timezone (build_session pins it).  A
    DST-shifting session tz would make wall-clock-repeated local times
    compare backwards across the transition.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap = gap_minutes * 60

    def fn(key, pdfs, state):
        user_id = key[0]
        if state.hasTimedOut:
            (start, last, n, total) = state.get
            state.remove()
            yield pd.DataFrame(
                {"user_id": [user_id], "n_events": [n],
                 "sum_value": [total], "closed_by": ["timeout"]}
            )
            return
        rows = []
        cur = state.get if state.exists else None
        # a group's rows may arrive as SEVERAL Arrow chunks in arbitrary
        # order — concatenate before sorting, else a gap spanning a chunk
        # boundary is detected (or missed) nondeterministically
        chunks = [p for p in pdfs if len(p)]
        if chunks:
            all_rows = pd.concat(chunks).sort_values(["ts", "event_id"])
            for ts, value in zip(all_rows["ts"], all_rows["value"]):
                t = ts.timestamp()
                if cur is None:
                    cur = (t, t, 0, 0.0)
                start, last, n, total = cur
                if t - last > gap:
                    rows.append((user_id, n, total, "gap"))
                    cur = (t, t, 1, float(value))
                else:
                    cur = (start, t, n + 1, total + float(value))
        if cur is not None:
            state.update(cur)
            if use_timeout:
                state.setTimeoutDuration(gap * 1000)
        yield pd.DataFrame(
            {
                "user_id": [r[0] for r in rows],
                "n_events": [r[1] for r in rows],
                "sum_value": [r[2] for r in rows],
                "closed_by": [r[3] for r in rows],
            }
        )

    # null guard BEFORE the Python crossing (JVM-side filter): a null ts
    # reaches the UDF as pd.NaT, whose .timestamp() raises ValueError —
    # a deterministic task failure that kills the whole streaming query
    # on one bad row; null value crashes float(None) the same way.  The
    # batch sessionizers null-propagate, so dropping the rows here is
    # the stream-side equivalent of "a null-ts event belongs to no
    # session".
    events_stream = events_stream.filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    return events_stream.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType="user_id long, n_events int, sum_value double, closed_by string",
        stateStructType="start double, last double, n int, total double",
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if use_timeout
            else GroupStateTimeout.NoTimeout
        ),
    )


def open_sessions_from_checkpoint(spark, checkpoint_dir: str):
    """Flush the sessions still OPEN in a sessionizer checkpoint.

    A bounded ``availableNow`` replay with ``use_timeout=False`` (the
    documented terminating mode) can never close each user's FINAL
    session: no later event opens a gap and no timeout fires after the
    input is exhausted, so the tail session per user stays in state
    forever and the output systematically lacks it (a user with exactly
    one session produces zero rows).  This helper completes the replay:
    it reads the remaining GroupState through Spark's state-store data
    source and emits one row per open session with
    ``closed_by='eof'``, schema-aligned with the stream output — union
    it with the streamed rows for the full session set.

    Batch-side: runs AFTER the query terminates, against the same
    ``checkpointLocation`` the query ran with.
    """
    from pyspark.sql import functions as F  # noqa: F811 - local alias

    state = spark.read.format("statestore").load(checkpoint_dir)
    # applyInPandasWithState wraps the user state one level down:
    # value.groupState.<stateStructType fields>
    return state.select(
        F.col("key.user_id").alias("user_id"),
        F.col("value.groupState.n").alias("n_events"),
        F.col("value.groupState.total").alias("sum_value"),
        F.lit("eof").alias("closed_by"),
    )


def windowed_event_counts(
    events: DataFrame,
    window: str = "10 minutes",
    slide: str | None = None,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Watermarked windowed aggregation (works on both stream and batch
    DataFrames; on a stream, events later than the watermark are dropped)."""
    win = (
        F.window("ts", window, slide) if slide else F.window("ts", window)
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win.alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            # decimal-exact sum, double terminal type (oracle-identical)
            F.sum(F.col("value").cast("decimal(30,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
