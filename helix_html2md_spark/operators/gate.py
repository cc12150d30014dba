"""Shared JVM admission gate and Arrow row crossing.

Every Arrow-crossing operator (HTML extraction, PDF parse, boilerplate
strip) fronts its ``mapInArrow`` with the same two-sided pattern:

* JVM side (:func:`apply_gate`) — a chained ``when`` builds
  ``_gate_error`` (first matching rejection message wins) and the
  payload columns are BLANKED for rejected rows, so dead bytes never
  reach the Arrow channel and Catalyst keeps the whole gate inside
  codegen;
* batch side (:func:`map_rows`) — the Python worker reads each Arrow
  column once, emits the operator's error row for gate-rejected rows,
  runs the operator's row function on the others, and builds the output
  batch on the operator's explicit Spark schema.

This module is the ONE home of both halves ("one guard to maintain,
not two" — functions/text.py); the per-operator parts that genuinely
differ (conditions, messages, row function, error row, schema) stay at
the call sites.
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator

import pyarrow as pa
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def apply_gate(
    df: DataFrame,
    conditions: Iterable[tuple[Column, Column | str]],
    blank: dict[str, Column],
) -> DataFrame:
    """Stamp ``_gate_error`` and blank payload columns on rejection.

    ``conditions`` is an ORDERED list of (predicate, message): the first
    predicate that evaluates true supplies the row's message (a NULL
    predicate — e.g. ``length(NULL) > n`` — skips to the next branch,
    so a catch-the-NULL condition must come first if NULL payloads are
    to be gated explicitly).  ``blank`` maps each payload column to its
    blank value; blanking keys off ``_gate_error IS NOT NULL`` so the
    two sides can never disagree about which rows were rejected.
    """
    err = None
    for cond, msg in conditions:
        msg_col = F.lit(msg) if isinstance(msg, str) else msg
        err = F.when(cond, msg_col) if err is None else err.when(cond, msg_col)
    if err is None:
        raise ValueError("apply_gate needs at least one condition")
    # two projections, as Catalyst keeps them: the blanking reads the
    # stamped column instead of repeating the gate expression per column
    rejected = F.expr("_gate_error IS NOT NULL")
    return df.withColumn("_gate_error", err).withColumns({
        name: F.when(rejected, blank_val).otherwise(F.col(name))
        for name, blank_val in blank.items()
    })


def map_rows(
    batches: Iterator[pa.RecordBatch],
    row_fn: Callable[[dict], dict],
    schema: StructType,
    error_row: Callable[[str], dict],
) -> Iterator[pa.RecordBatch]:
    """The batch side of a gated ``mapInArrow``: one output row per input row.

    Each input column is read once with ``to_pylist()``, so NULLs arrive
    as ``None`` (never pandas' NaN) and nested structs as dicts.  Output
    columns that are also input columns (the row key, ``doc_id``) pass
    through unchanged; ``row_fn(row)`` returns the others from a dict of
    the row's input values.  A row the JVM gate rejected gets
    ``error_row(message)`` instead (an absent ``_gate_error`` column
    means ungated input).  Output batches are built on ``schema``'s
    Arrow form, so pyarrow never re-infers ``array<struct>`` from lists.
    """
    arrow_schema = to_arrow_schema(schema)
    names = schema.names
    for batch in batches:
        cols = batch.to_pydict()
        n = batch.num_rows
        gate = cols.pop("_gate_error", None) or [None] * n
        computed = [c for c in names if c not in cols]
        out = {c: cols[c] if c in cols else [] for c in names}
        for i in range(n):
            err = gate[i]
            res = (
                row_fn({c: v[i] for c, v in cols.items()})
                if err is None else error_row(err)
            )
            for c in computed:
                out[c].append(res[c])
        yield pa.RecordBatch.from_pydict(out, schema=arrow_schema)
