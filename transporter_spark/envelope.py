"""The message envelope as a DataFrame schema.

The reference's universal data abstraction is the ``message.Msg``
interface — op, timestamp, namespace, and a schema-less document payload
(reference message/message.go:22-30, message/data/data.go:4-34). Rebuilt
columnar: an *envelope DataFrame* has four metadata-bearing columns

    op   string     -- insert / update / delete / command / noop / skip
    ts   timestamp  -- ingest or event time (the reference only had ingest
                       time, message/message.go:62-66; we allow event time)
    ns   string     -- namespace (table/collection/queue/file path)
    data struct     -- the payload, as a typed struct (schema-ful fast
                       path) — schema-less flows use a single JSON string
                       field data.json

Everything downstream (transforms, ns filters, CDC apply) operates on
this shape with ordinary Column expressions, so Catalyst prunes/pushes
through it. A struct payload costs nothing at the parquet level: Spark
flattens struct field access to column reads.
"""

from __future__ import annotations

from typing import Iterable, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ENVELOPE_FIELDS = ("op", "ts", "ns", "data")

#: ops enum parity with reference message/ops/ops.go:9-21
OPS = ("insert", "update", "delete", "command", "noop", "skip", "unknown")


def to_envelope(
    df: DataFrame,
    ns: str,
    op: str = "insert",
    ts_col: Optional[str] = None,
    op_col: Optional[str] = None,
    payload_cols: Optional[Iterable[str]] = None,
) -> DataFrame:
    """Wrap a plain DataFrame into the envelope shape.

    Equivalent of ``message.From(op, namespace, data)`` (reference
    message/message.go:33-41), vectorized: one expression over the whole
    frame instead of one allocation per row.

    - ``ts_col``: use this column as event time; otherwise stamp
      ``current_timestamp()`` (the reference's processing-time semantics).
    - ``op_col``: derive op per row from an existing column (CDC feeds);
      otherwise constant ``op``.
    - ``payload_cols``: subset of columns to pack into ``data`` (default
      every column not consumed as ``ts_col`` or ``op_col``; a source
      column that merely shares an envelope field's name, such as
      ``ts``, stays in the payload).
    """
    cols = list(payload_cols) if payload_cols is not None else [
        c for c in df.columns if c not in (ts_col, op_col)
    ]
    ts_expr = F.col(ts_col) if ts_col else F.current_timestamp()
    op_expr = F.lower(F.col(op_col).cast("string")) if op_col else F.lit(op)
    return df.select(
        op_expr.alias("op"),
        ts_expr.cast("timestamp").alias("ts"),
        F.lit(ns).alias("ns"),
        F.struct(*[F.col(c) for c in cols]).alias("data"),
    )


def from_envelope(df: DataFrame, keep_meta: bool = False) -> DataFrame:
    """Unwrap ``data.*`` back to top-level columns (sink-side)."""
    meta = [F.col(c) for c in ("op", "ts", "ns")] if keep_meta else []
    return df.select(*meta, F.col("data.*"))


def ns_filter(pattern: str) -> Column:
    """Namespace regex predicate — parity with the per-edge nsFilter
    (reference pipeline/node.go:96-100, applied at :522-531).

    The reference *anchors nothing* (Go regexp partial match); we keep
    partial-match semantics via rlike. Rows failing the filter are simply
    not selected — offset bookkeeping is implicit in Spark's epochs.
    """
    return F.col("ns").rlike(pattern)


def with_json_payload(df: DataFrame) -> DataFrame:
    """Schema-less flow: collapse the typed payload to one JSON string
    (the commit-log serialization, reference pipeline/node.go:461-477).
    """
    return df.withColumn("data", F.struct(F.to_json("data").alias("json")))


def parse_json_payload(df: DataFrame, schema) -> DataFrame:
    """Re-type a JSON payload once schema is known (``from_json``)."""
    return df.withColumn("data", F.from_json(F.col("data.json"), schema))
