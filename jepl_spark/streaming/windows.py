"""Event-time windowed aggregation for compiled JEPL rules.

The reference is batch-only (one call over one doc slice, eval.go:28-62);
windows/watermarks are mandated by the north rule and map directly onto
Spark primitives: ``F.window`` (tumbling/sliding), ``F.session_window``,
``withWatermark``.  The same plan shape works over a static DataFrame
(used by the batch correctness gate) and a streaming one (used by the
streaming engine in streaming/engine.py).

Scale notes: the aggregation is a single shuffle keyed by
(window, dims…); partial aggregation happens map-side; no Python in the
plan.  For streaming, state per key is bounded by the watermark horizon.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..compiler.expr import ExprCompiler
from ..compiler.select import compile_select_parts
from ..lang.parser import parse_statement


def ensure_event_timestamp(df: DataFrame, ts_col: str) -> DataFrame:
    """Watermarks require TIMESTAMP; parquet written without tz metadata
    reads as TIMESTAMP_NTZ.  The cast is value-stable (interpreted in
    the session timezone either way).  Shared by every watermark site
    (windowed_select, the stream-stream join, the stateful lane)."""
    from pyspark.sql.types import TimestampNTZType

    if isinstance(df.schema[ts_col].dataType, TimestampNTZType):
        return df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df


def window_column(
    ts_col: str,
    duration: str,
    slide: Optional[str] = None,
    session_gap: Optional[str] = None,
) -> Column:
    if session_gap is not None:
        return F.session_window(F.col(ts_col), session_gap)
    if slide is not None:
        return F.window(F.col(ts_col), duration, slide)
    return F.window(F.col(ts_col), duration)


def windowed_select(
    stmt_or_sql,
    df: DataFrame,
    ts_col: str,
    duration: str,
    slide: Optional[str] = None,
    session_gap: Optional[str] = None,
    watermark: Optional[str] = None,
    non_null=frozenset(),
) -> DataFrame:
    """Compile a JEPL rule into a windowed aggregation over ``df``.

    Output columns: window_start, window_end, <dims...>, <fields...>.
    Works on both static and streaming DataFrames; pass ``watermark``
    (e.g. "10 minutes") for streaming append-mode emission.
    ``non_null``: caller-declared never-null columns (see
    compiler.expr.ExprCompiler) — guard-free predicates reach the scan.
    """
    stmt = (
        parse_statement(stmt_or_sql)
        if isinstance(stmt_or_sql, str)
        else stmt_or_sql
    )
    df = ensure_event_timestamp(df, ts_col)
    if watermark is not None:
        df = df.withWatermark(ts_col, watermark)
    parts = compile_select_parts(stmt, ExprCompiler(df.schema, non_null=non_null))
    return parts.plan(df, window_column(ts_col, duration, slide, session_gap))
