"""Streaming JEPL engine: rule text → Structured Streaming query.

Pipeline (SURVEY.md §3.4):

    readStream (file/Iceberg source)
      → withWatermark(event_time, delay)
      → [stream-stream join]                (join.py)
      → groupBy(window(...), dims)          ┐ CompiledSelect.plan
      → agg(when(matched, …) …)             │ (compiler/select.py),
      → select(post-agg arithmetic, aliases)┘ rule compiled once per start
      → writeStream.foreachBatch(exactly-once sink).option(checkpoint)

``windowed_select`` and the grouped batch plan run the same compiled
rule through the same groupBy → agg → select assembly, so batch
goldens and streaming goldens share one compiled core; what streaming
adds is window close/emission semantics driven by the watermark
(append mode) and checkpointed state.
"""

from __future__ import annotations

import os
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from .windows import windowed_select



def file_stream(
    spark: SparkSession,
    path: str,
    schema: StructType,
    max_files_per_trigger: Optional[int] = None,
) -> DataFrame:
    """Deterministic file-based stream source (tests/bench): each parquet
    file under ``path`` becomes (part of) a micro-batch."""
    reader = spark.readStream.schema(schema).format("parquet")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def run_rule_stream(
    sql: str,
    source: DataFrame,
    *,
    ts_col: str,
    duration: str,
    slide: Optional[str] = None,
    session_gap: Optional[str] = None,
    watermark: Optional[str] = None,
    non_null=frozenset(),
    sink=None,  # IdempotentParquetSink | ManifestCommitSink | IcebergSink
    checkpoint: str,
    output_mode: str = "append",
    available_now: bool = True,
    foreach_batch: Optional[Callable[[DataFrame, int], None]] = None,
    query_name: str = "jepl_rule",
) -> StreamingQuery:
    """Compile a JEPL rule over a streaming source and start the query.

    Append mode + watermark ⇒ a (window, group) row is emitted exactly
    once, when the watermark passes the window end — the streaming
    analogue of the reference's drain-once-per-batch semantics.

    ``watermark=None`` (the default) applies none here — REQUIRED when
    ``source`` is already watermarked (e.g. the output of
    audio_transcript_join: Spark rejects watermark redefinition)."""
    result = windowed_select(
        sql,
        source,
        ts_col=ts_col,
        duration=duration,
        slide=slide,
        session_gap=session_gap,
        watermark=watermark,
        non_null=non_null,
    )
    writer = (
        result.writeStream.outputMode(output_mode)
        .queryName(query_name)
        .option("checkpointLocation", checkpoint)
    )
    if foreach_batch is None:
        if sink is None:
            raise ValueError("provide sink or foreach_batch")
        foreach_batch = sink.foreach_batch()
    writer = writer.foreachBatch(foreach_batch)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_to_completion(query: StreamingQuery, timeout_s: float = 300.0) -> None:
    if not query.awaitTermination(timeout_s):
        query.stop()
        raise TimeoutError("streaming query did not finish in time")
