"""Parquet table loaders for the driver-generated test corpus."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

#: Reads at least this big get fanned out when the scan planned fewer
#: splits than half the cluster's cores (guide §2.5: one unsplittable
#: file serializes every downstream projection).  Reads BELOW the
#: floor keep their planned layout — small inputs gain nothing from a
#: shuffle, and the correctness gates (sf0.01/0.001) keep their
#: historical single-partition aggregation order bit-for-bit.
_SPLIT_MIN_BYTES = 2 << 20

#: …and only when rows are HEAVYWEIGHT (compressed bytes/row from the
#: parquet footers).  Wide payloads (document text, embedding vectors)
#: are what make a fused scan stage compute-bound and worth a shuffle
#: to parallelize; narrow relational rows (events/orders, ~20-30 B)
#: measured a net LOSS from the same fan-out (+1 s of shuffle against
#: a sub-second scan), so they keep their planned layout.
_SPLIT_MIN_ROW_BYTES = 64


def _input_stats(path: str) -> tuple[int, int]:
    """(total bytes, total rows) of a LOCAL parquet path (file or
    directory), rows from the footers — no Spark job.  Non-local
    filesystems raise, and the caller skips the fan-out — at real
    cluster scale the scan splits by itself."""
    import pyarrow.parquet as pq

    files = (
        [path] if os.path.isfile(path) else [
            os.path.join(root, f)
            for root, _dirs, fs in os.walk(path)
            for f in fs
            if not f.startswith(("_", "."))
        ]
    )
    size = sum(os.path.getsize(f) for f in files)
    rows = sum(pq.read_metadata(f).num_rows for f in files)
    return size, rows


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one corpus table, fanning the scan out to the cluster's
    parallelism when the planner produced too few splits for a
    non-trivial, heavy-row input (a single flat file under the 128 MB
    ``spark.sql.files.maxPartitionBytes`` plans as ONE task, pinning
    every fused projection of every consumer — regex chains, shingle
    hashing, Arrow UDF feeds — to one core; measured as the dominant
    wall of the whole sf1.0 bench suite).  The repartition is a
    one-time shuffle of the raw rows, deterministic (keyless
    repartition sorts before binning), and scale-adaptive three ways:
    inputs that already plan ≥ cores/2 splits (any real multi-file
    corpus) are untouched, sub-2 MB inputs (the correctness-gate
    scale) are untouched, and narrow-row relational tables — where
    the shuffle measured more than the scan it parallelizes — are
    untouched."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    try:
        size, rows = _input_stats(path)
    except Exception:
        size, rows = 0, 0
    par = spark.sparkContext.defaultParallelism
    if (
        size >= _SPLIT_MIN_BYTES
        and rows > 0
        and size / rows >= _SPLIT_MIN_ROW_BYTES
        and df.rdd.getNumPartitions() < max(2, par // 2)
    ):
        df = df.repartition(par)
    return df
