"""Streaming sink of the medallion layers: partitioned parquet directories.

Every reader of these sinks (the silver and gold jobs' ``readStream``, the
analysis layer, the benchmark and the tests) reads parquet, so moving a
layer to Delta or Iceberg means changing this writer and all of its readers
together. For the time-travel/ACID-commit slice those formats provide, see
``sources/snapshots.py`` — a versioned-manifest layer over the same
parquet files (atomic link(2) commits, snapshot-isolated reads, append
auto-merge on conflict, rollback) that needs no external runtime.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import DataStreamWriter


def stream_writer(
    df: DataFrame,
    *,
    path: str,
    checkpoint: str,
    partition_by: list[str] | None = None,
    trigger: dict | None = None,
) -> DataStreamWriter:
    """Configured (unstarted) append-mode parquet stream writer;
    ``trigger`` defaults to ``availableNow``."""
    writer = (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .option("compression", "snappy")
        .outputMode("append")
        .trigger(**(trigger or {"availableNow": True}))
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    return writer
