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

CHECKPOINT_FILE_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
#: Writes checkpoint files through Hadoop's ``FileSystem`` API instead of
#: Spark's default ``FileContext`` one (see ``stream_writer``).
FS_CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def stream_writer(
    df: DataFrame,
    *,
    path: str,
    checkpoint: str,
    partition_by: list[str] | None = None,
    trigger: dict | None = None,
) -> DataStreamWriter:
    """Configured (unstarted) append-mode parquet stream writer;
    ``trigger`` defaults to ``availableNow``.

    It also puts the session's checkpoint files on
    ``FS_CHECKPOINT_FILE_MANAGER``. Spark's default manager writes each
    checkpoint file (offset, commit and source logs, the sink's
    ``_spark_metadata`` log, RocksDB state files) to a temp file and
    renames it through ``FileContext``. Without libhadoop's native IO,
    that rename asks ``RawLocalFileSystem.getFileLinkStatus`` about the
    source and the destination, and again for each ``.crc``, and each
    question forks a ``readlink`` process (~4 ms of CPU each from a JVM
    with an 8 GB heap, on 4 cores). On the seed-1 medallion replay benchmark that was 2256 of the
    JVM's 3150 process starts per run, and it made up most of each
    stateful layer's per-batch state commit (~230 → 6 ms summed over 4
    tasks) and offset/commit-log write (~50 → ~13 ms).
    ``FileSystem.rename`` of a local file is one ``rename(2)``, atomic as
    before, so the commit protocol is unchanged.

    The conf is session-wide: streams started later in the same session
    use it too. Spark does not record it in the offset log, so a
    checkpoint written under the default manager resumes under this one
    (``test_silver_resumes_checkpoint_of_default_file_manager``).
    """
    df.sparkSession.conf.set(CHECKPOINT_FILE_MANAGER_KEY, FS_CHECKPOINT_FILE_MANAGER)
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
