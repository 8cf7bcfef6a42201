"""Structured Streaming bronze→silver→gold pipeline (SURVEY.md §2.6 T1–T7).

Parity: the three reference jobs —
/root/reference/spark/jobs/kafka_to_bronze_trades.py (Kafka→bronze),
bronze_to_silver_trades.py (backfill-then-stream, watermarked dedup),
silver_to_gold_bars.py (watermarked 1-min windowed OHLCV agg) — re-expressed
as plan builders from ``transforms``/``operators.bars`` bound to streaming
sources/sinks here at the edges.

Test harness note: the Kafka source (T1 in §2.1) is exercised by substituting
a parquet file source with the same bronze schema; the readStream/writeStream
mechanics (watermark, stateful dedup, append mode, checkpoints, trigger,
maxFilesPerTrigger throttling) are identical. ``availableNow`` triggers drain
a replayed fixture deterministically, which is how the stream≡batch
equivalence tests run.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..operators.bars import ohlcv_bars
from ..schemas import BRONZE_SCHEMA, SILVER_SCHEMA
from ..transforms import bronze_to_silver, dedup_trades

ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
HDFS_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
)
#: Partition columns of the gold bars sink (silver_to_gold_bars.py:72).
#: ``silver_stream_to_gold`` clusters its output by the same columns, so a
#: micro-batch writes one file per directory it touches.
GOLD_PARTITION_BY = ("bar_date", "symbol")


def configure_state_store(spark: SparkSession, provider: str | None = None) -> str:
    """Set the state-store backend for the stateful jobs started below.

    Default is **RocksDB with changelog checkpointing** — measured
    strictly better than the on-heap HDFS-backed provider for the
    watermarked-dedup pipeline at the 100k rows/s probe load (SCALE.md
    round-10 table: 97.7k vs 85.7k rows/s sustained, ~106 vs ~350 B/row
    of dedup state, 20 steady silver batches vs 4 snapshot-stalled
    ones), and the only provider whose state is not bounded by executor
    heap — at 100 TB-scale rates the dedup state (rate × watermark ×
    bytes/row) outgrows on-heap storage long before the compute does.

    Changelog checkpointing is REQUIRED whenever dedup state evicts on a
    watermark: plain RocksDB aborts the stream with a "mutation occurred
    during iteration" error on eviction (round-10 operational finding).

    ``provider`` (or env ``SPARK_GRAFT_STATE_PROVIDER``): ``rocksdb``
    (default), ``hdfs`` (the previous on-heap default — also the right
    choice when RESTARTING a checkpoint written by it, since the two
    providers' state files are not interchangeable), or ``session``
    (leave whatever the session already configured untouched).

    The providerClass is a session-level SQL conf read at query START,
    so this mutates the session: streams started later in the same
    session inherit it unless reconfigured.
    """
    provider = (
        provider or os.environ.get("SPARK_GRAFT_STATE_PROVIDER") or "rocksdb"
    ).lower()
    if provider == "rocksdb":
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER
        )
        spark.conf.set(
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled",
            "true",
        )
    elif provider == "hdfs":
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass", HDFS_PROVIDER
        )
    elif provider != "session":
        raise ValueError(
            f"unknown state-store provider {provider!r} "
            "(expected rocksdb | hdfs | session)"
        )
    return provider


def bronze_stream_to_silver(
    bronze_stream: DataFrame,
    *,
    watermark: str = "2 minutes",
    within_watermark: bool = False,
) -> DataFrame:
    """Silver plan over a streaming bronze source: parse + watermarked dedup.

    Watermarked ``dropDuplicates`` keeps per-key state only until the
    watermark passes — bounded state at any scale (T3).
    ``within_watermark=True`` selects ``dropDuplicatesWithinWatermark``,
    whose state is bounded by arrival gap instead of event time — the
    preferred eviction policy when duplicates come from producer retries
    (see transforms.dedup_trades for the semantic difference).
    """
    return dedup_trades(
        bronze_to_silver(bronze_stream),
        watermark=watermark,
        within_watermark=within_watermark,
    )


def silver_stream_to_gold(
    silver_stream: DataFrame, *, bar: str = "1 minute", watermark: str = "2 minutes"
) -> DataFrame:
    """Gold plan over a streaming silver source: watermarked windowed OHLCV.

    Append mode emits a bar only once its window is older than the
    watermark — the stream's output equals the batch aggregation over the
    closed windows (T1+T2).

    The bars come out hash-partitioned by ``GOLD_PARTITION_BY``, the gold
    sink's partition columns. The file sink writes one file per
    (task, partition directory), and the stateful aggregate's tasks are
    keyed by (symbol, window), so without this exchange every aggregate
    task wrote into every (bar_date, symbol) directory it touched, once
    per micro-batch. On the seed-1 medallion replay benchmark (6 gold
    micro-batches, 4 shuffle partitions) gold landed as 136 files of
    ~6.7 KiB and every analysis read of it ran 68 scan tasks; clustered,
    it lands as 39 files read by 20 scan tasks. The exchange is stateless
    and sits after the state store save: the bars and the aggregate's
    state are unchanged, and a checkpoint written without the exchange
    restarts under it.

    Silver is deliberately not clustered: routing each ``event_date``
    through one writer task serializes a day's rows, and the fewer,
    larger silver files would change how a file-capped gold stream
    batches its input.
    """
    bars = ohlcv_bars(silver_stream.withWatermark("event_time", watermark), bar=bar)
    return bars.repartition(*GOLD_PARTITION_BY)


def _start(
    df: DataFrame,
    *,
    path: str,
    checkpoint: str,
    partition_by: list[str] | None,
    trigger: dict,
) -> StreamingQuery:
    from ..sources.formats import stream_writer

    return stream_writer(
        df,
        path=path,
        checkpoint=checkpoint,
        partition_by=partition_by,
        trigger=trigger,
    ).start()


def start_records_to_bronze(
    records: DataFrame,
    *,
    bronze_dir: str,
    checkpoint: str,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Kafka-record-shaped stream → bronze audit sink — the broker-free
    part of the bronze job, shared between the real Kafka reader
    (start_bronze_job) and test drivers.

    CI exercises this as a REAL stream via a ``rate`` source mapped to the
    Kafka record schema (tests/test_streaming.py), so the projection +
    parquet sink + checkpoint execute in a live microbatch loop; only the
    socket to a broker is substituted.
    """
    from ..transforms import kafka_records_to_bronze

    return _start(
        kafka_records_to_bronze(records),
        path=bronze_dir,
        checkpoint=checkpoint,
        partition_by=None,
        trigger=trigger or {"processingTime": "5 seconds"},
    )


def start_bronze_job(
    spark: SparkSession,
    *,
    bootstrap_servers: str,
    topic: str,
    bronze_dir: str,
    checkpoint: str,
    starting_offsets: str = "latest",
    max_offsets_per_trigger: int | None = None,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Kafka → bronze audit table (jobs EP1; S1/T4/T5/T7).

    Raw Kafka records land unparsed — value kept as string next to the
    (topic, partition, offset) lineage — so every downstream layer can be
    rebuilt from bronze. Requires the spark-sql-kafka package on the
    classpath and a reachable broker; everything past the source is
    start_records_to_bronze, which CI runs as a live stream over a
    rate source with the identical record schema.
    """
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("failOnDataLoss", "false")
    )
    if max_offsets_per_trigger:
        reader = reader.option("maxOffsetsPerTrigger", max_offsets_per_trigger)
    return start_records_to_bronze(
        reader.load(),
        bronze_dir=bronze_dir,
        checkpoint=checkpoint,
        trigger=trigger,
    )


def start_silver_job(
    spark: SparkSession,
    *,
    bronze_dir: str,
    silver_dir: str,
    checkpoint: str,
    watermark: str = "2 minutes",
    within_watermark: bool = False,
    max_files_per_trigger: int | None = None,
    trigger: dict | None = None,
    backfill: bool = False,
    state_provider: str | None = None,
) -> StreamingQuery:
    """Bronze dir → silver dir as a file-source stream (jobs EP2).

    ``backfill=True`` reproduces the reference's hybrid mode: one batch
    read+dedup+write of pre-existing bronze, then the continuous stream
    (T6). ``max_files_per_trigger`` is the file-source backpressure knob
    (T7). The watermarked-dedup state lives in RocksDB with changelog
    checkpointing by default (see configure_state_store; pass
    ``state_provider="hdfs"``/``"session"`` for legacy checkpoints).
    """
    configure_state_store(spark, state_provider)
    if backfill:
        batch = dedup_trades(
            bronze_to_silver(spark.read.schema(BRONZE_SCHEMA).parquet(bronze_dir))
        )
        batch.write.mode("append").partitionBy("event_date").parquet(silver_dir)

    reader = spark.readStream.schema(BRONZE_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    bronze_stream = reader.parquet(bronze_dir)
    silver = bronze_stream_to_silver(
        bronze_stream, watermark=watermark, within_watermark=within_watermark
    )
    return _start(
        silver,
        path=silver_dir,
        checkpoint=checkpoint,
        partition_by=["event_date"],
        trigger=trigger or {"availableNow": True},
    )


def start_gold_job(
    spark: SparkSession,
    *,
    silver_dir: str,
    gold_dir: str,
    checkpoint: str,
    bar: str = "1 minute",
    watermark: str = "2 minutes",
    max_files_per_trigger: int | None = None,
    trigger: dict | None = None,
    state_provider: str | None = None,
) -> StreamingQuery:
    """Silver dir → gold bars dir; partitioned by ``GOLD_PARTITION_BY``
    for day+symbol pruned lookups (silver_to_gold_bars.py:72). Windowed-agg
    state uses the same RocksDB+changelog default as the silver job.
    ``max_files_per_trigger`` caps the silver files each micro-batch reads,
    as in start_silver_job; ``None`` drains all of silver in one batch."""
    configure_state_store(spark, state_provider)
    reader = spark.readStream.schema(SILVER_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    silver_stream = reader.parquet(silver_dir)
    gold = silver_stream_to_gold(silver_stream, bar=bar, watermark=watermark)
    return _start(
        gold,
        path=gold_dir,
        checkpoint=checkpoint,
        partition_by=list(GOLD_PARTITION_BY),
        trigger=trigger or {"availableNow": True},
    )


def run_batch_pipeline(bronze: DataFrame, *, bar: str = "1 minute") -> DataFrame:
    """Batch equivalent of the full bronze→gold pipeline (oracle side of the
    stream≡batch tests)."""
    return ohlcv_bars(dedup_trades(bronze_to_silver(bronze)), bar=bar)


def buy_sell_matches(
    silver: DataFrame,
    *,
    within: str = "1 minute",
    watermark: str = "2 minutes",
    streaming: bool = True,
    how: str = "inner",
) -> DataFrame:
    """Stream–stream join: each buy matched to same-symbol sells within
    ±`within` of its event time.

    The time-range predicate is what makes streaming state finite: Spark
    derives from it how long a buffered row can still find partners, and
    the watermarks bound that window — state per key is O(rate × (watermark
    + range)), independent of history. Without the range condition a
    stream–stream inner join would buffer both sides forever.

    ``how="leftOuter"`` emits unmatched buys null-padded — but only once
    the watermark proves no partner can still arrive, so outer results
    trail the inner ones by the watermark delay (the late-data price of
    outer semantics on streams).

    ``streaming=False`` builds the identical plan for a batch frame — the
    oracle side of the stream≡batch test (watermarks are no-ops in batch).
    """
    from pyspark.sql import functions as F

    buys = silver.where(F.col("side") == "buy").select(
        F.col("symbol").alias("b_symbol"),
        F.col("event_time").alias("buy_time"),
        F.col("price").alias("buy_price"),
    )
    sells = silver.where(F.col("side") == "sell").select(
        F.col("symbol").alias("s_symbol"),
        F.col("event_time").alias("sell_time"),
        F.col("price").alias("sell_price"),
    )
    if streaming:
        buys = buys.withWatermark("buy_time", watermark)
        sells = sells.withWatermark("sell_time", watermark)
    cond = (
        (F.col("b_symbol") == F.col("s_symbol"))
        & (F.col("sell_time") >= F.expr(f"buy_time - INTERVAL {within}"))
        & (F.col("sell_time") <= F.expr(f"buy_time + INTERVAL {within}"))
    )
    return buys.join(sells, cond, how).select(
        F.col("b_symbol").alias("symbol"),
        "buy_time",
        "sell_time",
        "buy_price",
        "sell_price",
    )
