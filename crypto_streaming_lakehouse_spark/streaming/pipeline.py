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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..operators.bars import ohlcv_bars
from ..schemas import BRONZE_SCHEMA, SILVER_SCHEMA
from ..sources.formats import stream_writer
from ..transforms import bronze_to_silver, dedup_trades, kafka_records_to_bronze

ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
#: Partition columns of the gold bars sink (silver_to_gold_bars.py:72).
#: ``silver_stream_to_gold`` clusters its output by the same columns, so a
#: micro-batch writes one file per directory it touches.
GOLD_PARTITION_BY = ("bar_date", "symbol")


def configure_state_store(spark: SparkSession) -> None:
    """Put the stateful jobs started below on RocksDB with changelog
    checkpointing.

    Measured strictly better than the on-heap HDFS-backed provider for
    the watermarked-dedup pipeline at the 100k rows/s probe load (SCALE.md
    round-10 table: 97.7k vs 85.7k rows/s sustained, ~106 vs ~350 B/row
    of dedup state, 20 steady silver batches vs 4 snapshot-stalled
    ones), and the only provider whose state is not bounded by executor
    heap — at 100 TB-scale rates the dedup state (rate × watermark ×
    bytes/row) outgrows on-heap storage long before the compute does.

    Changelog checkpointing is REQUIRED whenever dedup state evicts on a
    watermark: plain RocksDB aborts the stream with a "mutation occurred
    during iteration" error on eviction (round-10 operational finding).

    The provider applies to new checkpoints only: Spark records the
    providerClass in each checkpoint's offset log and restores it on
    restart, so a checkpoint written under another provider resumes
    under that provider (pinned by
    test_checkpoint_keeps_its_state_provider). The conf is session-level,
    so streams started later in the same session inherit it.
    """
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
    spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true",
    )


def silver_stream_to_gold(
    silver_stream: DataFrame, *, watermark: str = "2 minutes"
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
    bars = ohlcv_bars(silver_stream.withWatermark("event_time", watermark))
    return bars.repartition(*GOLD_PARTITION_BY)


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
    return stream_writer(
        kafka_records_to_bronze(records),
        path=bronze_dir,
        checkpoint=checkpoint,
        trigger=trigger or {"processingTime": "5 seconds"},
    ).start()


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
    max_files_per_trigger: int | None = None,
    trigger: dict | None = None,
    backfill: bool = False,
) -> StreamingQuery:
    """Bronze dir → silver dir as a file-source stream (jobs EP2): parse,
    then ``dropDuplicates`` on the 5-col key behind an event-time
    watermark, which keeps per-key state only until the watermark passes
    — bounded state at any scale (T3).

    ``backfill=True`` reproduces the reference's hybrid mode: one batch
    read+dedup+write of pre-existing bronze, then the continuous stream
    (T6). ``max_files_per_trigger`` is the file-source backpressure knob
    (T7). The dedup state lives in RocksDB (configure_state_store).
    """
    configure_state_store(spark)
    if backfill:
        batch = dedup_trades(
            bronze_to_silver(spark.read.schema(BRONZE_SCHEMA).parquet(bronze_dir))
        )
        batch.write.mode("append").partitionBy("event_date").parquet(silver_dir)

    reader = spark.readStream.schema(BRONZE_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    bronze_stream = reader.parquet(bronze_dir)
    return stream_writer(
        dedup_trades(bronze_to_silver(bronze_stream), watermark=watermark),
        path=silver_dir,
        checkpoint=checkpoint,
        partition_by=["event_date"],
        trigger=trigger,
    ).start()


def start_gold_job(
    spark: SparkSession,
    *,
    silver_dir: str,
    gold_dir: str,
    checkpoint: str,
    watermark: str = "2 minutes",
    max_files_per_trigger: int | None = None,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Silver dir → gold bars dir; partitioned by ``GOLD_PARTITION_BY``
    for day+symbol pruned lookups (silver_to_gold_bars.py:72). Windowed-agg
    state lives in RocksDB, as in the silver job.
    ``max_files_per_trigger`` caps the silver files each micro-batch reads,
    as in start_silver_job; ``None`` drains all of silver in one batch."""
    configure_state_store(spark)
    reader = spark.readStream.schema(SILVER_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    silver_stream = reader.parquet(silver_dir)
    return stream_writer(
        silver_stream_to_gold(silver_stream, watermark=watermark),
        path=gold_dir,
        checkpoint=checkpoint,
        partition_by=list(GOLD_PARTITION_BY),
        trigger=trigger,
    ).start()


def run_batch_pipeline(bronze: DataFrame) -> DataFrame:
    """Batch equivalent of the full bronze→gold pipeline (oracle side of the
    stream≡batch tests)."""
    return ohlcv_bars(dedup_trades(bronze_to_silver(bronze)))


def buy_sell_matches(
    silver: DataFrame,
    *,
    within: str = "1 minute",
    watermark: str = "2 minutes",
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

    Over a batch frame the same call is the oracle side of the
    stream≡batch tests: Spark drops the watermarks when it analyzes a
    batch plan.
    """
    from pyspark.sql import functions as F

    buys = silver.where(F.col("side") == "buy").select(
        F.col("symbol").alias("b_symbol"),
        F.col("event_time").alias("buy_time"),
        F.col("price").alias("buy_price"),
    ).withWatermark("buy_time", watermark)
    sells = silver.where(F.col("side") == "sell").select(
        F.col("symbol").alias("s_symbol"),
        F.col("event_time").alias("sell_time"),
        F.col("price").alias("sell_price"),
    ).withWatermark("sell_time", watermark)
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
