"""Pure DataFrame→DataFrame layer transforms (the EP2 pattern).

Parity: /root/reference/spark/jobs/bronze_to_silver_trades.py:52-69 (silver
projection: from_json parse → struct flatten → epoch-ms→timestamp → derived
partition date) and :82-84,100-102 (5-key dedup, batch and watermarked).

The same plan-builder functions bind to batch (``spark.read``) or streaming
(``spark.readStream``) sources — Structured Streaming incrementalizes the
identical logical plan, which is what makes the stream≡batch equivalence
tests meaningful.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .schemas import DEDUP_KEY, TRADE_PAYLOAD_SCHEMA


def kafka_records_to_bronze(records: DataFrame) -> DataFrame:
    """Project raw Kafka records to the bronze schema.

    Parity: kafka_to_bronze_trades.py:59-69 — lineage columns kept, binary
    key/value cast to string, timestamp renamed ts_kafka.
    """
    return records.select(
        F.col("topic"),
        F.col("partition"),
        F.col("offset"),
        F.col("timestamp").alias("ts_kafka"),
        F.col("timestampType").alias("ts_type"),
        F.col("key").cast("string").alias("key"),
        F.col("value").cast("string").alias("value_raw"),
    )


def bronze_to_silver(bronze: DataFrame) -> DataFrame:
    """Parse + type bronze rows into the silver schema.

    from_json on value_raw, flatten the payload struct, convert epoch-ms
    longs to timestamps, derive the event_date partition column.
    """
    p = F.from_json(F.col("value_raw"), TRADE_PAYLOAD_SCHEMA).alias("p")
    return bronze.select(
        "topic",
        "partition",
        "offset",
        "ts_kafka",
        "key",
        "value_raw",
        p.getField("exchange").alias("exchange"),
        p.getField("symbol").alias("symbol"),
        p.getField("price").alias("price"),
        p.getField("size").alias("size"),
        p.getField("side").alias("side"),
        p.getField("order_type").alias("order_type"),
        F.timestamp_millis(p.getField("ts_event")).alias("event_time"),
        F.timestamp_millis(p.getField("ts_ingest")).alias("ingest_time"),
    ).withColumn("event_date", F.to_date(F.col("event_time")))


def dedup_trades(silver: DataFrame, *, watermark: str | None = None) -> DataFrame:
    """Composite-key dedup (no natural trade id in the feed).

    Batch: plain ``dropDuplicates``. Streaming: pass ``watermark`` so the
    state store evicts expired keys (the scale-critical knob — unbounded
    dedup state is the 100 TB failure mode; see SURVEY.md §7).
    """
    if watermark is not None:
        silver = silver.withWatermark("event_time", watermark)
    return silver.dropDuplicates(DEDUP_KEY)
