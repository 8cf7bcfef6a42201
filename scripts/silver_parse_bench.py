"""Silver parse microbenchmark: driver-JVM CPU seconds to run
``transforms.bronze_to_silver`` over Kafka-shaped payloads into Spark's
``noop`` sink.

The bronze input (``ROWS`` trade payloads in the stream tests' JSON
shape, 5 symbols) is written to a temp parquet dir first; each pass then
reads it, parses it and discards the result. The stream tests' bronze
fixture draws its ~1 k trades from the TPC-H fixture data; this input is
synthetic so that its size is free of it. CPU is
``perfbench.probes.cpu_seconds`` of the driver JVM (task, compiler and
GC threads alike), read before and after each pass. The first pass runs
on a JVM that has compiled no parse code yet (``cold_cpu_s``);
``warm_cpu_s`` is the median of the ``WARM_PASSES`` passes after it.

Usage:
    python scripts/silver_parse_bench.py

Prints one JSON line, with the plan's ``from_json`` count next to the
CPU figures.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from perfbench.probes import cpu_seconds  # noqa: E402

ROWS = 100_000
WARM_PASSES = 5


def bronze_frame(spark, rows: int):
    ms = F.lit(1_700_000_000_000) + F.col("id") * 7
    payload = F.to_json(
        F.struct(
            F.lit("kraken").alias("exchange"),
            F.concat(F.lit("SYM"), F.col("id") % 5).alias("symbol"),
            (F.col("id") % 1000 * 1.5 + 1).alias("price"),
            F.lit(0.1).alias("size"),
            F.when(F.col("id") % 2 == 0, "buy").otherwise("sell").alias("side"),
            F.lit("market").alias("order_type"),
            ms.alias("ts_event"),
            (ms + 50).alias("ts_ingest"),
        )
    )
    return spark.range(rows).select(
        F.lit("crypto.trades").alias("topic"),
        (F.col("id") % 4).cast("int").alias("partition"),
        F.col("id").alias("offset"),
        F.timestamp_millis(ms).alias("ts_kafka"),
        F.lit(0).cast("int").alias("ts_type"),
        F.col("id").cast("string").alias("key"),
        payload.alias("value_raw"),
    )


def main() -> None:
    from crypto_streaming_lakehouse_spark.schemas import BRONZE_SCHEMA
    from crypto_streaming_lakehouse_spark.session import get_spark
    from crypto_streaming_lakehouse_spark.transforms import bronze_to_silver

    cpus = min(4, os.cpu_count() or 4)
    spark = get_spark("silver-parse-bench", cpus=cpus, shuffle_partitions=cpus)
    pid = spark.sparkContext._gateway.proc.pid
    with tempfile.TemporaryDirectory(prefix="silver_parse_") as d:
        bronze_dir = os.path.join(d, "bronze")
        bronze_frame(spark, ROWS).write.parquet(bronze_dir)
        silver = bronze_to_silver(spark.read.schema(BRONZE_SCHEMA).parquet(bronze_dir))

        def pass_cpu_s() -> float:
            t0 = cpu_seconds(pid)
            silver.write.format("noop").mode("overwrite").save()
            return cpu_seconds(pid) - t0

        cold = pass_cpu_s()
        warm = [pass_cpu_s() for _ in range(WARM_PASSES)]
        plan = silver._jdf.queryExecution().executedPlan().toString()
    print(
        json.dumps(
            {
                "rows": ROWS,
                "cpus": cpus,
                "from_json_calls": plan.count("from_json("),
                "cold_cpu_s": round(cold, 3),
                "warm_cpu_s": round(statistics.median(warm), 3),
                "warm_passes": [round(w, 3) for w in warm],
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
