"""Streaming throughput probe: sustained rows/s and state-store size
through the full bronze → silver (watermarked dedup) → gold pipeline.

SCALE.md reasons carefully about watermarked-dedup state growth but had
no MEASURED streaming number (VERDICT r08 item 6). This probe feeds the
real pipeline from a ``rate`` source mapped to the exact Kafka record
schema (the tests' broker-free harness), lets all three stages run
concurrently for ``--duration`` seconds, samples every query's
``lastProgress`` each second, and prints ONE JSON line with

- per-stage sustained throughput (median + max of the per-batch
  ``processedRowsPerSecond`` across the steady-state window),
- per-stage fixed commit cost per batch: the median offset-WAL plus
  commit-log write (``walCommit`` + ``commitOffsets``) and the median
  state-store commit summed over the stateful operator's tasks
  (``stateOperators[0].commitTimeMs``; ``None`` for stateless bronze),
- rows and data files landed per layer (the file count shows a
  regression in sink layout, e.g. gold no longer clustered by its
  partition columns),
- the silver dedup and gold window state-store footprint
  (``stateOperators[].numRowsTotal`` / ``memoryUsedBytes`` from the last
  progress of each stage — the number that decides whether watermarked
  state fits executor memory at production rates).

Usage:
    python scripts/stream_probe.py [--rows-per-sec 100000] [--duration 60]

Results are recorded in SCALE.md's streaming section; a short-duration
variant runs as a slow-marked test (tests/test_streaming.py) so the
probe cannot rot.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.errors import AnalysisException  # noqa: E402
from pyspark.sql import SparkSession, functions as F  # noqa: E402


def rate_records(spark: SparkSession, rows_per_sec: int, partitions: int):
    """``rate`` source mapped to the Kafka record schema (5 symbols,
    ~1% deliberate duplicate trade ids so the silver dedup state does
    real work)."""
    raw = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_sec)
        .option("numPartitions", partitions)
        .load()
    )
    ms = F.unix_millis("timestamp")
    # ~1% duplicates: every 100th row re-uses the previous row's id.
    trade_id = F.when(
        F.col("value") % 100 == 99, F.col("value") - 1
    ).otherwise(F.col("value"))
    payload = F.to_json(
        F.struct(
            F.lit("kraken").alias("exchange"),
            F.concat(F.lit("SYM"), F.col("value") % 5).alias("symbol"),
            (F.col("value") % 1000 * 1.5 + 1).alias("price"),
            F.lit(0.1).alias("size"),
            F.when(F.col("value") % 2 == 0, "buy")
            .otherwise("sell")
            .alias("side"),
            F.lit("market").alias("order_type"),
            ms.alias("ts_event"),
            (ms + 50).alias("ts_ingest"),
        )
    )
    return raw.select(
        F.lit("crypto.trades").alias("topic"),
        (F.col("value") % 4).cast("int").alias("partition"),
        trade_id.alias("offset"),
        F.col("timestamp").alias("timestamp"),
        F.lit(0).cast("int").alias("timestampType"),
        trade_id.cast("string").cast("binary").alias("key"),
        payload.cast("binary").alias("value"),
    )


def run_probe(
    spark: SparkSession,
    *,
    rows_per_sec: int,
    duration_s: int,
    base_dir: str,
    trigger_s: int = 2,
    watermark_s: int = 30,
) -> dict:
    from crypto_streaming_lakehouse_spark.streaming.pipeline import (
        start_gold_job,
        start_records_to_bronze,
        start_silver_job,
    )

    bronze_dir = os.path.join(base_dir, "bronze")
    silver_dir = os.path.join(base_dir, "silver")
    gold_dir = os.path.join(base_dir, "gold")
    trig = {"processingTime": f"{trigger_s} seconds"}
    nparts = min(8, os.cpu_count() or 8)

    qb = start_records_to_bronze(
        rate_records(spark, rows_per_sec, nparts),
        bronze_dir=bronze_dir,
        checkpoint=os.path.join(base_dir, "ckpt_bronze"),
        trigger=trig,
    )
    # Give bronze a head start so the file sources have data to tail.
    time.sleep(trigger_s + 1)
    qs = start_silver_job(
        spark,
        bronze_dir=bronze_dir,
        silver_dir=silver_dir,
        checkpoint=os.path.join(base_dir, "ckpt_silver"),
        watermark=f"{watermark_s} seconds",
        trigger=trig,
    )
    qg = start_gold_job(
        spark,
        silver_dir=silver_dir,
        gold_dir=gold_dir,
        checkpoint=os.path.join(base_dir, "ckpt_gold"),
        watermark=f"{watermark_s} seconds",
        trigger=trig,
    )

    stages = {"bronze": qb, "silver": qs, "gold": qg}
    samples: dict[str, list[dict]] = {k: [] for k in stages}
    t_end = time.time() + duration_s
    while time.time() < t_end:
        for name, q in stages.items():
            p = q.lastProgress
            if p:
                samples[name].append(
                    p if isinstance(p, dict) else json.loads(p.json)
                )
        time.sleep(1.0)
    for q in stages.values():
        try:
            q.stop()
        except Exception as e:  # noqa: BLE001 — teardown only
            print(f"[probe] stop: {type(e).__name__}", file=sys.stderr)
    for q in stages.values():
        # Teardown races are not measurement failures: stopping a query
        # mid-commit can surface spurious exceptions from the state
        # store's maintenance thread (observed with RocksDB: a snapshot
        # .zip.tmp deleted under the uploader). All throughput/state
        # samples were taken while the queries ran; keep them.
        try:
            q.awaitTermination(60)
        except Exception as e:  # noqa: BLE001
            print(f"[probe] awaitTermination: {type(e).__name__}: "
                  f"{str(e)[:200]}", file=sys.stderr)

    out: dict = {
        "rows_per_sec_offered": rows_per_sec,
        "duration_s": duration_s,
        "trigger_s": trigger_s,
        "watermark_s": watermark_s,
        "state_provider": spark.conf.get(
            "spark.sql.streaming.stateStore.providerClass", "hdfs-default"
        ).rsplit(".", 1)[-1],
    }
    for name in stages:
        # Dedup sampled progress by batchId; drop the warmup batch 0.
        by_batch: dict[int, dict] = {}
        for p in samples[name]:
            by_batch[p["batchId"]] = p
        steady = [
            p
            for bid, p in sorted(by_batch.items())
            if bid > 0 and p.get("numInputRows", 0) > 0
        ]
        rates = [
            p["processedRowsPerSecond"]
            for p in steady
            if p.get("processedRowsPerSecond")
        ]
        commits = [
            p["durationMs"].get("walCommit", 0)
            + p["durationMs"].get("commitOffsets", 0)
            for p in steady
        ]
        state_commits = [
            p["stateOperators"][0]["commitTimeMs"]
            for p in steady
            if p.get("stateOperators")
        ]
        rec = {
            "batches": len(steady),
            "rows_processed": int(sum(p["numInputRows"] for p in steady)),
            "rows_per_sec_median": round(statistics.median(rates), 1)
            if rates
            else None,
            "rows_per_sec_max": round(max(rates), 1) if rates else None,
            "commit_ms_p50": statistics.median(commits) if commits else None,
            "state_commit_ms_p50": statistics.median(state_commits)
            if state_commits
            else None,
        }
        state_ops = (steady[-1].get("stateOperators") or []) if steady else []
        if state_ops:
            rec["state"] = [
                {
                    "operator": s.get("operatorName"),
                    "rows": s.get("numRowsTotal"),
                    "memory_bytes": s.get("memoryUsedBytes"),
                }
                for s in state_ops
            ]
        out[name] = rec

    def landed(path: str) -> tuple[int, int]:
        """(rows, data files) committed to a sink; the files come from the
        sink's metadata log, so uncommitted leftovers do not count."""
        # A short run can legitimately land nothing in gold (append mode
        # emits a window only after the watermark passes its end).
        try:
            df = spark.read.parquet(path)
        except AnalysisException:  # sink dir missing or empty
            return 0, 0
        return df.count(), len(df.inputFiles())

    for layer, path in (("gold", gold_dir), ("silver", silver_dir)):
        out[f"{layer}_rows_landed"], out[f"{layer}_files_landed"] = landed(path)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows-per-sec", type=int, default=100_000)
    ap.add_argument("--duration", type=int, default=60)
    ap.add_argument(
        "--watermark",
        type=int,
        default=30,
        help="Event-time watermark (seconds) for the silver dedup and "
        "gold window stages. The state-volume lever: dedup state is "
        "~rate x watermark keys, so raising it stresses the store "
        "without changing per-row work (VERDICT r11 item 6).",
    )
    args = ap.parse_args()

    from crypto_streaming_lakehouse_spark.session import get_spark

    spark = get_spark("stream-probe")
    # ignore_cleanup_errors: state-store maintenance threads may still
    # be writing under the dir for a moment after stop(); a cleanup
    # race must not discard the already-collected measurements.
    with tempfile.TemporaryDirectory(
        prefix="stream_probe_", ignore_cleanup_errors=True
    ) as base:
        out = run_probe(
            spark,
            rows_per_sec=args.rows_per_sec,
            duration_s=args.duration,
            base_dir=base,
            watermark_s=args.watermark,
        )
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
