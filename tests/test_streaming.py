"""Streaming pipeline tests (SURVEY.md §2.6 T1–T7).

Strategy per SURVEY.md §5: replay a bronze fixture (synthesized from the
events table, with injected exact duplicates) through the real
readStream→writeStream silver and gold jobs with availableNow triggers, then
assert the batch pipeline over the same bronze produces identical results —
stream≡batch equivalence is the correctness property Structured Streaming
guarantees for these plans.
"""

from __future__ import annotations

import contextlib

import pytest
from pyspark.sql import functions as F

from crypto_streaming_lakehouse_spark.operators.bars import ohlcv_bars
from crypto_streaming_lakehouse_spark.schemas import (
    BRONZE_SCHEMA,
    DEDUP_KEY,
    SILVER_SCHEMA,
)
from crypto_streaming_lakehouse_spark.sources.formats import stream_writer
from crypto_streaming_lakehouse_spark.sources.tables import events_as_trades
from crypto_streaming_lakehouse_spark.streaming.pipeline import (
    GOLD_PARTITION_BY,
    ROCKSDB_PROVIDER,
    configure_state_store,
    run_batch_pipeline,
    start_gold_job,
    start_silver_job,
)
from crypto_streaming_lakehouse_spark.transforms import (
    bronze_to_silver,
    dedup_trades,
    kafka_records_to_bronze,
)

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def bronze_dir(spark, tmp_path_factory):
    """Bronze fixture: events→trades→JSON payloads, ~5% exact duplicates."""
    tmp = tmp_path_factory.mktemp("stream")
    t = events_as_trades(spark, SF_DIR)
    ms = F.unix_millis("event_time")
    payload = F.to_json(
        F.struct(
            F.lit("kraken").alias("exchange"),
            F.col("symbol"),
            F.col("price"),
            F.col("size"),
            F.col("side"),
            F.lit("market").alias("order_type"),
            ms.alias("ts_event"),
            (ms + 50).alias("ts_ingest"),
        )
    )
    bronze = t.select(
        F.lit("crypto.trades").alias("topic"),
        F.lit(0).cast("int").alias("partition"),
        F.col("event_id").alias("offset"),
        F.col("event_time").alias("ts_kafka"),
        F.lit(0).cast("int").alias("ts_type"),
        F.col("symbol").alias("key"),
        payload.alias("value_raw"),
    )
    dups = bronze.where(F.col("offset") % 20 == 0)
    path = str(tmp / "bronze")
    bronze.unionAll(dups).repartition(4).write.parquet(path)
    return tmp, path


def _read_bronze(spark, path):
    return spark.read.schema(BRONZE_SCHEMA).parquet(path)


def _rowset(df, cols):
    """Sorted, collected row multiset (exceptAll over dropDuplicates plans
    trips INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND in Spark 4.1 — compare
    driver-side instead; fixtures are small)."""
    return sorted(tuple(r) for r in df.select(*cols).collect())


#: Days of silver appended per write by _append_silver; gold tests cap
#: files per trigger at a multiple of it, so batch boundaries fall on
#: write boundaries.
_DAYS_PER_WRITE = 5
_GOLD_COLS = ["symbol", "bar_start", "bar_end", "open", "high", "low",
              "close", "volume", "vwap", "trades"]


def test_state_store_default_is_rocksdb_with_changelog(spark, bronze_dir, tmp_path):
    """VERDICT r10 item 2: the watermarked-dedup pipeline runs on the
    RocksDB provider WITH changelog checkpointing (measured strictly
    better — SCALE.md round-10 table; changelog is required for
    watermark eviction)."""
    _, bronze = bronze_dir
    q = start_silver_job(
        spark,
        bronze_dir=bronze,
        silver_dir=str(tmp_path / "silver_rdb"),
        checkpoint=str(tmp_path / "ckpt_rdb"),
    )
    try:
        prov = spark.conf.get("spark.sql.streaming.stateStore.providerClass")
        changelog = spark.conf.get(
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled"
        )
    finally:
        q.awaitTermination(120)
    assert prov == ROCKSDB_PROVIDER
    assert changelog == "true"
    # The stream actually ran and deduped under the RocksDB provider.
    out = spark.read.parquet(str(tmp_path / "silver_rdb"))
    assert out.count() == out.select(DEDUP_KEY).distinct().count() > 0


def test_silver_stream_matches_batch(spark, bronze_dir):
    """T1+T3+T4+T5+T7: watermarked stateful dedup through a file-source
    stream equals batch parse+dedup."""
    tmp, bronze = bronze_dir
    silver_dir = str(tmp / "silver")
    q = start_silver_job(
        spark,
        bronze_dir=bronze,
        silver_dir=silver_dir,
        checkpoint=str(tmp / "ckpt_silver"),
        max_files_per_trigger=2,  # several micro-batches, not one big one
    )
    q.awaitTermination(120)

    streamed = spark.read.parquet(silver_dir)
    batch = dedup_trades(bronze_to_silver(_read_bronze(spark, bronze)))

    assert streamed.count() == batch.count()
    # identical row sets on the dedup identity + parsed payload
    cols = [*DEDUP_KEY, "exchange", "order_type", "event_date"]
    assert _rowset(streamed, cols) == _rowset(batch, cols)
    # dedup actually removed the injected duplicates
    n_bronze = _read_bronze(spark, bronze).count()
    assert streamed.count() < n_bronze
    assert streamed.count() == streamed.select(DEDUP_KEY).distinct().count()


def test_gold_stream_is_watermark_closed_prefix_of_batch(spark, bronze_dir):
    """T1+T2: append-mode windowed agg emits exactly the watermark-closed
    bars, each identical to the batch aggregation."""
    tmp, bronze = bronze_dir
    silver_dir = str(tmp / "silver")  # produced by the silver test
    gold_dir = str(tmp / "gold")
    q = start_gold_job(
        spark,
        silver_dir=silver_dir,
        gold_dir=gold_dir,
        checkpoint=str(tmp / "ckpt_gold"),
    )
    q.awaitTermination(120)

    streamed = spark.read.parquet(gold_dir)
    batch = run_batch_pipeline(_read_bronze(spark, bronze))

    # every streamed bar matches its batch twin exactly
    s_rows = set(_rowset(streamed, _GOLD_COLS))
    b_rows = set(_rowset(batch, _GOLD_COLS))
    assert s_rows <= b_rows

    # the stream withholds only bars still open w.r.t. the final watermark
    max_et = batch.agg(F.max("bar_end")).first()[0]
    import datetime

    wm = max_et - datetime.timedelta(minutes=3)  # 2-min watermark + slack
    n_closed = batch.where(F.col("bar_end") <= wm).count()
    assert streamed.count() >= n_closed
    assert 0 < streamed.count() <= batch.count()


def _silver_writes(spark, bronze):
    """Batch silver of the bronze fixture and its days, in groups of
    ``_DAYS_PER_WRITE``, oldest first."""
    silver = dedup_trades(bronze_to_silver(_read_bronze(spark, bronze)))
    days = sorted(r[0] for r in silver.select("event_date").distinct().collect())
    groups = [
        days[i : i + _DAYS_PER_WRITE]
        for i in range(0, len(days), _DAYS_PER_WRITE)
    ]
    return silver, groups


def _append_silver(silver, path, groups):
    """Append silver one group of days per write, one file per day. The
    file source reads files in modification-time order, so here that is
    event-time order: under a files-per-trigger cap that is a multiple of
    the group size no row lands behind the watermark, and every batch
    schedule emits the same bars."""
    for days in groups:
        (
            silver.where(F.col("event_date").isin(days))
            .coalesce(1)
            .write.mode("append")
            .partitionBy("event_date")
            .parquet(path)
        )


def _sink_files_by_batch(sink_dir):
    """{batch_id: [data file path]} from the file sink's metadata log —
    the files each committed micro-batch added."""
    import json
    import os
    from urllib.parse import unquote, urlparse

    log = os.path.join(sink_dir, "_spark_metadata")
    out = {}
    for name in os.listdir(log):
        if name.startswith("."):  # checksum files
            continue
        assert name.isdigit(), f"unexpected sink log entry {name}"
        with open(os.path.join(log, name)) as f:
            lines = f.read().splitlines()[1:]  # first line is the version
        out[int(name)] = [
            unquote(urlparse(json.loads(ln)["path"]).path) for ln in lines
        ]
    return out


def test_gold_stream_writes_one_file_per_partition_per_batch(
    spark, bronze_dir, tmp_path
):
    """The gold stream is clustered by its sink partitions: a micro-batch
    writes at most one file into each (bar_date, symbol) directory, so no
    directory holds more files than the micro-batches that wrote to it.
    Unclustered, each stateful-aggregate task wrote its own file into
    every directory it had bars for."""
    import collections
    import os

    _, bronze = bronze_dir
    silver, groups = _silver_writes(spark, bronze)
    silver_dir = str(tmp_path / "silver")
    _append_silver(silver, silver_dir, groups)
    gold_dir = str(tmp_path / "gold")
    q = start_gold_job(
        spark,
        silver_dir=silver_dir,
        gold_dir=gold_dir,
        checkpoint=str(tmp_path / "ckpt_gold"),
        max_files_per_trigger=2 * _DAYS_PER_WRITE,
    )
    assert q.awaitTermination(120)
    assert sum(1 for p in q.recentProgress if p.numInputRows > 0) >= 2

    writers = collections.defaultdict(set)  # directory -> batch ids
    for batch_id, files in _sink_files_by_batch(gold_dir).items():
        per_dir = collections.Counter(os.path.dirname(f) for f in files)
        assert max(per_dir.values(), default=0) <= 1, (batch_id, per_dir)
        for d in per_dir:
            writers[d].add(batch_id)
    assert len(writers) > 1
    layout = f"{'=*/'.join(GOLD_PARTITION_BY)}=*"
    on_disk = {str(d) for d in tmp_path.joinpath("gold").glob(layout)}
    assert on_disk == set(writers)
    for d, batch_ids in writers.items():
        n_files = sum(1 for f in os.listdir(d) if f.endswith(".parquet"))
        assert n_files <= len(batch_ids), d

    streamed = spark.read.parquet(gold_dir)
    batch = run_batch_pipeline(_read_bronze(spark, bronze))
    s_rows = _rowset(streamed, _GOLD_COLS)
    assert s_rows
    assert set(s_rows) <= set(_rowset(batch, _GOLD_COLS))


def test_gold_restart_from_unclustered_checkpoint(spark, bronze_dir, tmp_path):
    """A gold checkpoint written by the unclustered plan (the windowed
    aggregate straight into the sink) restarts under start_gold_job: the
    added exchange is stateless and sits after the state store, so the
    restored windows finish where they left off. The result has no
    duplicate bars and equals one uninterrupted run over the same files."""
    _, bronze = bronze_dir
    silver, groups = _silver_writes(spark, bronze)
    assert len(groups) >= 5
    silver_dir = str(tmp_path / "silver")
    gold_dir = str(tmp_path / "gold")
    ckpt = str(tmp_path / "ckpt_gold")
    cap = 2 * _DAYS_PER_WRITE

    # phase 1: the unclustered plan drains the first four groups (two
    # micro-batches) and stops with the last bars still open in state
    _append_silver(silver, silver_dir, groups[:4])
    configure_state_store(spark)
    silver_stream = (
        spark.readStream.schema(SILVER_SCHEMA)
        .option("maxFilesPerTrigger", cap)
        .parquet(silver_dir)
    )
    q1 = stream_writer(
        ohlcv_bars(silver_stream.withWatermark("event_time", "2 minutes")),
        path=gold_dir,
        checkpoint=ckpt,
        partition_by=list(GOLD_PARTITION_BY),
    ).start()
    assert q1.awaitTermination(120)
    assert sum(1 for p in q1.recentProgress if p.numInputRows > 0) == 2
    partial = spark.read.parquet(gold_dir).count()

    # phase 2: more silver arrives; the clustered job resumes the checkpoint
    _append_silver(silver, silver_dir, groups[4:])
    q2 = start_gold_job(
        spark,
        silver_dir=silver_dir,
        gold_dir=gold_dir,
        checkpoint=ckpt,
        max_files_per_trigger=cap,
    )
    assert q2.awaitTermination(120)
    assert q2.recentProgress[0].batchId > 0  # resumed, not restarted

    fresh_dir = str(tmp_path / "gold_fresh")
    q3 = start_gold_job(
        spark,
        silver_dir=silver_dir,
        gold_dir=fresh_dir,
        checkpoint=str(tmp_path / "ckpt_fresh"),
        max_files_per_trigger=cap,
    )
    assert q3.awaitTermination(120)

    restarted = spark.read.parquet(gold_dir)
    n = restarted.count()
    assert 0 < partial < n
    assert restarted.select("symbol", "bar_start").distinct().count() == n
    assert _rowset(restarted, _GOLD_COLS) == _rowset(
        spark.read.parquet(fresh_dir), _GOLD_COLS
    )


def test_backfill_then_stream(spark, bronze_dir, tmp_path):
    """T6: batch backfill + stream over the same dir double-processes the
    initial files; the streamed pass re-appends them (lakehouse append
    semantics), and a downstream batch dedup restores exactness."""
    _, bronze = bronze_dir
    silver_dir = str(tmp_path / "silver_bf")
    q = start_silver_job(
        spark,
        bronze_dir=bronze,
        silver_dir=silver_dir,
        checkpoint=str(tmp_path / "ckpt_bf"),
        backfill=True,
    )
    q.awaitTermination(120)
    out = spark.read.parquet(silver_dir)
    batch = dedup_trades(bronze_to_silver(_read_bronze(spark, bronze)))
    assert out.dropDuplicates(DEDUP_KEY).count() == batch.count()


def test_kafka_record_projection(spark):
    """S1-shape: the bronze projection casts binary key/value to string and
    renames Kafka metadata columns (kafka_to_bronze_trades.py:59-69)."""
    rows = [
        ("crypto.trades", 0, 7, None, 0, bytearray(b"XBT/USDT"),
         bytearray(b'{"price": 1.5}')),
    ]
    records = spark.createDataFrame(
        rows,
        "topic string, partition int, offset long, timestamp timestamp, "
        "timestampType int, key binary, value binary",
    )
    out = kafka_records_to_bronze(records)
    assert out.columns == [
        "topic", "partition", "offset", "ts_kafka", "ts_type", "key",
        "value_raw",
    ]
    r = out.first()
    assert r.key == "XBT/USDT" and r.value_raw == '{"price": 1.5}'


def test_foreach_batch_upsert(spark, bronze_dir, tmp_path):
    """foreachBatch: the per-microbatch escape hatch for sinks Structured
    Streaming can't express declaratively (MERGE, JDBC, multi-table).
    Here each microbatch upserts per-symbol running counts into a keyed
    parquet state dir (read-modify-overwrite, idempotent per batch id);
    after availableNow drains, the state equals the batch groupBy."""
    import os

    tmp, bronze = bronze_dir
    state_dir = str(tmp_path / "state")

    def upsert(batch_df, batch_id):
        incoming = batch_df.groupBy("symbol").agg(
            F.count("*").alias("n"), F.sum("price").alias("price_sum")
        )
        if os.path.isdir(state_dir) and any(
            f.endswith(".parquet") for f in os.listdir(state_dir)
        ):
            prev = batch_df.sparkSession.read.parquet(state_dir)
            merged = (
                prev.unionByName(incoming)
                .groupBy("symbol")
                .agg(
                    F.sum("n").alias("n"),
                    F.sum("price_sum").alias("price_sum"),
                )
            )
        else:
            merged = incoming
        out = merged.collect()  # materialize before overwriting the input dir
        batch_df.sparkSession.createDataFrame(
            out, "symbol string, n long, price_sum double"
        ).coalesce(1).write.mode("overwrite").parquet(state_dir)

    silver_stream = bronze_to_silver(
        spark.readStream.schema(BRONZE_SCHEMA).parquet(bronze)
    )
    q = (
        silver_stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.symbol, r.n, round(r.price_sum, 6))
        for r in spark.read.parquet(state_dir).collect()
    }
    want = {
        (r.symbol, r.n, round(r.price_sum, 6))
        for r in bronze_to_silver(_read_bronze(spark, bronze))
        .groupBy("symbol")
        .agg(F.count("*").alias("n"), F.sum("price").alias("price_sum"))
        .collect()
    }
    assert got == want


def test_stream_static_join_matches_batch(spark, bronze_dir, tmp_path):
    """Stream–static join: the silver stream enriched against a static
    dimension (symbol → venue). The static side is re-read per microbatch
    by Structured Streaming (so dimension updates are picked up) and is
    broadcast-joined — no stream-side state. Output must equal the batch
    join over the same bronze."""
    tmp, bronze = bronze_dir
    dim = spark.createDataFrame(
        [("BTC-USD", "coinbase"), ("ETH-USD", "coinbase"), ("XBT/USD", "kraken")],
        "symbol string, venue string",
    )
    silver_stream = bronze_to_silver(
        spark.readStream.schema(BRONZE_SCHEMA).parquet(bronze)
    )
    enriched = silver_stream.join(dim, "symbol", "left").select(
        "symbol", "offset", "venue"
    )
    out_dir = str(tmp_path / "enriched")
    q = (
        enriched.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir)
    want = bronze_to_silver(_read_bronze(spark, bronze)).join(
        dim, "symbol", "left"
    ).select("symbol", "offset", "venue")
    cols = ["symbol", "offset", "venue"]
    assert _rowset(got, cols) == _rowset(want, cols)


def test_bronze_job_runs_as_live_stream(spark, tmp_path):
    """S1/T4/T5 minus the socket: the bronze job's projection + parquet
    sink + checkpoint run in a real microbatch loop, fed by a
    rate-micro-batch source mapped to the exact Kafka record schema
    (topic/partition/offset/timestamp/timestampType/binary key/binary
    value). Everything start_bronze_job does past ``.format("kafka")`` is
    exercised live; only the broker connection is substituted."""
    from crypto_streaming_lakehouse_spark.streaming.pipeline import (
        start_records_to_bronze,
    )

    raw = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 50)
        .option("numPartitions", 2)
        .load()
    )
    ms = F.unix_millis("timestamp")
    payload = F.to_json(
        F.struct(
            F.lit("kraken").alias("exchange"),
            F.concat(F.lit("SYM"), F.col("value") % 3).alias("symbol"),
            (F.col("value") * 1.5).alias("price"),
            F.lit(0.1).alias("size"),
            F.when(F.col("value") % 2 == 0, "buy").otherwise("sell").alias(
                "side"
            ),
            F.lit("market").alias("order_type"),
            ms.alias("ts_event"),
            (ms + 50).alias("ts_ingest"),
        )
    )
    records = raw.select(
        F.lit("crypto.trades").alias("topic"),
        (F.col("value") % 4).cast("int").alias("partition"),
        F.col("value").alias("offset"),
        F.col("timestamp").alias("timestamp"),
        F.lit(0).cast("int").alias("timestampType"),
        F.col("value").cast("string").cast("binary").alias("key"),
        payload.cast("binary").alias("value"),
    )
    bronze_dir = str(tmp_path / "bronze")
    q = start_records_to_bronze(
        records,
        bronze_dir=bronze_dir,
        checkpoint=str(tmp_path / "ckpt"),
        trigger={"availableNow": True},
    )
    q.awaitTermination(120)
    bronze = spark.read.parquet(bronze_dir)
    assert bronze.columns == [
        "topic", "partition", "offset", "ts_kafka", "ts_type", "key",
        "value_raw",
    ]
    assert bronze.count() > 0
    # the landed rows parse through the real silver path
    silver = bronze_to_silver(bronze)
    parsed = silver.where(
        F.col("symbol").isNotNull() & F.col("price").isNotNull()
    )
    assert parsed.count() == bronze.count()


def test_stream_stream_join_matches_batch(spark, bronze_dir, tmp_path):
    """Stream-stream inner join with a time-range condition (finite state)
    equals the identical batch join over the same silver data."""
    from crypto_streaming_lakehouse_spark.schemas import SILVER_SCHEMA
    from crypto_streaming_lakehouse_spark.streaming.pipeline import (
        buy_sell_matches,
    )

    tmp, bronze = bronze_dir
    silver_dir = str(tmp / "silver")  # produced by the silver test
    out_dir = str(tmp_path / "matches")
    stream = spark.readStream.schema(SILVER_SCHEMA).parquet(silver_dir)
    q = (
        buy_sell_matches(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt_ss"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    streamed = spark.read.parquet(out_dir)
    batch = buy_sell_matches(spark.read.parquet(silver_dir))
    cols = ["symbol", "buy_time", "sell_time", "buy_price", "sell_price"]
    assert _rowset(streamed, cols) == _rowset(batch, cols)
    assert streamed.count() > 0


def test_update_mode_windowed_agg_final_state(spark, bronze_dir, tmp_path):
    """Update output mode: the windowed aggregate emits refreshed rows per
    microbatch instead of waiting for watermark closure. The LAST update
    per bar (collected via foreachBatch upsert) must equal the batch
    aggregation — including bars the append-mode job would still be
    withholding."""
    _, bronze = bronze_dir
    silver = dedup_trades(
        bronze_to_silver(
            spark.readStream.schema(BRONZE_SCHEMA)
            .option("maxFilesPerTrigger", 2)
            .parquet(bronze)
        ).withWatermark("event_time", "2 minutes")
    )
    counts = silver.groupBy(
        "symbol", F.window("event_time", "1 minute").alias("w")
    ).agg(F.count("*").alias("trades"), F.sum("size").alias("volume"))

    state: dict[tuple, tuple] = {}

    def upsert(batch_df, _bid):
        for r in batch_df.collect():
            state[(r["symbol"], r["w"]["start"])] = (r["trades"], r["volume"])

    q = (
        counts.writeStream.outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_upd"))
        .foreachBatch(upsert)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    batch = (
        dedup_trades(bronze_to_silver(_read_bronze(spark, bronze)))
        .groupBy("symbol", F.window("event_time", "1 minute").alias("w"))
        .agg(F.count("*").alias("trades"), F.sum("size").alias("volume"))
    )
    want = {
        (r["symbol"], r["w"]["start"]): (r["trades"], r["volume"])
        for r in batch.collect()
    }
    assert state == want
    assert len(state) > 0


def test_complete_mode_agg_equals_batch(spark, bronze_dir, tmp_path):
    """Complete output mode: the full (small-cardinality) aggregate table
    is rewritten every microbatch; after the stream drains, the memory
    sink holds exactly the batch group counts."""
    _, bronze = bronze_dir
    silver = bronze_to_silver(
        spark.readStream.schema(BRONZE_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(bronze)
    )
    q = (
        silver.groupBy("symbol")
        .agg(F.count("*").alias("n"))
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("complete_counts")
        .option("checkpointLocation", str(tmp_path / "ckpt_cmp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = _rowset(spark.table("complete_counts"), ["symbol", "n"])
    want = _rowset(
        bronze_to_silver(_read_bronze(spark, bronze))
        .groupBy("symbol")
        .agg(F.count("*").alias("n")),
        ["symbol", "n"],
    )
    assert got == want


def test_streaming_session_window_closed_prefix(spark, bronze_dir, tmp_path):
    """Gap-based session windows on a stream: append mode emits a session
    only when the watermark passes its close. Every emitted session must
    exist identically in the batch sessionization; only still-open tail
    sessions may be withheld."""
    _, bronze = bronze_dir
    gap = "90 seconds"
    silver = dedup_trades(
        bronze_to_silver(
            spark.readStream.schema(BRONZE_SCHEMA)
            .option("maxFilesPerTrigger", 2)
            .parquet(bronze)
        ).withWatermark("event_time", "2 minutes")
    )
    sessions = silver.groupBy(
        "symbol", F.session_window("event_time", gap).alias("sw")
    ).agg(F.count("*").alias("trades"))
    out_dir = str(tmp_path / "sessions")
    q = (
        sessions.select(
            "symbol", F.col("sw.start").alias("s"), F.col("sw.end").alias("e"),
            "trades",
        )
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = spark.read.parquet(out_dir)
    batch = (
        dedup_trades(bronze_to_silver(_read_bronze(spark, bronze)))
        .groupBy("symbol", F.session_window("event_time", gap).alias("sw"))
        .agg(F.count("*").alias("trades"))
        .select(
            "symbol", F.col("sw.start").alias("s"), F.col("sw.end").alias("e"),
            "trades",
        )
    )
    cols = ["symbol", "s", "e", "trades"]
    assert set(_rowset(streamed, cols)) <= set(_rowset(batch, cols))
    assert streamed.count() > 0


def test_stream_stream_left_outer_join(spark, bronze_dir, tmp_path):
    """Stream-stream LEFT OUTER join with watermarks + time-range bound:
    matched rows equal the batch inner join; null-padded rows are exactly
    batch-unmatched buys (a watermark-trailing subset of them)."""
    from crypto_streaming_lakehouse_spark.schemas import SILVER_SCHEMA
    from crypto_streaming_lakehouse_spark.streaming.pipeline import (
        buy_sell_matches,
    )

    tmp, bronze = bronze_dir
    silver_dir = str(tmp / "silver")  # produced by the silver test
    out_dir = str(tmp_path / "matches_lo")
    stream = spark.readStream.schema(SILVER_SCHEMA).parquet(silver_dir)
    q = (
        buy_sell_matches(stream, how="leftOuter")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt_lo"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    streamed = spark.read.parquet(out_dir)
    silver_batch = spark.read.parquet(silver_dir)
    inner = buy_sell_matches(silver_batch)
    cols = ["symbol", "buy_time", "sell_time", "buy_price", "sell_price"]

    matched = streamed.where(F.col("sell_time").isNotNull())
    assert _rowset(matched, cols) == _rowset(inner, cols)

    outer_batch = buy_sell_matches(silver_batch, how="leftOuter")
    unmatched_batch = outer_batch.where(F.col("sell_time").isNull())
    unmatched_stream = streamed.where(F.col("sell_time").isNull())
    assert set(_rowset(unmatched_stream, cols)) <= set(
        _rowset(unmatched_batch, cols)
    )


def test_checkpoint_restart_no_dups_no_loss(spark, bronze_dir, tmp_path):
    """Exactly-once recovery: kill the silver job after its first
    micro-batch, restart from the same checkpoint, and the final table
    must equal the batch result — no replayed duplicates, no dropped
    files. This is the property the checkpoint + manifest sink commit
    protocol exists to provide.

    The watermark is widened past the fixture's total event-time span:
    the shared bronze files are randomly shuffled in time (30 days of
    disorder), and FileStreamSource breaks modification-time ties
    arbitrarily, so with the production 2-minute watermark a per-file
    batch schedule legitimately DROPS arrivals older than the restored
    watermark (bounded state has a price — Spark's documented late-data
    semantics, observed reproducibly here). A wide watermark removes
    lateness from the equation and isolates the property under test:
    checkpoint recovery itself loses nothing and replays nothing."""
    _, bronze = bronze_dir
    silver_dir = str(tmp_path / "silver_restart")
    ckpt = str(tmp_path / "ckpt_restart")

    # phase 1: one file per trigger, stop after the first commit
    q1 = start_silver_job(
        spark,
        bronze_dir=bronze,
        silver_dir=silver_dir,
        checkpoint=ckpt,
        watermark="40 days",
        max_files_per_trigger=1,
        trigger={"processingTime": "1 second"},  # open-ended: stopped mid-stream
    )
    import time as _time

    deadline = _time.time() + 60
    while _time.time() < deadline and not q1.recentProgress:
        _time.sleep(0.5)
    q1.stop()
    q1.awaitTermination(30)
    partial = spark.read.parquet(silver_dir).count()

    # phase 2: restart from the same checkpoint, drain everything
    q2 = start_silver_job(
        spark,
        bronze_dir=bronze,
        silver_dir=silver_dir,
        checkpoint=ckpt,
        watermark="40 days",
        max_files_per_trigger=2,
    )
    assert q2.awaitTermination(120)

    streamed = spark.read.parquet(silver_dir)
    batch = dedup_trades(bronze_to_silver(_read_bronze(spark, bronze)))
    cols = [*DEDUP_KEY, "exchange", "order_type", "event_date"]
    assert _rowset(streamed, cols) == _rowset(batch, cols)
    assert partial <= streamed.count()


def test_checkpoint_keeps_its_state_provider(spark, bronze_dir, tmp_path):
    """A checkpoint written under the on-heap HDFS-backed provider resumes
    through start_silver_job, although the job sets RocksDB on the
    session: Spark records the providerClass in the checkpoint's offset
    log and restores it on restart, so an old checkpoint needs no
    provider switch. The resumed batch logs the HDFS provider again,
    reports no RocksDB metrics, and silver equals the batch dedup.

    Bronze arrives in two halves (one micro-batch each); the 40-day
    watermark keeps the fixture's 30 days of disorder from being dropped
    as late (see test_checkpoint_restart_no_dups_no_loss)."""
    import json
    import os
    import shutil

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    hdfs = "HDFSBackedStateStoreProvider"
    _, bronze = bronze_dir
    files = sorted(f for f in os.listdir(bronze) if f.endswith(".parquet"))
    assert len(files) >= 2
    half = len(files) // 2
    src = tmp_path / "bronze"
    src.mkdir()
    silver_dir = str(tmp_path / "silver")
    ckpt = tmp_path / "ckpt"

    def logged_provider(batch_id: int) -> str:
        lines = (ckpt / "offsets" / str(batch_id)).read_text().splitlines()
        return json.loads(lines[1])["conf"][provider_key]

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            provider_key,
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled",
        )
    }
    try:
        for f in files[:half]:
            shutil.copy(os.path.join(bronze, f), src / f)
        spark.conf.set(
            provider_key,
            f"org.apache.spark.sql.execution.streaming.state.{hdfs}",
        )
        bronze_stream = spark.readStream.schema(BRONZE_SCHEMA).parquet(str(src))
        q1 = stream_writer(
            dedup_trades(bronze_to_silver(bronze_stream), watermark="40 days"),
            path=silver_dir,
            checkpoint=str(ckpt),
            partition_by=["event_date"],
            trigger={"once": True},
        ).start()
        assert q1.awaitTermination(120)
        assert logged_provider(0).endswith(hdfs)

        for f in files[half:]:
            shutil.copy(os.path.join(bronze, f), src / f)
        q2 = start_silver_job(
            spark,
            bronze_dir=str(src),
            silver_dir=silver_dir,
            checkpoint=str(ckpt),
            watermark="40 days",
        )
        assert spark.conf.get(provider_key) == ROCKSDB_PROVIDER
        assert q2.awaitTermination(120)
        assert q2.exception() is None
        progress = [p for p in q2.recentProgress if p.numInputRows > 0]
        assert [p.batchId for p in progress] == [1]
        assert logged_provider(1).endswith(hdfs)
        metrics = progress[0].stateOperators[0].customMetrics
        assert metrics and not any(k.startswith("rocksdb") for k in metrics)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    streamed = spark.read.parquet(silver_dir)
    batch = dedup_trades(bronze_to_silver(_read_bronze(spark, bronze)))
    cols = [*DEDUP_KEY, "exchange", "order_type", "event_date"]
    assert _rowset(streamed, cols) == _rowset(batch, cols)


@contextlib.contextmanager
def _process_starts(spark, jfr_file):
    """Record the driver JVM's ``jdk.ProcessStart`` events (JDK 17+) in an
    in-process JFR recording; yields the list of started commands, filled
    when the block exits."""
    jvm = spark.sparkContext._jvm
    rec = jvm.jdk.jfr.Recording()
    commands: list[str] = []
    try:
        rec.enable("jdk.ProcessStart")
        rec.start()
        yield commands
        rec.stop()
        path = jvm.java.io.File(str(jfr_file)).toPath()
        rec.dump(path)
        events = jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(path)
        commands.extend(e.getString("command") for e in events)
    finally:
        rec.close()


def _write_records(spark, path, n_trades=2000, n_files=3):
    """Kafka-record-shaped parquet for a file-source replay: ``n_trades``
    trades one second apart over 3 symbols, appended as ``n_files`` files
    in event-time order, every 50th record sent twice."""
    per_file = n_trades // n_files
    for i in range(n_files):
        ids = spark.range(i * per_file, (i + 1) * per_file, numPartitions=1)
        ids = ids.unionAll(ids.where(F.col("id") % 50 == 0))
        ms = F.lit(1_700_000_000_000) + F.col("id") * 1000
        payload = F.to_json(
            F.struct(
                F.lit("kraken").alias("exchange"),
                F.concat(F.lit("SYM"), F.col("id") % 3).alias("symbol"),
                (F.col("id") % 100 * 1.5 + 1).alias("price"),
                F.lit(0.1).alias("size"),
                F.when(F.col("id") % 2 == 0, "buy").otherwise("sell").alias("side"),
                F.lit("market").alias("order_type"),
                ms.alias("ts_event"),
                (ms + 50).alias("ts_ingest"),
            )
        )
        ids.select(
            F.col("id").cast("string").cast("binary").alias("key"),
            payload.cast("binary").alias("value"),
            F.lit("crypto.trades").alias("topic"),
            F.lit(0).alias("partition"),
            F.col("id").alias("offset"),
            F.timestamp_millis(ms).alias("timestamp"),
            F.lit(0).alias("timestampType"),
        ).coalesce(1).write.mode("append").parquet(path)


def test_medallion_replay_forks_no_readlink(spark, tmp_path):
    """Committing a micro-batch forks no ``readlink`` process. Spark's
    default checkpoint file manager renames every checkpoint file through
    Hadoop's FileContext, which without native IO shells out to
    ``readlink`` twice per rename (and again per ``.crc``): on this
    2000-trade records → bronze → silver → gold replay (3 silver
    batches, 8 shuffle partitions) that was 1096 forks.
    ``stream_writer`` puts every medallion sink on the FileSystem-based
    manager, whose local rename forks nothing. A control ``readlink``
    through Hadoop's own helper shows the recording sees such forks."""
    from crypto_streaming_lakehouse_spark.streaming.pipeline import (
        start_records_to_bronze,
    )

    _write_records(spark, str(tmp_path / "records"))
    records = (
        spark.readStream.schema(
            "key BINARY, value BINARY, topic STRING, partition INT, "
            "offset BIGINT, timestamp TIMESTAMP, timestampType INT"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "records"))
    )
    d = {k: str(tmp_path / k) for k in ("bronze", "silver", "gold", "ckpt")}
    control = str(tmp_path / "records")
    jvm = spark.sparkContext._jvm

    def drain(q):
        assert q.awaitTermination(120)
        assert q.exception() is None
        return q

    with _process_starts(spark, tmp_path / "replay.jfr") as commands:
        jvm.org.apache.hadoop.fs.FileUtil.readLink(jvm.java.io.File(control))
        drain(
            start_records_to_bronze(
                records,
                bronze_dir=d["bronze"],
                checkpoint=d["ckpt"] + "/bronze",
                trigger={"availableNow": True},
            )
        )
        silver = drain(
            start_silver_job(
                spark,
                bronze_dir=d["bronze"],
                silver_dir=d["silver"],
                checkpoint=d["ckpt"] + "/silver",
                max_files_per_trigger=1,
            )
        )
        drain(
            start_gold_job(
                spark,
                silver_dir=d["silver"],
                gold_dir=d["gold"],
                checkpoint=d["ckpt"] + "/gold",
            )
        )

    assert sum(1 for p in silver.recentProgress if p.numInputRows > 0) == 3
    assert spark.read.parquet(d["gold"]).count() > 0
    readlinks = [c for c in commands if c.split()[0].endswith("readlink")]
    forked = [c for c in readlinks if control not in c]
    assert len(readlinks) - len(forked) == 1  # the control
    assert not forked, f"{len(forked)} readlink forks: {forked[:3]}"


def test_silver_resumes_checkpoint_of_default_file_manager(
    spark, bronze_dir, tmp_path
):
    """A silver checkpoint written under Spark's default (FileContext)
    checkpoint file manager resumes through start_silver_job, which puts
    the session on the FileSystem-based one: both read and write the same
    files, and Spark does not record the manager in the offset log. The
    resumed batch continues the batch ids and silver equals the batch
    dedup (bronze in two halves and a 40-day watermark, as in
    test_checkpoint_keeps_its_state_provider)."""
    import os
    import shutil

    from crypto_streaming_lakehouse_spark.sources.formats import (
        CHECKPOINT_FILE_MANAGER_KEY,
        FS_CHECKPOINT_FILE_MANAGER,
    )

    _, bronze = bronze_dir
    files = sorted(f for f in os.listdir(bronze) if f.endswith(".parquet"))
    half = len(files) // 2
    src = tmp_path / "bronze"
    src.mkdir()
    silver_dir = str(tmp_path / "silver")
    ckpt = str(tmp_path / "ckpt")

    for f in files[:half]:
        shutil.copy(os.path.join(bronze, f), src / f)
    configure_state_store(spark)
    bronze_stream = spark.readStream.schema(BRONZE_SCHEMA).parquet(str(src))
    writer = stream_writer(
        dedup_trades(bronze_to_silver(bronze_stream), watermark="40 days"),
        path=silver_dir,
        checkpoint=ckpt,
        partition_by=["event_date"],
    )
    # phase 1 runs under Spark's default manager
    spark.conf.unset(CHECKPOINT_FILE_MANAGER_KEY)
    q1 = writer.start()
    assert q1.awaitTermination(120)
    assert [p.batchId for p in q1.recentProgress if p.numInputRows > 0] == [0]
    last_id = q1.lastProgress.batchId

    for f in files[half:]:
        shutil.copy(os.path.join(bronze, f), src / f)
    q2 = start_silver_job(
        spark,
        bronze_dir=str(src),
        silver_dir=silver_dir,
        checkpoint=ckpt,
        watermark="40 days",
    )
    assert spark.conf.get(CHECKPOINT_FILE_MANAGER_KEY) == FS_CHECKPOINT_FILE_MANAGER
    assert q2.awaitTermination(120)
    assert q2.exception() is None
    resumed = [p.batchId for p in q2.recentProgress if p.numInputRows > 0]
    assert resumed == [last_id + 1]

    streamed = spark.read.parquet(silver_dir)
    batch = dedup_trades(bronze_to_silver(_read_bronze(spark, bronze)))
    cols = [*DEDUP_KEY, "exchange", "order_type", "event_date"]
    assert _rowset(streamed, cols) == _rowset(batch, cols)


def test_query_listener_and_state_metrics(spark, bronze_dir, tmp_path):
    """Observability contract: a StreamingQueryListener receives start /
    progress / termination callbacks, progress reports carry per-operator
    state metrics, and the watermarked dedup's state row count stays
    bounded by the number of distinct keys seen (the metric an operator
    would alert on at 100 TB)."""
    from pyspark.sql.streaming import StreamingQueryListener

    events = {"started": 0, "progress": [], "terminated": 0}

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, e):
            events["started"] += 1

        def onQueryProgress(self, e):
            events["progress"].append(e.progress)

        def onQueryIdle(self, e):
            pass

        def onQueryTerminated(self, e):
            events["terminated"] += 1

    _, bronze = bronze_dir
    listener = Listener()
    spark.streams.addListener(listener)
    try:
        q = start_silver_job(
            spark,
            bronze_dir=bronze,
            silver_dir=str(tmp_path / "silver_obs"),
            checkpoint=str(tmp_path / "ckpt_obs"),
            watermark="40 days",
            max_files_per_trigger=2,
        )
        assert q.awaitTermination(120)
        deadline = __import__("time").time() + 30
        while __import__("time").time() < deadline and events["terminated"] == 0:
            __import__("time").sleep(0.5)
    finally:
        spark.streams.removeListener(listener)

    assert events["started"] == 1
    assert events["terminated"] == 1
    assert events["progress"], "no progress callbacks received"
    total_in = sum(p.numInputRows for p in events["progress"])
    n_bronze = _read_bronze(spark, bronze).count()
    assert total_in == n_bronze
    state_ops = [
        so for p in events["progress"] for so in p.stateOperators
    ]
    assert state_ops, "dedup must report state operator metrics"
    max_state = max(so.numRowsTotal for so in state_ops)
    distinct_keys = (
        _read_bronze(spark, bronze)
        .select("value_raw")
        .distinct()
        .count()
    )
    assert 0 < max_state <= distinct_keys


def test_streaming_bar_rollup_cascade(spark, bronze_dir, tmp_path):
    """Continuous-aggregate cascade as a STREAM: the gold 1-minute bar
    directory (itself a streaming sink) is re-read as a file-source
    stream and rolled up into 5-minute bars with a second stateful
    aggregation — the hypertable pattern running end-to-end on streams.
    Update output mode + a foreachBatch upsert capture the final state
    (append mode would withhold windows the wide lateness-proof
    watermark never closes); the final state must equal the batch
    rollup EXACTLY."""
    tmp, bronze = bronze_dir
    gold_dir = str(tmp / "gold")  # produced by the gold test
    gold_schema = spark.read.parquet(gold_dir).schema

    stream = (
        spark.readStream.schema(gold_schema)
        .parquet(gold_dir)
        .withWatermark("bar_start", "40 days")
    )
    rolled = stream.groupBy(
        "symbol", F.window("bar_start", "5 minutes").alias("w")
    ).agg(
        F.min_by("open", "bar_start").alias("open"),
        F.max("high").alias("high"),
        F.min("low").alias("low"),
        F.max_by("close", "bar_start").alias("close"),
        F.sum("volume").alias("volume"),
        F.sum("trades").alias("trades"),
    )
    state: dict[tuple, tuple] = {}

    def upsert(batch_df, _bid):
        for r in batch_df.collect():
            state[(r["symbol"], r["w"]["start"])] = (
                r["open"], r["high"], r["low"], r["close"],
                r["volume"], r["trades"],
            )

    q = (
        rolled.writeStream.outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_b5"))
        .foreachBatch(upsert)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)

    gold = spark.read.parquet(gold_dir)
    b5 = (
        F.unix_timestamp("bar_start") - F.unix_timestamp("bar_start") % 300
    ).cast("timestamp")
    batch = gold.groupBy("symbol", b5.alias("bar5_start")).agg(
        F.min_by("open", "bar_start").alias("open"),
        F.max("high").alias("high"),
        F.min("low").alias("low"),
        F.max_by("close", "bar_start").alias("close"),
        F.sum("volume").alias("volume"),
        F.sum("trades").alias("trades"),
    )
    want = {
        (r["symbol"], r["bar5_start"]): (
            r["open"], r["high"], r["low"], r["close"],
            r["volume"], r["trades"],
        )
        for r in batch.collect()
    }
    assert state == want
    assert len(state) > 0


def test_stream_stream_full_outer_join(spark, bronze_dir, tmp_path):
    """Stream-stream FULL OUTER join: matched rows equal the batch inner
    join, and null-padding appears on BOTH sides (unmatched buys AND
    unmatched sells) — each a watermark-trailing subset of its batch
    twin. Full-outer is the most state-hungry join mode (neither side can
    discard a row until the watermark passes), which is why the
    time-range bound matters even more here."""
    from crypto_streaming_lakehouse_spark.schemas import SILVER_SCHEMA
    from crypto_streaming_lakehouse_spark.streaming.pipeline import (
        buy_sell_matches,
    )

    tmp, bronze = bronze_dir
    silver_dir = str(tmp / "silver")  # produced by the silver test
    out_dir = str(tmp_path / "matches_fo")
    stream = spark.readStream.schema(SILVER_SCHEMA).parquet(silver_dir)
    q = (
        buy_sell_matches(stream, how="fullOuter")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt_fo"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    streamed = spark.read.parquet(out_dir)
    silver_batch = spark.read.parquet(silver_dir)
    inner = buy_sell_matches(silver_batch)
    cols = ["symbol", "buy_time", "sell_time", "buy_price", "sell_price"]

    matched = streamed.where(
        F.col("sell_time").isNotNull() & F.col("buy_time").isNotNull()
    )
    assert _rowset(matched, cols) == _rowset(inner, cols)

    full_batch = buy_sell_matches(silver_batch, how="fullOuter")
    for null_side in ("sell_time", "buy_time"):
        stream_side = streamed.where(F.col(null_side).isNull())
        batch_side = full_batch.where(F.col(null_side).isNull())
        assert set(_rowset(stream_side, cols)) <= set(
            _rowset(batch_side, cols)
        )


def test_stream_probe_short(spark, tmp_path):
    """Short-duration run of the streaming throughput probe
    (scripts/stream_probe.py): the full bronze → silver (watermarked
    dedup) → gold pipeline fed by a live rate source, with per-stage
    progress sampling. Asserts rows flow end to end and the dedup /
    window state-store metrics are reported — the probe's full-length
    variant produces the SCALE.md streaming row, and this keeps it from
    rotting. Offered rate is tiny so the test stays quick."""
    import pathlib
    import sys

    sys.path.insert(0, str(pathlib.Path(__file__).parent.parent))
    from scripts.stream_probe import run_probe

    def attempt(duration_s: int, sub: str) -> dict:
        d = tmp_path / sub
        d.mkdir()
        return run_probe(
            spark,
            rows_per_sec=5_000,
            duration_s=duration_s,
            base_dir=str(d),
            trigger_s=1,
        )

    out = attempt(10, "p1")
    if out["bronze"]["rows_processed"] == 0:
        # The probe measures wall-clock steady-state batches; under a
        # host-load spike (e.g. a concurrent 32-wide job) a 10 s window
        # can close before any post-warmup batch completes. One longer
        # retry keeps the test meaningful without tolerating real
        # breakage (a broken pipeline also fails the 25 s window).
        out = attempt(25, "p2")
    assert out["bronze"]["rows_processed"] > 0
    assert out["silver_rows_landed"] > 0
    # Per-batch fixed costs: bronze commits its logs but keeps no state.
    assert out["bronze"]["commit_ms_p50"] is not None
    assert out["bronze"]["state_commit_ms_p50"] is None
    for stage in ("silver", "gold"):
        assert {"commit_ms_p50", "state_commit_ms_p50"} <= out[stage].keys()
        if out[stage]["batches"]:
            assert out[stage]["state_commit_ms_p50"] is not None
    # Sink layout is reported next to the row counts.
    assert out["silver_files_landed"] > 0
    assert out["gold_files_landed"] <= out["gold_rows_landed"]
    # The silver stage's dedup and the gold stage's window agg both keep
    # watermarked state; at least one stage must report it.
    assert any(
        "state" in out[stage] and out[stage]["state"]
        for stage in ("silver", "gold")
    )


def test_streaming_hard_negative_mining(spark, tmp_path):
    """Hard-negative mining as a STREAM over a static index (VERDICT r12
    item 7): query vectors arrive as a file-source stream (forced into
    multiple micro-batches), and each micro-batch re-mines its queries'
    semi-hard band against the STATIC corpus via the same
    _band_from_queries core the batch miner uses. Per-query independence
    (each band depends only on that query's own scores) makes the union
    of per-batch mines equal the one-shot batch mine EXACTLY."""
    from crypto_streaming_lakehouse_spark.extensions import similarity as S
    from crypto_streaming_lakehouse_spark.registry import REGISTRY
    from crypto_streaming_lakehouse_spark.registry_round12b import (
        HN_N_QUERIES,
        _band_from_queries,
    )
    from crypto_streaming_lakehouse_spark.sources.tables import load_table

    e = S.with_norm(load_table(spark, SF_DIR, "embeddings"))
    q_batch = e.where(F.col("vec_id") < HN_N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qn"),
    )
    # Land the query stream as multiple files so maxFilesPerTrigger=1
    # yields several micro-batches (split by q_id parity).
    qdir = tmp_path / "queries"
    q_batch.where(F.col("q_id") % 2 == 0).coalesce(1).write.parquet(
        str(qdir / "f0")
    )
    q_batch.where(F.col("q_id") % 2 == 1).coalesce(1).write.parquet(
        str(qdir / "f1")
    )
    schema = q_batch.schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(qdir / "f*"))
    )

    mined: dict[tuple, tuple] = {}
    batch_count = [0]

    def mine(batch_df, _bid):
        if batch_df.isEmpty():
            return
        batch_count[0] += 1
        for r in _band_from_queries(e, batch_df).collect():
            mined[(r["q_id"], r["vec_id"])] = (
                r["cosine"], r["rank"], r["margin_gap"]
            )

    q = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_hn"))
        .foreachBatch(mine)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    assert batch_count[0] >= 2, "query stream must span multiple micro-batches"

    want = {
        (r["q_id"], r["vec_id"]): (r["cosine"], r["rank"], r["margin_gap"])
        for r in REGISTRY["q_hard_negative_mining"].fn(spark, SF_DIR).collect()
    }
    assert mined == want
