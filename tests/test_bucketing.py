"""Bucketed-layout invariants: the write-once shuffle actually buys
shuffle-free joins and aggregations on the bucket key — the property that
matters when the same fact-fact join runs hourly over 100 TB."""

from __future__ import annotations

from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from crypto_streaming_lakehouse_spark.plans.audit import audit
from crypto_streaming_lakehouse_spark.sources.tables import load_table

from .conftest import SF_DIR


@contextmanager
def _conf(spark, **kv):
    old = {k: spark.conf.get(k, None) for k in kv}
    for k, v in kv.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@pytest.fixture(scope="module")
def bucketed_tables(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("bucketed")
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    for df, name, key in [
        (li, "li_b", "l_orderkey"),
        (orders, "ord_b", "o_orderkey"),
    ]:
        (
            df.write.mode("overwrite")
            .bucketBy(8, key)
            .sortBy(key)
            .option("path", str(base / name))
            .saveAsTable(name)
        )
    yield li, orders
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")


def test_bucketed_join_is_shuffle_free(spark, bucketed_tables):
    li, orders = bucketed_tables
    with _conf(spark, **{"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        joined = spark.table("li_b").join(
            spark.table("ord_b"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        a = audit(joined)
        # Both sides read pre-bucketed files: SMJ with ZERO exchanges.
        assert a.sort_merge_joins == 1
        assert a.exchanges == 0
        assert a.broadcast_exchanges == 0
        # Same join over plain (layout-less) reads shuffles both sides.
        plain = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        assert audit(plain).exchanges == 2
        # And the answer is identical.
        assert joined.count() == plain.count()


def test_bucketed_agg_is_shuffle_free(spark, bucketed_tables):
    li, _ = bucketed_tables
    agg = (
        spark.table("li_b")
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    a = audit(agg)
    assert a.exchanges == 0
    plain = li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("qty"))
    assert audit(plain).exchanges == 1
    assert agg.count() == plain.count()


def test_bucket_pruning_on_key_equality(spark, bucketed_tables):
    # Point lookup on the bucket key touches 1 of 8 buckets: Spark plans
    # it as SelectedBucketsCount: 1 out of 8 in the scan. autoBucketedScan
    # drops the bucketed layout for scan-only queries (it exists to skip
    # the one-file-per-bucket read layout when no join/agg benefits), so
    # pin it off to exercise the pruning path.
    with _conf(
        spark,
        **{"spark.sql.sources.bucketing.autoBucketedScan.enabled": "false"},
    ):
        q = spark.table("li_b").where(F.col("l_orderkey") == 1)
        plan = audit(q).plan
        assert "SelectedBucketsCount: 1 out of 8" in plan


def test_partitioned_and_bucketed_layout(spark, tmp_path):
    # The two layout axes compose: partitionBy prunes scans, bucketBy
    # co-locates joins — a date-partitioned, key-bucketed fact supports
    # both at once (the standard 100 TB fact layout).
    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    (
        ev.write.mode("overwrite")
        .partitionBy("event_type")
        .bucketBy(4, "user_id")
        .sortBy("user_id")
        .option("path", str(tmp_path / "fact_pb"))
        .saveAsTable("fact_pb")
    )
    try:
        t = spark.table("fact_pb")
        # partition pruning on the partition column
        pruned = t.where(F.col("event_type") == "click")
        assert audit(pruned).plan.count("PartitionFilters") >= 1
        # shuffle-free agg on the bucket key
        agg = t.groupBy("user_id").agg(F.sum("value").alias("s"))
        assert audit(agg).exchanges == 0
        assert agg.count() == ev.select("user_id").distinct().count()
    finally:
        spark.sql("DROP TABLE IF EXISTS fact_pb")


def test_parquet_merge_schema_evolution(spark, tmp_path):
    # Additive schema evolution on a parquet directory: old files lack
    # the new column; mergeSchema unions the footers and back-fills NULL
    # — the no-rewrite column-add path (Delta/Iceberg formalize this;
    # plain parquet gets it at read time).
    p = str(tmp_path / "evolving")
    ev = load_table(spark, SF_DIR, "events")
    ev.select("event_id", "value").write.parquet(p)
    ev.select("event_id", "value", "event_type").write.mode("append").parquet(p)
    merged = spark.read.option("mergeSchema", "true").parquet(p)
    assert set(merged.columns) == {"event_id", "value", "event_type"}
    n = ev.count()
    assert merged.count() == 2 * n
    assert merged.where(F.col("event_type").isNull()).count() == n
