"""Spark's native interchange formats: CSV with a declared schema,
line-oriented text, and ORC with predicate pushdown each round-trip a
fixture table with its exact rowset."""

from __future__ import annotations

from pyspark.sql import functions as F

from crypto_streaming_lakehouse_spark.sources.tables import load_table

from .conftest import SF_DIR


def _rowset(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_csv_and_text_formats_roundtrip(spark, tmp_path):
    """Format breadth beyond parquet/jsonl: CSV with header+schema and
    line-oriented text both round-trip through Spark's native readers —
    the cheap interchange formats an ingest edge actually receives."""
    src = load_table(spark, SF_DIR, "events").select(
        "event_id", "event_type", "value"
    )
    csv_dir = str(tmp_path / "ev_csv")
    src.write.option("header", True).csv(csv_dir)
    back = (
        spark.read.option("header", True)
        .schema("event_id long, event_type string, value double")
        .csv(csv_dir)
    )
    cols = ["event_id", "event_type", "value"]
    assert _rowset(back, cols) == _rowset(src, cols)

    txt_dir = str(tmp_path / "ev_txt")
    src.select(
        F.concat_ws("|", "event_id", "event_type").alias("value")
    ).write.text(txt_dir)
    parsed = (
        spark.read.text(txt_dir)
        .select(F.split("value", r"\|").alias("p"))
        .select(
            F.col("p").getItem(0).cast("long").alias("event_id"),
            F.col("p").getItem(1).alias("event_type"),
        )
    )
    assert _rowset(parsed, ["event_id", "event_type"]) == _rowset(
        src, ["event_id", "event_type"]
    )


def test_orc_format_roundtrip(spark, tmp_path):
    """ORC round-trip with predicate pushdown: the other columnar
    interchange format Spark ships natively. Writes sorted-by-type so
    ORC's per-stripe min/max indexes line up with the pushed filter."""
    src = load_table(spark, SF_DIR, "events").select(
        "event_id", "event_type", "value"
    )
    orc_dir = str(tmp_path / "ev_orc")
    src.sortWithinPartitions("event_type").write.orc(orc_dir)
    back = spark.read.orc(orc_dir)
    cols = ["event_id", "event_type", "value"]
    assert _rowset(back, cols) == _rowset(src, cols)

    # filter pushdown reaches the ORC scan
    filtered = back.where(F.col("event_type") == "click")
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "event_type" in plan
    assert filtered.count() == src.where(F.col("event_type") == "click").count()
