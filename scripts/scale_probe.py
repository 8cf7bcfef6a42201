"""Empirical scale-up probe: amplify the sf0.1 fixtures ~10x into a temp
dir (ids offset per copy; document words prefixed per copy and embeddings
rotated, so copies are NOT near-duplicates of each other and dedup/ANN
candidate sets grow honestly), then time selected registry queries at
base vs amplified scale and print the factor.

Usage: python scripts/scale_probe.py [q_name ...]
Defaults to the round-2 additions. Results are recorded in SCALE.md's
"Empirical 10x scale-up" table.
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

AMPLIFY = 10
BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DEFAULT_QUERIES = [
    "q_pagerank",
    "q_kmeans",
    "q_pmi_collocations",
    "q_bm25",
    "q_token_entropy",
    "q_funnel",
    "q_retention_cohorts",
    "q_decontaminate",
    "q_local_supplier_volume",
]


def amplify(spark, out_dir: str) -> None:
    from pyspark.sql import functions as F

    from crypto_streaming_lakehouse_spark.sources.tables import load_table

    copies = F.explode(
        F.sequence(F.lit(0), F.lit(AMPLIFY - 1))
    ).alias("copy")

    docs = load_table(spark, BASE, "documents")
    (
        docs.select("*", copies)
        .select(
            (F.col("doc_id") + F.col("copy") * 1_000_000).alias("doc_id"),
            # per-copy word prefix: copies share no grams with each other
            F.when(F.col("copy") == 0, F.col("text"))
            .otherwise(
                F.regexp_replace(
                    F.col("text"),
                    F.lit(r"(^|\s)"),
                    F.concat(F.lit("$1c"), F.col("copy").cast("string")),
                )
            )
            .alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "documents.parquet"))
    )

    emb = load_table(spark, BASE, "embeddings")
    (
        emb.select("*", copies)
        .select(
            (F.col("vec_id") + F.col("copy") * 1_000_000).alias("vec_id"),
            # rotate the vector by `copy` positions: unit-norm preserved,
            # copies are far apart in cosine space
            F.concat(
                F.slice(F.col("embedding"), F.col("copy") + 1,
                        F.size("embedding") - F.col("copy")),
                F.slice(F.col("embedding"), 1, F.col("copy")),
            ).alias("embedding"),
            "label",
        )
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "embeddings.parquet"))
    )

    ev = load_table(spark, BASE, "events")
    (
        ev.select("*", copies)
        .select(
            (F.col("event_id") + F.col("copy") * 100_000_000).alias("event_id"),
            "ts",
            (F.col("user_id") + F.col("copy") * 1_000_000).alias("user_id"),
            "event_type",
            "value",
            "props",
        )
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "events.parquet"))
    )

    li = load_table(spark, BASE, "lineitem")
    (
        li.select("*", copies)
        .select(
            (F.col("l_orderkey") + F.col("copy") * 100_000_000).alias(
                "l_orderkey"
            ),
            (F.col("l_partkey") + F.col("copy") * 1_000_000).alias("l_partkey"),
            (F.col("l_suppkey") + F.col("copy") * 1_000_000).alias("l_suppkey"),
            *[c for c in li.columns if not c.startswith("l_orderkey")
              and c not in ("l_partkey", "l_suppkey")],
        )
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "lineitem.parquet"))
    )

    o = load_table(spark, BASE, "orders")
    (
        o.select("*", copies)
        .select(
            (F.col("o_orderkey") + F.col("copy") * 100_000_000).alias(
                "o_orderkey"
            ),
            (F.col("o_custkey") % 1500).alias("o_custkey"),
            *[c for c in o.columns if c not in ("o_orderkey", "o_custkey")],
        )
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "orders.parquet"))
    )

    # small dims unchanged: link, don't copy
    for t in ["region", "nation", "customer", "supplier", "part"]:
        src = os.path.join(BASE, f"{t}.parquet")
        dst = os.path.join(out_dir, f"{t}.parquet")
        if not os.path.exists(dst):
            os.symlink(src, dst)


def main() -> None:
    from bench import bench_session, time_cold

    names = sys.argv[1:] or DEFAULT_QUERIES
    # Shuffle width = cpus, the sizing SCALE.md's rows were measured
    # under. The bench session's scan layout + split sizing matters
    # here: without it the BASE reads the driver's single-row-group
    # files (scans pinned to one task) while the amplified fixture is
    # Spark-written multi-file — inconsistent layouts skew the factor
    # by up to 5× (measured: minhash "6.5×" under mixed layout vs 1.8×
    # under uniform layout).
    os.environ.setdefault(
        "SPARK_GRAFT_SHUFFLE",
        os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)),
    )
    spark = bench_session("scale-probe")

    from crypto_streaming_lakehouse_spark.registry import REGISTRY

    with tempfile.TemporaryDirectory(prefix="amplified_") as big:
        print(f"amplifying {BASE} x{AMPLIFY} -> {big}", file=sys.stderr)
        amplify(spark, big)

        # time_cold clears cross-query memos before every timed run, so
        # each pays its own materializations — the probe measures how ONE
        # query scales, not how a warm cache performs.
        print(f"{'query':30s} {'base':>7s} {'10x':>7s} {'factor':>7s}")
        for n in names:
            if n not in REGISTRY:
                continue
            b = time_cold(spark, n, BASE, 2)
            a = time_cold(spark, n, big, 2)
            print(f"{n:30s} {b:7.2f} {a:7.2f} {a / b:6.1f}x")


if __name__ == "__main__":
    main()
