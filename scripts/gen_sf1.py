"""Synthesize an sf1.0 fixture (10× sf0.1) for the scale-TREND bench.

The driver ships sf{0.001,0.01,0.1} only; VERDICT r08 item 2 asks for one
paired Spark-vs-DuckDB run at sf1.0 to prove the per-query floor
amortizes with data size. This script upsamples the READ-ONLY sf0.1
fixture into ``.tmp/sf1.0`` (untracked scratch): the data is NOT used
for correctness (no oracle rows are generated from it) — both engines
read the SAME synthesized files, so the headline ratio stays
apples-to-apples while row volume grows 10×.

Construction (copy c ∈ 0..9; copy 0 is the original rows verbatim):

- ``region``/``nation`` stay fixed (TPC-H scaling also holds dimension
  cardinality constant).
- Every synthetic BIGINT entity key shifts by ``c * 10_000_000`` with
  the SAME stride on both sides of each FK (l_orderkey ↔ o_orderkey,
  l_partkey ↔ p_partkey, l_suppkey ↔ s_suppkey, o_custkey ↔ c_custkey),
  so join fan-outs are preserved exactly and key cardinality grows 10×.
- ``documents.text`` is deterministically word-shuffled per copy
  (sort words by xxhash64(word ⊕ copy)): token counts and length
  distributions are preserved, but n-gram sets decorrelate across
  copies — naive replication would make every doc a 10-deep near-dup
  cluster and quadratically inflate the dedup queries' PAIR output,
  which would measure a different workload, not a bigger one.
- ``embeddings.embedding`` rotates by ``c`` positions (norm- and
  distribution-preserving, decorrelates copies for the same reason).
- ``events`` keeps its time range (10× density = busier stream, the
  realistic way traffic scales) with event_id/user_id shifted.

The construction lives in ``amplify(spark, src, out_dir)``, which has
two consumers: this script's ``main()`` (the sf1.0 bench trend and the
``CORRECTNESS_FULL_SF1.json`` attestation read its output) and
``scripts/scale_probe.py`` (the SCALE.md "Empirical 10× scale-up"
factors), so every 10× figure reads data built by the same code.

Usage: python scripts/gen_sf1.py [out_dir]   (default .tmp/sf1.0)
"""

from __future__ import annotations

import os
import shutil
import sys
from functools import reduce

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F  # noqa: E402

COPIES = 10
STRIDE = 10_000_000
SRC = "/root/testdata/sf0.1"

#: BIGINT key columns to shift, per table (both FK sides share STRIDE).
KEY_COLS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def _shuffle_words(text, salt):
    """Deterministic word permutation: decorate each word with its
    64-bit hash under ``salt``, array_sort, strip the decoration."""
    words = F.split(F.trim(text), r"\s+")
    decorated = F.transform(
        words,
        lambda w: F.concat_ws(
            ":",
            F.lpad(F.hex(F.xxhash64(w, salt)), 16, "0"),
            w,
        ),
    )
    return F.array_join(
        F.transform(
            F.array_sort(decorated),
            lambda d: F.substring_index(d, ":", -1),
        ),
        " ",
    )


def _copy(df: DataFrame, table: str, c: int) -> DataFrame:
    out = df
    for k in KEY_COLS.get(table, []):
        out = out.withColumn(k, F.col(k) + F.lit(c * STRIDE))
    if c > 0 and table == "documents":
        out = out.withColumn(
            "text", _shuffle_words(F.col("text"), F.lit(c))
        ).withColumn("n_chars", F.length("text").cast("long"))
    if c > 0 and table == "embeddings":
        # rotate left by c: concat(slice(v, c+1, n-c), slice(v, 1, c))
        n = F.size("embedding")
        out = out.withColumn(
            "embedding",
            F.concat(
                F.slice(F.col("embedding"), c + 1, n - F.lit(c)),
                F.slice(F.col("embedding"), 1, c),
            ),
        )
    return out


def amplify(spark, src: str, out_dir: str) -> None:
    """Write the 10× copy of the fixture dir ``src`` into ``out_dir``:
    one parquet file per table, the fixture's own layout."""
    from crypto_streaming_lakehouse_spark.sources.tables import TABLES, load_table

    os.makedirs(out_dir, exist_ok=True)
    for table in TABLES:
        df = load_table(spark, src, table)
        n = COPIES if table in KEY_COLS else 1
        full = reduce(DataFrame.unionByName, [_copy(df, table, c) for c in range(n)])
        dest = os.path.join(out_dir, f"{table}.parquet")
        tmp = dest + ".dir"
        full.coalesce(1).write.mode("overwrite").parquet(tmp)
        part_file = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        os.replace(os.path.join(tmp, part_file), dest)
        shutil.rmtree(tmp)
        print(f"{table}: {spark.read.parquet(dest).count()} rows -> {dest}",
              file=sys.stderr, flush=True)


def main() -> None:
    out_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".tmp", "sf1.0",
    )
    from crypto_streaming_lakehouse_spark.session import get_spark

    spark = get_spark("gen-sf1")
    amplify(spark, SRC, out_dir)
    spark.stop()


if __name__ == "__main__":
    main()
