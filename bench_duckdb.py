"""DuckDB yardstick: run the headline queries' ORACLE SQL in DuckDB on the
same parquet at $SPARK_GRAFT_SF_DIR, on $SPARK_GRAFT_CPUS threads, and
print ONE JSON line, mirroring bench.py's shape.

This makes the "within 2x of the single-node baseline" gate measurable:
the reference publishes no numbers (BASELINE.md), so the strongest
available single-node yardstick is DuckDB executing the semantically
identical SQL on identical input. Results are committed to
BASELINE_MEASURED.md alongside bench.py's Spark numbers.

Each query is fully materialized (fetchall) to force every column —
the same discipline as bench.py's noop sink.
"""

from __future__ import annotations

import os
import sys
import time

import duckdb

from bench import HEADLINE, bench_duckdb_connect, emit_json
from tests.oracle import capped


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from crypto_streaming_lakehouse_spark.registry import REGISTRY

    con = bench_duckdb_connect(sf_dir)
    names = [
        n for n in HEADLINE if n in REGISTRY and REGISTRY[n].sql is not None
    ]

    # Per-query wall-clock cap (seconds), env-gated and OFF by default so
    # the official sf0.1 yardstick is never truncated. Used by the sf1.0
    # scale-trend run, where individual hub-quadratic oracle spellings
    # (id-ordered triangle 3-join, iterative CTE chains) can run 100×
    # past their sf0.1 time; a capped query records the cap as its time
    # (an UNDERSTATEMENT of DuckDB's cost, i.e. conservative against
    # Spark in the ratio) and is listed in the JSON's "dnf" array.
    timeout_s = float(os.environ.get("SPARK_GRAFT_DUCKDB_TIMEOUT_S", "0"))
    dnf: list[str] = []

    def run(name: str) -> float:
        sql = REGISTRY[name].sql
        t0 = time.perf_counter()
        try:
            capped(con, timeout_s)(lambda: con.sql(sql).fetchall())
        except duckdb.InterruptException:
            if name not in dnf:
                dnf.append(name)
            print(f"[duckdb] {name} TIMEOUT >{timeout_s}s", file=sys.stderr)
        return time.perf_counter() - t0

    for name in names:  # warmup: buffer pool + parquet metadata
        print(f"[duckdb] warmup {name}", file=sys.stderr, flush=True)
        run(name)
    timings = {}
    for name in names:
        print(f"[duckdb] measure {name}", file=sys.stderr, flush=True)
        timings[name] = round(run(name), 3)

    emit_json(
        "duckdb_oracle_total", timings, sf_dir,
        **({"dnf": dnf, "timeout_s": timeout_s} if dnf else {}),
    )


if __name__ == "__main__":
    sys.exit(main())
