"""DuckDB yardstick: run the headline queries' ORACLE SQL in DuckDB on the
same parquet at $SPARK_GRAFT_SF_DIR and print ONE JSON line, mirroring
bench.py's shape.

This makes the "within 2x of the single-node baseline" gate measurable:
the reference publishes no numbers (BASELINE.md), so the strongest
available single-node yardstick is DuckDB executing the semantically
identical SQL on identical input. Results are committed to
BASELINE_MEASURED.md alongside bench.py's Spark numbers.

Each query is fully materialized (fetchall) to force every column —
the same discipline as bench.py's noop sink.
"""

from __future__ import annotations

import json
import os
import sys
import time

import duckdb

from bench import HEADLINE
from tests.oracle import duckdb_connect


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    threads = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))

    from crypto_streaming_lakehouse_spark.registry import REGISTRY

    con = duckdb_connect(sf_dir)
    con.sql(f"SET threads={int(threads)}")

    names = [
        n for n in HEADLINE if n in REGISTRY and REGISTRY[n].sql is not None
    ]
    extra = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    if extra:
        names = [
            n
            for n in extra.split(",")
            if n in REGISTRY and REGISTRY[n].sql is not None
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
        t0 = time.perf_counter()
        if timeout_s > 0:
            import threading

            # The interrupt must be a no-op once the query has finished:
            # an unguarded Timer can fire in the window between fetchall()
            # returning and timer.cancel(), poisoning the shared connection
            # so the NEXT query dies with a spurious InterruptException
            # recorded as a near-zero-time DNF.
            lock = threading.Lock()
            done = False

            def _interrupt() -> None:
                with lock:
                    if not done:
                        con.interrupt()

            timer = threading.Timer(timeout_s, _interrupt)
            timer.start()
            try:
                con.sql(REGISTRY[name].sql).fetchall()
                with lock:
                    done = True
            except duckdb.InterruptException:
                if name not in dnf:
                    dnf.append(name)
                print(f"[duckdb] {name} TIMEOUT >{timeout_s}s", file=sys.stderr)
                return time.perf_counter() - t0
            finally:
                with lock:
                    done = True
                timer.cancel()
                # The timer can still have fired in the window between
                # fetchall() returning and the lock acquisition above; a
                # no-query interrupt is buffered by DuckDB and would kill
                # the NEXT query. Drain it with a throwaway statement.
                try:
                    con.sql("SELECT 1").fetchall()
                except duckdb.InterruptException:
                    pass
        else:
            con.sql(REGISTRY[name].sql).fetchall()
        return time.perf_counter() - t0

    for name in names:  # warmup: buffer pool + parquet metadata
        print(f"[duckdb] warmup {name}", file=sys.stderr, flush=True)
        run(name)
    timings = {}
    for name in names:
        print(f"[duckdb] measure {name}", file=sys.stderr, flush=True)
        timings[name] = round(run(name), 3)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    print(
        json.dumps(
            {
                "metric": "duckdb_oracle_total",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "sf": sf_val,
                **({"dnf": dnf, "timeout_s": timeout_s} if dnf else {}),
            }
        )
    )


if __name__ == "__main__":
    sys.exit(main())
