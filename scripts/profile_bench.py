"""Per-query profile of the bench workload: wall seconds, Spark JOB and
STAGE counts (statusTracker over a per-query job group), and the
formatted plan — the guide-§1 measurement pass behind OPTIMIZATION_r14.md.

Same session/protocol as bench.py (bench_session: scan-cache layout,
8 MB splits, bytes-sized shuffle; a warm pass over every query, then one
measured pass, so memos built while warming stay warm). The JSON at
--out is rewritten after each query; a query that raises records ``err``
and the run goes on. With --plans DIR, each query's
``explain("formatted")`` text goes to DIR/<name>.txt.

Modes:
  --queries a,b,c   the queries to profile (default: bench.py's HEADLINE;
                    ``all`` = every registry query, sorted by name)
  --cold            time with bench.time_cold(n=3) instead: one warm run,
                    then min of 3 runs each after memo_clear(), so every
                    timed run pays its own materializations; the job
                    group then spans all four runs
  --duckdb          add the DuckDB oracle's min-of-3 on the same parquet
                    and the same $SPARK_GRAFT_CPUS cores (``duckdb_s``)
                    and the Spark/DuckDB ``ratio``

Usage: python scripts/profile_bench.py [--queries a,b,c|all] [--cold]
       [--duckdb] [--sf-dir DIR] [--out FILE] [--plans DIR]
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import pathlib
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def duckdb_seconds(con, sql: str) -> float:
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        con.execute(sql).fetchall()
        best = min(best, time.perf_counter() - t0)
    return best


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="/tmp/profile_bench.json")
    ap.add_argument("--plans", default=None)
    ap.add_argument("--queries", default=None)
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cold", action="store_true")
    ap.add_argument("--duckdb", action="store_true")
    args = ap.parse_args()

    from bench import (
        HEADLINE, bench_duckdb_connect, bench_session, run_query, time_cold,
    )

    spark = bench_session("profile-bench")

    from crypto_streaming_lakehouse_spark.registry import REGISTRY

    if args.queries == "all":
        names = sorted(REGISTRY)
    elif args.queries:
        names = [n for n in args.queries.split(",") if n in REGISTRY]
    else:
        names = [n for n in HEADLINE if n in REGISTRY]
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    plans_dir = pathlib.Path(args.plans) if args.plans else None
    if plans_dir:
        plans_dir.mkdir(parents=True, exist_ok=True)
    con = bench_duckdb_connect(args.sf_dir) if args.duckdb else None

    def profile(name: str) -> dict:
        sc.setJobGroup(name, name)
        if args.cold:
            dt = time_cold(spark, name, args.sf_dir, 3)
        else:
            dt = run_query(spark, name, args.sf_dir)
        sc.setJobGroup(None, None)
        job_ids = tracker.getJobIdsForGroup(name)
        n_stages = 0
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                n_stages += len(info.stageIds)
        row = {
            "query": name,
            "sec": round(dt, 3),
            "jobs": len(job_ids),
            "stages": n_stages,
        }
        if con is not None:
            sql = REGISTRY[name].sql
            db = duckdb_seconds(con, sql) if sql is not None else None
            row["duckdb_s"] = None if db is None else round(db, 3)
            row["ratio"] = None if db is None else round(dt / db, 2)
        if plans_dir:
            df = REGISTRY[name].fn(spark, args.sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            (plans_dir / f"{name}.txt").write_text(buf.getvalue())
        return row

    # Warmup pass (bench protocol: memos built here stay warm).
    warm_err: dict[str, Exception] = {}
    if not args.cold:
        for name in names:
            try:
                run_query(spark, name, args.sf_dir)
            except Exception as e:
                warm_err[name] = e

    rows = []
    for name in names:
        try:
            if name in warm_err:
                raise warm_err[name]
            rows.append(profile(name))
        except Exception as e:  # keep sweeping; record the failure
            rows.append({"query": name, "err": f"{type(e).__name__}: {e}"[:200]})
        with open(args.out, "w") as f:
            json.dump({"sf_dir": args.sf_dir, "rows": rows}, f, indent=1)

    rows.sort(key=lambda r: -r.get("sec", -1))
    with open(args.out, "w") as f:
        json.dump({"sf_dir": args.sf_dir, "rows": rows}, f, indent=1)
    for r in rows:
        if "err" in r:
            print(f"    ERR  {r['query']}: {r['err']}")
            continue
        line = (f"{r['sec']:7.3f}s  {r['jobs']:3d} jobs {r['stages']:3d} stages"
                f"  {r['query']}")
        if r.get("ratio") is not None:
            line += f"  duckdb={r['duckdb_s']:.3f}s ratio={r['ratio']:.2f}"
        print(line)
    spark.stop()


if __name__ == "__main__":
    main()
