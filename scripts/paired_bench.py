"""Interleaved paired-minima benchmark: Spark vs DuckDB yardstick.

Runs ``bench.py`` and ``bench_duckdb.py`` in alternating fresh
subprocesses N times each (default 2 pairs) so host-load swings hit both
engines, then reports per-query MINIMA and totals — the protocol behind
BASELINE_MEASURED.md.  Usage:

    python scripts/paired_bench.py [--pairs 2] \
        [--out bench_artifacts/paired_latest.json]

The default --out is a scratch path; the OFFICIAL per-round evidence is
the merged-minima artifact bench_artifacts/r{N}/paired_r{N}_merged.json
(BASELINE_MEASURED.md) — never a root-level paired_bench.json, whose
staleness risk is pinned away by tests/test_artifact_sync.py.

Honors SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS like the benches themselves.
"""

from __future__ import annotations

import argparse
import json
import pathlib
import sys

from ab_bench import ROOT, run_bench


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pairs", type=int, default=2)
    ap.add_argument(
        "--out", default=str(ROOT / "bench_artifacts" / "paired_latest.json")
    )
    args = ap.parse_args()

    spark_runs: list[dict[str, float]] = []
    duck_runs: list[dict[str, float]] = []
    for i in range(args.pairs):
        print(f"[pair {i + 1}/{args.pairs}] spark ...", file=sys.stderr)
        spark_runs.append(run_bench("bench.py"))
        print(f"[pair {i + 1}/{args.pairs}] duckdb ...", file=sys.stderr)
        duck_runs.append(run_bench("bench_duckdb.py"))

    names = [n for n in spark_runs[0] if all(n in r for r in duck_runs)]
    spark_min = {n: min(r[n] for r in spark_runs) for n in names}
    duck_min = {n: min(r[n] for r in duck_runs) for n in names}
    rows = [
        {
            "query": n,
            "spark_s": spark_min[n],
            "duckdb_s": duck_min[n],
            "ratio": round(spark_min[n] / max(duck_min[n], 1e-9), 1),
        }
        for n in names
    ]
    total_s = round(sum(spark_min.values()), 2)
    total_d = round(sum(duck_min.values()), 2)
    out = {
        "pairs": args.pairs,
        "spark_total_s": total_s,
        "duckdb_total_s": total_d,
        "aggregate_ratio": round(total_s / total_d, 2),
        "spark_run_totals": [round(sum(r.values()), 2) for r in spark_runs],
        "duckdb_run_totals": [round(sum(r.values()), 2) for r in duck_runs],
        "rows": rows,
    }
    pathlib.Path(args.out).write_text(json.dumps(out, indent=1))
    for r in rows:
        print(
            f"{r['query']:32s} {r['spark_s']:7.2f} {r['duckdb_s']:7.2f} {r['ratio']:6.1f}x"
        )
    print(f"{'TOTAL':32s} {total_s:7.2f} {total_d:7.2f} {out['aggregate_ratio']:6.1f}x")


if __name__ == "__main__":
    main()
