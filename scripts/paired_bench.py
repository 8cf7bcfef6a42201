"""Paired bench runner: ``bench.py`` (side A) against side B, each run in
a fresh subprocess in the order A B B A for each of ``--pairs``, so slow
host drift cancels across the sides. Reports each side's per-run totals,
per-query MINIMA and their totals, and ``ratio = a_s / b_s`` per query
and in aggregate.

Side B is ``--b-script`` with the current env plus each ``--b-env
KEY=VAL`` (A runs in the current env):

- the DuckDB yardstick, the default: ``bench_duckdb.py``, so ``ratio``
  is Spark/DuckDB — the protocol behind BASELINE_MEASURED.md;
- an A/B experiment: ``--b-script bench.py`` and the variant's env,
  e.g. ``--b-env SPARK_GRAFT_EXTRA_CONF=spark.sql.codegen.cache.maxEntries=10000``
  (a semicolon-separated k=v list of session conf; see session.py) —
  the protocol behind the accept/reject rows in SCALE.md's
  optimization table.

Usage:
    python scripts/paired_bench.py [--b-script bench.py] [--b-env K=V ...] \
        [--pairs 2] [--out bench_artifacts/paired_latest.json]

The default --out is a scratch path; the OFFICIAL per-round evidence is
the merged-minima artifact bench_artifacts/r{N}/paired_r{N}_merged.json
(BASELINE_MEASURED.md) — never a root-level paired_bench.json, whose
staleness risk is pinned away by tests/test_artifact_sync.py.

Both sides honor SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import argparse
import json
import os
import pathlib
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent


def run_bench(script: str, env: dict[str, str]) -> dict[str, float]:
    """Run a bench script in a fresh subprocess; return its ``queries``."""
    proc = subprocess.run(
        [sys.executable, str(ROOT / script)],
        capture_output=True,
        text=True,
        check=True,
        cwd=ROOT,
        env=env,
    )
    # The bench prints ONE JSON line; logs may precede it.
    for line in reversed(proc.stdout.strip().splitlines()):
        line = line.strip()
        if line.startswith("{"):
            return json.loads(line)["queries"]
    raise RuntimeError(f"no JSON line in {script} output:\n{proc.stdout[-2000:]}")


def _key_val(kv: str) -> tuple[str, str]:
    k, sep, v = kv.partition("=")
    if not (k and sep):
        raise argparse.ArgumentTypeError(f"expected KEY=VAL, got {kv!r}")
    return k, v


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(prog="paired_bench.py")
    ap.add_argument("--b-script", default="bench_duckdb.py")
    ap.add_argument(
        "--b-env", type=_key_val, action="append", default=[], metavar="KEY=VAL",
        help="set only for side B (repeatable)",
    )
    ap.add_argument("--pairs", type=int, default=2)
    ap.add_argument(
        "--out", default=str(ROOT / "bench_artifacts" / "paired_latest.json")
    )
    args = ap.parse_args(argv)
    b_env = dict(args.b_env)

    sides = {
        "a": ("bench.py", dict(os.environ)),
        "b": (args.b_script, {**os.environ, **b_env}),
    }
    runs: dict[str, list[dict[str, float]]] = {"a": [], "b": []}
    for i in range(args.pairs):
        for side in "abba":
            script, env = sides[side]
            print(
                f"[pair {i + 1}/{args.pairs}] {side.upper()}: {script} ...",
                file=sys.stderr,
                flush=True,
            )
            runs[side].append(run_bench(script, env))

    names = [n for n in runs["a"][0] if all(n in r for r in runs["a"] + runs["b"])]
    mins = {s: {n: min(r[n] for r in rs) for n in names} for s, rs in runs.items()}
    rows = [
        {
            "query": n,
            "a_s": mins["a"][n],
            "b_s": mins["b"][n],
            "ratio": round(mins["a"][n] / max(mins["b"][n], 1e-9), 2),
        }
        for n in names
    ]
    totals = {s: round(sum(m.values()), 2) for s, m in mins.items()}
    out = {
        "b_script": args.b_script,
        "b_env": b_env,
        "pairs": args.pairs,
        "a_run_totals": [round(sum(r.values()), 2) for r in runs["a"]],
        "b_run_totals": [round(sum(r.values()), 2) for r in runs["b"]],
        "a_min_total_s": totals["a"],
        "b_min_total_s": totals["b"],
        "aggregate_ratio": round(totals["a"] / max(totals["b"], 1e-9), 2),
        "rows": rows,
    }
    pathlib.Path(args.out).write_text(json.dumps(out, indent=1))
    for r in rows:
        print(f"{r['query']:32s} {r['a_s']:7.2f} {r['b_s']:7.2f} {r['ratio']:6.2f}x")
    print(json.dumps({k: v for k, v in out.items() if k != "rows"}))


if __name__ == "__main__":
    main()
