"""Order-reversed A/B of bench.py under two session-conf variants.

Runs the full bench in fresh subprocesses in the order A B B A (repeated
``--pairs`` times) so slow host drift cancels across variants, then
reports per-run totals and per-query minima for each side — the
protocol behind the accept/reject rows in SCALE.md's optimization
table. Variant B is the baseline env plus ``SPARK_GRAFT_EXTRA_CONF``
set to ``--b-conf`` (semicolon-separated k=v list; see session.py).

Usage:
    python scripts/ab_bench.py --b-conf \
        "spark.sql.codegen.cache.maxEntries=10000" [--pairs 1]

Honors SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS like bench.py itself.
"""

from __future__ import annotations

import argparse
import json
import os
import pathlib
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent


def run_bench(script: str, env: dict[str, str] | None = None) -> dict[str, float]:
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


def side_env(extra_conf: str | None, extra_env: list[str] | None) -> dict[str, str]:
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_EXTRA_CONF", None)
    if extra_conf:
        env["SPARK_GRAFT_EXTRA_CONF"] = extra_conf
    for kv in extra_env or []:
        k, _, v = kv.partition("=")
        env[k] = v
    return env


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--b-conf", default="")
    ap.add_argument(
        "--b-env",
        action="append",
        default=[],
        help="KEY=VAL set only for the B side — for code-variant A/Bs "
        "gated on an env var (e.g. SPARK_GRAFT_LPA_LAYOUT=shuffle; "
        "dst/broadcast is the default layout, so B must opt OUT).",
    )
    ap.add_argument("--pairs", type=int, default=1)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    if not args.b_conf and not args.b_env:
        ap.error("need --b-conf and/or --b-env")

    runs: dict[str, list[dict[str, float]]] = {"A": [], "B": []}
    for i in range(args.pairs):
        for side in ("A", "B", "B", "A"):
            print(
                f"[pair {i + 1}/{args.pairs}] {side} ...",
                file=sys.stderr,
                flush=True,
            )
            env = side_env(
                args.b_conf if side == "B" else None,
                args.b_env if side == "B" else None,
            )
            runs[side].append(run_bench("bench.py", env))

    names = list(runs["A"][0])
    mins = {
        s: {n: min(r[n] for r in rs) for n in names}
        for s, rs in runs.items()
    }
    rows = [
        {
            "query": n,
            "a_s": mins["A"][n],
            "b_s": mins["B"][n],
            "delta_s": round(mins["B"][n] - mins["A"][n], 3),
        }
        for n in names
    ]
    out = {
        "b_conf": args.b_conf,
        "b_env": args.b_env,
        "a_run_totals": [round(sum(r.values()), 2) for r in runs["A"]],
        "b_run_totals": [round(sum(r.values()), 2) for r in runs["B"]],
        "a_min_total_s": round(sum(mins["A"].values()), 2),
        "b_min_total_s": round(sum(mins["B"].values()), 2),
        "rows": rows,
    }
    if args.out:
        pathlib.Path(args.out).write_text(json.dumps(out, indent=1))
    for r in sorted(rows, key=lambda r: r["delta_s"]):
        print(f"{r['query']:32s} A={r['a_s']:6.2f} B={r['b_s']:6.2f} "
              f"delta={r['delta_s']:+6.2f}")
    print(json.dumps({k: v for k, v in out.items() if k != "rows"}))


if __name__ == "__main__":
    main()
