"""bench.py must never ship broken: BENCH_r02 was lost to an import-time
NameError that only surfaced when the driver ran the bench. This test runs
``bench.py --smoke`` (one query per family at sf0.001, no warmup pass) in a
subprocess — the same entrypoint the driver invokes — so an import error,
a registry typo, or a plan-time failure in ANY family fails CI."""

from __future__ import annotations

import ast
import importlib
import json
import os
import pathlib
import subprocess
import sys
import types

from .conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_smoke_runs_and_emits_json():
    env = {
        **os.environ,
        "SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.001",
        "SPARK_GRAFT_CPUS": "4",
    }
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), "--smoke"],
        capture_output=True,
        text=True,
        cwd=REPO,
        env=env,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    # last stdout line is the single JSON record
    line = proc.stdout.strip().splitlines()[-1]
    rec = json.loads(line)
    assert rec["metric"] == "smoke_queries_total"
    assert rec["queries"], "smoke ran zero queries"
    assert all(v >= 0 for v in rec["queries"].values())


def test_profiler_cold_duckdb_rows(tmp_path):
    """The profiler's isolated mode: min-of-3 memo-cleared Spark runs plus
    the DuckDB oracle's min-of-3 and their ratio, one row per query."""
    out = tmp_path / "profile.json"
    env = {**os.environ, "SPARK_GRAFT_CPUS": "4"}
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "scripts", "profile_bench.py"),
            "--queries", "q_ohlcv_bars,q_groupby_agg",
            "--cold", "--duckdb",
            "--sf-dir", SF_DIR,
            "--out", str(out),
        ],
        capture_output=True,
        text=True,
        cwd=REPO,
        env=env,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    rows = json.loads(out.read_text())["rows"]
    assert sorted(r["query"] for r in rows) == ["q_groupby_agg", "q_ohlcv_bars"]
    for r in rows:
        assert {"sec", "jobs", "stages", "duckdb_s", "ratio"} <= r.keys(), r
        assert r["sec"] > 0 and r["jobs"] > 0 and r["duckdb_s"] > 0


def test_bench_import_is_side_effect_free():
    """``from bench import HEADLINE`` (the benchmark's workload lists) must
    neither pull in pyspark nor switch the scan-cache layout on."""
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_SCAN_CACHE"}
    code = (
        "import os, sys\n"
        "import bench\n"
        "assert 'pyspark' not in sys.modules\n"
        "assert 'SPARK_GRAFT_SCAN_CACHE' not in os.environ\n"
        "assert bench.HEADLINE\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        cwd=REPO,
        env=env,
        timeout=60,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]


def test_bench_conf_is_defined_once():
    """The bench session's split/coalescer conf lives in bench.BENCH_CONF
    only; every script builds its session through bench.bench_session."""
    files = [os.path.join(REPO, "bench.py"), os.path.join(REPO, "bench_duckdb.py")]
    scripts = os.path.join(REPO, "scripts")
    files += [
        os.path.join(scripts, f) for f in sorted(os.listdir(scripts))
        if f.endswith(".py")
    ]
    holders = [
        os.path.relpath(f, REPO) for f in files
        if "spark.sql.files.maxPartitionBytes" in open(f).read()
    ]
    assert holders == ["bench.py"], holders


PKG = "crypto_streaming_lakehouse_spark"
_MISSING = object()


def _lookup(module: str, name: str):
    try:
        return importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return getattr(importlib.import_module(module), name, _MISSING)


def test_perfbench_package_names_resolve():
    """perfbench/ reaches into the package, bench.py and tests.oracle by
    name, and no other test imports it: a rename would first break the
    benchmark run. Its files are parsed, not imported (probes.install
    rebinds package functions globally), and every name they use there
    must resolve: ``from`` imports, attributes of imported modules
    (``P.start_gold_job``) and the targets ``probes.install`` wraps."""
    refs: set[tuple[str, str]] = set()
    for path in sorted(pathlib.Path(REPO, "perfbench").glob("*.py")):
        tree = ast.parse(path.read_text())
        modules = {}
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and (
                node.module in ("bench", "tests.oracle")
                or node.module.startswith(PKG)
            ):
                for a in node.names:
                    refs.add((node.module, a.name))
                    obj = _lookup(node.module, a.name)
                    if isinstance(obj, types.ModuleType):
                        modules[a.asname or a.name] = obj.__name__
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Attribute)
                and isinstance(node.value, ast.Name)
                and node.value.id in modules
            ):
                refs.add((modules[node.value.id], node.attr))
        if path.name == "probes.py":
            install = next(
                n for n in tree.body
                if isinstance(n, ast.FunctionDef) and n.name == "install"
            )
            for stmt in install.body:
                looped = (
                    [e.value for e in stmt.iter.elts]
                    if isinstance(stmt, ast.For) else []
                )
                for call in ast.walk(stmt):
                    if getattr(getattr(call, "func", None), "id", None) == "_wrap":
                        mod, name = call.args[:2]
                        names = (
                            [name.value] if isinstance(name, ast.Constant) else looped
                        )
                        refs |= {(f"{PKG}.{mod.value}", n) for n in names}
    assert (f"{PKG}.streaming.pipeline", "start_gold_job") in refs
    assert (f"{PKG}.streaming.pipeline", "silver_stream_to_gold") in refs
    missing = sorted(f"{m}.{n}" for m, n in refs if _lookup(m, n) is _MISSING)
    assert not missing, missing
