"""bench.py must never ship broken: BENCH_r02 was lost to an import-time
NameError that only surfaced when the driver ran the bench. This test runs
``bench.py --smoke`` (one query per family at sf0.001, no warmup pass) in a
subprocess — the same entrypoint the driver invokes — so an import error,
a registry typo, or a plan-time failure in ANY family fails CI."""

from __future__ import annotations

import ast
import importlib
import importlib.util
import json
import os
import pathlib
import re
import subprocess
import sys
import types

import pytest

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


def _bench_sources() -> dict[str, str]:
    """Source text of the bench and harness scripts, by repo-relative path."""
    files = ["bench.py", "bench_duckdb.py", os.path.join("tests", "oracle.py")]
    files += [
        os.path.join("scripts", f)
        for f in sorted(os.listdir(os.path.join(REPO, "scripts")))
        if f.endswith(".py")
    ]
    return {f: open(os.path.join(REPO, f)).read() for f in files}


def test_bench_conf_is_defined_once():
    """The bench session's split/coalescer conf lives in bench.BENCH_CONF
    only; every script builds its session through bench.bench_session."""
    holders = [
        f for f, src in _bench_sources().items()
        if "spark.sql.files.maxPartitionBytes" in src
    ]
    assert holders == ["bench.py"], holders


def test_bench_cpus_default_is_read_once():
    """The bench core count ($SPARK_GRAFT_CPUS, else every host core) is
    read in bench.bench_cpus only; every other side asks it."""
    read = re.compile(r"""(environ\.get|getenv)\(\s*["']SPARK_GRAFT_CPUS["']\s*,""")
    holders = [f for f, src in _bench_sources().items() if read.search(src)]
    assert holders == ["bench.py"], holders


def test_duckdb_interrupt_is_guarded_once():
    """Every capped DuckDB call goes through tests.oracle.capped, the one
    guarded interrupt (an unguarded or always-draining copy poisons or
    truncates the next call on the shared connection)."""
    holders = [
        f for f, src in _bench_sources().items() if re.search(r"\.interrupt\(", src)
    ]
    assert holders == [os.path.join("tests", "oracle.py")], holders


def test_bench_duckdb_runs_on_bench_cpus(monkeypatch):
    """The DuckDB yardstick runs on the Spark side's cores, not on
    DuckDB's default of every host core."""
    import bench

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    con = bench.bench_duckdb_connect(SF_DIR)
    assert con.sql("SELECT current_setting('threads')").fetchone()[0] == 2


@pytest.mark.parametrize("b_script", [None, "bench.py"], ids=["yardstick", "ab"])
def test_paired_bench_runs_abba_and_reports_minima(tmp_path, monkeypatch, b_script):
    """scripts/paired_bench.py without Spark: run_bench returns canned
    timings. Each pair runs A B B A; only B sees --b-env; the report
    holds per-side minima, per-run totals and ratio = a_s / b_s."""
    spec = importlib.util.spec_from_file_location(
        "paired_bench", os.path.join(REPO, "scripts", "paired_bench.py")
    )
    pb = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(pb)
    canned = iter([
        {"q1": 3.0, "q2": 1.0}, {"q1": 1.0, "q2": 0.5},
        {"q1": 2.0, "q2": 0.25}, {"q1": 4.0, "q2": 2.0},
        {"q1": 5.0, "q2": 0.9}, {"q1": 1.5, "q2": 0.4},
        {"q1": 1.2, "q2": 0.3}, {"q1": 2.5, "q2": 1.1},
    ])
    calls = []

    def fake_run_bench(script, env):
        calls.append((script, env))
        return next(canned)

    monkeypatch.setattr(pb, "run_bench", fake_run_bench)
    monkeypatch.delenv("SPARK_GRAFT_EXTRA_CONF", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_AB_MARK", raising=False)
    out = tmp_path / "paired.json"
    argv = ["--pairs", "2", "--out", str(out),
            "--b-env", "SPARK_GRAFT_EXTRA_CONF=spark.x=1;spark.y=2",
            "--b-env", "SPARK_GRAFT_AB_MARK=b"]
    pb.main(argv + (["--b-script", b_script] if b_script else []))

    sides = ["b" if env.get("SPARK_GRAFT_AB_MARK") == "b" else "a" for _, env in calls]
    assert sides == list("abbaabba")
    b_expect = b_script or "bench_duckdb.py"
    assert [s for s, _ in calls] == [
        "bench.py" if side == "a" else b_expect for side in sides
    ]
    for side, (_, env) in zip(sides, calls):
        if side == "a":
            assert "SPARK_GRAFT_EXTRA_CONF" not in env
        else:
            assert env["SPARK_GRAFT_EXTRA_CONF"] == "spark.x=1;spark.y=2"

    rec = json.loads(out.read_text())
    assert list(rec) == [
        "b_script", "b_env", "pairs", "a_run_totals", "b_run_totals",
        "a_min_total_s", "b_min_total_s", "aggregate_ratio", "rows",
    ]
    assert rec["b_script"] == b_expect
    assert rec["b_env"] == {
        "SPARK_GRAFT_EXTRA_CONF": "spark.x=1;spark.y=2", "SPARK_GRAFT_AB_MARK": "b",
    }
    assert rec["a_run_totals"] == [4.0, 6.0, 5.9, 3.6]
    assert rec["b_run_totals"] == [1.5, 2.25, 1.9, 1.5]
    assert rec["rows"] == [
        {"query": "q1", "a_s": 2.5, "b_s": 1.0, "ratio": 2.5},
        {"query": "q2", "a_s": 0.9, "b_s": 0.25, "ratio": 3.6},
    ]
    assert (rec["a_min_total_s"], rec["b_min_total_s"]) == (3.4, 1.25)
    assert rec["aggregate_ratio"] == 2.72


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
