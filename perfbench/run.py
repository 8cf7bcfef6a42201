#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one result line.

    python3 perfbench/run.py --workload medallion_replay --seed 1 \\
        --seconds 5 --trace 0

Run from the repository root, on a ``local[N]`` session with
N = min(4, cores available). The workload's inputs are generated from
``--seed``; everything the run writes goes under ``.perfbench/`` in the
current directory (the work dir is removed at the end; the run record,
with the wall-clock figures and the run's metadata, is kept in
``.perfbench/runs/`` and printed before the result). The last stdout line
is the result JSON: ``--trace 0`` reports the end-to-end metrics of
BENCHMARK.json, ``--trace 1`` the per-layer ones and the tracing overhead,
measured with spans and status-store counters around every call into a
layer. Passes repeat until ``--seconds`` have passed and the workload's
fixed number of timed passes has run.

Workloads: ``medallion_replay`` and ``analytic_warm``.

Exit codes: 0 = all output checks passed; 1 = an output check or
operation failed (the result line says so); 2 = the package under test is
not importable (no result line).
"""

from __future__ import annotations

import argparse
import json
import os
import pathlib
import shutil
import statistics
import subprocess
import sys
import time
import types

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
SF = 0.01
#: Repetitions of the repeatable set-up steps (input generation, scan
#: layout); session start and warm-up happen once, on a fresh JVM.
SETUP_REPS = 3
ABBA_BUDGET_S = 30
SHUFFLE_ANALYTIC = 12  # bench.py's shuffle width


def parse() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def sandbox(work: pathlib.Path, cores: int) -> None:
    """Keep every file the run writes (Python, JVM, Spark, RocksDB) under
    ``work``, and size the session."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ.update(
        TZ="UTC",
        TMPDIR=str(tmp),
        # every JVM, the spark-submit launcher's included
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        SPARK_GRAFT_SCAN_CACHE="1",
        SPARK_GRAFT_SCAN_CACHE_DIR=str(work / "scan_cache"),
        SPARK_GRAFT_CPUS=str(cores),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    time.tzset()
    import tempfile

    tempfile.tempdir = str(tmp)


def start_session(work: pathlib.Path, cores: int):
    from crypto_streaming_lakehouse_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        cpus=cores,
        shuffle_partitions=SHUFFLE_ANALYTIC,
        extra_conf={
            # bench.py's scan-split and coalescing settings
            "spark.sql.files.maxPartitionBytes": "8m",
            "spark.sql.files.openCostInBytes": "4m",
            "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
            # keep every job and stage in the status store, so traced
            # runs can count them (probes.SparkCounters)
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session and the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    for line in pathlib.Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not reported")


def git_state() -> dict:
    def git(*a):
        r = subprocess.run(
            ["git", *a], cwd=ROOT, capture_output=True, text=True, timeout=20
        )
        return r.stdout.strip() if r.returncode == 0 else None

    if not (ROOT / ".git").exists():
        return {"commit": None, "dirty": None}
    status = git("status", "--porcelain", "--untracked-files=no")
    return {"commit": git("rev-parse", "HEAD"), "dirty": bool(status)}


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main() -> int:
    args = parse()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    sys.path[:0] = [str(ROOT), str(HERE)]
    try:
        import crypto_streaming_lakehouse_spark  # noqa: F401
        from bench import HEADLINE  # noqa: F401
        from tests.oracle import canonical_digest  # noqa: F401
    except ImportError as e:
        print(f"perfbench: package under test not importable: {e}", file=sys.stderr)
        return 2
    import probes
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    cores = min(4, nproc())
    out = pathlib.Path.cwd() / ".perfbench"
    work = out / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    sandbox(work, cores)
    if args.trace:
        probes.install()
    trace = probes.TRACE
    trace.workload = args.workload

    ctx = types.SimpleNamespace()
    ctx.work, ctx.sf, ctx.seed, ctx.cores = work, SF, args.seed, cores
    ctx.shuffle_streaming = cores
    spark = None
    try:
        # Session start: one launch of the gateway JVM and the session.
        # The JVM exists only from here on, so its whole CPU time is part
        # of the start.
        t0, c0 = time.perf_counter(), probes.cpu_seconds()
        spark = start_session(work, cores)
        session_wall = time.perf_counter() - t0
        jvm_pid = spark.sparkContext._gateway.proc.pid
        ctx.cpu = lambda: probes.cpu_seconds(jvm_pid)
        session_cpu = ctx.cpu() - c0
        ctx.spark = spark
        ctx.counters = probes.SparkCounters(spark)
        w = WORKLOADS[args.workload](ctx)
        if w.name == "medallion_replay":
            # Stateful operators keep one state partition per shuffle
            # partition: one per core.
            spark.conf.set("spark.sql.shuffle.partitions", str(cores))
        w.setup_wall["session_start"] = session_wall
        w.setup_cpu["session_start"] = session_cpu
        w.setup(SETUP_REPS)
        w.passes.clear()  # warm-up passes are not measurements

        w.n_pass = 0
        steal0, ticks0 = probes.host_ticks()
        t0 = time.perf_counter()
        if not args.trace:
            while (
                len(w.passes) < w.timed_passes
                or time.perf_counter() - t0 < args.seconds
            ):
                w.run_pass(w.n_pass, ctx.counters)
                w.n_pass += 1
        else:
            # Untraced and traced passes in ABBA order, so JIT warm-up and
            # host drift fall on both sides of the tracing-overhead ratio.
            # The second pair runs only if the first took less than
            # ABBA_BUDGET_S (analytic_warm's does; medallion_replay's pair
            # takes 40-75 s on a 4-core host, and a traced run must end
            # within 180 s), so the replay's ratio also holds one pass of
            # JIT warm-up.
            base, traced = [], []

            def more() -> bool:
                spent = time.perf_counter() - t0
                return (
                    not traced
                    or spent < 2 * args.seconds
                    or (len(traced) < 2 and spent < ABBA_BUDGET_S)
                )

            while more():
                for side in (base, traced) if len(base) % 2 == 0 else (traced, base):
                    trace.enabled = side is traced
                    trace.pass_no = w.n_pass
                    w.run_pass(w.n_pass, ctx.counters)
                    side.append(w.passes[-1])
                    w.n_pass += 1
            trace.enabled = False
        t_loop = time.perf_counter()
        steal1, ticks1 = probes.host_ticks()
        w.meta["host_steal_share"] = (steal1 - steal0) / max(1, ticks1 - ticks0)
        w.check()
        w.meta["check_s"] = time.perf_counter() - t_loop
        rss = peak_rss_mb(spark)
        meta = {
            "workload": w.name,
            "seed": args.seed,
            "sf": SF,
            "seconds": args.seconds,
            "trace": args.trace,
            "nproc": nproc(),
            "spark_cores": cores,
            "duckdb_threads": cores,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "git": git_state(),
            "spark_version": spark.version,
            "java_version": spark._jvm.System.getProperty("java.version"),
            "duckdb_version": __import__("duckdb").__version__,
            "state_store_provider": spark.conf.get(
                "spark.sql.streaming.stateStore.providerClass", None
            ),
            "passes": len(w.passes),
            "setup_wall_s": w.setup_wall,
            "setup_cpu_s": w.setup_cpu,
            **w.meta,
            "failures": w.failures,
        }
        if args.trace:
            meta["wall"] = wall_metrics(base)
            metrics = per_layer(w, trace, ctx.counters, base, traced)
            metrics["jvm.peak_rss_mb"] = rss
            metrics.update(cold_build(w, trace, ctx.counters))
            metrics["error_rate"] = len(w.failures) / w.attempted
            kinds = spec["per_layer"]
        else:
            meta["wall"] = wall_metrics(w.passes)
            meta["peak_rss_mb"] = rss
            metrics = end_to_end(w)
            kinds = spec["end_to_end"]
    finally:
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)

    missing = {k["name"] for k in kinds} ^ set(metrics)
    if missing:
        raise RuntimeError(f"metric set differs from BENCHMARK.json: {sorted(missing)}")
    runs = out / "runs"
    runs.mkdir(parents=True, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    record = {"meta": meta, "metrics": metrics, "passes": w.passes}
    if args.trace:
        (runs / f"{tag}.spans.json").write_text(json.dumps(trace.spans))
    (runs / f"{tag}.json").write_text(json.dumps(record, indent=1))
    print("run record:", json.dumps(meta))
    for f in w.failures:
        print(f"FAILED: {f}", file=sys.stderr)
    ok = not w.failures
    result = {
        "correct": ok,
        "attempted": w.attempted,
        "failed": len(w.failures),
        "metrics": {
            k["name"]: {"value": metrics[k["name"]], "unit": k["unit"]} for k in kinds
        },
    }
    print(json.dumps(result))
    return 0 if ok else 1


def end_to_end(w) -> dict:
    """The bounded end-to-end metrics. Work is measured in CPU seconds of
    the driver JVM (which runs every Spark task in local mode) plus this
    process, set-up included: on a shared host, steal time makes
    wall-clock figures of identical runs differ by more than the bounds
    (see wall_metrics), and the JVM's peak RSS, which follows GC heap
    sizing, nearly so (it is a per-layer metric and in the run record).
    The per-query figures are the median and the 90th percentile of every
    query execution in the timed passes: per-query CPU is blurred by
    background JVM work (JIT compilation, GC) that lands on whichever
    query is running. On analytic_warm (five seeds, 4-core host) these
    two spread 0.08 and 0.11 (IQR/median); reducing each query to its
    median, mean or minimum first, then taking the median and the
    maximum over queries, spread 0.15–0.30."""
    cpu_ms = [x for p in w.passes for x in p["query_cpu_ms"]]
    return {
        "setup_s": sum(w.setup_cpu.values()),
        "cpu_s": statistics.median(p["cpu_s"] for p in w.passes),
        "query_cpu_ms_p50": statistics.median(cpu_ms),
        "query_cpu_ms_p90": statistics.quantiles(cpu_ms, n=10)[-1],
    }


def wall_metrics(passes: list[dict]) -> dict:
    """Wall-clock figures of the given passes: pass wall time, rows per
    second, and per-batch / per-query latency as median and tail (value,
    percentile, sample count)."""
    from workloads import _p50, tail

    batch = [x for p in passes for x in p["batch_ms"]]
    query = [x for p in passes for x in p["query_ms"]]
    return {
        "wall_s": statistics.median(p["wall_s"] for p in passes),
        "rows_per_s": statistics.median(p["rows"] / p["wall_s"] for p in passes),
        "batch_latency_p50_ms": _p50(batch),
        "batch_latency_tail": tail(batch),
        "query_latency_p50_ms": statistics.median(query),
        "query_latency_tail": tail(query),
    }


#: Span-name prefixes reported as ``self_s.<prefix>``: time in those spans
#: minus their children's. ``operators.analysis`` is the time inside calls
#: of the analysis functions (plan building) on both workloads; executing
#: the plans they build is ``operators.analysis.<fn>_s``.
SELF_TIME_LAYERS = (
    "sources",
    "streaming",
    "operators.analysis",
    "registry.query",
    "registry.plan",
    "registry.exec",
    "extensions.dedup",
)


def cold_build(w, trace, counters) -> dict:
    """Memo build time and the storage memory the memos then hold, from one
    traced pass after ``memo_clear()`` (analytic workloads; the replay
    builds no memo)."""
    keys = [f"extensions.dedup.{f}" for f in ("memo_materialize", "memo_scalar")]
    before = sum(trace.times[k] for k in keys)
    if w.name == "analytic_warm":
        from crypto_streaming_lakehouse_spark.extensions import dedup

        trace.enabled, trace.pass_no = True, "cold"
        dedup.memo_clear()
        w.run_pass(w.n_pass, counters)
        trace.enabled = False
    return {
        "extensions.dedup.memo_build_s": sum(trace.times[k] for k in keys) - before,
        "extensions.dedup.memo_storage_bytes": counters.storage_bytes(),
    }


def per_layer(w, trace, counters, base: list, traced: list) -> dict:
    """Per-layer metrics of the traced passes, per pass."""
    from probes import SPARK_COUNTERS
    from workloads import family_heads

    n = len(traced)
    L = w.layer
    m: dict[str, float] = {
        "setup.wall_s": sum(w.setup_wall.values()),
        "session.start_s": w.setup_wall["session_start"],
        "sources.layout_build_s": w.setup_wall.get("layout_build", 0.0),
        "sources.load_table_calls": trace.counts["sources.load_table"] / n,
    }
    for layer in ("bronze", "silver", "gold"):
        for k in (
            "batches",
            "rows_in",
            "batch_ms_p50",
            "batch_ms_tail",
            "add_batch_ms",
            "commit_ms",
            "planning_ms",
            "get_batch_ms",
        ):
            m[f"streaming.{layer}.{k}"] = L[f"streaming.{layer}.{k}"]
    for layer in ("silver", "gold"):
        for k in (
            "state_rows",
            "state_bytes",
            "state_commit_ms",
            "rows_dropped_by_watermark",
            "rows_removed",
        ):
            m[f"streaming.{layer}.{k}"] = L[f"streaming.{layer}.{k}"]
    rows_in = L["streaming.silver.rows_in"]
    silver_rows = w.meta.get("silver_rows", 0)
    m["transforms.dedup_dropped_rows"] = (
        rows_in - silver_rows - L["streaming.silver.rows_dropped_by_watermark"]
        if rows_in
        else 0
    )
    m["transforms.dedup_keep_ratio"] = silver_rows / rows_in if rows_in else 0.0
    m["operators.bars.rows_out"] = w.meta.get("gold_rows", 0)
    # Execution time of the plans each analysis function built, and the
    # rows those plans returned (the replay's analysis frames; on
    # analytic_warm, the queries that call the analysis layer).
    for name in ("anomaly_signals", "top_k_recent"):
        key = f"operators.analysis.{name}_s"
        m[key] = L[key] / n
    m["operators.analysis.rows_out"] = (
        w.analysis_rows() if w.name == "analytic_warm" else w.meta["analysis_rows"]
    )
    m["registry.plan_s"] = L["registry.plan_s"] / n
    m["registry.exec_s"] = L["registry.exec_s"] / n
    for fam in family_heads():
        m[f"registry.{fam}.exec_s"] = L[f"registry.{fam}.exec_s"] / n
    calls = sum(
        trace.counts[f"extensions.dedup.{f}"] for f in ("memo_materialize", "memo_scalar")
    )
    misses = sum(
        trace.counts[f"extensions.dedup.{f}.miss"]
        for f in ("memo_materialize", "memo_scalar")
    )
    m["extensions.dedup.memo_hits"] = (calls - misses) / n
    m["extensions.dedup.memo_misses"] = misses / n
    m["extensions.dedup.memo_hit_ratio"] = (calls - misses) / calls if calls else 0.0
    for k in SPARK_COUNTERS:
        m[f"spark.{k}"] = counters.total[k] / n
    selft = trace.self_times()
    for layer in SELF_TIME_LAYERS:
        m[f"self_s.{layer}"] = (
            sum(v for k, v in selft.items() if k == layer or k.startswith(layer + "."))
            / n
        )
    untraced = statistics.median(p["wall_s"] for p in base)
    m["trace.overhead_ratio"] = (
        statistics.median(p["wall_s"] for p in traced) / untraced - 1.0
    )
    wall = wall_metrics(base)
    for k in ("wall_s", "rows_per_s", "batch_latency_p50_ms", "query_latency_p50_ms"):
        m[f"wall.{k}"] = wall[k]
    m["wall.batch_latency_tail_ms"] = wall["batch_latency_tail"][0]
    m["wall.query_latency_tail_ms"] = wall["query_latency_tail"][0]
    m["trace.spans"] = len(trace.spans) / n
    return m


if __name__ == "__main__":
    sys.exit(main())
