"""Outside-in instrumentation: spans, wrapped entry points, Spark counters.

Nothing here edits the package. ``install`` replaces public functions of
the package's modules with timing wrappers, in the defining module and in
every loaded package module that bound the function at import time (the
package's ``__init__`` imports the registry, so those bindings exist
before any wrapper can). Every wrapper checks ``TRACE.enabled`` first;
with tracing off they add one attribute read per call.
"""

from __future__ import annotations

import functools
import importlib
import os
import pathlib
import sys
import time
from collections import Counter, defaultdict

PKG = "crypto_streaming_lakehouse_spark"


class Recorder:
    """In-memory span recorder. A span is (name, start, end, parent,
    workload, pass); spans are written out only when the run ends."""

    def __init__(self) -> None:
        self.enabled = False
        self.workload = ""
        self.pass_no = 0
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.counts: Counter = Counter()
        self.times: defaultdict = defaultdict(float)

    def span(self, name: str):
        return _Span(self, name)

    def self_times(self) -> dict[str, float]:
        """Per-span-name self time: duration minus the children's."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: defaultdict = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s["name"]] += s["end"] - s["start"] - child[i]
        return dict(out)


class _Span:
    def __init__(self, rec: Recorder, name: str) -> None:
        self.rec, self.name = rec, name

    def __enter__(self):
        rec = self.rec
        if not rec.enabled:
            self.idx = None
            return self
        self.idx = len(rec.spans)
        rec.spans.append(
            {
                "name": self.name,
                "start": time.perf_counter(),
                "end": None,
                "parent": rec._stack[-1] if rec._stack else None,
                "workload": rec.workload,
                "pass": rec.pass_no,
            }
        )
        rec._stack.append(self.idx)
        return self

    def __exit__(self, *exc):
        if self.idx is not None:
            self.rec.spans[self.idx]["end"] = time.perf_counter()
            self.rec._stack.pop()
        return False


TRACE = Recorder()


def _wrap(module: str, name: str, span: str, hook=None) -> None:
    mod = importlib.import_module(f"{PKG}.{module}")
    fn = getattr(mod, name)

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if not TRACE.enabled:
            return fn(*args, **kwargs)
        TRACE.counts[span] += 1
        if hook is not None:
            args = hook(args)
        t0 = time.perf_counter()
        with TRACE.span(span):
            try:
                return fn(*args, **kwargs)
            finally:
                TRACE.times[span] += time.perf_counter() - t0

    for m in list(sys.modules.values()):
        if getattr(m, "__name__", "").startswith(PKG):
            for attr, value in list(vars(m).items()):
                if value is fn:
                    setattr(m, attr, wrapper)


def _miss_probe(counter: str):
    """Wrap the memo's build/compute callable (3rd positional argument):
    the memo calls it only on a miss."""

    def hook(args):
        spark, key, build, *rest = args

        def build_probe(*a, **kw):
            TRACE.counts[counter] += 1
            return build(*a, **kw)

        return (spark, key, build_probe, *rest)

    return hook


def install() -> None:
    """Wrap the package entry points the benchmark measures."""
    _wrap("sources.tables", "load_table", "sources.load_table")
    _wrap("sources.scan_cache", "cached_path", "sources.cached_path")
    for name in ("memo_materialize", "memo_scalar"):
        _wrap(
            "extensions.dedup",
            name,
            f"extensions.dedup.{name}",
            _miss_probe(f"extensions.dedup.{name}.miss"),
        )
    _wrap("extensions.dedup", "memo_clear", "extensions.dedup.memo_clear")
    for name in ("start_records_to_bronze", "start_silver_job", "start_gold_job"):
        _wrap("streaming.pipeline", name, f"streaming.{name}")
    for name in ("anomaly_signals", "gap_signal", "top_k_recent"):
        _wrap("operators.analysis", name, f"operators.analysis.{name}")


def cpu_seconds(jvm_pid: int | None = None) -> float:
    """CPU seconds (user + system) used so far by this process and, given
    its pid, by the driver JVM, where Spark runs every task in local mode
    (with its reaped children: the launcher JVM that builds its command
    line). The JVM's JIT compiler threads are included: a fresh JVM is
    still compiling during the timed passes, and the less a pass compiles
    the more it interprets, so the sum spreads less than either part (on
    a 4-core host, analytic_warm's pass CPU without the compiler threads
    spread 3x more across seeds)."""
    t = os.times()
    own = t.user + t.system
    if jvm_pid is None:
        return own
    stat = pathlib.Path(f"/proc/{jvm_pid}/stat").read_text()
    fields = stat.rsplit(")", 1)[1].split()
    ticks = sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK") + own


def host_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs so far, from /proc/stat. The
    share of steal over a run says how busy the other guests of a shared
    host were: on a 4-core guest, while they took a quarter of its CPU
    time, a replay pass's CPU seconds rose by up to 45 %."""
    cpu = pathlib.Path("/proc/stat").read_text().split("\n")[0].split()
    ticks = [int(x) for x in cpu[1:9]]  # user nice system idle iowait irq softirq steal
    return ticks[7], sum(ticks)


# ---------------------------------------------------------------------------
# Spark status-store counters
# ---------------------------------------------------------------------------

SPARK_COUNTERS = (
    "jobs",
    "tasks",
    "task_run_s",
    "gc_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "input_bytes",
)


class SparkCounters:
    """Deltas of the status store's executor summary across one call, plus
    the jobs and stages it started (ids are global and sequential; the
    session retains every job and stage, see run.py). Reads wait for the
    listener bus to drain, so they are taken in traced runs only."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        jvm = spark._jvm
        self.cls = {
            k: jvm.java.lang.Class.forName(f"org.apache.spark.status.{k}")
            for k in ("JobDataWrapper", "StageDataWrapper")
        }
        self.total: Counter = Counter()

    def _snapshot(self) -> Counter:
        self.jsc.listenerBus().waitUntilEmpty()
        store = self.jsc.statusStore()
        ex = store.executorList(True)
        snap = Counter()
        for i in range(ex.size()):
            e = ex.apply(i)
            snap["tasks"] += e.totalTasks()
            snap["task_run_s"] += e.totalDuration() / 1000.0
            snap["gc_s"] += e.totalGCTime() / 1000.0
            snap["shuffle_write_bytes"] += e.totalShuffleWrite()
            snap["shuffle_read_bytes"] += e.totalShuffleRead()
            snap["input_bytes"] += e.totalInputBytes()
        kv = store.store()
        snap["jobs"] = kv.count(self.cls["JobDataWrapper"])
        snap["stages"] = kv.count(self.cls["StageDataWrapper"])
        return snap

    def storage_bytes(self) -> int:
        self.jsc.listenerBus().waitUntilEmpty()
        ex = self.jsc.statusStore().executorList(True)
        return sum(ex.apply(i).memoryUsed() for i in range(ex.size()))

    def _spill(self, first: int, stop: int) -> int:
        store = self.jsc.statusStore()
        spilled = 0
        for sid in range(first, stop):
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # skipped stage: never attempted
                continue
            spilled += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return spilled

    def measure(self):
        return _Delta(self)


class _Delta:
    def __init__(self, c: SparkCounters) -> None:
        self.c = c

    def __enter__(self):
        if TRACE.enabled:
            self.before = self.c._snapshot()
        return self

    def __exit__(self, *exc):
        if not TRACE.enabled:
            return False
        b, a = self.before, self.c._snapshot()
        delta = Counter({k: a[k] - b[k] for k in a if k != "stages"})
        delta["spill_bytes"] = self.c._spill(b["stages"], a["stages"])
        self.c.total.update(delta)
        return False
