"""The closed-loop workloads.

Each workload object has ``setup()`` (input generation, scan layout,
warm-up), ``run_pass(i)`` (one closed-loop pass: the next operation starts
only when the previous one has completed) and ``check()`` (output checks,
outside the timed region). Every pass appends one record to
``self.passes``: wall and CPU seconds, rows processed, and per-operation
samples — ``batch_ms`` (one per micro-batch; replay only), ``query_ms``
and ``query_cpu_ms`` (one per query).
"""

from __future__ import annotations

import json
import os
import pathlib
import random
import shutil
import statistics
import time
from collections import defaultdict

import checks
import datagen
from probes import TRACE

#: Passes run after the first (collecting) warm-up pass and before timing.
#: A fresh JVM is still compiling: on a 4-core host a pass's CPU falls by
#: a sixth or more from each pass to the next over the first five, so the
#: fixed count of timed passes matters more than a longer warm-up.
WARM_PASSES = 1

ANALYSIS_FNS = ("anomaly_signals", "gap_signal", "top_k_recent")


class Workload:
    name = ""
    #: Timed passes per run (more if ``--seconds`` has not passed): a
    #: fixed count, because with the JVM still warming, the median of a
    #: varying number of passes varies with the count.
    timed_passes = 1

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.work: pathlib.Path = ctx.work
        self.passes: list[dict] = []
        self.cpu = ctx.cpu
        self.failures: list[str] = []
        self.attempted = 0
        #: set-up steps: wall seconds, and CPU seconds (driver JVM + this
        #: process) — the median over the repetitions of a repeated step
        self.setup_wall: dict[str, float] = {}
        self.setup_cpu: dict[str, float] = {}
        self.layer: defaultdict = defaultdict(float)
        self.meta: dict = {}

    def setup_step(self, step: str, fn, reps: int = 1) -> None:
        """Run one set-up step ``reps`` times; record its median wall and
        CPU seconds."""
        wall, cpu = [], []
        for _ in range(reps):
            t0, c0 = time.perf_counter(), self.cpu()
            fn()
            wall.append(time.perf_counter() - t0)
            cpu.append(self.cpu() - c0)
        self.setup_wall[step] = statistics.median(wall)
        self.setup_cpu[step] = statistics.median(cpu)

    def new_pass(self) -> dict:
        p = {"batch_ms": [], "query_ms": [], "query_cpu_ms": []}
        self.passes.append(p)
        return p

    def timed_op(self, p: dict, what: str, fn) -> None:
        """Run one query-like operation, recording its wall and CPU time."""
        t0, c0 = time.perf_counter(), self.cpu()
        self.op(what, fn)
        p["query_ms"].append((time.perf_counter() - t0) * 1000.0)
        p["query_cpu_ms"].append((self.cpu() - c0) * 1000.0)

    def op(self, what: str, fn):
        """Run one operation, counting it; an exception is a failure."""
        self.attempted += 1
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 - every failure is reported
            self.failures.append(f"{what}: {type(e).__name__}: {str(e)[:300]}")
            return None

    def check_op(self, what: str, fn) -> None:
        err = self.op(what, fn)
        if err:
            self.failures.append(f"{what}: {err}")


# ---------------------------------------------------------------------------
# Analytic workload
# ---------------------------------------------------------------------------


class AnalyticWarm(Workload):
    """One query per headline family, in a seed-chosen order per pass, on
    a warm session with warm memos."""

    name = "analytic_warm"
    timed_passes = 3

    def setup(self, reps: int) -> None:
        from crypto_streaming_lakehouse_spark.sources import scan_cache
        from crypto_streaming_lakehouse_spark.sources.tables import TABLES

        self.queries = tuple(family_heads().values())
        self.sf_dir = str(self.work / "data" / f"sf{self.ctx.sf}")
        counts = {}

        def gen():
            counts.update(
                datagen.write_tables(pathlib.Path(self.sf_dir), self.ctx.sf, self.ctx.seed)
            )

        self.setup_step("input_gen", gen, reps)

        layouts = iter(range(reps))

        def layout():
            # A fresh cache dir per repetition, so each one really builds.
            os.environ["SPARK_GRAFT_SCAN_CACHE_DIR"] = str(
                self.work / f"scan_cache{next(layouts)}"
            )
            for t in TABLES:
                scan_cache.cached_path(self.sf_dir, t)

        self.setup_step("layout_build", layout, reps)
        self.meta["input_rows"] = counts
        self.meta["queries"] = list(self.queries)

        from crypto_streaming_lakehouse_spark.registry import REGISTRY

        self.registry = REGISTRY
        self.rows_out: dict[str, int] = {}
        self.digests: dict[str, dict[str, tuple]] = {"cold": {}, "warm": {}}
        #: analysis function -> the queries whose plans call it
        self.analysis_users: dict[str, set] = defaultdict(set)

        def warmup():
            # One collecting pass with cold memos (its digests are checked
            # after the timed loop), then WARM_PASSES passes as timed,
            # until the JIT has settled.
            for name in self.queries:
                self.op(f"warmup {name}", lambda n=name: self._collect(n, "cold"))
            for i in range(WARM_PASSES):
                self.run_pass(-1 - i, self.ctx.counters)

        self.setup_step("warmup", warmup)

    def _collect(self, name: str, path: str) -> None:
        """Run one query to completion and keep its canonical digest."""
        df = self.registry[name].fn(self.spark, self.sf_dir)
        rows = df.collect()
        self.digests[path][name] = (
            sorted(df.columns),
            checks.canonical_digest(df.columns, rows),
        )
        self.rows_out[name] = len(rows)

    def order(self, i: int) -> list[str]:
        names = list(self.queries)
        random.Random(self.ctx.seed * 1000 + i).shuffle(names)
        return names

    def _query(self, name: str, counters) -> None:
        fam = self.registry[name].tags[0]
        before = {f: TRACE.counts[f"operators.analysis.{f}"] for f in ANALYSIS_FNS}
        with TRACE.span(f"registry.query.{name}"), counters.measure():
            t0 = time.perf_counter()
            with TRACE.span("registry.plan"):
                df = self.registry[name].fn(self.spark, self.sf_dir)
            t1 = time.perf_counter()
            with TRACE.span("registry.exec"):
                df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        if TRACE.enabled:
            self.layer["registry.plan_s"] += t1 - t0
            self.layer["registry.exec_s"] += t2 - t1
            self.layer[f"registry.{fam}.exec_s"] += t2 - t1
            # Execution time of a plan the analysis layer built, as on
            # medallion_replay.
            for f in ANALYSIS_FNS:
                if TRACE.counts[f"operators.analysis.{f}"] > before[f]:
                    self.layer[f"operators.analysis.{f}_s"] += t2 - t1
                    self.analysis_users[f].add(name)

    def run_pass(self, i: int, counters) -> None:
        p = self.new_pass()
        t0, c0 = time.perf_counter(), self.cpu()
        for name in self.order(i):
            self.timed_op(p, name, lambda n=name: self._query(n, counters))
        p["wall_s"] = time.perf_counter() - t0
        p["cpu_s"] = self.cpu() - c0
        p["rows"] = sum(self.rows_out.get(n, 0) for n in self.queries)

    def check(self) -> None:
        """Each query's output, from its first execution (cold memos) and
        from one more execution on the warm session (the memo-hit path
        the timed passes take), against its DuckDB oracle SQL."""
        for name in self.queries:
            self.op(f"rerun {name}", lambda n=name: self._collect(n, "warm"))
        con = checks.connect(self.sf_dir, self.ctx.cores)
        for name in self.queries:
            rel = con.sql(self.registry[name].sql)
            want = (
                sorted(rel.columns),
                checks.canonical_digest(rel.columns, rel.fetchall()),
            )
            for path, got in self.digests.items():
                if name not in got:
                    continue  # its execution already counted as a failure

                def one(g=got[name]):
                    if g != want:
                        return (
                            f"digest differs from DuckDB oracle (spark rows="
                            f"{g[1][0]}, oracle rows={want[1][0]})"
                        )
                    return None

                self.check_op(f"check {path} {name}", one)
        con.close()

    def analysis_rows(self) -> int:
        users = set().union(*self.analysis_users.values())
        return sum(self.rows_out.get(n, 0) for n in users)


def family_heads() -> dict[str, str]:
    """Headline family (first tag) → its first query in bench.py's
    HEADLINE list (14 families)."""
    from bench import HEADLINE
    from crypto_streaming_lakehouse_spark.registry import REGISTRY

    heads: dict[str, str] = {}
    for name in HEADLINE:
        heads.setdefault(REGISTRY[name].tags[0], name)
    return heads


# ---------------------------------------------------------------------------
# Medallion replay
# ---------------------------------------------------------------------------

#: Replay shape: DAYS × CHUNKS_PER_DAY chunks, one chunk per bronze (and
#: silver, and gold) micro-batch, FILES_PER_CHUNK record files per chunk.
DAYS = 3
CHUNKS_PER_DAY = 2
FILES_PER_CHUNK = 2
TRADES = 19_500
WARM_CHUNKS = 2
#: Closed-loop rounds of the three analysis queries over the landed gold
#: table per pass, so their latency has a median of several samples.
ANALYSIS_ROUNDS = 4

LAYERS = ("bronze", "silver", "gold")


class MedallionReplay(Workload):
    name = "medallion_replay"

    def setup(self, reps: int) -> None:
        info = {}

        def gen(out=self.work / "replay", days=DAYS, trades=TRADES):
            shutil.rmtree(out, ignore_errors=True)
            plan = datagen.replay_plan(trades, days, CHUNKS_PER_DAY, self.ctx.seed)
            info.update(datagen.write_replay(out, plan, FILES_PER_CHUNK))

        self.setup_step("input_gen", gen, reps)
        self.meta["input"] = dict(info)
        self.replay_dir = self.work / "replay"
        # Warm-up: the same cascade over a short replay (class loading,
        # codegen, RocksDB native library), then the analysis layer.
        warm_days = WARM_CHUNKS // CHUNKS_PER_DAY

        def warmup():
            gen(self.work / "warm_replay", warm_days, TRADES * warm_days // DAYS)
            self.op(
                "warmup",
                lambda: self._cascade(
                    self.work / "warm_replay",
                    self.work / "warm",
                    self.ctx.counters,
                    self.new_pass(),
                    rounds=1,
                ),
            )

        self.setup_step("warmup", warmup)

    def _stream(self, layer: str, start, counters) -> None:
        with TRACE.span(f"streaming.{layer}"), counters.measure():
            q = start()
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(str(q.exception())[:300])
        progress = [json.loads(p.json) for p in q.recentProgress]
        self.progress[layer] = progress

    def _cascade(
        self,
        replay: pathlib.Path,
        out: pathlib.Path,
        counters,
        p: dict,
        rounds: int = ANALYSIS_ROUNDS,
    ) -> None:
        from crypto_streaming_lakehouse_spark.schemas import SILVER_SCHEMA
        from crypto_streaming_lakehouse_spark.sources.formats import stream_writer
        from crypto_streaming_lakehouse_spark.streaming import pipeline as P

        spark = self.spark
        shutil.rmtree(out, ignore_errors=True)
        d = {k: str(out / k) for k in ("bronze", "silver", "gold", "ckpt")}
        self.progress = {}
        records = (
            spark.readStream.schema(RECORD_DDL)
            .option("maxFilesPerTrigger", FILES_PER_CHUNK)
            .parquet(str(replay / "records"))
        )
        avail = {"availableNow": True}
        self.op(
            "stream bronze",
            lambda: self._stream(
                "bronze",
                lambda: P.start_records_to_bronze(
                    records,
                    bronze_dir=d["bronze"],
                    checkpoint=d["ckpt"] + "/bronze",
                    trigger=avail,
                ),
                counters,
            ),
        )
        self.op(
            "stream silver",
            lambda: self._stream(
                "silver",
                lambda: P.start_silver_job(
                    spark,
                    bronze_dir=d["bronze"],
                    silver_dir=d["silver"],
                    checkpoint=d["ckpt"] + "/silver",
                    max_files_per_trigger=FILES_PER_CHUNK,
                ),
                counters,
            ),
        )

        def start_gold():
            # start_gold_job has no file cap: the same plan, capped so each
            # gold micro-batch reads exactly one silver micro-batch's files
            # (one per shuffle partition).
            P.configure_state_store(spark)
            silver = (
                spark.readStream.schema(SILVER_SCHEMA)
                .option("maxFilesPerTrigger", self.ctx.shuffle_streaming)
                .parquet(d["silver"])
            )
            return stream_writer(
                P.silver_stream_to_gold(silver),
                path=d["gold"],
                checkpoint=d["ckpt"] + "/gold",
                partition_by=["bar_date", "symbol"],
                trigger=avail,
            ).start()

        self.op("stream gold", lambda: self._stream("gold", start_gold, counters))
        self.dirs = d
        for layer in LAYERS:
            for prog in self.progress.get(layer, ()):
                if prog["numInputRows"] > 0:
                    ms = float(prog["durationMs"]["triggerExecution"])
                    p["batch_ms"].append(ms)
        gold = spark.read.parquet(d["gold"])
        frames = analysis_frames(gold)
        for _ in range(rounds):
            for name, df in frames.items():
                self.timed_op(
                    p, name, lambda n=name, f=df: self._analysis(n, f, counters)
                )

    def _analysis(self, name: str, df, counters) -> None:
        with TRACE.span(f"analysis_frame.exec.{name}"), counters.measure():
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
        if TRACE.enabled:
            self.layer[f"operators.analysis.{name}_s"] += dt

    def run_pass(self, i: int, counters) -> None:
        p = self.new_pass()
        t0, c0 = time.perf_counter(), self.cpu()
        self._cascade(self.replay_dir, self.work / f"pass{i}", counters, p)
        p["wall_s"] = time.perf_counter() - t0
        p["cpu_s"] = self.cpu() - c0
        p["rows"] = self.meta["input"]["records"]
        self.meta["batches_per_pass"] = len(p["batch_ms"])
        if i > 0:
            shutil.rmtree(self.work / f"pass{i - 1}", ignore_errors=True)
        if TRACE.enabled:
            self._stream_layers()

    def _stream_layers(self) -> None:
        """Per-layer streaming metrics of the last pass, from
        StreamingQueryProgress."""
        L = self.layer
        for layer in LAYERS:
            every = self.progress.get(layer, ())
            ps = [p for p in every if p["numInputRows"] > 0]
            pre = f"streaming.{layer}."

            def dur(k):
                return [float(p["durationMs"].get(k, 0)) for p in ps]

            trig = dur("triggerExecution")
            L[pre + "batches"] = len(ps)
            L[pre + "rows_in"] = sum(p["numInputRows"] for p in ps)
            L[pre + "batch_ms_p50"] = _p50(trig)
            L[pre + "batch_ms_tail"] = tail(trig)[0]
            L[pre + "add_batch_ms"] = _p50(dur("addBatch"))
            L[pre + "commit_ms"] = _p50(
                [a + b for a, b in zip(dur("walCommit"), dur("commitOffsets"))]
            )
            L[pre + "planning_ms"] = _p50(dur("queryPlanning"))
            L[pre + "get_batch_ms"] = _p50(dur("getBatch"))
            ops = [p["stateOperators"][0] for p in every if p.get("stateOperators")]
            if not ops:
                continue
            L[pre + "state_rows"] = max(o["numRowsTotal"] for o in ops)
            L[pre + "state_bytes"] = max(o["memoryUsedBytes"] for o in ops)
            L[pre + "state_commit_ms"] = _p50([o["commitTimeMs"] for o in ops])
            L[pre + "rows_dropped_by_watermark"] = sum(
                o.get("numRowsDroppedByWatermark", 0) for o in ops
            )
            L[pre + "rows_removed"] = sum(o.get("numRowsRemoved", 0) for o in ops)

    def check(self) -> None:
        con = checks.connect(None, self.ctx.cores)
        checks.register_replay(
            con,
            str(self.replay_dir / "truth.parquet"),
            self.dirs["silver"],
            self.dirs["gold"],
        )
        self.check_op("check silver", lambda: checks.check_silver(con))
        self.check_op("check gold", lambda: checks.check_gold(con))
        gold = self.spark.read.parquet(self.dirs["gold"])
        frames = analysis_frames(gold)
        rows: list[int] = []
        for name, sql in analysis_oracle_sql("gold_landed").items():
            self.check_op(
                f"check {name}",
                lambda n=name, s=sql: checks.compare(frames[n], con, s, rows),
            )
        self.meta["analysis_rows"] = sum(rows)
        counts = con.sql(
            """SELECT (SELECT count(*) FROM silver_landed),
                      (SELECT count(*) FROM gold_landed)"""
        ).fetchone()
        self.meta["silver_rows"], self.meta["gold_rows"] = counts
        con.close()


#: Spark schema of the Kafka-shaped replay records (datagen.RECORD_SCHEMA).
RECORD_DDL = (
    "key BINARY, value BINARY, topic STRING, partition INT, offset BIGINT, "
    "timestamp TIMESTAMP, timestampType INT"
)


#: Analysis layer over landed gold, as the bars-family registry queries
#: shape it (q_zscore_anomaly, q_gap_pct, q_topk_recent), so each output
#: has a DuckDB oracle: that query's SQL with its bars CTE replaced by the
#: landed gold table.
ANALYSIS_QUERIES = {
    "anomaly_signals": "q_zscore_anomaly",
    "gap_signal": "q_gap_pct",
    "top_k_recent": "q_topk_recent",
}


def analysis_frames(gold) -> dict:
    from pyspark.sql import functions as F

    from crypto_streaming_lakehouse_spark.operators import analysis as A
    from crypto_streaming_lakehouse_spark.registry import r6, r6z

    z = [r6z("z_ret", "z_ret"), r6z("z_vol", "z_vol"), r6("gap_pct", "gap_pct")]
    recent = A.anomaly_signals(gold).where(F.col("symbol") == "purchase")
    return {
        "anomaly_signals": A.anomaly_signals(gold).select(
            "symbol", "bar_start", *z, "is_return_anom", "is_volume_anom"
        ),
        "gap_signal": A.gap_signal(A.with_ts_s(gold)).select(
            "symbol", "bar_start", "next_open", r6("gap_pct", "gap_pct")
        ),
        "top_k_recent": A.top_k_recent(recent, 180).select(
            "symbol", "bar_start", "close", r6("vwap", "vwap"), "volume", *z
        ),
    }


def analysis_oracle_sql(view: str) -> dict[str, str]:
    from crypto_streaming_lakehouse_spark.registry import BARS_CTE, REGISTRY

    bars = f"WITH bars AS (SELECT * FROM {view})\n"
    out = {}
    for name, q in ANALYSIS_QUERIES.items():
        sql = REGISTRY[q].sql
        if not sql.startswith(BARS_CTE):
            raise ValueError(f"{q}: oracle SQL no longer starts with BARS_CTE")
        out[name] = bars + sql[len(BARS_CTE):]
    return out


def _p50(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs) -> tuple[float, float, int]:
    """(value, percentile, n): the highest order statistic with at least
    10 samples above it; below 20 samples, the maximum."""
    n = len(xs)
    if not n:
        return 0.0, 0.0, 0
    s = sorted(xs)
    k = n - 11 if n >= 20 else n - 1
    return float(s[k]), 100.0 * (k + 1) / n, n


WORKLOADS = {
    w.name: w for w in (MedallionReplay, AnalyticWarm)
}
