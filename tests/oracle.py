"""Local replica of the driver's DuckDB-oracle comparison.

Runs a registry query on Spark and its oracle SQL on DuckDB over the same
parquet fixtures, then compares row count, column names, and an
order-insensitive canonical form of all values. Keeping this strict locally
means driver-side CORRECTNESS_r{N}.json should never surprise us.
"""

from __future__ import annotations

import math
import threading
import time
from datetime import date, datetime
from decimal import Decimal

import duckdb

from crypto_streaming_lakehouse_spark.sources.tables import TABLES


def duckdb_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.sql("SET TimeZone='UTC'")
    for t in TABLES:
        con.sql(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def capped(con: duckdb.DuckDBPyConnection, timeout_s: float):
    """A runner of DuckDB calls on ``con`` that share one budget of
    ``timeout_s`` seconds: ``run = capped(con, t); run(fn)`` calls ``fn``
    with the interrupt armed for the REMAINING budget and disarmed once it
    returns, so time spent between calls (a Python digest of a fetched
    batch) does not count against the engine's cap. Raises
    ``duckdb.InterruptException`` when the budget runs out. A
    ``timeout_s`` of 0 or less runs ``fn`` uncapped.

    The interrupt is guarded so it cannot fire after a call finishes and
    poison the shared connection: an unguarded timer could fire between
    the call returning and the timer's cancel, and the NEXT call would
    die with a spurious InterruptException."""
    lock = threading.Lock()
    state = {"armed": False, "fired": False}
    budget = [timeout_s]

    def _interrupt() -> None:
        with lock:
            if state["armed"]:
                state["fired"] = True
                con.interrupt()

    def run(fn):
        if timeout_s <= 0:
            return fn()
        if budget[0] <= 0:
            raise duckdb.InterruptException()
        t0 = time.monotonic()
        with lock:
            state["armed"] = True
            state["fired"] = False
        timer = threading.Timer(budget[0], _interrupt)
        timer.start()
        try:
            return fn()
        finally:
            with lock:
                state["armed"] = False
                fired = state["fired"]
            timer.cancel()
            budget[0] -= time.monotonic() - t0
            # The timer can still have fired between the call
            # returning and the lock acquisition; a no-query
            # interrupt is buffered and would kill the NEXT call.
            # Drain it (ADVICE r10) — but ONLY when the timer
            # actually fired: the drain runs another statement on
            # the shared connection, which CLOSES the in-flight
            # streaming result a caller may still be fetching from,
            # truncating the oracle stream and flipping hash_match
            # on perfectly fast rows (observed on the first capped
            # sf1.0 update: 6 sub-second document queries FAILed
            # under a 600 s cap and passed uncapped — r14
            # optimization round). When the timer fired, the call
            # was interrupted and its result is abandoned anyway.
            if fired:
                try:
                    con.sql("SELECT 1").fetchall()
                except duckdb.InterruptException:
                    pass

    return run


def _canon(v):
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0:
            v = 0.0  # -0.0 → 0.0
        return f"{v:.6f}".rstrip("0").rstrip(".") or "0"
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def canonical_rows(cols: list[str], rows) -> list[str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(_canon(r[i]) for i in order) for r in rows)


def compare(spark_df, con: duckdb.DuckDBPyConnection, sql: str) -> None:
    s_cols = spark_df.columns
    s_rows = [tuple(r) for r in spark_df.collect()]
    rel = con.sql(sql)
    d_cols = rel.columns
    d_rows = rel.fetchall()

    assert sorted(s_cols) == sorted(d_cols), (
        f"column mismatch: spark={sorted(s_cols)} duckdb={sorted(d_cols)}"
    )
    assert len(s_rows) == len(d_rows), (
        f"row count mismatch: spark={len(s_rows)} duckdb={len(d_rows)}"
    )
    s_canon = canonical_rows(s_cols, s_rows)
    d_canon = canonical_rows(d_cols, d_rows)
    if s_canon != d_canon:
        diffs = [
            (a, b) for a, b in zip(s_canon, d_canon) if a != b
        ][:5]
        raise AssertionError(
            f"value mismatch ({sum(1 for a, b in zip(s_canon, d_canon) if a != b)}"
            f" of {len(s_canon)} rows); first diffs (spark vs duckdb): {diffs}"
        )


def canonical_digest(cols: list[str], rows_iter) -> tuple[int, str]:
    """Order-insensitive CONSTANT-MEMORY digest of a result set: each
    row's canonical string (same ``_canon`` values and name-sorted
    column order as ``canonical_rows``) is sha256-hashed and the 256-bit
    hashes combined by modular addition — a commutative fold, so digest
    equality == multiset equality of canonical rows (collision odds
    ~2^-256). Returns ``(row_count, digest_hex)``.

    This exists to de-specialize the sf1.0 attestation of giant results
    (VERDICT r13 item 4: q_edit_distance_join's ~57 GB oracle compare
    needed its own 32 GB-driver shard when both sides were materialized
    as sorted lists). Feed it ``df.toLocalIterator()`` on the Spark side
    and a ``fetchmany`` loop on the DuckDB side and the compare is
    O(batch) memory at any scale."""
    import hashlib as _hashlib

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    total = 0
    n = 0
    mask = (1 << 256) - 1
    for r in rows_iter:
        h = _hashlib.sha256(
            "|".join(_canon(r[i]) for i in order).encode()
        ).digest()
        total = (total + int.from_bytes(h, "big")) & mask
        n += 1
    return n, f"{total:064x}"
