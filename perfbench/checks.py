"""Output checks against DuckDB, run outside the timed region.

Every check compares an order-insensitive canonical digest
(``tests/oracle.py``: row count + commutative sha256 fold of canonical
rows) of the program's output with the digest of a DuckDB oracle over the
same generated input. A check returns ``None`` when it passes and a
one-line reason when it fails.
"""

from __future__ import annotations

import duckdb

from tests.oracle import canonical_digest, duckdb_connect

WATERMARK_MS = 120_000


def connect(sf_dir: str | None, threads: int) -> duckdb.DuckDBPyConnection:
    con = duckdb_connect(sf_dir) if sf_dir else duckdb.connect()
    con.sql("SET TimeZone='UTC'")
    con.sql(f"SET threads={threads}")
    return con


def _digest(cols, rows):
    return sorted(cols), canonical_digest(list(cols), rows)


def compare(spark_df, con, sql: str, n_rows: list | None = None) -> str | None:
    """Spark DataFrame vs DuckDB SQL, by canonical digest. The Spark row
    count is appended to ``n_rows`` if given."""
    rows = spark_df.collect()
    if n_rows is not None:
        n_rows.append(len(rows))
    s = _digest(spark_df.columns, rows)
    rel = con.sql(sql)
    d = _digest(rel.columns, rel.fetchall())
    if s[0] != d[0]:
        return f"columns differ: spark={s[0]} duckdb={d[0]}"
    if s[1] != d[1]:
        return f"digest differs: spark rows={s[1][0]} duckdb rows={d[1][0]}"
    return None


def compare_sql(con, got: str, want: str) -> str | None:
    """Two DuckDB relations (landed output vs oracle), by canonical digest."""
    a, b = con.sql(got), con.sql(want)
    da, db = _digest(a.columns, a.fetchall()), _digest(b.columns, b.fetchall())
    if da != db:
        return f"landed rows={da[1][0]} oracle rows={db[1][0]} (digest differs)"
    return None


# ---------------------------------------------------------------------------
# Medallion replay oracle
# ---------------------------------------------------------------------------


def register_replay(con, truth: str, silver: str, gold: str) -> None:
    """Views over the replay ground truth and the landed silver/gold
    tables, plus the oracle's expected silver and gold.

    Expected silver: a row replayed in chunk c survives iff its event time
    is later than the watermark in force for c — the max event time of
    everything replayed in chunks < c, minus 2 minutes — then one row per
    dedup key. Expected gold: 1-minute OHLCV/VWAP bars over expected
    silver (the BARS_CTE aggregation of the registry)."""
    con.sql(f"CREATE OR REPLACE VIEW truth AS SELECT * FROM '{truth}'")
    con.sql(
        f"""CREATE OR REPLACE VIEW silver_landed AS
        SELECT * FROM read_parquet('{silver}/**/*.parquet', hive_partitioning=true)"""
    )
    con.sql(
        f"""CREATE OR REPLACE VIEW gold_landed AS
        SELECT * FROM read_parquet('{gold}/**/*.parquet', hive_partitioning=true)"""
    )
    con.sql(
        f"""CREATE OR REPLACE VIEW silver_expected AS
        WITH cm AS (SELECT chunk, max(ts_event) AS mx FROM truth GROUP BY chunk),
        wm AS (
          SELECT chunk,
                 max(mx) OVER (ORDER BY chunk ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING) - {WATERMARK_MS} AS wm
          FROM cm)
        SELECT DISTINCT symbol, make_timestamp(ts_event * 1000) AS event_time,
               price, CAST(1.0 AS DOUBLE) AS size, side
        FROM truth JOIN wm USING (chunk)
        WHERE wm.wm IS NULL OR ts_event > wm.wm"""
    )
    con.sql(
        """CREATE OR REPLACE VIEW gold_expected AS
        SELECT symbol,
               date_trunc('minute', event_time) AS bar_start,
               date_trunc('minute', event_time) + INTERVAL 1 MINUTE AS bar_end,
               arg_min(price, event_time) AS "open", max(price) AS high,
               min(price) AS low, arg_max(price, event_time) AS "close",
               sum(size) AS volume, sum(price * size) / sum(size) AS vwap,
               count(*) AS trades
        FROM silver_expected
        GROUP BY symbol, date_trunc('minute', event_time)"""
    )


SILVER_COLS = "symbol, event_time, price, size, side"
GOLD_COLS = (
    "symbol, bar_start, bar_end, \"open\", high, low, \"close\", volume, "
    "CAST(vwap AS REAL) AS vwap, trades"
)


def check_silver(con) -> str | None:
    """Landed silver ≡ expected silver on the dedup identity, with the
    payload columns parsed as the reference job does."""
    bad = con.sql(
        """SELECT count(*) FROM silver_landed
        WHERE exchange <> 'kraken' OR order_type <> 'market'
           OR event_date <> CAST(event_time AS DATE)
           OR ingest_time <> event_time + INTERVAL 50 MILLISECOND"""
    ).fetchone()[0]
    if bad:
        return f"{bad} silver rows with wrongly parsed payload columns"
    return compare_sql(
        con,
        f"SELECT {SILVER_COLS} FROM silver_landed",
        f"SELECT {SILVER_COLS} FROM silver_expected",
    )


def check_gold(con) -> str | None:
    """Landed gold ≡ the watermark-closed prefix of expected gold: every
    bar whose window ended at or before the final watermark (max silver
    event time − 2 min). Bars within one second of that boundary may be
    either emitted or still open, so they are left out on both sides."""
    final_wm = (
        "(SELECT max(event_time) FROM silver_expected)"
        f" - INTERVAL {WATERMARK_MS} MILLISECOND"
    )
    edge = f"abs(epoch_ms(bar_end) - epoch_ms({final_wm})) < 1000"
    return compare_sql(
        con,
        f"SELECT {GOLD_COLS} FROM gold_landed WHERE NOT ({edge})",
        f"SELECT {GOLD_COLS} FROM gold_expected "
        f"WHERE bar_end <= {final_wm} AND NOT ({edge})",
    )
