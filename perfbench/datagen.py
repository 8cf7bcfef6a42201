"""Seeded input generators for the benchmark.

Two kinds of input, both a pure function of ``seed``:

- ``write_tables``: the ten fixture tables the registry queries read
  (TPC-H-ish star schema + events/documents/embeddings; schemas in
  FIXTURES.md §B), written as one ``<table>.parquet`` file each. The
  parameters reproduce these statistics of the sf0.01 fixture tables
  (TESTDATA.md; fixture / generated with seed 1):

  ==================================  ======================  ==============
  statistic                           fixture                 generated
  ==================================  ======================  ==============
  rows per table                      1500 cust, 15000 ord,   same
                                      60000 li, 10000 ev,
                                      500 docs, 500 emb
  events distinct users               150 (= customers / 10)  150
  events gap ms q10/q50/q90           27.6 k / 181 k / 593 k  26.8 k / 181 k / 598 k
  events value q50, mean              34.6, 49.6              34.9, 50.1
  events (type, minute) groups        9788                    9798
  orderdate range                     1995-01-01..2001-08-01  same
  lineitem per order mean             4.07                    4.07
  l_shipdate <= 1998-09-02 share      0.542                   0.536
  l_shipdate >= o_orderdate share     0.514                   0.517
  part names / brands / types         64 / 25 / 6             64 / 25 / 6
  doc words q10/q50/q90, vocabulary   21 / 56 / 88, 31        19 / 54 / 91, 31
  docs that are a copy + " dup"       25 of 500               26 of 500
  embeddings dim, max-cosine q50      64, 0.367               64, 0.364
  ==================================  ======================  ==============

  With seed 1 the DuckDB oracle output row counts of bench.py's HEADLINE
  queries are within 0.95–1.09 of the fixture's for 52 of the 55. The
  other three count near-duplicate pairs or docs of the 500-doc corpus,
  and over seeds 1–3 they move with the seed by as much as they differ
  from the fixture (q_dedup_simhash 0.72–1.16, q_dedup_embedding_cosine
  0.83–1.03; q_decontaminate flags 2–3 docs, the fixture 6). Over seeds
  1–3 no other count is more than 16 % off. ``calibrate.py`` prints both.
- ``write_replay``: Kafka-record-shaped parquet files for the medallion
  replay (FIXTURES.md §A): events mapped to trades, ≥5 % exact
  duplicates, late rows both inside and beyond the 2-minute watermark,
  five symbols, files written in event-time order.
"""

from __future__ import annotations

import json
import os
import pathlib
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
WORDS = np.array(
    "query row stream the spark line small fast group customer batch sort "
    "value hash filter big data part column order scan a slow agg key "
    "window table merge vector join".split()
)
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
US_PER_DAY = 86_400_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.int64()).cast(pa.timestamp("us"))


def _dates(rng, n: int, start: str, end: str) -> pa.Array:
    lo = np.datetime64(start, "D").astype("int64")
    hi = np.datetime64(end, "D").astype("int64")
    days = rng.integers(lo, hi + 1, n)
    return _ts(days * US_PER_DAY)


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def events_table(rng, n: int, n_users: int, days: int = 30) -> pa.Table:
    """Events: increasing timestamps (exponential gaps spanning ``days``),
    uniform users and event types, exponential values."""
    # Gaps of at least 1 ms keep event times distinct at the trade feed's
    # millisecond precision: no (symbol, minute) ties for open/close.
    gaps = rng.exponential(days * US_PER_DAY / n, n)
    ts = np.cumsum(np.maximum(gaps.astype("int64"), 1000)) + EPOCH_2024.astype("int64")
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)]),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]
            ),
        }
    )


#: Share of documents that are a copy of another document plus one or two
#: " dup" tokens (25 of 500 in the sf0.01 fixture).
NEAR_DUP_RATE = 0.05


def _documents(rng, n: int) -> pa.Table:
    texts = [
        " ".join(WORDS[rng.integers(0, len(WORDS), int(k))])
        for k in rng.integers(10, 101, n)
    ]
    # near-duplicates: another doc (before or after) with "dup" markers
    # appended
    for i in np.flatnonzero(rng.random(n) < NEAR_DUP_RATE):
        src = texts[int(rng.integers(0, n))]
        texts[i] = src + " dup" * int(rng.integers(1, 3))
    langs = np.array(["en", "fr", "zh", "de", "es"])
    lang_p = np.array([0.41, 0.15, 0.15, 0.14, 0.15])
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(langs[rng.choice(5, n, p=lang_p)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    v = rng.standard_normal((n, dim)).astype("float32")
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """All ten fixture tables at scale factor ``sf`` (sf0.1 ≈ 600 k
    lineitem rows, 100 k events)."""
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    adjs = ["blue", "cold", "hot", "red", "small", "new", "old", "large"]
    nouns = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "gizmo"]
    out = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
                "c_mktsegment": np.array(
                    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
                )[rng.integers(0, 5, n_cust)],
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": [
                    f"{adjs[a]} {nouns[b]}"
                    for a, b in zip(
                        rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
                    )
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": np.array(
                    ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
                )[rng.integers(0, 6, n_part)],
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
                "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
                "o_orderdate": _dates(rng, n_ord, "1995-01-01", "2001-08-01"),
                "o_orderpriority": np.array(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
                )[rng.integers(0, 5, n_ord)],
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
                "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
                "l_extendedprice": _money(rng, n_li, 900.0, 105_000.0),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
                "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
                "l_shipdate": _dates(rng, n_li, "1995-01-02", "2001-11-04"),
            }
        ),
        "events": events_table(rng, int(1_000_000 * sf), n_cust // 10),
        "documents": _documents(rng, int(50_000 * sf)),
        "embeddings": _embeddings(rng, max(500, int(20_000 * sf))),
    }
    return out


def write_tables(out_dir: pathlib.Path, sf: float, seed: int) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row counts."""
    out_dir.mkdir(parents=True, exist_ok=True)
    counts = {}
    for name, t in tables(sf, seed).items():
        pq.write_table(t, out_dir / f"{name}.parquet", version="2.6")
        counts[name] = t.num_rows
    return counts


# ---------------------------------------------------------------------------
# Medallion replay input
# ---------------------------------------------------------------------------

#: Kafka source record schema (what ``spark.readStream.format("kafka")``
#: yields), the input of ``streaming.pipeline.start_records_to_bronze``.
RECORD_SCHEMA = pa.schema(
    [
        ("key", pa.binary()),
        ("value", pa.binary()),
        ("topic", pa.string()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
        ("timestamp", pa.timestamp("us")),
        ("timestampType", pa.int32()),
    ]
)

US_PER_MS = 1000
MS_PER_MIN = 60_000
#: Inside-watermark late rows come from the last INSIDE_LATE_MS of the
#: previous chunk; beyond-watermark rows are at least BEYOND_LATE_MS older
#: than everything already replayed (watermark is 2 minutes).
INSIDE_LATE_MS = 45_000
BEYOND_LATE_MS = 10 * MS_PER_MIN


def replay_plan(
    n_trades: int, days: int, chunks_per_day: int, seed: int
) -> dict:
    """Trades in replay order, grouped into chunks (one chunk = the input
    of one bronze micro-batch), plus the ground truth the oracle needs.

    Chunks split each UTC day evenly, so no chunk (and therefore no silver
    micro-batch) spans two ``event_date`` partitions. Each row is tagged
    with the chunk it is replayed in and a ``kind``:

    - ``orig``: the trade, in the chunk of its event time;
    - ``dup``: an exact copy of a trade, replayed in the same chunk or, if
      the trade is in the last seconds of its chunk, in the next one;
    - ``late_in``: a trade from the last ``INSIDE_LATE_MS`` of the
      previous chunk, replayed one chunk late (inside the watermark);
    - ``late_out``: a trade replayed at least ``BEYOND_LATE_MS`` behind
      the newest event time already replayed (beyond the watermark).
    """
    rng = np.random.default_rng(seed)
    t0 = int(EPOCH_2024.astype("int64")) // US_PER_MS
    ev = events_table(rng, n_trades, 1500, days)
    ms = ev.column("ts").cast(pa.int64()).to_numpy() // US_PER_MS
    # The exponential gaps can overshoot the last day; keep whole days so
    # every chunk lies inside one event_date.
    ev = ev.filter(pa.array(ms < t0 + days * 86_400_000))
    ms = ms[: ev.num_rows]
    n_trades = ev.num_rows
    chunk_ms = 86_400_000 // chunks_per_day
    chunk = ((ms - t0) // chunk_ms).astype("int64")
    n_chunks = days * chunks_per_day
    chunk_end = t0 + (chunk + 1) * chunk_ms
    replay_chunk = chunk.copy()
    kind = np.array(["orig"] * n_trades, dtype=object)

    # Inside-watermark late rows: only into chunks that do not start a day,
    # so a late row keeps its chunk's event_date.
    near_end = (chunk_end - ms) <= INSIDE_LATE_MS
    next_same_day = ((chunk + 1) % chunks_per_day) != 0
    late_in = near_end & next_same_day & (rng.random(n_trades) < 0.7)
    replay_chunk[late_in] += 1
    kind[late_in] = "late_in"

    # Beyond-watermark late rows: from chunk c-1 (well before its end)
    # replayed in chunk c+1, so they trail the replayed max by ≥ a chunk.
    far = (chunk_end - ms) >= BEYOND_LATE_MS + chunk_ms // 4
    late_out = (
        far & ~late_in & (chunk + 2 < n_chunks) & (rng.random(n_trades) < 0.01)
    )
    replay_chunk[late_out] += 2
    kind[late_out] = "late_out"

    # Exact duplicates (≥5 % of the trades).
    dup_src = np.flatnonzero((kind == "orig") & (rng.random(n_trades) < 0.06))
    dup_chunk = replay_chunk[dup_src].copy()
    cross = near_end[dup_src] & next_same_day[dup_src]
    dup_chunk[cross] += 1

    side = np.where(ev.column("user_id").to_numpy() % 2 == 0, "buy", "sell")
    symbol = ev.column("event_type").to_numpy(zero_copy_only=False)
    price = ev.column("value").to_numpy()
    rows = {
        "offset": np.concatenate([np.arange(n_trades), dup_src]),
        "chunk": np.concatenate([replay_chunk, dup_chunk]),
        "kind": np.concatenate([kind, np.array(["dup"] * len(dup_src), object)]),
    }
    src = rows["offset"]
    rows.update(
        symbol=symbol[src],
        price=price[src],
        side=side[src],
        ts_event=ms[src],
    )
    # Replay order: by chunk, then arrival order inside the chunk (event
    # time, with late rows and duplicates shuffled in).
    jitter = rng.random(len(src))
    order = np.lexsort((jitter, rows["ts_event"], rows["chunk"]))
    return {k: v[order] for k, v in rows.items()} | {
        "n_chunks": n_chunks,
        "n_trades": n_trades,
    }


def write_replay(
    out_dir: pathlib.Path, plan: dict, files_per_chunk: int
) -> dict[str, int]:
    """Write the replay as ``files_per_chunk`` parquet files per chunk,
    numbered in replay (event-time) order, plus ``truth.parquet`` holding
    every row's chunk and kind for the DuckDB oracle. The record payload
    is the FIXTURES.md §A trade JSON."""
    out_dir.mkdir(parents=True, exist_ok=True)
    rec_dir = out_dir / "records"
    rec_dir.mkdir(exist_ok=True)
    n = len(plan["offset"])
    values = [
        json.dumps(
            {
                "exchange": "kraken",
                "symbol": plan["symbol"][i],
                "price": float(plan["price"][i]),
                "size": 1.0,
                "side": plan["side"][i],
                "order_type": "market",
                "ts_event": int(plan["ts_event"][i]),
                "ts_ingest": int(plan["ts_event"][i]) + 50,
            }
        ).encode()
        for i in range(n)
    ]
    keys = [s.encode() for s in plan["symbol"]]
    # Kafka timestamp = arrival time: late rows arrive with their chunk.
    ts_kafka = np.maximum.accumulate(plan["ts_event"]) * US_PER_MS
    table = pa.table(
        {
            "key": pa.array(keys, pa.binary()),
            "value": pa.array(values, pa.binary()),
            "topic": pa.array(["crypto.trades"] * n),
            "partition": pa.array(np.zeros(n, "int32"), pa.int32()),
            "offset": pa.array(plan["offset"], pa.int64()),
            "timestamp": _ts(ts_kafka),
            "timestampType": pa.array(np.zeros(n, "int32"), pa.int32()),
        },
        schema=RECORD_SCHEMA,
    )
    bounds = np.searchsorted(plan["chunk"], np.arange(plan["n_chunks"] + 1))
    # A file source orders new files by modification time (in ms), and
    # files written back to back share one; stamp them a second apart so
    # the replay order, and so each micro-batch's chunk, is the file order.
    stamp = time.time_ns() - (plan["n_chunks"] * files_per_chunk + 1) * 10**9
    n_files = 0
    for c in range(plan["n_chunks"]):
        lo, hi = int(bounds[c]), int(bounds[c + 1])
        cuts = np.linspace(lo, hi, files_per_chunk + 1).astype(int)
        for f in range(files_per_chunk):
            part = table.slice(cuts[f], cuts[f + 1] - cuts[f])
            path = rec_dir / f"part-{n_files:05d}.parquet"
            pq.write_table(part, path)
            n_files += 1
            os.utime(path, ns=(stamp + n_files * 10**9,) * 2)
    truth = pa.table(
        {
            "offset": pa.array(plan["offset"], pa.int64()),
            "chunk": pa.array(plan["chunk"], pa.int64()),
            "kind": pa.array(plan["kind"].astype(str)),
            "symbol": pa.array(plan["symbol"]),
            "price": pa.array(plan["price"]),
            "side": pa.array(plan["side"]),
            "ts_event": pa.array(plan["ts_event"], pa.int64()),
        }
    )
    pq.write_table(truth, out_dir / "truth.parquet")
    kinds = {k: int((plan["kind"] == k).sum()) for k in ("orig", "dup", "late_in", "late_out")}
    return {"records": n, "files": n_files, "chunks": plan["n_chunks"], **kinds}
