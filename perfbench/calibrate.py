#!/usr/bin/env python3
"""Compare the generated analytic tables with a fixture directory.

    python3 perfbench/calibrate.py <fixture_dir> [--seed N] [--sf 0.01]

``<fixture_dir>`` holds the ten fixture tables as ``<table>.parquet``
(TESTDATA.md; the sf0.01 ones are what ``datagen.tables`` reproduces).
Prints, for the fixture and for ``datagen.tables(sf, seed)``, the column
statistics the generator's parameters are set from, then the output row
count of every bench.py HEADLINE query's DuckDB oracle SQL on both (``*``
marks the family heads ``analytic_warm`` runs). Writes the generated
tables under ``.perfbench/calibrate/``.
"""

from __future__ import annotations

import argparse
import pathlib
import sys

HERE = pathlib.Path(__file__).resolve().parent

#: Statistic -> DuckDB query. Each line names what the generator sets.
STATS = {
    "events users (n_cust // 10)": "SELECT count(DISTINCT user_id), max(user_id) FROM events",
    "events per type": "SELECT list(c ORDER BY t) FROM (SELECT event_type t, count(*) c FROM events GROUP BY 1)",
    "events gap ms q10/50/90": "SELECT quantile_cont(g, [0.1, 0.5, 0.9]) FROM (SELECT epoch_ms(ts) - lag(epoch_ms(ts)) OVER (ORDER BY ts) g FROM events)",
    "events value q10/50/90, mean": "SELECT quantile_cont(value, [0.1, 0.5, 0.9]), avg(value) FROM events",
    "events (type, minute) groups": "SELECT count(*) FROM (SELECT DISTINCT event_type, date_trunc('minute', ts) FROM events)",
    "orders per customer max/mean": "SELECT max(c), avg(c) FROM (SELECT o_custkey, count(*) c FROM orders GROUP BY 1)",
    "orderdate min/q50/max": "SELECT min(o_orderdate), quantile_disc(o_orderdate, 0.5), max(o_orderdate) FROM orders",
    "lineitem per order max/mean": "SELECT max(c), avg(c) FROM (SELECT l_orderkey, count(*) c FROM lineitem GROUP BY 1)",
    "shipdate <= 1998-09-02 share": "SELECT avg((l_shipdate <= DATE '1998-09-02')::int) FROM lineitem",
    "shipdate >= orderdate share": "SELECT avg((l_shipdate >= o_orderdate)::int) FROM lineitem JOIN orders ON l_orderkey = o_orderkey",
    "(orderkey, linenumber) repeats": "SELECT count(*) FROM (SELECT 1 FROM lineitem GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1)",
    "quantity, extprice q10/50/90": "SELECT quantile_cont(l_quantity, [0.1, 0.5, 0.9]), quantile_cont(l_extendedprice, [0.1, 0.5, 0.9]) FROM lineitem",
    "part names/brands/types": "SELECT count(DISTINCT p_name), count(DISTINCT p_brand), count(DISTINCT p_type) FROM part",
    "doc words q10/50/90, mean": "SELECT quantile_cont(len(string_split(text, ' ')), [0.1, 0.5, 0.9]), avg(len(string_split(text, ' '))) FROM documents",
    "doc vocabulary": "SELECT count(DISTINCT w) FROM (SELECT unnest(string_split(text, ' ')) w FROM documents)",
    "docs with ' dup' (near-dups)": "SELECT count(*) FROM documents WHERE text LIKE '% dup%'",
    "docs per lang": "SELECT list(c ORDER BY lang) FROM (SELECT lang, count(*) c FROM documents GROUP BY 1)",
    "embedding dim, norm q50": "SELECT max(len(embedding)), quantile_cont(sqrt(list_sum(list_transform(embedding, x -> x * x))), 0.5) FROM embeddings",
    "embedding max-cosine q10/50/90": "SELECT quantile_cont(m, [0.1, 0.5, 0.9]) FROM (SELECT a.vec_id, max(list_cosine_similarity(a.embedding, b.embedding)) m FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id GROUP BY 1)",
}


def _fmt(v) -> str:
    if isinstance(v, float):
        return f"{v:.4g}"
    if isinstance(v, (list, tuple)):
        return "[" + ", ".join(_fmt(x) for x in v) + "]"
    return str(v)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("fixture_dir")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--sf", type=float, default=0.01)
    args = ap.parse_args()
    sys.path[:0] = [str(HERE.parent), str(HERE)]

    import datagen
    from bench import HEADLINE
    from crypto_streaming_lakehouse_spark.registry import REGISTRY
    from tests.oracle import duckdb_connect
    from workloads import family_heads

    gen = pathlib.Path(".perfbench") / "calibrate" / f"sf{args.sf}-seed{args.seed}"
    datagen.write_tables(gen, args.sf, args.seed)
    cons = {}
    for side, d in (("fixture", args.fixture_dir), ("generated", str(gen))):
        cons[side] = duckdb_connect(d)
        cons[side].sql("SET TimeZone='UTC'")
        cons[side].sql("SET threads=2")

    print(f"{'statistic':34s} {'fixture':>40s}   generated")
    for what, sql in STATS.items():
        a, b = (_fmt(list(c.sql(sql).fetchone())) for c in cons.values())
        print(f"{what:34s} {a:>40s}   {b}")

    heads = family_heads().values()
    print(f"\n{'oracle output rows':34s} {'fixture':>8s} {'generated':>10s}  ratio")
    for name in HEADLINE:
        sql = f"SELECT count(*) FROM ({REGISTRY[name].sql})"
        a, b = (c.sql(sql).fetchone()[0] for c in cons.values())
        mark = "*" if name in heads else " "
        print(f"{mark} {name:32s} {a:8d} {b:10d}  {b / a if a else float('nan'):.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
