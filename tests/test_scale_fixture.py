"""The 10× fixture amplifier (``scripts/gen_sf1.amplify``) feeds the sf1.0
bench trend, the sf1.0 hash attestation and ``scripts/scale_probe.py``.
A copy whose foreign keys dangle times a join that matches nothing, so
the amplified data must keep every FK resolvable, scale each keyed table
by exactly ``COPIES`` and give each copy its own key range."""

from __future__ import annotations

import os
import re
import subprocess
import sys

import pytest

from crypto_streaming_lakehouse_spark.sources.tables import TABLES
from scripts.gen_sf1 import COPIES, KEY_COLS, STRIDE, amplify

from .conftest import SF_DIR
from .oracle import duckdb_connect

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: (child table, FK column, parent table, key column)
FOREIGN_KEYS = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
]
#: Dimension tables that keep their cardinality at every scale.
FIXED = {"region", "nation"}


def _orphans(con, child, fk, parent, pk) -> int:
    return con.sql(
        f"SELECT count(*) FROM {child} c WHERE NOT EXISTS "
        f"(SELECT 1 FROM {parent} p WHERE p.{pk} = c.{fk})"
    ).fetchone()[0]


@pytest.fixture(scope="module")
def amplified(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("amplified"))
    amplify(spark, SF_DIR, out)
    base, big = duckdb_connect(SF_DIR), duckdb_connect(out)
    yield base, big
    base.close()
    big.close()


@pytest.mark.parametrize("child,fk,parent,pk", FOREIGN_KEYS)
def test_amplified_foreign_keys_resolve(amplified, child, fk, parent, pk):
    base, big = amplified
    assert _orphans(base, child, fk, parent, pk) == 0
    assert _orphans(big, child, fk, parent, pk) == 0


def test_amplified_row_counts(amplified):
    base, big = amplified
    for t in TABLES:
        n = base.sql(f"SELECT count(*) FROM {t}").fetchone()[0]
        want = n if t in FIXED else COPIES * n
        assert big.sql(f"SELECT count(*) FROM {t}").fetchone()[0] == want, t


def test_amplified_copies_have_disjoint_key_ranges(amplified):
    base, big = amplified
    for t, cols in KEY_COLS.items():
        for k in cols:
            distinct = base.sql(f"SELECT count(DISTINCT {k}) FROM {t}").fetchone()[0]
            copies = big.sql(
                f"SELECT {k} // {STRIDE}, min({k}), max({k}), count(DISTINCT {k}) "
                f"FROM {t} GROUP BY 1 ORDER BY 1"
            ).fetchall()
            assert [c[0] for c in copies] == list(range(COPIES)), (t, k)
            assert all(c[3] == distinct for c in copies), (t, k, copies)
            assert all(a[2] < b[1] for a, b in zip(copies, copies[1:])), (t, k)


def test_scale_probe_short(tmp_path):
    """scripts/scale_probe.py end to end on the smallest fixture: amplify,
    time one query at both scales, print its factor row, and leave no
    scan-cache copy of the deleted amplified dir behind."""
    cache = tmp_path / "scan_cache"
    env = {
        **os.environ,
        "SPARK_GRAFT_SF_DIR": SF_DIR,
        "SPARK_GRAFT_SCAN_CACHE_DIR": str(cache),
        "TMPDIR": str(tmp_path),
    }
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "scale_probe.py"),
         "q_local_supplier_volume"],
        capture_output=True,
        text=True,
        cwd=REPO,
        env=env,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    rows = [
        line for line in proc.stdout.splitlines()
        if re.fullmatch(r"q_local_supplier_volume\s+[\d.]+\s+[\d.]+\s+[\d.]+x", line)
    ]
    assert len(rows) == 1, proc.stdout
    assert cache.is_dir()
    assert not [p.name for p in cache.iterdir() if "amplified_" in p.name]
