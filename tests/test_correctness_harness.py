"""The correctness harness itself: ``scripts/merge_shards.py``'s merge and
refusals, ``scripts/full_correctness.py``'s CLI, and the equivalence of
its distributed and pooled digests with ``tests.oracle.canonical_digest``.

The merge tests are Spark-free: they build two residue-class shards from
the rows of CORRECTNESS_FULL_LOCAL.json in ``tmp_path`` and fake git at
``subprocess.run``, so no test depends on the repository's history.
"""

from __future__ import annotations

import importlib.util
import json
import pathlib
import subprocess
import sys
import time

import pytest

_REPO = pathlib.Path(__file__).parent.parent
_ROWS = {
    k: v
    for k, v in json.loads((_REPO / "CORRECTNESS_FULL_LOCAL.json").read_text()).items()
    if k != "_meta"
}


def _load(name: str):
    spec = importlib.util.spec_from_file_location(
        name, _REPO / "scripts" / f"{name}.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture
def merge(tmp_path, monkeypatch):
    """Run merge_shards.main() over shard files, writing to tmp_path;
    any git call other than ``diff --name-only`` fails the test."""
    ms = _load("merge_shards")
    out = tmp_path / "merged.json"
    monkeypatch.setattr(ms, "_artifact_path", lambda _sf: str(out))
    monkeypatch.delenv("SPARK_GRAFT_ACCEPT_DIRTY_SHARDS", raising=False)
    diff_out = []

    def fake_run(cmd, *args, **kwargs):
        assert list(cmd[:3]) == ["git", "diff", "--name-only"], cmd
        return subprocess.CompletedProcess(cmd, 0, "".join(diff_out), "")

    monkeypatch.setattr(subprocess, "run", fake_run)

    def run(paths, diff: str = "") -> int:
        diff_out[:] = [diff]
        monkeypatch.setattr(sys, "argv", ["merge_shards.py", "sf", *map(str, paths)])
        return ms.main()

    run.out = out
    return run


def _shards(commits=("abc1234", "abc1234"), dirty=(False, False)):
    """Two shard docs, residue classes 0 and 1 of the registry order."""
    from crypto_streaming_lakehouse_spark.registry import REGISTRY

    names = list(REGISTRY)
    docs = []
    for i in range(2):
        rows = {n: _ROWS[n] for n in names[i::2]}
        meta = {
            "sf_dir": "sf",
            "mode": f"shard-from-scratch({i}/2)",
            "n_rows_reused_from_prior": 0,
            "git_commit": commits[i],
            "git_dirty": dirty[i],
            "dirty_files": ["CORRECTNESS_FULL_LOCAL.json"] if dirty[i] else [],
            "wall_s": 10.0 + i,
            "shard_exclude": [],
            "shard_only": [],
        }
        docs.append({"_meta": meta, **rows})
    return docs


def _write(tmp_path, docs):
    paths = []
    for i, doc in enumerate(docs):
        p = tmp_path / f"shard{i}of{len(docs)}.json"
        p.write_text(json.dumps(doc))
        paths.append(p)
    return paths


def test_merge_writes_registry_order_and_tallies(tmp_path, merge):
    from crypto_streaming_lakehouse_spark.registry import REGISTRY

    assert merge(_write(tmp_path, _shards())) == 0
    merged = json.loads(merge.out.read_text())
    assert list(merged) == ["_meta", *REGISTRY]
    assert {k: v for k, v in merged.items() if k != "_meta"} == _ROWS
    meta = merged["_meta"]
    rows = list(_ROWS.values())
    timeouts = sum(str(r["err"] or "").startswith("oracle_timeout") for r in rows)
    assert {k: v for k, v in meta.items() if k != "shards"} == {
        "sf_dir": "sf",
        "mode": "full-from-scratch-sharded(2)",
        "git_commit": "abc1234",
        "git_dirty": False,
        "n_queries": len(REGISTRY),
        "n_hash_match": sum(bool(r["hash_match"]) for r in rows),
        "n_rows_only": sum(r["err"] == "no_oracle" for r in rows),
        "n_oracle_timeout": timeouts,
        "n_fail": 0,
        "wall_s": 11.0,
        "wall_s_serial_equivalent": 21.0,
    }
    assert [m["file"] for m in meta["shards"]] == ["shard0of2.json", "shard1of2.json"]


def test_merge_refuses_overlapping_shards(tmp_path, merge):
    docs = _shards()
    first = next(k for k in docs[0] if k != "_meta")
    docs[1][first] = docs[0][first]
    with pytest.raises(SystemExit, match="overlaps"):
        merge(_write(tmp_path, docs))


def test_merge_refuses_missing_registry_name(tmp_path, merge):
    docs = _shards()
    dropped = next(k for k in docs[1] if k != "_meta")
    del docs[1][dropped]
    with pytest.raises(SystemExit, match=dropped):
        merge(_write(tmp_path, docs))


def test_merge_refuses_shard_without_meta(tmp_path, merge):
    docs = _shards()
    del docs[1]["_meta"]
    with pytest.raises(SystemExit, match="_meta"):
        merge(_write(tmp_path, docs))


def test_merge_refuses_dirty_shard_without_override(tmp_path, merge):
    docs = _shards(dirty=(False, True))
    with pytest.raises(SystemExit, match="dirty"):
        merge(_write(tmp_path, docs))


def test_merge_refuses_commit_span_touching_attested_code(tmp_path, merge):
    docs = _shards(commits=("aaaaaaa", "bbbbbbb"))
    with pytest.raises(SystemExit, match="attested"):
        merge(
            _write(tmp_path, docs),
            diff="README.md\ncrypto_streaming_lakehouse_spark/registry.py\n",
        )
    assert not merge.out.exists()


class _SparkStarted(Exception):
    pass


@pytest.mark.parametrize(
    "argv",
    [[], ["--update"], ["--shard", "0/2"], ["q_groupby_agg"]],
    ids=["sweep", "update", "shard", "restricted"],
)
def test_unmapped_scale_writes_no_artifact(argv, tmp_path, monkeypatch):
    """A full sweep, ``--update`` or ``--shard`` at a scale with no
    artifact of its own (sf0.001) exits before Spark starts, naming the
    known scales, and leaves the sf0.01 artifact byte-identical: such a
    scale used to fall through to CORRECTNESS_FULL_LOCAL.json. A
    restricted run writes nothing and still reaches Spark."""
    import crypto_streaming_lakehouse_spark.session as session

    fc = _load("full_correctness")
    artifact = tmp_path / "CORRECTNESS_FULL_LOCAL.json"
    artifact.write_bytes((_REPO / "CORRECTNESS_FULL_LOCAL.json").read_bytes())
    before = artifact.read_bytes()
    monkeypatch.setattr(fc, "_REPO", str(tmp_path))

    def no_spark(*args, **kwargs):
        raise _SparkStarted

    monkeypatch.setattr(session, "get_spark", no_spark)
    monkeypatch.setattr(
        sys, "argv", ["full_correctness.py", str(tmp_path / "sf0.001"), *argv]
    )
    if argv == ["q_groupby_agg"]:
        with pytest.raises(_SparkStarted):
            fc.main()
    else:
        with pytest.raises(SystemExit, match="sf0.01, sf0.1, sf1.0"):
            fc.main()
    assert artifact.read_bytes() == before


def test_merge_refuses_unmapped_scale(tmp_path, monkeypatch):
    """merge_shards.py at a scale with no artifact of its own exits,
    naming the known scales, and leaves the sf0.01 artifact as it was."""
    ms = _load("merge_shards")
    artifact = tmp_path / "CORRECTNESS_FULL_LOCAL.json"
    artifact.write_bytes((_REPO / "CORRECTNESS_FULL_LOCAL.json").read_bytes())
    before = artifact.read_bytes()
    monkeypatch.setitem(ms._artifact_path.__globals__, "_REPO", str(tmp_path))
    paths = _write(tmp_path, _shards())
    monkeypatch.setattr(
        sys, "argv", ["merge_shards.py", str(tmp_path / "sf0.001"), *map(str, paths)]
    )
    with pytest.raises(SystemExit, match="sf0.01, sf0.1, sf1.0"):
        ms.main()
    assert artifact.read_bytes() == before


def test_shard_and_update_are_mutually_exclusive(monkeypatch, capsys):
    fc = _load("full_correctness")
    monkeypatch.setattr(
        sys, "argv", ["full_correctness.py", "sf", "--shard", "0/2", "--update"]
    )
    with pytest.raises(SystemExit) as exc:
        fc.main()
    assert exc.value.code == 2
    assert "not allowed with argument" in capsys.readouterr().err


@pytest.mark.parametrize(
    "argv",
    [
        ["sf", "--update", "q_a,q_b"],
        ["sf", "q_a,q_b", "--update"],
        ["sf", "--shard", "0/2", "q_a,q_b"],
    ],
)
def test_names_csv_parses_on_either_side_of_a_flag(argv):
    args = _load("full_correctness")._parse(argv)
    assert (args.sf_dir, args.names_csv) == ("sf", "q_a,q_b")


def test_spark_digest_equals_canonical_digest(spark):
    """The distributed digest folds the same values a collected Row
    holds, binary included (a ``bytearray`` conversion would not)."""
    from datetime import datetime, timedelta
    from decimal import Decimal

    from tests.oracle import canonical_digest

    def val(i, v):
        return None if i % 5 == 0 else v

    doubles = [float("nan"), -0.0, 0.0]
    rows = [
        (
            val(i, i * 1_000_003),
            val(i + 1, doubles[i % 3] if i % 4 == 0 else i / 3),
            val(i + 2, Decimal(i) / Decimal(100)),
            val(i + 3, datetime(2024, 1, 1) + timedelta(seconds=37 * i)),
            val(i + 4, [i, None, -i]),
            val(i + 1, f"s{i}|x"),
            val(i + 2, bytes([i % 256, 0, 255])),
        )
        for i in range(400)
    ]
    df = spark.createDataFrame(
        rows,
        "l long, d double, dec decimal(12,2), ts timestamp, "
        "arr array<int>, s string, b binary",
    ).repartition(4)
    assert df.rdd.getNumPartitions() > 1
    fc = _load("full_correctness")
    assert fc._spark_digest("t", df) == canonical_digest(df.columns, df.collect())


@pytest.mark.parametrize("timeout_s", [0.0, 600.0], ids=["uncapped", "capped"])
def test_pooled_oracle_digest_equals_canonical_digest(timeout_s):
    """A result of three fetch batches takes the pool path; its folded
    digest equals the serial one over ``fetchall()``."""
    import multiprocessing as mp

    import duckdb

    from tests.oracle import canonical_digest

    con = duckdb.connect()
    sql = (
        "SELECT i, i / 7.0 AS d, CASE WHEN i % 5 = 0 THEN NULL ELSE 's' || i END"
        " AS s, [i, i + 1] AS arr FROM range(25000) t(i)"
    )
    want = canonical_digest(con.sql(sql).columns, con.sql(sql).fetchall())
    fc = _load("full_correctness")
    used = []
    with mp.get_context("fork").Pool(2) as pool:
        cols, n, digest = fc._oracle_digest(
            con, sql, timeout_s, lambda: used.append(pool) or pool
        )
    assert used, "single-batch path taken; the pool was never used"
    assert cols == ["i", "d", "s", "arr"]
    assert (n, digest) == want


def test_capped_call_is_interrupted_and_connection_recovers():
    """``tests.oracle.capped``: a DuckDB call that outlives its ~0.2 s
    budget raises InterruptException, the spent budget refuses the next
    capped call, and the next statement on the same connection succeeds
    (no buffered interrupt is left to kill it)."""
    import duckdb

    from tests.oracle import capped

    con = duckdb.connect()
    con.sql("SET threads=1")
    run = capped(con, 0.2)
    slow = "SELECT sum(hash(i)) FROM range(10000000000) t(i)"
    t0 = time.monotonic()
    with pytest.raises(duckdb.InterruptException):
        run(lambda: con.sql(slow).fetchall())
    assert time.monotonic() - t0 < 30
    with pytest.raises(duckdb.InterruptException):
        run(lambda: con.sql("SELECT 1").fetchall())
    assert con.sql("SELECT 42").fetchall() == [(42,)]
