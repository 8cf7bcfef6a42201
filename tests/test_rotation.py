"""The driver hash-checks only the first 50 ``queries()`` names, and
``__spark_entry__`` ranks the registry from the ``CORRECTNESS_r*.json``
artifacts (module docstring). These tests check properties of that rule on
the repo's artifacts and on synthetic ones in ``tmp_path``; none starts
Spark.
"""

from __future__ import annotations

import dataclasses
import json
import pathlib
import shutil

import pytest

import __spark_entry__ as e
from crypto_streaming_lakehouse_spark.registry import REGISTRY

ROOT = pathlib.Path(__file__).parents[1]
CAP = 50
ORACLE = [n for n, d in REGISTRY.items() if d.sql is not None]


def _head() -> list[str]:
    return list(e.queries())[:CAP]


def _write(directory, rnd: int, rows: dict[str, bool]) -> None:
    rows = {n: {"hash_match": ok} for n, ok in rows.items()}
    (directory / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(rows))


def test_queries_covers_the_registry():
    assert e.queries() == {n: d.fn for n, d in REGISTRY.items()}
    assert e.oracle_sql() == {n: REGISTRY[n].sql for n in ORACLE}


def test_round_head_names_exist_with_oracles():
    head = _head()
    assert len(set(head)) == CAP and set(head) <= set(ORACLE)


def test_round_head_spends_slots_on_unverified_names():
    """No oracle-backed name outside the head has fewer green driver rows
    than a name inside it."""
    evidence = e._green_evidence()
    counts = {n: evidence.get(n, (0, 0))[0] for n in ORACLE}
    head = set(_head())
    assert max(counts[n] for n in head) <= min(
        c for n, c in counts.items() if n not in head
    )


def test_round_head_skips_the_last_rounds_green_names():
    last = max(
        ROOT.glob("CORRECTNESS_r*.json"),
        key=lambda p: int(p.stem.removeprefix("CORRECTNESS_r")),
    )
    green = {n for n, row in json.loads(last.read_text()).items() if row["hash_match"]}
    assert not set(_head()) & green


@pytest.mark.parametrize("artifact", [None, {ORACLE[0] + "_removed": True}])
def test_without_evidence_the_head_is_registry_order(tmp_path, monkeypatch, artifact):
    """No artifact, or one naming only names gone from the registry; a
    rows-only name goes last."""
    if artifact:
        _write(tmp_path, 1, artifact)
    monkeypatch.setattr(e, "ARTIFACT_DIR", tmp_path)
    first, *rest = REGISTRY
    monkeypatch.setitem(REGISTRY, first, dataclasses.replace(REGISTRY[first], sql=None))
    assert list(e.queries()) == [*rest, first]


def test_red_name_leads_then_oldest_green(tmp_path, monkeypatch):
    fresh, *green, red = ORACLE
    _write(tmp_path, 1, {**dict.fromkeys(green, True), red: False})
    _write(tmp_path, 2, {fresh: True})
    monkeypatch.setattr(e, "ARTIFACT_DIR", tmp_path)
    assert _head() == [red, *green[: CAP - 1]]


def test_each_new_artifact_rotates_the_head(tmp_path, monkeypatch):
    for path in ROOT.glob("CORRECTNESS_r*.json"):
        shutil.copy(path, tmp_path)
    old = _head()
    _write(tmp_path, 99, dict.fromkeys(old, True))
    monkeypatch.setattr(e, "ARTIFACT_DIR", tmp_path)
    assert not set(_head()) & set(old)
