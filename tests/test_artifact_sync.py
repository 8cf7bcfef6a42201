"""Guard against stale full-correctness artifacts (ADVICE r06, medium).

Round 6 shipped two registry additions (q_burstiness, q_item_cf) after
the last ``scripts/full_correctness.py`` run, so the 246-query artifact
silently under-covered the 248-query registry — and the one real oracle
divergence (q_burstiness epoch truncation) sailed through unverified.
These tests make the artifacts' query set == the registry's a CI
invariant: add a query, re-run the sweep, or the suite goes red.

Three artifacts are pinned since round 10: the sf0.01 sweep
(CORRECTNESS_FULL_LOCAL.json, the driver's gate scale), the sf0.1 sweep
(CORRECTNESS_FULL_SF01.json), and the synthesized-10x sf1.0 sweep
(CORRECTNESS_FULL_SF1.json) — ties, empty groups, ANSI edge cases and
duplicated-boundary effects are scale-dependent; the sf1.0 sweep caught
two divergences (q_winsorize ulp-boundary clipping, q_hierarchy_depth
FK-closure) that every smaller scale passed. sf1.0 rows may carry
err="oracle_timeout..." — a DuckDB oracle that cannot finish at that
scale under the 180 s cap (documented demotion, Spark executed fine);
those rows count as green-enough here.
"""

from __future__ import annotations

import hashlib
import json
import pathlib
import re

import pytest

_REPO = pathlib.Path(__file__).parent.parent
ARTIFACTS = [
    _REPO / "CORRECTNESS_FULL_LOCAL.json",
    _REPO / "CORRECTNESS_FULL_SF01.json",
    _REPO / "CORRECTNESS_FULL_SF1.json",
]


@pytest.fixture(params=ARTIFACTS, ids=[p.stem for p in ARTIFACTS])
def artifact(request):
    return json.loads(request.param.read_text())


def test_full_correctness_artifact_covers_entire_registry(artifact):
    from crypto_streaming_lakehouse_spark.registry import REGISTRY

    artifact_names = {k for k in artifact if not k.startswith("_")}
    registry_names = set(REGISTRY)
    missing = registry_names - artifact_names
    extra = artifact_names - registry_names
    assert not missing, (
        "registry queries never swept by scripts/full_correctness.py "
        f"(re-run it): {sorted(missing)}"
    )
    assert not extra, (
        f"artifact names no longer in the registry: {sorted(extra)}"
    )


def test_full_correctness_artifact_is_all_green(artifact):
    bad = {
        k: v
        for k, v in artifact.items()
        if not k.startswith("_")
        and not (
            v.get("hash_match")
            or v.get("err") == "no_oracle"
            or str(v.get("err") or "").startswith("oracle_timeout")
        )
    }
    assert not bad, f"non-green entries in the full sweep: {sorted(bad)}"


def test_full_correctness_artifact_records_provenance(artifact):
    """Every sweep artifact must say WHAT KIND of evidence it is
    (VERDICT r11: the sf1.0 update-merge was only detectable by
    inferring from wall_s). full_correctness.py stamps _meta with the
    evidence class, the git commit the sweep executed on, and whether
    the tree was dirty; merge_shards.py refuses cross-commit or
    dirty-tree shards. An artifact missing these keys predates the
    stamp and needs a re-sweep."""
    meta = artifact["_meta"]
    assert meta["mode"].startswith("full-from-scratch") or meta[
        "mode"
    ] == "update-merge", meta["mode"]
    assert meta["git_commit"], "sweep must record the commit it ran on"
    assert meta["git_dirty"] is False, (
        "attestation earned on a dirty tree — commit first, then sweep"
    )
    assert meta["n_fail"] == 0


def test_full_correctness_artifact_pins_oracle_sql(artifact):
    """A green row attests a SPECIFIC oracle and a SPECIFIC Spark
    implementation: if either changed after the sweep, the row is stale
    evidence — re-run the sweep or ``--update`` (VERDICT r07 item 6;
    impl_sha added per ADVICE r08 so an implementation edit with an
    unchanged oracle can no longer ride on a stale green; made
    closure-aware in round 12 per VERDICT r11 item 1 so a shared-helper
    edit invalidates every consumer's row — provenance.impl_sha)."""
    from crypto_streaming_lakehouse_spark.provenance import impl_sha
    from crypto_streaming_lakehouse_spark.registry import REGISTRY

    stale = []
    for name, d in REGISTRY.items():
        rec = artifact.get(name)
        if rec is None:
            continue  # set-equality test reports missing names
        want_oracle = (
            hashlib.sha256(d.sql.encode()).hexdigest()[:16]
            if d.sql is not None
            else None
        )
        want_impl = impl_sha(d.fn)
        if str(rec.get("err") or "").startswith("oracle_timeout"):
            continue  # no hash evidence to pin; demotion is documented
        if (
            rec.get("oracle_sha", "absent") != want_oracle
            or rec.get("impl_sha", "absent") != want_impl
        ):
            stale.append(name)
    assert not stale, (
        "oracle SQL or Spark implementation changed since the last full "
        "sweep — re-run scripts/full_correctness.py (or --update): "
        f"{sorted(stale)[:10]}{'...' if len(stale) > 10 else ''}"
    )


def test_no_root_level_paired_bench_artifact():
    """The official paired-bench evidence lives at
    bench_artifacts/r{N}/paired_r{N}_merged.json (BASELINE_MEASURED.md).
    A root-level paired_bench.json is necessarily a scratch output and
    historically went stale (VERDICT r13 'What's wrong' #1: a round-8-era
    root file held 1.44x while the official r13 artifact said 1.19x, so
    an auditor recomputing from the documented path got a wrong ratio).
    Pin the decision: no root-level copy may exist, and at least one
    per-round merged artifact must."""
    assert not (_REPO / "paired_bench.json").exists(), (
        "root paired_bench.json reintroduced — write paired runs under "
        "bench_artifacts/ (scripts/paired_bench.py default) and merge "
        "per-round evidence into bench_artifacts/r{N}/"
    )
    merged = list(_REPO.glob("bench_artifacts/r*/paired_r*_merged.json"))
    assert merged, "no per-round merged paired-bench artifact found"


def test_survey_inventory_modules_exist():
    """SURVEY.md's operator tables name the module that implements each
    row in their third column. A deleted or renamed module must take its
    row (or a corrected path) with it, so every ``*.py`` path there has
    to resolve at the repo root, in the package, or under tests/."""
    roots = [_REPO, _REPO / "crypto_streaming_lakehouse_spark", _REPO / "tests"]
    missing = []
    n_refs = 0
    for lineno, line in enumerate(
        (_REPO / "SURVEY.md").read_text().splitlines(), 1
    ):
        cells = line.strip().strip("|").split("|")
        if not line.startswith("|") or len(cells) < 3:
            continue
        for path in re.findall(r"[\w./-]+\.py\b", cells[2]):
            n_refs += 1
            if not any((root / path).is_file() for root in roots):
                missing.append(f"SURVEY.md:{lineno}: {path}")
    assert n_refs, "no module paths found in SURVEY.md's tables"
    assert not missing, f"SURVEY.md names modules that do not exist: {missing}"


def test_capped_oracle_digest_is_not_truncated():
    """Regression for the r14-opt drain bug: full_correctness's DuckDB
    timeout wrapper drained a possibly-buffered interrupt by running
    `SELECT 1` on the shared connection after EVERY capped call — which
    closes the in-flight streaming result the digest is still fetching
    from, truncating the oracle stream and flipping hash_match on rows
    whose oracle is perfectly fast (observed: 6 sub-second document
    queries FAILed under a 600 s cap at sf1.0 and passed uncapped).
    The drain must only run when the interrupt timer actually fired.
    A capped restricted run on a multi-batch result must hash-match."""
    import json
    import os
    import subprocess
    import sys

    env = dict(os.environ, SPARK_GRAFT_DUCKDB_TIMEOUT_S="600")
    proc = subprocess.run(
        [
            sys.executable,
            str(_REPO / "scripts" / "full_correctness.py"),
            "/root/testdata/sf0.001",
            "q_token_count",
        ],
        capture_output=True,
        text=True,
        env=env,
        cwd=_REPO,
        check=True,
    )
    out = proc.stdout[proc.stdout.index("{"):]
    rec = json.loads(out)["q_token_count"]
    assert rec["hash_match"], rec


@pytest.mark.parametrize(
    "earned_resolves,harness_diff,want_rc",
    [(True, "", 0), (True, "tests/oracle.py", 1), (False, "", 1)],
    ids=["harness-unchanged", "harness-changed", "earned-unresolvable"],
)
def test_zero_stale_update_restamps_only_with_unchanged_harness(
    tmp_path, monkeypatch, capsys, earned_resolves, harness_diff, want_rc
):
    """ADVICE r15: a zero-stale ``--update`` executes nothing, so it may
    move the artifact's git stamp to HEAD only when the harness
    (full_correctness.py, tests/oracle.py), which no row's sha covers,
    is unchanged since the commit the rows were earned on; that commit
    is kept as ``rows_earned_at``. Otherwise it exits 1, names the
    files and leaves the artifact as it was."""
    import importlib.util
    import sys

    spec = importlib.util.spec_from_file_location(
        "fc", _REPO / "scripts" / "full_correctness.py"
    )
    fc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(fc)

    artifact = tmp_path / "artifact.json"
    artifact.write_text((_REPO / "CORRECTNESS_FULL_LOCAL.json").read_text())
    prior = json.loads(artifact.read_text())
    earned = prior["_meta"]["git_commit"]

    def fake_git(*args: str) -> str:
        if args[:2] == ("rev-parse", "--verify"):
            return "f" * 40 if earned_resolves else ""
        if args[0] == "diff":
            assert args[2:] == (earned, "HEAD", "--", *fc._HARNESS)
            return harness_diff
        if args == ("rev-parse", "--short", "HEAD"):
            return "headsha"
        return ""  # clean `status --porcelain`

    monkeypatch.setattr(fc, "_git", fake_git)
    monkeypatch.setattr(fc, "_artifact_path", lambda _sf: str(artifact))
    monkeypatch.setattr(sys, "argv", ["full_correctness.py", "sf", "--update"])
    before = artifact.read_bytes()
    assert fc.main() == want_rc
    if want_rc:
        assert artifact.read_bytes() == before
        assert "tests/oracle.py" in capsys.readouterr().err
        return
    after = json.loads(artifact.read_text())
    assert after["_meta"]["git_commit"] == "headsha"
    assert after["_meta"]["rows_earned_at"] == earned
    assert {k: v for k, v in after.items() if k != "_meta"} == {
        k: v for k, v in prior.items() if k != "_meta"
    }
    # A second re-stamp keeps the commit the rows were earned on.
    assert fc.main() == 0
    assert json.loads(artifact.read_text())["_meta"]["rows_earned_at"] == earned
