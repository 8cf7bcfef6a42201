"""Merge parallel from-scratch shards into one full-sweep artifact.

Counterpart of ``full_correctness.py --shard I/N``: each shard runs a
disjoint residue class of the registry in its own process (so a
memory-giant row like q_edit_distance_join's 57 GB compare cannot take
down hours of other rows) and stamps its own meta with the git commit
it executed on. This script verifies the shards are mutually disjoint,
cover the ENTIRE live registry, and were all earned on the SAME clean
commit — then writes the combined artifact in registry order with
``mode: full-from-scratch-sharded`` and both the parallel wall
(max of shards) and the serial-equivalent wall (sum of shards).

Usage: python scripts/merge_shards.py <sf_dir> <shard_file> [...]

``sf_dir`` names the scale, and so the artifact written; a scale with no
artifact of its own exits before anything is read.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from full_correctness import _ATTESTED, _artifact_path, _git, _meta, _pins  # noqa: E402


def _span_head(commits: set[str]) -> str:
    """The one commit the shards attest. Shards stamp the commit at
    COMPLETION time, so an artifact-only commit landing while a long
    shard still runs makes the set span two commits even though every
    shard executed byte-identical engine code. The span is accepted IFF
    no diff between spanned commits touches attested code, and the
    commits are linear; the DESCENDANT is pinned (the per-shard metas
    keep the full span auditable)."""
    ordered = sorted(commits)
    for a, b in zip(ordered, ordered[1:]):
        touched = [
            p
            for p in _git("diff", "--name-only", f"{a}..{b}", check=True).split()
            if p.startswith(_ATTESTED)
        ]
        if touched:
            raise SystemExit(
                f"shards span commits {commits} whose diff touches "
                f"attested code: {touched[:5]} — not one attestation"
            )
    # c is the head iff no other commit has a commit c lacks; git
    # failures (unknown object, corrupt repo) raise rather than read as
    # "not an ancestor" (ADVICE r14).
    for c in ordered:
        if not any(_git("rev-list", "-n1", f"{c}..{o}", check=True) for o in ordered):
            return c
    raise SystemExit(
        f"shards span commits {ordered} with no linear "
        "descendant (divergent branches) — not one attestation"
    )


def _check_dirty(shard_metas: list[dict], rows: dict, registry: dict) -> None:
    """The operator override for the one legitimate dirty case: an
    artifact-only file (a CORRECTNESS json from a concurrent sweep) was
    uncommitted when a long shard completed. It does NOT take the
    operator's word for it: every dirty shard must have RECORDED its
    dirty files and all must be CORRECTNESS_FULL_* files — a dirty
    harness file, which no row's pins cover, refuses the merge (ADVICE
    r14); the CURRENT tree must be clean (artifact rewrites excepted);
    and every merged row's pins must match the live registry, which
    proves the attested code is exactly the committed code."""
    for m in shard_metas:
        if not m.get("git_dirty"):
            continue
        recorded = m.get("dirty_files")
        if recorded is None:
            raise SystemExit(
                f"dirty shard {m['file']} predates dirty_files "
                "recording — re-run the shard on a clean tree"
            )
        non_artifact = [
            p for p in recorded if not os.path.basename(p).startswith("CORRECTNESS_FULL_")
        ]
        if non_artifact:
            raise SystemExit(
                f"dirty shard {m['file']} had non-artifact dirty "
                f"files at run time: {non_artifact[:5]} — the "
                "override only covers artifact-only dirt"
            )
    tracked_dirty = [
        ln
        for ln in _git("status", "--porcelain", check=True).splitlines()
        if not ln.startswith("??") and not ln.split()[-1].startswith("CORRECTNESS_FULL_")
    ]
    if tracked_dirty:
        raise SystemExit(
            "dirty-shard override requires a clean tree (artifact "
            f"rewrites excepted); found: {tracked_dirty[:5]}"
        )
    bad_pins = [
        n
        for n, d in registry.items()
        if n in rows and (rows[n].get("oracle_sha"), rows[n].get("impl_sha")) != _pins(d)
    ]
    if bad_pins:
        raise SystemExit(
            "dirty-shard override refused — rows do not pin the "
            f"committed code: {bad_pins[:5]}"
        )


def main() -> int:
    sf_dir = sys.argv[1]
    shard_files = sys.argv[2:]
    if not shard_files:
        print("usage: merge_shards.py <sf_dir> <shard_file> [...]")
        return 2

    artifact = _artifact_path(sf_dir)  # exits on a scale with no artifact
    from crypto_streaming_lakehouse_spark.registry import REGISTRY

    rows: dict[str, dict] = {}
    shard_metas: list[dict] = []
    for path in shard_files:
        blob = json.load(open(path))
        smeta = blob.pop("_meta", None)
        if smeta is None:
            raise SystemExit(f"{path}: no _meta — incomplete shard (crashed?)")
        shard_metas.append({"file": os.path.basename(path), **smeta})
        dup = set(blob) & set(rows)
        if dup:
            raise SystemExit(f"{path}: overlaps earlier shards: {sorted(dup)[:5]}")
        rows.update(blob)

    commits = {m.get("git_commit") for m in shard_metas}
    if "" in commits or None in commits:
        raise SystemExit(f"shards missing commit stamps: {commits}")
    head = commits.pop() if len(commits) == 1 else _span_head(commits)
    dirty = [m["file"] for m in shard_metas if m.get("git_dirty")]
    accept_dirty = os.environ.get("SPARK_GRAFT_ACCEPT_DIRTY_SHARDS", "")
    if dirty and not accept_dirty:
        raise SystemExit(f"shards ran on a dirty tree: {dirty}")
    if dirty:
        _check_dirty(shard_metas, rows, REGISTRY)
    missing = set(REGISTRY) - set(rows)
    if missing:
        raise SystemExit(f"registry not covered: {sorted(missing)[:10]}")
    extra = set(rows) - set(REGISTRY)
    if extra:
        raise SystemExit(f"rows not in live registry: {sorted(extra)[:10]}")

    out = {n: rows[n] for n in REGISTRY}  # registry order, diff-stable
    meta = _meta(
        sf_dir,
        f"full-from-scratch-sharded({len(shard_metas)})",
        out,
        stamp={"git_commit": head, "git_dirty": False},
        wall_s=max(m["wall_s"] for m in shard_metas),
        wall_s_serial_equivalent=round(sum(m["wall_s"] for m in shard_metas), 1),
        shards=shard_metas,
    )
    if dirty:
        meta["dirty_shards_accepted"] = {
            "files": dirty,
            "reason": accept_dirty,
            "verified": "clean HEAD + every row's impl_sha/oracle_sha "
            "matches the live registry at merge time",
        }
    with open(artifact, "w") as f:
        json.dump({"_meta": meta, **out}, f, indent=1)
    print(json.dumps({k: v for k, v in meta.items() if k != "shards"}))
    print(f"wrote {artifact}")
    return 0 if meta["n_fail"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
