"""Full-surface correctness artifact: every registry query vs its DuckDB
oracle at the driver's gate scale (sf0.01), hash-level, written to
CORRECTNESS_FULL_LOCAL.json in the same per-query record shape as the
driver's CORRECTNESS_r{N}.json.

Why this exists: the external driver caps its verify at the first 50
``queries()`` entries per round (see __spark_entry__.py docstring), so no
single round can driver-verify the whole registry. This script closes the
gap with a bit-identical local replica of the driver's comparison
(tests/oracle.py) over the WHOLE surface.

Usage:  python scripts/full_correctness.py [sf_dir] [names_csv] [--update | --shard I/N]

``names_csv`` (comma-separated query names) is the one name filter, in
every mode:

- no flag: a full sweep writes the artifact; with ``names_csv`` the run
  is restricted to those names, prints its records and does NOT
  overwrite the artifact (quick iteration on new queries).
- ``--update`` re-runs the queries whose artifact row is missing,
  non-green, oracle_sha-stale or impl_sha-stale (the Spark
  implementation's source hash, so an implementation edit invalidates its
  green row even when the oracle is unchanged), restricted to
  ``names_csv`` if given, and MERGES the fresh rows into the existing
  artifact: the cheap path for the add-a-query loop.
- ``--shard I/N`` runs residue class I (mod N) of the registry order,
  restricted to ``names_csv`` if given and minus the csv in
  ``SPARK_GRAFT_SHARD_EXCLUDE``, into ``<artifact>.shardIofN``,
  checkpointed after every query. ``scripts/merge_shards.py`` combines
  the shards of one commit into the artifact.

``SPARK_GRAFT_DUCKDB_TIMEOUT_S`` caps each oracle's DuckDB time (off by
default); a capped oracle demotes its row to ``err="oracle_timeout>..."``.

The artifact filename follows the scale: the default sf0.01 sweep writes
CORRECTNESS_FULL_LOCAL.json; an sf0.1 sweep writes
CORRECTNESS_FULL_SF01.json (second-scale evidence, VERDICT r08 item 1);
an sf1.0 sweep writes CORRECTNESS_FULL_SF1.json. Every mode that writes
(a full sweep, ``--update``, ``--shard``, ``merge_shards.py``) exits on
any other scale; a restricted run takes any scale.
"""

from __future__ import annotations

import argparse
import functools
import hashlib
import itertools
import json
import multiprocessing as mp
import os
import subprocess
import sys
import time
import traceback

import duckdb

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from crypto_streaming_lakehouse_spark.provenance import impl_sha  # noqa: E402
from tests.oracle import canonical_digest, capped, duckdb_connect  # noqa: E402

_ARTIFACT_BY_SCALE = {
    "sf0.01": "CORRECTNESS_FULL_LOCAL.json",
    "sf0.1": "CORRECTNESS_FULL_SF01.json",
    # Third-scale evidence (VERDICT r09 item 1): the synthesized 10×
    # fixture from scripts/gen_sf1.py (.tmp/sf1.0).
    "sf1.0": "CORRECTNESS_FULL_SF1.json",
}

#: Files that decide how every row is computed and compared, but that no
#: row's impl_sha or oracle_sha covers.
_HARNESS = ("scripts/full_correctness.py", "tests/oracle.py")
#: Path prefixes an attestation covers: the engine package, the entry
#: module and the harness.
_ATTESTED = ("crypto_streaming_lakehouse_spark/", "__spark_entry__.py", *_HARNESS)

_MASK = (1 << 256) - 1


def _artifact_path(sf_dir: str) -> str:
    """The artifact of ``sf_dir``'s scale; exits on a scale that has none,
    so no sweep at another scale overwrites an attested one."""
    scale = os.path.basename(os.path.normpath(sf_dir))
    if scale not in _ARTIFACT_BY_SCALE:
        raise SystemExit(
            f"no correctness artifact for scale {scale!r} (known scales: "
            f"{', '.join(_ARTIFACT_BY_SCALE)}); a restricted run "
            "(<sf_dir> names_csv) writes nothing and takes any scale"
        )
    return os.path.join(_REPO, _ARTIFACT_BY_SCALE[scale])


def _git(*args: str, check: bool = False) -> str:
    """stdout of a git command in the repo. Best-effort ("" on any
    failure) for the sweep's provenance stamp; ``check=True`` raises
    instead, for the merge's refusals."""
    try:
        return subprocess.run(
            ["git", *args], cwd=_REPO, capture_output=True, text=True,
            timeout=60, check=check,
        ).stdout.strip()
    except Exception:  # noqa: BLE001 — provenance is best-effort
        if check:
            raise
        return ""


def _is_timeout(rec: dict) -> bool:
    return str(rec.get("err") or "").startswith("oracle_timeout")


def _meta(
    sf_dir: str, mode: str, rows: dict, stamp: dict | None = None, **extra
) -> dict:
    """An artifact's ``_meta``: the evidence class (``mode``), the git
    stamp (by default the current tree's), the five tallies over
    ``rows`` and ``extra``. The stamp keeps the dirty FILE LIST, so a
    merge can check the dirt was artifact-only: a bare bool could hide a
    dirty harness file, which no row's pins cover (ADVICE r14)."""
    if stamp is None:
        porcelain = _git("status", "--porcelain")
        stamp = {
            "git_commit": _git("rev-parse", "--short", "HEAD"),
            "git_dirty": bool(porcelain),
            "dirty_files": sorted(
                ln.split(maxsplit=1)[-1] for ln in porcelain.splitlines() if ln.strip()
            ),
        }
    recs = list(rows.values())
    return {
        "sf_dir": sf_dir,
        "mode": mode,
        **stamp,
        "n_queries": len(recs),
        "n_hash_match": sum(1 for r in recs if r["hash_match"]),
        "n_rows_only": sum(1 for r in recs if r["err"] == "no_oracle"),
        "n_oracle_timeout": sum(1 for r in recs if _is_timeout(r)),
        "n_fail": sum(
            1
            for r in recs
            if not (r["hash_match"] or r["err"] == "no_oracle" or _is_timeout(r))
        ),
        **extra,
    }


def _pins(d) -> tuple[str | None, str | None]:
    """``(oracle_sha, impl_sha)``: WHICH oracle and WHICH implementation
    a row attests. A later edit to either makes the row stale
    (tests/test_artifact_sync.py checks both against the live registry),
    so neither can ride on a stale green. impl_sha is closure-aware:
    see crypto_streaming_lakehouse_spark/provenance.py."""
    oracle = None if d.sql is None else hashlib.sha256(d.sql.encode()).hexdigest()[:16]
    return oracle, impl_sha(d.fn)


def _stale(rec: dict, pins: tuple, cap: float) -> bool:
    """Whether ``--update`` must re-run a prior row: its pins differ from
    the live ones, it is not green, or it is an oracle timeout recorded
    under a LOWER cap than the current one (or the cap is now off, 0):
    raising SPARK_GRAFT_DUCKDB_TIMEOUT_S is an explicit request to retry
    the demoted rows (ADVICE r10)."""
    if (rec.get("oracle_sha"), rec.get("impl_sha")) != pins:
        return True
    if _is_timeout(rec):
        old_cap = rec.get("oracle_timeout_s")
        if old_cap is None:  # pre-r11 row: cap only in the err text
            try:
                old_cap = float(rec["err"].split(">", 1)[1].rstrip("s"))
            except (IndexError, ValueError):
                return True
        return cap == 0 or cap > float(old_cap)
    return not (rec.get("hash_match") or rec.get("err") == "no_oracle")


def _restamp(artifact: str, sf_dir: str, prior_meta: dict, rows: dict) -> int:
    """Zero-stale ``--update``: nothing to execute, but the meta stamp
    must still reflect the CURRENT tree — a sweep earned on a dirty tree
    followed by a commit of the non-artifact files left the artifact
    permanently stamped dirty and the attestation tests red (observed
    round 15). Rewrites the artifact with the prior rows and a fresh git
    stamp, keeping the commit the rows were earned on as
    ``rows_earned_at``.

    Refuses (exit 1, artifact untouched) unless that commit resolves and
    the harness files are unchanged between it and HEAD: a harness edit
    changes every row's evidence without making any row stale (ADVICE
    r15)."""
    earned = prior_meta.get("rows_earned_at") or prior_meta.get("git_commit")
    if earned and _git("rev-parse", "--verify", "--quiet", f"{earned}^{{commit}}"):
        changed = _git(
            "diff", "--name-only", earned, "HEAD", "--", *_HARNESS
        ).split()
    else:
        changed = list(_HARNESS)
    if changed:
        print(
            f"--update: harness changed since the rows were earned at "
            f"{earned!r}: {', '.join(changed)}; re-sweep instead of "
            "re-stamping (artifact left as is)",
            file=sys.stderr,
        )
        return 1
    meta = _meta(
        sf_dir, "update-merge", rows,
        n_rows_reused_from_prior=len(rows), rows_earned_at=earned, wall_s=0.0,
    )
    with open(artifact, "w") as f:
        json.dump({"_meta": meta, **rows}, f, indent=1)
    print(json.dumps(meta))
    return 0


def _fold(parts) -> tuple[int, str]:
    """Add up ``canonical_digest`` results of disjoint row sets: the
    digest is a commutative sum of per-row sha256 values mod 2^256, so
    the sum of the parts is the digest of the whole."""
    n = total = 0
    for part_n, part_digest in parts:
        n += part_n
        total += int(part_digest, 16)
    return n, f"{total & _MASK:064x}"


def _pooled_digest(cols: list[str], fetch_batch, pool) -> tuple[int, str]:
    """``canonical_digest`` of a streamed result: ``fetch_batch()``
    returns the next list of row tuples (empty = exhausted). The fold is
    CPU-bound pure Python (VERDICT r14 item 8: half of the ~80 min
    q_edit_distance_join attestation at sf1.0 was the DuckDB-side
    digest), so a result of two batches or more fans out batch by batch
    to the process pool ``pool()`` returns, at most 32 in flight. A
    single batch is digested inline, so the sweep's hundreds of tiny
    queries never create the pool."""
    first = fetch_batch()
    second = fetch_batch() if first else []
    if not second:
        return canonical_digest(cols, first)
    workers = pool()

    def parts():
        pending = []
        for batch in itertools.chain((first, second), iter(fetch_batch, [])):
            pending.append(workers.apply_async(canonical_digest, (cols, batch)))
            if len(pending) >= 32:
                yield pending.pop(0).get()
        for p in pending:
            yield p.get()

    return _fold(parts())


def _oracle_digest(con, sql: str, timeout_s: float, pool):
    """(columns, row_count, digest) from DuckDB via the streaming
    canonical digest — O(batch) memory at any result size (VERDICT
    r13 item 4: the sorted-list compare materialized ~57 GB for
    q_edit_distance_join at sf1.0 and needed a bespoke 32 GB-driver
    shard). A positive ``timeout_s`` bounds DUCKDB-SIDE time only
    (``tests.oracle.capped``): con.sql() and each fetchmany() call
    share the budget, and the Python digest of a batch runs outside
    it — otherwise our own canonicalization cost would count against
    the engine's cap and demote rows whose oracle is actually fast
    (observed on the first round-14 sf1.0 shards:
    q_dedup_embedding_cosine DNF'd under the cap that its oracle
    passed in round 13, purely from in-cap digest time). Raises
    ``duckdb.InterruptException`` when the budget runs out."""
    run = capped(con, timeout_s)
    rel = run(lambda: con.sql(sql))
    n, digest = _pooled_digest(
        rel.columns, lambda: run(lambda: rel.fetchmany(10_000)), pool
    )
    return rel.columns, n, digest


def _spark_digest(name: str, sdf) -> tuple[int, str]:
    """(row_count, digest) of a Spark result, computed DISTRIBUTED:
    each Arrow batch is digested by ``canonical_digest`` where it lives
    and the driver folds the partial sums. The serial toLocalIterator
    spelling pickled every row to the driver and digested
    single-threaded (~80 min for the 109 M-row q_edit_distance_join
    attestation at sf1.0; VERDICT r14 item 8). Rows are zipped from
    the batch's columns in schema order, the values a collected Row
    holds. Falls back to the serial path if the result schema cannot
    cross the Arrow boundary."""
    cols = sdf.columns

    def part(batches):
        import pyarrow as pa

        for b in batches:
            n, digest = canonical_digest(cols, zip(*(c.to_pylist() for c in b.columns)))
            yield pa.record_batch({"n": pa.array([n], pa.int64()), "digest": pa.array([digest])})

    try:
        parts = sdf.mapInArrow(part, "n long, digest string").collect()
    except Exception as e:  # noqa: BLE001 — serial path still attests
        print(
            f"WARN {name}: mapInArrow digest failed, digesting serially: "
            f"{type(e).__name__}: {str(e)[:300]}",
            file=sys.stderr,
            flush=True,
        )
        return canonical_digest(cols, sdf.toLocalIterator())
    return _fold((p.n, p.digest) for p in parts)


def _check(d, spark, sf_dir: str, con, timeout_s: float, pool) -> dict:
    """One query's artifact row; an exception is recorded in ``err``."""
    oracle_sha, impl = _pins(d)
    rec = {
        "rows_match": False,
        "schema_match": False,
        "hash_match": False,
        "spark_rows": None,
        "oracle_rows": None,
        "err": None,
        "oracle_sha": oracle_sha,
        "impl_sha": impl,
    }
    try:
        sdf = d.fn(spark, sf_dir)
        rec["spark_rows"], s_digest = _spark_digest(d.name, sdf)
        if d.sql is None:
            # No comparison performed: rows_match stays False; the
            # record only attests the query executed without error.
            rec.update(err="no_oracle", executed=True)
            return rec
        try:
            d_cols, d_n, d_digest = _oracle_digest(con, d.sql, timeout_s, pool)
        except duckdb.InterruptException:
            # The Spark result still executed and was row-counted; the
            # cap is recorded so a run with a RAISED cap retries the row.
            rec.update(
                err=f"oracle_timeout>{timeout_s:g}s",
                oracle_timeout_s=timeout_s,
                executed=True,
            )
            return rec
        rec["oracle_rows"] = d_n
        rec["rows_match"] = rec["spark_rows"] == d_n
        rec["schema_match"] = sorted(sdf.columns) == sorted(d_cols)
        rec["hash_match"] = rec["rows_match"] and rec["schema_match"] and s_digest == d_digest
    except Exception as e:  # noqa: BLE001 — record, keep going
        rec["err"] = f"{type(e).__name__}: {e}"[:300]
        traceback.print_exc()
    return rec


def _shard_spec(spec: str) -> tuple[int, int]:
    try:
        i, n = (int(x) for x in spec.split("/"))
    except ValueError:
        raise argparse.ArgumentTypeError(f"expected I/N, got {spec!r}") from None
    if not 0 <= i < n:
        raise argparse.ArgumentTypeError(f"need 0 <= I < N, got {spec!r}")
    return i, n


def _parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(prog="full_correctness.py")
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("names_csv", nargs="?", help="only these query names")
    mode = ap.add_mutually_exclusive_group()
    mode.add_argument(
        "--update", action="store_true",
        help="re-run stale/missing rows and merge them into the artifact",
    )
    mode.add_argument(
        "--shard", type=_shard_spec, metavar="I/N",
        help="run residue class I mod N into <artifact>.shardIofN",
    )
    return ap.parse_intermixed_args(argv)


def main() -> int:
    args = _parse(sys.argv[1:])
    names = set(args.names_csv.split(",")) if args.names_csv else None
    restricted = names is not None and not (args.update or args.shard)
    artifact = None if restricted else _artifact_path(args.sf_dir)

    from crypto_streaming_lakehouse_spark.registry import REGISTRY
    from crypto_streaming_lakehouse_spark.session import get_spark

    timeout_s = float(os.environ.get("SPARK_GRAFT_DUCKDB_TIMEOUT_S", "0"))
    run = names  # None: every registry query
    prior: dict[str, dict] = {}
    extra: dict = {}
    mode = "full-from-scratch"
    if args.update:
        mode = "update-merge"
        with open(artifact) as f:
            prior_doc = json.load(f)
        prior = {n: prior_doc[n] for n in REGISTRY if n in prior_doc}
        run = {
            n
            for n, d in REGISTRY.items()
            if n not in prior or _stale(prior[n], _pins(d), timeout_s)
        }
        if names is not None:
            run &= names
        print(f"--update: re-running {len(run)} stale/missing queries")
        if not run:
            return _restamp(artifact, args.sf_dir, prior_doc.get("_meta", {}), prior)
    elif args.shard:
        # A shard runs in its own process and checkpoints after every
        # query, so one OOM (q_edit_distance_join's ~57 GB compare at
        # sf1.0) cannot lose hours of other rows; merge_shards.py checks
        # the shards were earned on one commit. SPARK_GRAFT_SHARD_EXCLUDE
        # carves out rows that need their own isolated process.
        i, n = args.shard
        exclude = set(
            filter(None, os.environ.get("SPARK_GRAFT_SHARD_EXCLUDE", "").split(","))
        )
        run = {
            q
            for k, q in enumerate(REGISTRY)
            if k % n == i and q not in exclude and (names is None or q in names)
        }
        print(f"shard {i}/{n}: {len(run)} queries")
        artifact += f".shard{i}of{n}"
        mode = f"shard-from-scratch({i}/{n})"
        extra = {"shard_exclude": sorted(exclude), "shard_only": sorted(names or ())}

    spark = get_spark("full-correctness")
    con = duckdb_connect(args.sf_dir)
    pool = functools.cache(
        lambda: mp.get_context("fork").Pool(min(16, os.cpu_count() or 4))
    )
    out: dict[str, dict] = {}
    t_start = time.time()
    # The fork pool's workers must not outlive the sweep, also when a
    # query raises out of the loop (KeyboardInterrupt, a Spark crash).
    try:
        for name, d in REGISTRY.items():
            if run is not None and name not in run:
                continue
            out[name] = rec = _check(d, spark, args.sf_dir, con, timeout_s, pool)
            if _is_timeout(rec):
                print(f"DNF  {name} (oracle >{timeout_s:g}s)", flush=True)
            else:
                flag = "OK" if rec["hash_match"] or rec["err"] == "no_oracle" else "FAIL"
                print(f"{flag:4s} {name} ({rec['spark_rows']} rows)", flush=True)
            if args.shard:
                # Crash-safe checkpoint: one lost row max per shard.
                with open(artifact, "w") as f:
                    json.dump(out, f, indent=1)
    finally:
        if pool.cache_info().currsize:
            pool().terminate()

    if restricted:
        print(json.dumps(out, indent=1))
        spark.stop()
        return 0 if all(
            r["hash_match"] or r["err"] == "no_oracle" for r in out.values()
        ) else 1

    reused = len(prior.keys() - out.keys())  # prior is empty unless --update
    merged = {**prior, **out}
    # Registry order keeps the artifact diff-stable across modes.
    out = {n: merged[n] for n in REGISTRY if n in merged}
    meta = _meta(
        args.sf_dir, mode, out,
        n_rows_reused_from_prior=reused,
        wall_s=round(time.time() - t_start, 1),
        **extra,
    )
    with open(artifact, "w") as f:
        json.dump({"_meta": meta, **out}, f, indent=1)
    print(json.dumps(meta))
    spark.stop()
    return 0 if meta["n_fail"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
