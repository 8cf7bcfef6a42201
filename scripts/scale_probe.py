"""Empirical scale-up probe: amplify the sf0.1 fixtures 10x into a temp
dir with ``scripts/gen_sf1.amplify`` (the construction the sf1.0 bench
trend and attestation read: keys shifted by one stride on both sides of
every foreign key, document words shuffled and embeddings rotated per
copy), then time selected registry queries at base vs amplified scale
and print the factor.

Usage: python scripts/scale_probe.py [q_name ...]
Defaults to the round-2 additions. Results are recorded in SCALE.md's
"Empirical 10x scale-up" table.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DEFAULT_QUERIES = [
    "q_pagerank",
    "q_kmeans",
    "q_pmi_collocations",
    "q_bm25",
    "q_token_entropy",
    "q_funnel",
    "q_retention_cohorts",
    "q_decontaminate",
    "q_local_supplier_volume",
]


def main() -> None:
    from bench import bench_cpus, bench_session, time_cold

    names = sys.argv[1:] or DEFAULT_QUERIES
    # Shuffle width = cpus, the sizing SCALE.md's rows were measured
    # under. Base and amplified fixtures are both one file per table,
    # and the bench session's scan cache re-slices both the same way:
    # mixed layouts skewed factors by up to 5× (minhash "6.5×" under
    # mixed layout vs 1.8× under uniform layout).
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE", str(bench_cpus()))
    spark = bench_session("scale-probe")

    from crypto_streaming_lakehouse_spark.registry import REGISTRY
    from crypto_streaming_lakehouse_spark.sources.scan_cache import _cache_root
    from scripts.gen_sf1 import COPIES, amplify

    with tempfile.TemporaryDirectory(prefix="amplified_") as big:
        # The scan cache keeps a re-sliced copy of each table under a dir
        # named after the fixture's path; the temp dir's copy is useless
        # once the temp dir is gone, so it goes with it.
        slug = os.path.realpath(big).strip("/").replace("/", "_")
        try:
            print(f"amplifying {BASE} x{COPIES} -> {big}", file=sys.stderr)
            amplify(spark, BASE, big)

            # time_cold clears cross-query memos before every timed run, so
            # each pays its own materializations — the probe measures how ONE
            # query scales, not how a warm cache performs.
            print(f"{'query':30s} {'base':>7s} {'10x':>7s} {'factor':>7s}")
            for n in names:
                if n not in REGISTRY:
                    continue
                b = time_cold(spark, n, BASE, 2)
                a = time_cold(spark, n, big, 2)
                print(f"{n:30s} {b:7.2f} {a:7.2f} {a / b:6.1f}x")
        finally:
            shutil.rmtree(_cache_root() / slug, ignore_errors=True)


if __name__ == "__main__":
    main()
