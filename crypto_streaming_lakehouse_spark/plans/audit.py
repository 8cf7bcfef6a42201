"""Physical-plan audit: assert the scale-health properties of a query plan.

At 100 TB the difference between a healthy and a pathological plan is not
visible in small-SF correctness tests — a cartesian product, a lost filter
pushdown, or a full-width scan all "pass" on 60k rows. This module turns
`.explain("formatted")` into a structured audit so tests can pin the plan
properties that matter at scale:

- **pushed filters** reach the parquet scan (row-group skipping);
- **column pruning**: ReadSchema carries only the referenced columns;
- **join strategy**: small dims broadcast, no BroadcastNestedLoopJoin or
  CartesianProduct sneaking in behind an inequality predicate;
- **shuffle (Exchange) count**: bounded, reused where partitioning aligns;
- **whole-stage codegen** covers the hot operators;
- **TakeOrderedAndProject** for top-K instead of a full sort.

The audit reads Spark's explain output (a public, stable surface) rather
than private plan objects, so it works on any DataFrame from any session.
One reader goes further: ``broadcast_nlj_rows`` runs the query and walks
the executed (AQE final) plan for the row counts each nested-loop join
actually broadcast — the seed of per-stage figures read from the
executed plan rather than the explained one.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame


def explain_string(df: DataFrame, mode: str = "formatted") -> str:
    """The string `.explain(mode)` would print."""
    sc = df.sparkSession.sparkContext
    return sc._jvm.PythonSQLUtils.explainString(  # type: ignore[union-attr]
        df._jdf.queryExecution(), mode
    )


@dataclass
class ScanInfo:
    location: str
    read_schema: str
    pushed_filters: str

    @property
    def read_columns(self) -> list[str]:
        return re.findall(r"(\w+):", self.read_schema)


@dataclass
class PlanAudit:
    plan: str
    scans: list[ScanInfo] = field(default_factory=list)

    def _nodes(self, name: str) -> int:
        """Count physical nodes by their formatted-mode detail header
        ``(n) Name`` — each node appears once there (the tree section would
        double-count)."""
        return len(re.findall(rf"\(\d+\) {name}\b", self.plan))

    # -- joins ------------------------------------------------------------
    @property
    def broadcast_hash_joins(self) -> int:
        return self._nodes("BroadcastHashJoin")

    @property
    def sort_merge_joins(self) -> int:
        return self._nodes("SortMergeJoin")

    @property
    def shuffled_hash_joins(self) -> int:
        return self._nodes("ShuffledHashJoin")

    @property
    def nested_loop_joins(self) -> int:
        return self._nodes("BroadcastNestedLoopJoin") + self._nodes(
            "CartesianProduct"
        )

    # -- movement ---------------------------------------------------------
    @property
    def exchanges(self) -> int:
        """Shuffle exchanges only (broadcast exchanges counted separately)."""
        return self._nodes("Exchange")

    @property
    def broadcast_exchanges(self) -> int:
        return self._nodes("BroadcastExchange")

    @property
    def top_k(self) -> bool:
        return "TakeOrderedAndProject" in self.plan

    def pushed_filter_on(self, column: str) -> bool:
        return any(column in s.pushed_filters for s in self.scans)

    def scan_of(self, table: str) -> ScanInfo | None:
        for s in self.scans:
            if table in s.location:
                return s
        return None


_SCAN_RE = re.compile(
    r"Scan parquet ?\n(?:.*\n)*?"
    r"Location:.*?\[(?P<loc>[^\]]*)\]\n"
    r"(?:PushedFilters: \[(?P<pf>[^\]]*)\]\n)?"
    r"ReadSchema: (?P<rs>.*)"
)


def audit(df: DataFrame) -> PlanAudit:
    plan = explain_string(df, "formatted")
    scans = [
        ScanInfo(m.group("loc"), m.group("rs"), m.group("pf") or "")
        for m in _SCAN_RE.finditer(plan)
    ]
    return PlanAudit(plan=plan, scans=scans)


def _exec_children(node) -> list:
    """Children of an executed-plan node, through AQE's leaf wrappers."""
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if name.endswith("QueryStageExec"):
        return [node.plan()]
    if name == "ReusedExchangeExec":
        return [node.child()]
    return [
        seq.apply(i)
        for seq in (node.children(), node.subqueries())
        for i in range(seq.size())
    ]


def _broadcast_rows(node) -> int:
    """``numOutputRows`` of the BroadcastExchange at (or wrapped by) node."""
    while node.getClass().getSimpleName() != "BroadcastExchangeExec":
        (node,) = _exec_children(node)
    return int(node.metrics().apply("numOutputRows").value())


def broadcast_nlj_rows(df: DataFrame) -> list[int | None]:
    """Run ``df`` and return, for each nested-loop join in its executed
    plan, the rows its build side broadcast; a CartesianProduct (no
    broadcast, both sides unbounded) reads ``None``."""
    df.collect()
    out: list[int | None] = []
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name == "BroadcastNestedLoopJoinExec":
            build_left = node.buildSide().toString() == "BuildLeft"
            out.append(_broadcast_rows(node.left() if build_left else node.right()))
        elif name == "CartesianProductExec":
            out.append(None)
        stack.extend(_exec_children(node))
    return out
