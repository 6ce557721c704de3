"""Physical-plan audit: machine-checkable scale invariants.

The reference hand-tunes its plans (ORC pushdown flags, blank repartitions,
`Analytics.scala:10-28`); our engine delegates planning to Catalyst and
instead AUDITS the result. `audit_plan` parses the executed-plan string into
the facts that matter at 100 TB; `assert_scaleable` turns them into test
assertions so a regression (lost pushdown, accidental cartesian product,
runaway Python stage) fails CI rather than surfacing as a cluster incident.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame


@dataclass
class PlanAudit:
    broadcast_joins: int = 0
    sort_merge_joins: int = 0
    shuffled_hash_joins: int = 0
    nested_loop_joins: int = 0
    cartesian_products: int = 0
    exchanges: int = 0
    # the split of `exchanges` by kind (a ReusedExchange is in neither)
    broadcast_exchanges: int = 0
    shuffle_exchanges: int = 0
    window_group_limits: int = 0
    python_stages: int = 0
    scans: list[dict] = field(default_factory=list)  # {schema, pushed}
    # optimized-plan Window lines whose spec has NO partition columns —
    # each forces its whole input through ONE task, so every entry must
    # be provably dimension-bounded (a value histogram, a distinct-key
    # dictionary), never corpus-sized
    unpartitioned_window_lines: list[str] = field(default_factory=list)

    @property
    def joins(self) -> int:
        return (
            self.broadcast_joins
            + self.sort_merge_joins
            + self.shuffled_hash_joins
            + self.nested_loop_joins
            + self.cartesian_products
        )


def _top_level_args(s: str) -> list[str]:
    """Split a windowspecdefinition argument string at depth-0 commas,
    stopping at the spec's own closing paren (input starts just past the
    opening one)."""
    args, depth, cur = [], 0, []
    for ch in s:
        if ch == "(":
            depth += 1
        elif ch == ")":
            if depth == 0:
                break
            depth -= 1
        elif ch == "," and depth == 0:
            args.append("".join(cur).strip())
            cur = []
            continue
        cur.append(ch)
    if cur:
        args.append("".join(cur).strip())
    return args


def audit_plan(df: DataFrame) -> PlanAudit:
    """Parse the (pre-execution) physical plan of a DataFrame."""
    # plan strings truncate scan metadata at spark.sql.maxMetadataStringLength
    # (default 100 chars) — raise it so ReadSchema/PushedFilters parse whole
    df.sparkSession.conf.set("spark.sql.maxMetadataStringLength", "4096")
    plan = df._jdf.queryExecution().executedPlan().toString()
    a = PlanAudit(
        broadcast_joins=plan.count("BroadcastHashJoin")
        + plan.count("BroadcastNestedLoopJoin"),
        sort_merge_joins=plan.count("SortMergeJoin"),
        shuffled_hash_joins=plan.count("ShuffledHashJoin"),
        nested_loop_joins=plan.count("BroadcastNestedLoopJoin"),
        cartesian_products=plan.count("CartesianProduct"),
        exchanges=plan.count("Exchange"),
        broadcast_exchanges=plan.count("BroadcastExchange"),
        shuffle_exchanges=len(re.findall(r"(?<![A-Za-z])Exchange\b", plan)),
        window_group_limits=plan.count("WindowGroupLimit"),
        python_stages=plan.count("ArrowEvalPython")
        + plan.count("MapInPandas")
        + plan.count("BatchEvalPython"),
    )
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    for line in opt.splitlines():
        for m in re.finditer(r"windowspecdefinition\(", line):
            args = _top_level_args(line[m.end():])
            first = args[0] if args else ""
            if first.startswith("specifiedwindowframe(") or re.search(
                r" (ASC|DESC) NULLS", first
            ):
                a.unpartitioned_window_lines.append(line.strip())
                break  # one hit per Window line is enough
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\][^\n]*", plan):
        a.scans.append({"pushed": m.group(1)})
    for i, m in enumerate(re.finditer(r"ReadSchema: struct<([^\n]*)", plan)):
        cols = [
            c.split(":")[0]
            for c in m.group(1).rstrip(">").split(",")
            if c and not c.endswith("...")  # drop any still-truncated tail
        ]
        if i < len(a.scans):
            a.scans[i]["schema"] = cols
        else:
            a.scans.append({"pushed": "", "schema": cols})
    return a


def assert_scaleable(
    df: DataFrame,
    max_scan_cols: int | None = None,
    allow_cartesian: bool = False,
    allow_python: bool = True,
    require_pushdown: bool = False,
) -> PlanAudit:
    """Assert the plan has no scale killers; returns the audit for further
    checks. Defaults are the invariants EVERY query must satisfy."""
    a = audit_plan(df)
    if not allow_cartesian:
        assert a.cartesian_products == 0, "cartesian product in plan"
    if not allow_python:
        assert a.python_stages == 0, "unexpected Python stage in hot path"
    if max_scan_cols is not None:
        for s in a.scans:
            cols = s.get("schema", [])
            assert len(cols) <= max_scan_cols, (
                f"scan reads {len(cols)} columns ({cols}) — projection not pruned"
            )
    if require_pushdown:
        assert any(s["pushed"] for s in a.scans), "no filters pushed to any scan"
    return a
