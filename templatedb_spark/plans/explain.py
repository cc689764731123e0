"""Plan inspection helpers.

The reference validates its optimizer with golden plan-tree files
(tests/planner/*.planner.sql). Golden text for Spark plans is brittle
(SURVEY.md §5.2), so we assert *semantic plan properties* instead: filters
reached the parquet scan, scans read only needed columns, joins picked the
strategy we designed for, no Python UDF appears in a hot path. These are the
invariants that keep a query viable at 100 TB, checked in tests/test_plans.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def has_pushed_filters(df: DataFrame) -> bool:
    """True if any parquet scan carries pushed filters."""
    plan = formatted_plan(df)
    for line in plan.splitlines():
        if "PushedFilters" in line and "[]" not in line.split("PushedFilters")[1][:4]:
            return True
    return False


def read_schema_columns(df: DataFrame) -> list[str]:
    """Column names in every scan's ReadSchema (column-pruning check)."""
    plan = formatted_plan(df)
    cols: list[str] = []
    for line in plan.splitlines():
        if "ReadSchema" in line:
            inner = line.split("struct<", 1)
            if len(inner) == 2:
                body = inner[1].rsplit(">", 1)[0]
                cols += [c.split(":")[0].strip() for c in body.split(",") if ":" in c]
    return cols


def join_strategies(df: DataFrame) -> list[str]:
    plan = formatted_plan(df)
    out = []
    for marker in (
        "BroadcastHashJoin",
        "SortMergeJoin",
        "ShuffledHashJoin",
        "BroadcastNestedLoopJoin",
        "CartesianProduct",
    ):
        if marker in plan:
            out.append(marker)
    return out


def uses_python_udf(df: DataFrame) -> bool:
    plan = formatted_plan(df)
    return "BatchEvalPython" in plan  # row-at-a-time Python UDF (the slow path)


def global_sort_window_lines(plan: str) -> list[str]:
    """Plan lines of ordered-but-UNPARTITIONED Window nodes whose input is not
    a TakeOrderedAndProject prefilter — the top-k scale-killer detector.

    `row_number() OVER (ORDER BY ...)` with no PARTITION BY forces the whole
    input relation into one task (full global sort, single partition). The
    sanctioned shape is `suite.fused_topk`: orderBy().limit(k) fuses to
    TakeOrderedAndProject (distributed per-partition heaps) and the window
    then only numbers the ≤k survivors. Detection: in the physical plan a
    windowspecdefinition lists partition columns first (bare refs), then
    order columns (carrying ASC/DESC NULLS) — so a FIRST argument with a
    sort direction means no partition spec. A node whose direct child is
    TakeOrderedAndProject is the fused shape and is not reported.
    """
    import re

    lines = plan.splitlines()
    out: list[str] = []
    for i, line in enumerate(lines):
        if not re.search(r"\bWindow \[", line):
            continue
        m = re.search(r"windowspecdefinition\(([^)]*)", line)
        if not m:
            continue
        first_arg = m.group(1).split(", ")[0]
        if not re.search(r"(ASC|DESC) NULLS", first_arg):
            continue  # partitioned window: parallel by key, fine
        child = lines[i + 1] if i + 1 < len(lines) else ""
        if "TakeOrderedAndProject" in child:
            continue  # fused_topk shape: window sees ≤k rows
        out.append(line.strip()[:120])
    return out
