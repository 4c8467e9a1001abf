"""Plan inspection helpers: assert the physical plan is the one we want.

"Correct but 10x slower" is still a bug at 100 TB — these helpers make plan
quality testable: filters must reach the parquet scan (PushedFilters),
projections must prune the read schema (ReadSchema), dim joins must
broadcast, and hot paths must stay inside WholeStageCodegen.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters entries across scans in the formatted plan."""
    plan = formatted_plan(df)
    return [
        m.group(1).strip()
        for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan)
        if m.group(1).strip()
    ]


def read_schemas(df: DataFrame) -> list[str]:
    plan = formatted_plan(df)
    return [m.group(1) for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan)]


def count_broadcast_joins(df: DataFrame) -> int:
    return formatted_plan(df).count("BroadcastHashJoin")


def count_shuffles(df: DataFrame) -> int:
    return formatted_plan(df).count("Exchange")


def has_whole_stage_codegen(df: DataFrame) -> bool:
    """AQE assigns codegen ids only once stages execute — run the plan, then
    inspect the final adaptive plan."""
    df.collect()  # count() would execute a derived plan, not this one
    plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "simple"
    )
    # codegen'd operators render as "*(n) NodeName" in the final plan
    return re.search(r"\*\(\d+\)", plan) is not None


def physical_operators(df: DataFrame) -> list[tuple[object, object | None]]:
    """(operator, parent) pairs over the physical plan as first planned —
    the plan inside AdaptiveSparkPlan before any stage runs, exchanges
    included. Both are JVM ``SparkPlan`` handles (``nodeName()``, ...)."""
    root = df._jdf.queryExecution().executedPlan()  # noqa: SLF001
    if root.nodeName() == "AdaptiveSparkPlan":
        root = root.executedPlan()
    out, stack = [], [(root, None)]
    while stack:
        node, parent = stack.pop()
        out.append((node, parent))
        kids = node.children()
        stack.extend((kids.apply(i), node) for i in range(kids.size()))
    return out


def window_group_limits(df: DataFrame) -> list[tuple[str, str]]:
    """(mode, parent operator) of every ``WindowGroupLimit``: a bounded
    ``row_number <= k`` top-k plans as ("Partial", "Exchange") below the
    shuffle and ("Final", "Window") above it."""
    return [
        (node.mode().toString(), parent.nodeName())
        for node, parent in physical_operators(df)
        if node.nodeName() == "WindowGroupLimit"
    ]


def unpartitioned_window_children(df: DataFrame) -> list[str]:
    """Child operator of every ``Window`` with no PARTITION BY. Such a
    window runs in one task; ``TakeOrderedAndProject`` as its child means
    that task ranks only the k rows a global top-k kept."""
    return [
        node.child().nodeName()
        for node, _ in physical_operators(df)
        if node.nodeName() == "Window" and node.partitionSpec().isEmpty()
    ]
