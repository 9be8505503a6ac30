"""Plan inspection utilities — the engine's `.explain` feedback loop.

Used by tests to pin the physical-plan properties that matter at 100 TB:
dimension joins must broadcast (no fact shuffle), filters must reach the
parquet scan (PushedFilters), projections must prune the scan (ReadSchema),
and hot expressions must stay inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in physical_plan(df) or "BroadcastNestedLoopJoin" in physical_plan(df)


def pushed_filters(df: DataFrame) -> str:
    """The PushedFilters section(s) of the formatted plan."""
    out = []
    for line in formatted_plan(df).splitlines():
        if "PushedFilters" in line:
            out.append(line.strip())
    return "\n".join(out)


def read_schema(df: DataFrame) -> str:
    out = []
    for line in formatted_plan(df).splitlines():
        if "ReadSchema" in line:
            out.append(line.strip())
    return "\n".join(out)


def count_shuffles(df: DataFrame) -> int:
    return physical_plan(df).count("Exchange")


def codegen_stage_count(df: DataFrame) -> int:
    """Number of operators inside whole-stage codegen spans (the formatted
    plan tags them with `[codegen id : N]`)."""
    return formatted_plan(df).count("codegen id")
