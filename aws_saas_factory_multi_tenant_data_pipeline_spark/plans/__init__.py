"""Plan inspection helpers: assert the physical plan is the one we want.

Used by tests to enforce the scale-critical properties SURVEY.md §4 calls
out: partition pruning on tenant scans, filter/column pushdown into parquet
scans, broadcast joins for small dims, whole-stage codegen coverage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def assert_partition_pruned(df: DataFrame, col: str, value: str) -> None:
    """Physical plan must show a partition filter on (col = value)."""
    plan = formatted_plan(df)
    if "PartitionFilters" not in plan:
        raise AssertionError(f"no PartitionFilters in plan:\n{plan}")
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    if not any(col in ln and value in ln for ln in pf):
        raise AssertionError(f"partition filter ({col} = {value}) not found:\n{pf}")


def assert_pushed_filter(df: DataFrame, fragment: str) -> None:
    """Parquet scan must show the predicate in PushedFilters."""
    plan = formatted_plan(df)
    pf = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    if not any(fragment in ln for ln in pf):
        raise AssertionError(f"pushed filter {fragment!r} not found in:\n{pf}")


def assert_broadcast_join(df: DataFrame) -> None:
    plan = formatted_plan(df)
    if "BroadcastHashJoin" not in plan and "BroadcastNestedLoopJoin" not in plan:
        raise AssertionError(f"no broadcast join in plan:\n{plan}")


def codegen_stage_count(df: DataFrame) -> int:
    """Number of whole-stage-codegen spans in the (final) physical plan.

    Under AQE the codegen'd final plan only exists after execution, where
    stages appear as ``*(n)`` markers; triggers the query if needed.
    """
    ep = df._jdf.queryExecution().executedPlan()
    plan = ep.toString()
    if "AdaptiveSparkPlan" in plan:
        df.count()
        plan = df._jdf.queryExecution().executedPlan().finalPhysicalPlan().toString()
        return plan.count("*(")
    return plan.count("WholeStageCodegen")
