"""Physical-plan introspection helpers.

The reference has no optimizer (SURVEY.md §4) — on Spark the plan IS
the performance contract, so these helpers make plan properties
assertable in tests: filters must reach the parquet scan, dimension
joins must broadcast, and hot expressions must stay inside whole-stage
codegen.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def plan_string(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode)


def executed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters entries across the plan's file scans."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan_string(df)):
        out.extend(p.strip() for p in m.group(1).split(",") if p.strip())
    return out


def join_strategies(df: DataFrame) -> dict[str, int]:
    plan = executed_plan(df)
    return {
        "broadcast_hash": plan.count("BroadcastHashJoin"),
        "sort_merge": plan.count("SortMergeJoin"),
        "shuffled_hash": plan.count("ShuffledHashJoin"),
        "broadcast_nested_loop": plan.count("BroadcastNestedLoopJoin"),
        "cartesian": plan.count("CartesianProduct"),
    }


def exchange_count(df: DataFrame) -> int:
    """Shuffle exchanges in the plan (excluding broadcast exchanges)."""
    plan = executed_plan(df)
    return len(re.findall(r"Exchange (?:hash|range|RoundRobin|SinglePartition)",
                          plan))


def codegen_stage_count(df: DataFrame) -> int:
    """WholeStageCodegen spans in the FINAL plan.  Under AQE the
    executed plan is adaptive and hides codegen until an action runs, so
    this triggers a count() to finalize it."""
    plan = executed_plan(df)
    if "isFinalPlan=false" in plan:
        # count() would wrap df in a NEW query; only executing THIS
        # Dataset finalizes its own AdaptiveSparkPlanExec
        df.collect()
        plan = executed_plan(df)
    # spans appear as "WholeStageCodegen (n)" in formatted explain but as
    # "*(n)" markers in plan toString — count distinct span ids
    ids = set(re.findall(r"\*\((\d+)\)", plan))
    return len(ids) or plan.count("WholeStageCodegen")


def python_udf_count(df: DataFrame) -> int:
    """Python evaluation operators in the plan — the slow path; headline
    queries assert this is zero."""
    plan = executed_plan(df)
    # 'MapInArrow' also substring-matches 'PythonMapInArrow', so the
    # latter needs no separate term (it would double-count)
    return (plan.count("BatchEvalPython") + plan.count("ArrowEvalPython")
            + plan.count("FlatMapGroupsInPandas")
            + plan.count("MapInPandas") + plan.count("MapInArrow"))
