"""Plan introspection — make the scale properties of a query inspectable.

Used by tests/test_plan_shapes.py and by humans iterating on operator
shapes: a query isn't done when it returns the right rows, it's done
when the plan is the one you'd want at 100 TB (SURVEY.md §4).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

#: Plan fragments that should never appear in a production operator.
RED_FLAGS = (
    "CartesianProduct",
    "BroadcastNestedLoopJoin",
    "BatchEvalPython",  # row-at-a-time Python (Arrow paths show ArrowEvalPython)
)


def executed_plan(df: DataFrame, run: bool = False) -> str:
    """The physical plan string; run=True executes first so AQE finalizes."""
    if run:
        df.write.format("noop").mode("overwrite").save()
    return df._jdf.queryExecution().executedPlan().toString()


def plan_flags(df: DataFrame) -> dict[str, bool]:
    """Presence of the plan features we care about, red flags included."""
    plan = executed_plan(df)
    flags = {
        "broadcast_join": "BroadcastHashJoin" in plan,
        "sort_merge_join": "SortMergeJoin" in plan,
        "partial_agg": "partial_" in plan,
        "top_k": "TakeOrderedAndProject" in plan,
        "pushed_filters": bool(re.search(r"PushedFilters: \[[^\]]", plan)),
    }
    for rf in RED_FLAGS:
        flags[f"red:{rf}"] = rf in plan
    return flags
