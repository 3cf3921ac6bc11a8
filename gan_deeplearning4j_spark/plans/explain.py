"""Plan inspection utilities.

The engine's performance contract is enforced as *plan-shape assertions*, not
just wall-clock: filters must reach the parquet scan (PushedFilters), small
dimensions must broadcast (BroadcastHashJoin), per-group top-k must compile to
TakeOrderedAndProject / WindowGroupLimit rather than a global sort, and
expression work must stay inside WholeStageCodegen. tests/test_plans.py pins
these for the headline queries so a regression in plan quality fails CI the
same way a wrong answer would.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    jdf = df._jdf
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return jdf.queryExecution().explainString(mode)


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters lists that reach parquet scans, one string per scan."""
    return re.findall(r"PushedFilters: \[([^\]]*)\]", formatted_plan(df))


def plan_tree(df: DataFrame) -> str:
    """Just the operator tree (formatted explain repeats operator names in
    the per-node detail section below the tree)."""
    return formatted_plan(df).split("\n\n")[0]


def count_operator(df: DataFrame, op: str) -> int:
    return len(re.findall(rf"\b{re.escape(op)}\b", plan_tree(df)))


def has_broadcast_join(df: DataFrame) -> bool:
    return count_operator(df, "BroadcastHashJoin") > 0


def read_columns(df: DataFrame) -> list[list[str]]:
    """ReadSchema column lists per scan — column pruning check."""
    out = []
    for m in re.findall(r"ReadSchema: struct<([^>]*)>", formatted_plan(df)):
        out.append([c.split(":")[0] for c in m.split(",") if c])
    return out
