"""Physical-plan audit utilities.

`.explain()` is a debugging aid; these helpers turn the same information
into assertions so scale-critical plan properties are *tested*, not
eyeballed (SURVEY.md §4): filters reach the parquet scan, dimension
joins broadcast, top-k plans as TakeOrderedAndProject, NN joins never
degenerate into cartesian products, and relational stages stay inside
whole-stage codegen.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(df: DataFrame) -> str:
    # Same JVM helper PySpark's DataFrame.explain() routes through.
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def pushed_filters(df: DataFrame) -> list[str]:
    """The filter expressions that reached the parquet reader."""
    return re.findall(r"PushedFilters: \[([^\]]*)\]", formatted_plan(df))


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema entries — what each scan actually reads (pruning check)."""
    return re.findall(r"ReadSchema: struct<([^>]*)>", formatted_plan(df))


def has_codegen(df: DataFrame) -> bool:
    """Whole-stage codegen spans render as ``*(id)`` in the executed-plan
    string (the literal node name only appears pre-execution)."""
    return re.search(r"\*\(\d+\)", physical_plan(df)) is not None


def assert_plan(df: DataFrame, *, contains: tuple[str, ...] = (),
                absent: tuple[str, ...] = ()) -> None:
    plan = physical_plan(df)
    for node in contains:
        assert node in plan, f"expected {node} in plan:\n{plan}"
    for node in absent:
        assert node not in plan, f"unwanted {node} in plan:\n{plan}"
