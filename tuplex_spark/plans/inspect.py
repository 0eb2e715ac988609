"""Physical-plan inspection helpers.

The scale discipline (SURVEY.md §4): filters and projections must reach
the scan, joins should broadcast when one side is small, and expressions
should stay inside whole-stage codegen.  These helpers read the formatted
plan so tests can assert those properties instead of eyeballing
``explain()`` output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# physical operators that run Python code on rows
_PYTHON_EVAL_NODES = ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                      "MapInArrow", "FlatMapGroupsInPandas",
                      "FlatMapGroupsInArrow")


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def explain_summary(df: DataFrame) -> dict:
    plan = formatted_plan(df)
    return {
        "pushed_filters": "PushedFilters: [" in plan
                          and "PushedFilters: []" not in plan,
        "broadcast_join": "BroadcastHashJoin" in plan,
        "sortmerge_join": "SortMergeJoin" in plan,
        "wholestage_codegen": ("WholeStageCodegen" in plan
                               or "codegen id" in plan),
        "python_eval": any(n in plan for n in _PYTHON_EVAL_NODES),
        "scans": plan.count("Scan parquet") + plan.count("Scan csv"),
        "exchanges": plan.count("Exchange"),
        "plan": plan,
    }


def assert_pushdown(df: DataFrame, want_filters: bool = True,
                    want_codegen: bool = True):
    s = explain_summary(df)
    if want_filters and not s["pushed_filters"]:
        raise AssertionError(f"no pushed filters:\n{s['plan']}")
    if want_codegen and not s["wholestage_codegen"]:
        raise AssertionError(f"no whole-stage codegen:\n{s['plan']}")
    return s
