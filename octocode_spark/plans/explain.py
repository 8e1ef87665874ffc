"""Physical-plan introspection: assert the plans we WANT, not just plans that
pass — pushed filters reach the scan, dims broadcast, top-k plans as
TakeOrderedAndProject, hot paths stay inside WholeStageCodegen.

(The reference's optimizer surface is the `only_if`/`Select::Columns`
pushdown pair, SURVEY §4.1; in Spark these are Catalyst built-ins — this
module is how we PROVE they fired.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def plan_has(df: DataFrame, *needles: str) -> dict[str, bool]:
    plan = formatted_plan(df)
    return {n: (n in plan) for n in needles}
