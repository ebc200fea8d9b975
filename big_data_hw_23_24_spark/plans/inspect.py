"""Plan-inspection helpers: assert physical properties in tests.

The engine's scale contract is checked, not hoped for: tests use these
to assert that filters reach the parquet scan and hot paths stay
inside whole-stage codegen.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), mode)


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries of every scan in the physical plan."""
    text = explain_str(df)
    return re.findall(r"PushedFilters: \[([^\]]*)\]", text)


def wholestage_codegen_spans(df: DataFrame) -> int:
    """Number of WholeStageCodegen subtrees (bigger spans = fewer)."""
    text = explain_str(df, "simple")
    return len(set(re.findall(r"\*\((\d+)\)", text)))

