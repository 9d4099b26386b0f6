"""Physical-plan audit helpers — the 100 TB design-rule enforcement.

These inspect the executed (post-AQE-planning) SparkPlan string so tests
can assert structural properties the scale posture depends on:

- small dims join via BroadcastHashJoin (no shuffle of the fact side);
- predicates reach the parquet scan (PushedFilters);
- column pruning reaches the scan (ReadSchema carries only needed columns);
- no row-at-a-time Python UDFs (BatchEvalPython) anywhere in the engine.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    # Scan metadata (PushedFilters/ReadSchema) is truncated to
    # spark.sql.maxMetadataStringLength chars by default; widen while
    # rendering so audits see the full filter/schema lists.
    spark = df.sparkSession
    key = "spark.sql.maxMetadataStringLength"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "10000")
        return df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, old)


def has_broadcast_hash_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in executed_plan(df)


def has_python_udf(df: DataFrame) -> bool:
    plan = executed_plan(df)
    return "BatchEvalPython" in plan or "PythonUDF" in plan


def _balanced_span(text: str, start: int, open_ch: str, close_ch: str) -> str:
    """Content of the bracketed span beginning at ``start`` (which must point
    at ``open_ch``), honoring nesting — In(col, [a,b]) and struct<array<int>>
    would truncate a first-close regex."""
    depth = 0
    for i in range(start, len(text)):
        if text[i] == open_ch:
            depth += 1
        elif text[i] == close_ch:
            depth -= 1
            if depth == 0:
                return text[start + 1 : i]
    return text[start + 1 :]


def _split_top_level(s: str, sep: str = ",") -> list[str]:
    """Split on ``sep`` only at bracket depth 0 (ignores (), [], <>)."""
    parts, depth, cur = [], 0, []
    for ch in s:
        if ch in "([<":
            depth += 1
        elif ch in ")]>":
            depth -= 1
        if ch == sep and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur))
    return parts


def pushed_filters(df: DataFrame) -> list[str]:
    """All non-empty PushedFilters lists appearing in the plan."""
    plan = executed_plan(df)
    out = []
    for m in re.finditer(r"PushedFilters: ", plan):
        span = _balanced_span(plan, m.end(), "[", "]")
        if span.strip():
            out.append(span)
    return out


def read_schema_columns(df: DataFrame) -> list[list[str]]:
    """Column name lists of each parquet ReadSchema in the plan (nesting and
    parameterized types like decimal(12,2) handled)."""
    plan = executed_plan(df)
    out = []
    for m in re.finditer(r"ReadSchema: struct", plan):
        span = _balanced_span(plan, m.end(), "<", ">")
        cols = [
            c.split(":")[0].strip()
            for c in _split_top_level(span)
            if c.strip()
        ]
        out.append(cols)
    return out
