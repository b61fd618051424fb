"""Plan inspection helpers: assert the plan we want, not just the
answer we want.

Used by tests and tuning sessions to verify that:
- filters reach the Parquet scan (PushedFilters non-empty),
- partition pruning fires on contract/p_date (PartitionFilters),
- scans read only the projected columns (ReadSchema),
- no Python UDF sits in a hot path (no BatchEvalPython),
- whole-stage codegen covers the operator spine.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def scan_info(df: DataFrame) -> dict[str, list[str]]:
    """Extract per-scan PushedFilters / PartitionFilters / ReadSchema."""
    plan = formatted_plan(df)
    out: dict[str, list[str]] = {
        "pushed_filters": [],
        "partition_filters": [],
        "read_schema": [],
    }
    for m in re.finditer(r"PushedFilters: \[(.*?)\]", plan):
        if m.group(1).strip():
            out["pushed_filters"].append(m.group(1))
    for m in re.finditer(r"PartitionFilters: \[(.*?)\]", plan):
        if m.group(1).strip():
            out["partition_filters"].append(m.group(1))
    for m in re.finditer(r"ReadSchema: (.*)", plan):
        out["read_schema"].append(m.group(1).strip())
    return out


def has_python_eval(df: DataFrame) -> bool:
    """True if the plan contains a row-at-a-time Python UDF stage
    (BatchEvalPython) — the slow path we keep out of hot operators.
    (ArrowEvalPython / mapInPandas stages are the sanctioned ones.)"""
    return "BatchEvalPython" in formatted_plan(df)


def shuffle_count(df: DataFrame) -> int:
    """Number of shuffle Exchange nodes in the physical plan.

    Counts the detail-section headers ``(n) Exchange`` so each node is
    counted once (the formatted output also repeats nodes in the tree
    sketch), and so BroadcastExchange / ReusedExchange — which move no
    shuffle data — are excluded."""
    return len(re.findall(r"\(\d+\) Exchange", formatted_plan(df)))
