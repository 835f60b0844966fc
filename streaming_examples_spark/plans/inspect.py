"""Physical-plan inspection helpers: assert the plan you designed is
the plan you got.

Used by tests/test_plans.py to pin the scale-critical properties:
filters pushed into parquet scans, column-pruned ReadSchema, broadcast
joins on dim tables, no cartesian products, whole-stage codegen
coverage. A plan regression (e.g. a broadcast silently degrading to
sort-merge after a schema change) fails CI instead of surfacing as a
10× slowdown at scale.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def plan_bytes(df: DataFrame) -> int | None:
    """The optimizer's size estimate of ``df`` in bytes, or None when it
    cannot be read. A materialized cached frame reports the bytes its
    cache actually holds; a file scan its files' size. The call reaches
    a private JVM API, so every caller decides what None means (size
    gates treat it as large)."""
    from py4j.protocol import Py4JError

    try:
        return int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    except (Py4JError, AttributeError, TypeError, ValueError):
        return None


def advisory_partitions(spark, sized: list[tuple[DataFrame, int]]) -> int | None:
    """How many advisory partitions
    (``spark.sql.adaptive.advisoryPartitionSizeInBytes``, the size AQE
    itself coalesces shuffle partitions toward) the frames fill: the
    sum of ``plan_bytes(df) * scale`` over the ``(df, scale)`` pairs,
    divided by the advisory size and rounded up, at least 1. None when
    a size cannot be read."""
    jvm = spark.sparkContext._jvm
    limit = jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    )
    total = 0
    for df, scale in sized:
        size = plan_bytes(df)
        if size is None:
            return None
        total += size * scale
    return max(1, -(-total // limit))


def formatted_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def simple_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )


def count_occurrences(df: DataFrame, pattern: str) -> int:
    return len(re.findall(pattern, formatted_plan(df)))


def has_broadcast_join(df: DataFrame) -> bool:
    return count_occurrences(df, r"BroadcastHashJoin") > 0


def has_cartesian(df: DataFrame) -> bool:
    return count_occurrences(df, r"CartesianProduct|BroadcastNestedLoopJoin") > 0


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries across all scans."""
    return re.findall(r"PushedFilters: \[([^\]]*)\]", formatted_plan(df))


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema of each parquet scan — column pruning evidence."""
    return re.findall(r"ReadSchema: struct<([^>]*)>", formatted_plan(df))


def node_count(df: DataFrame, node: str) -> int:
    """Count physical nodes via their formatted-mode detail headers
    ("(N) NodeName") — exactly one per node, unlike the tree render."""
    return len(re.findall(rf"\(\d+\) {node}\b", formatted_plan(df)))


def exchange_count(df: DataFrame) -> int:
    """Number of shuffle exchanges (broadcast exchanges excluded)."""
    return node_count(df, "Exchange")


def codegen_stage_count(df: DataFrame) -> int:
    return count_occurrences(df, r"WholeStageCodegen")


def broadcast_hint_count(df: DataFrame) -> int:
    """Number of explicit broadcast HINTS in the analyzed logical plan.

    Distinct from physical BroadcastExchange: at test SF the optimizer
    may legitimately broadcast a small frame under the auto threshold —
    that decision adapts with data size. A *hint* does not: it forces
    the broadcast at any scale, which is exactly the anti-pattern on
    O(corpus) frames."""
    analyzed = df._jdf.queryExecution().analyzed().toString()
    return len(re.findall(r"ResolvedHint \(strategy=broadcast\)", analyzed))
