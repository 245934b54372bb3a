"""Physical-plan audit helpers — the engine's "is this the plan I want"
tooling (SURVEY §4: what Catalyst gives us, and what to check it gave).

Used by tests/test_plans.py to assert the properties that matter at
100 TB: predicate pushdown reached the scan, partition pruning happened,
no accidental cartesian products, broadcast where expected.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame


# Catalyst's "size unknown" sentinel: Statistics.sizeInBytes defaults to
# Long.MaxValue (spark.sql.defaultSizeInBytes) for leaves it cannot
# measure, e.g. a LogicalRDD from createDataFrame, and products of
# estimates can exceed it.
_UNKNOWN_SIZE = (1 << 63) - 1


def plan_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate of `df` in bytes — the optimized plan's
    statistics, the same figure autoBroadcastJoinThreshold routes on — or
    None when the size is unknown: a streaming frame, a probe that raises,
    or an estimate at the _UNKNOWN_SIZE sentinel.

    A path-based read of a partitioned layout (spark.read.parquet(dir))
    reports the whole layout's size whatever its partition filters: the
    relation's statistics come from the file index before pruning.  So
    /exec FETCH gates on the bytes of the row groups its directory lookup
    picks (sources/directory.SeriesDirectory.pick), not on this figure."""
    if df.isStreaming:
        return None
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # noqa: BLE001 — any probe failure means "unknown"
        return None
    return size if size < _UNKNOWN_SIZE else None


def explain_formatted(df: DataFrame) -> str:
    """The formatted explain string (what `.explain('formatted')` prints)."""
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


@dataclass
class PlanReport:
    pushed_filters: list[str] = field(default_factory=list)
    partition_filters: list[str] = field(default_factory=list)
    read_schemas: list[str] = field(default_factory=list)
    broadcast_joins: int = 0
    sortmerge_joins: int = 0
    shuffle_hash_joins: int = 0
    cartesian_products: int = 0
    exchanges: int = 0
    python_evals: int = 0

    def scan_columns(self) -> set[str]:
        cols: set[str] = set()
        for s in self.read_schemas:
            cols.update(re.findall(r"(\w+):", s))
        return cols


def plan_report(df: DataFrame) -> PlanReport:
    plan = explain_formatted(df)
    r = PlanReport()
    r.pushed_filters = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    r.partition_filters = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    r.read_schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    # Count only the detail-section node headers "(N) NodeName" — the
    # formatted plan prints every node twice (tree + detail), so a bare
    # substring count would double every figure.
    def _nodes(name: str) -> int:
        return len(re.findall(rf"^\(\d+\) (?:{name})\b", plan, re.MULTILINE))

    r.broadcast_joins = _nodes("BroadcastHashJoin|BroadcastNestedLoopJoin")
    r.sortmerge_joins = _nodes("SortMergeJoin")
    r.shuffle_hash_joins = _nodes("ShuffledHashJoin")
    r.cartesian_products = _nodes("CartesianProduct")
    r.exchanges = _nodes("Exchange")
    r.python_evals = _nodes("ArrowEvalPython|BatchEvalPython|FlatMapGroupsInPandas|MapInPandas")
    return r
