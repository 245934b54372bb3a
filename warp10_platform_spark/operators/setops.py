"""Set operations on GTS point sets (SURVEY §2.7)."""

from __future__ import annotations

from pyspark.sql import DataFrame


def merge(*dfs: DataFrame) -> DataFrame:
    """MERGE (MERGE.java:34; GTSHelper.sortedMerge:4565): concatenate all
    points of series sharing identity. The points-table model makes this a
    unionByName — the reference's merge-sort is unnecessary because order
    is re-imposed lazily by downstream windows."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    return out


def union_points(a: DataFrame, b: DataFrame) -> DataFrame:
    """UNION (set semantics): distinct union of points."""
    return a.unionByName(b, allowMissingColumns=True).dropDuplicates()


def intersection_points(a: DataFrame, b: DataFrame, on: list[str]) -> DataFrame:
    """INTERSECTION on (gts_id, ts, value) keys."""
    return a.join(b.select(on).distinct(), on=on, how="left_semi")


def difference_points(a: DataFrame, b: DataFrame, on: list[str]) -> DataFrame:
    """DIFFERENCE: points of a absent from b."""
    return a.join(b.select(on).distinct(), on=on, how="left_anti")
