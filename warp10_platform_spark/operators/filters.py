"""FILTER framework — whole-series predicates (SURVEY §2.2).

Reference: FILTER.java:39 partitions a GTS list and keeps/drops whole
series via a filter function (filter/FilterByClass.java:33,
FilterByLabels.java:37, FilterBySize.java:31, FilterLast*.java:33,
FilterAny.java:33). Spark shape: compute a per-series boolean with ONE
aggregation, then semi-join (broadcast — the per-series table is tiny
relative to points, ~|series| rows) back onto the points.
"""

from __future__ import annotations

import operator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def filter_byclass(df: DataFrame, regex: str) -> DataFrame:
    """filter.byclass (FilterByClass.java:33)."""
    return df.where(F.col("class").rlike(regex))


def filter_bylabels(df: DataFrame, clauses: dict[str, str]) -> DataFrame:
    """filter.bylabels (FilterByLabels.java:37): {label: regex} all-match."""
    pred = F.lit(True)
    for k, regex in clauses.items():
        e = F.element_at(F.col("labels"), k)
        pred = pred & e.isNotNull() & e.rlike(regex)
    return df.where(pred)


def _semi_join_series(df: DataFrame, series_pred: DataFrame) -> DataFrame:
    return df.join(F.broadcast(series_pred.where("keep").select("gts_id")), on="gts_id", how="left_semi")


def filter_bysize(df: DataFrame, min_size: int = 0, max_size: int | None = None) -> DataFrame:
    """filter.bysize (FilterBySize.java:31): keep series whose point count
    is within [min, max]."""
    cnt = df.groupBy("gts_id").agg(F.count("*").alias("n"))
    keep = (F.col("n") >= min_size) & (F.col("n") <= max_size if max_size is not None else F.lit(True))
    return _semi_join_series(df, cnt.withColumn("keep", keep))


_CMP = {"eq": operator.eq, "ne": operator.ne, "gt": operator.gt, "ge": operator.ge, "lt": operator.lt, "le": operator.le}


def filter_last(df: DataFrame, cmp: str, threshold, value_col: str = "v_double") -> DataFrame:
    """filter.last.{eq,ne,gt,ge,lt,le} (FilterLastEQ/GT/LT.java:33): keep
    series whose LATEST value satisfies the comparison."""
    lastv = df.groupBy("gts_id").agg(F.max_by(value_col, "ts").alias("lv"))
    keep = _CMP[cmp](F.col("lv"), F.lit(threshold))
    return _semi_join_series(df, lastv.withColumn("keep", keep))


def mfilter(df: DataFrame, fn, value_col: str = "v_double") -> DataFrame:
    """MFILTER (MFILTER.java): custom whole-series predicate — the
    filter-side of the MACROMAPPER surface. `fn(Frame) -> bool` sees the
    series' (ticks, values) and decides keep/drop; runs per series via
    applyInPandas, then broadcast semi-join like every other filter."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import BooleanType, LongType, StructField, StructType

    from warp10_platform_spark.functions.custom import Frame

    schema = StructType([StructField("gts_id", LongType()), StructField("keep", BooleanType())])

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("ts")
        fr = Frame(
            tick=int(pdf["ts"].iloc[-1]),
            ticks=pdf["ts"].to_numpy(np.int64),
            values=pdf[value_col].to_numpy(np.float64),
        )
        return pd.DataFrame({"gts_id": [pdf["gts_id"].iloc[0]], "keep": [bool(fn(fr))]})

    verdicts = df.select("gts_id", "ts", value_col).groupBy("gts_id").applyInPandas(run, schema=schema)
    return _semi_join_series(df, verdicts)


def unique(df: DataFrame, value_col: str = "v_double") -> DataFrame:
    """UNIQUE (UNIQUE.java): drop exact duplicate (tick, value) points
    within a series (DEDUP drops duplicate ticks; UNIQUE requires the
    value to match too)."""
    return df.dropDuplicates(["gts_id", "ts", value_col])
