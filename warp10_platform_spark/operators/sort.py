"""SORT family, top-k, LTTB downsampling (SURVEY §2.6)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def valuesort(df: DataFrame, value_col: str = "v_double", reverse: bool = False) -> DataFrame:
    """VALUESORT/RVALUESORT (VALUESORT.java:27)."""
    return df.orderBy(F.col(value_col).desc() if reverse else F.col(value_col).asc())


def lastsort(df: DataFrame, value_col: str = "v_double", reverse: bool = False) -> DataFrame:
    """LASTSORT (LASTSORT.java:34): order SERIES by their latest value.
    Returns the per-series ranking table (series-level op)."""
    last = df.groupBy("gts_id", "class", "labels_key").agg(F.max_by(value_col, "ts").alias("last_v"))
    return last.orderBy(F.col("last_v").desc() if reverse else F.col("last_v").asc())


def metasort(df: DataFrame, reverse: bool = False) -> DataFrame:
    """METASORT (METASORT.java): order SERIES by metadata (class, then
    canonical labels). Series-level op: returns the identity table in
    order, with a rank column for stable downstream use."""
    ident = df.select("gts_id", "class", "labels_key").distinct()
    order = [F.col("class"), F.col("labels_key")]
    if reverse:
        order = [c.desc() for c in order]
    w = Window.orderBy(*order)
    return ident.withColumn("meta_rank", F.row_number().over(w))


def sortby(df: DataFrame, extractor: str, value_col: str = "v_double", reverse: bool = False) -> DataFrame:
    """SORTBY (SORTBY.java:38): order SERIES by a per-series aggregate
    (the 'macro' of the reference is an aggregator name here; arbitrary
    Python extractors go through functions/custom.macro_reducer). Returns
    series identities ranked by the extracted value."""
    from warp10_platform_spark.operators.bucketize import bucketizer_expr

    agg = bucketizer_expr(extractor, F.col(value_col), F.col("ts")).alias("sort_key")
    per_series = df.groupBy("gts_id", "class", "labels_key").agg(agg)
    key = F.col("sort_key").desc() if reverse else F.col("sort_key").asc()
    w = Window.orderBy(key, F.col("class"), F.col("labels_key"))
    return per_series.withColumn("sort_rank", F.row_number().over(w))


def topk_per_series(df: DataFrame, k: int, value_col: str = "v_double", lowest: bool = False) -> DataFrame:
    """mapper.highest/lowest as a per-series top-k (Highest.java:29):
    window rank — no global sort, no collect."""
    order = F.col(value_col).asc() if lowest else F.col(value_col).desc()
    w = Window.partitionBy("gts_id").orderBy(order, F.col("ts").asc())
    return df.withColumn("_rk", F.row_number().over(w)).where(F.col("_rk") <= k).drop("_rk")


def lttb(df: DataFrame, threshold: int, value_col: str = "v_double") -> DataFrame:
    """LTTB (LTTB.java:32) — largest-triangle-three-buckets downsampling
    per series, via applyInPandas (sequential algorithm per series; each
    series is bounded so one pandas group is safe — same memory contract
    as the reference's in-RAM GTS)."""
    import pandas as pd

    schema_cols = [c for c in ("gts_id", "class", "labels_key", "ts", value_col) if c in df.columns]
    slim = df.select(*schema_cols)

    def _lttb(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("ts").reset_index(drop=True)
        n = len(pdf)
        if threshold >= n or threshold < 3:
            return pdf
        x = pdf["ts"].to_numpy(dtype="float64")
        y = pdf[value_col].to_numpy(dtype="float64")
        import numpy as np

        keep = [0]
        bucket_size = (n - 2) / (threshold - 2)
        a = 0
        for i in range(threshold - 2):
            lo = int(np.floor((i + 0) * bucket_size) + 1)
            hi = int(np.floor((i + 1) * bucket_size) + 1)
            hi = min(hi, n - 1)
            nlo = int(np.floor((i + 1) * bucket_size) + 1)
            nhi = min(int(np.floor((i + 2) * bucket_size) + 1), n)
            # sequential (left-fold) means, NOT np.mean (pairwise summation):
            # the fold order is reproducible in plain SQL, which makes the
            # whole selection oracle-able bit-for-bit
            if nhi > nlo:
                avg_x = sum(float(v) for v in x[nlo:nhi]) / (nhi - nlo)
                avg_y = sum(float(v) for v in y[nlo:nhi]) / (nhi - nlo)
            else:
                avg_x, avg_y = x[n - 1], y[n - 1]
            ax, ay = x[a], y[a]
            areas = np.abs((ax - avg_x) * (y[lo:hi] - ay) - (ax - x[lo:hi]) * (avg_y - ay))
            a = lo + int(areas.argmax())
            keep.append(a)
        keep.append(n - 1)
        return pdf.iloc[keep]

    return slim.groupBy("gts_id").applyInPandas(_lttb, slim.schema)
