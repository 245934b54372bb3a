"""FILL — missing-bucket materialization + filler models.

Reference (FILL.java:34 + filler/*.java): on a bucketized GTS, create the
missing grid buckets and fill their values with a model:
previous / next / value / interpolate(linear) / trend / spline / akima...

Spark mapping (SURVEY §2.8): the grid scaffold is sequence(first_bucket,
lastbucket, span) exploded per series, LEFT-joined with the data, then:
  - previous  → last(v, ignoreNulls)  over (-inf, 0]
  - next      → first(v, ignoreNulls) over [0, +inf)
  - value     → coalesce(v, lit)
  - linear    → prev + (next-prev) * (ts-prev_ts)/(next_ts-prev_ts)
All window/expr — no Python in the path. The scaffold explode generates
bucketcount rows per series; at 100 TB the per-series grid is bounded by
the `maxbuckets` guard (GTSHelper.bucketize:2261) which we keep as a
config cap.

Spline/akima/lowess fillers need scipy-style fitting → grouped pandas UDF
(see operators/analytics.py); gated since scipy isn't in this image.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from warp10_platform_spark.operators.bucketize import BucketSpec

SERIES_KEYS = ["gts_id", "class", "labels_key"]


def scaffold(df: DataFrame, spec: BucketSpec) -> DataFrame:
    """One row per (series, grid bucket): series dims × sequence of bucket
    ends, left-joined to the bucketized data. Missing buckets have null
    value columns."""
    first_bucket = spec.lastbucket - (spec.bucketcount - 1) * spec.bucketspan
    # dropDuplicates on the key subset (distinct() would be a set-op on the
    # MAP labels column, which Spark forbids)
    series = df.select(*SERIES_KEYS, "labels").dropDuplicates(SERIES_KEYS)
    grid = series.withColumn(
        "ts",
        F.explode(F.sequence(F.lit(first_bucket), F.lit(spec.lastbucket), F.lit(spec.bucketspan))),
    )
    value_cols = [c for c in df.columns if c not in SERIES_KEYS + ["labels", "ts"]]
    return grid.join(df.select(*SERIES_KEYS, "ts", *value_cols), on=SERIES_KEYS + ["ts"], how="left")


def fill_previous(df: DataFrame, value_col: str = "v_agg") -> DataFrame:
    """FILLPREVIOUS / filler.previous (FillerPrevious.java:26)."""
    w = Window.partitionBy("gts_id").orderBy("ts").rowsBetween(Window.unboundedPreceding, 0)
    return df.withColumn(value_col, F.last(value_col, ignorenulls=True).over(w))


def fill_previous_packed(bucketized: DataFrame, spec: BucketSpec, value_col: str = "v_agg") -> DataFrame:
    """Scaffold + previous-fill in ONE pass over the bucketized frame
    (vs scaffold()'s dropDuplicates + join + window = 3 extra shuffles):
    collect each series' (bucket, value) map, then each PRESENT bucket
    covers the grid ticks up to (exclusive) the next present bucket, so
    the filled series is a flatten of per-key sequences — O(grid) work,
    no running-state fold (an aggregate+array_append fold re-copies the
    accumulator per step → O(grid²) per series). A leading null segment
    covers grid ticks before the first present bucket, matching the
    scaffold + last(ignoreNulls) window semantics. All HOF exprs, one
    groupBy shuffle total; per-series state is bounded by the same
    maxbuckets guard the scaffold grid has."""
    first_bucket = spec.lastbucket - (spec.bucketcount - 1) * spec.bucketspan
    per = bucketized.groupBy("gts_id", "class", "labels_key").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("ts"), F.col(value_col).alias("v")))
        ).alias("m"),
        F.first("labels").alias("labels"),
    )
    fb, lb, span = first_bucket, spec.lastbucket, spec.bucketspan
    segs = (
        "concat("
        f"  CASE WHEN size(ks) = 0 THEN array(named_struct('s', {fb}L, 'e', {lb}L, 'v', cast(null AS double)))"
        f"       WHEN ks[0] > {fb}L THEN array(named_struct('s', {fb}L, 'e', ks[0] - {span}L, 'v', cast(null AS double)))"
        "       ELSE cast(array() AS array<struct<s:bigint,e:bigint,v:double>>) END,"
        "  transform(ks, (k, j) -> named_struct("
        f"    's', k, 'e', coalesce(try_element_at(ks, j + 2) - {span}L, {lb}L), 'v', try_element_at(m, k))))"
    )
    filled = F.expr(
        f"flatten(transform({segs}, g -> "
        f"  transform(sequence(g.s, g.e, {span}L), t -> named_struct('t', t, 'v', g.v))))"
    )
    ex = per.withColumn("ks", F.sort_array(F.map_keys("m"))).withColumn("_f", F.explode(filled))
    return ex.select(
        "gts_id", "class", "labels_key", "labels",
        F.col("_f.t").alias("ts"),
        F.col("_f.v").alias(value_col),
    )


def fill_next(df: DataFrame, value_col: str = "v_agg") -> DataFrame:
    """FILLNEXT / filler.next (FillerNext.java:26)."""
    w = Window.partitionBy("gts_id").orderBy("ts").rowsBetween(0, Window.unboundedFollowing)
    return df.withColumn(value_col, F.first(value_col, ignorenulls=True).over(w))


def fill_value(df: DataFrame, value, value_col: str = "v_agg") -> DataFrame:
    """FILLVALUE / filler.value (FillerValue.java:33)."""
    return df.withColumn(value_col, F.coalesce(F.col(value_col), F.lit(value)))


def fill_linear(df: DataFrame, value_col: str = "v_agg") -> DataFrame:
    """filler.interpolate — linear interpolation between the surrounding
    non-null points (FillerInterpolate.java:32). Boundary buckets with no
    point on one side stay null (reference behavior)."""
    wb = Window.partitionBy("gts_id").orderBy("ts").rowsBetween(Window.unboundedPreceding, -1)
    wf = Window.partitionBy("gts_id").orderBy("ts").rowsBetween(1, Window.unboundedFollowing)
    v = F.col(value_col)
    prev_v = F.last(value_col, ignorenulls=True).over(wb)
    next_v = F.first(value_col, ignorenulls=True).over(wf)
    prev_t = F.last(F.when(v.isNotNull(), F.col("ts")), ignorenulls=True).over(wb)
    next_t = F.first(F.when(v.isNotNull(), F.col("ts")), ignorenulls=True).over(wf)
    interp = prev_v + (next_v - prev_v) * (F.col("ts") - prev_t) / (next_t - prev_t)
    return df.withColumn(value_col, F.coalesce(v, interp))


def interpolate(df: DataFrame, value_col: str = "v_agg") -> DataFrame:
    """INTERPOLATE (continuum/gts/INTERPOLATE.java) — alias of linear fill
    on an already-scaffolded frame."""
    return fill_linear(df, value_col)


def fillticks(df: DataFrame, ticks: list[int], value_col: str = "v_agg") -> DataFrame:
    """FILLTICKS (FILLTICKS.java): materialize the given ticks on every
    series (null value when absent) — callers chain a filler. Same
    scaffold shape as FILL but with an explicit tick list, no bucket grid
    required."""
    series = df.select(*SERIES_KEYS, "labels").dropDuplicates(SERIES_KEYS)
    wanted = series.withColumn("ts", F.explode(F.array(*[F.lit(t).cast("long") for t in ticks])))
    value_cols = [c for c in df.columns if c not in SERIES_KEYS + ["labels", "ts"]]
    have = df.select(*SERIES_KEYS, "ts", *value_cols)
    extra = wanted.join(have.select(*SERIES_KEYS, "ts"), on=SERIES_KEYS + ["ts"], how="left_anti")
    for c in value_cols:
        extra = extra.withColumn(c, F.lit(None).cast(dict(df.dtypes)[c]))
    return df.unionByName(extra.select(df.columns), allowMissingColumns=False)


# ---- model fillers (filler/FillerSpline.java:29, FillerAkima.java,
# FillerTrend.java, FillerLowess.java) — fitting is inherently per-series
# sequential, so these run through applyInPandas with numpy solvers
# (scipy absent from this image; the math is self-contained below). ----

def _fit_filler(df: DataFrame, kind: str, value_col: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    def natural_cubic(x: "np.ndarray", y: "np.ndarray", xq: "np.ndarray") -> "np.ndarray":
        n = len(x)
        if n < 3:
            return np.interp(xq, x, y)
        h = np.diff(x)
        # tridiagonal system for second derivatives (natural: M0 = Mn-1 = 0)
        A = np.zeros((n, n))
        rhs = np.zeros(n)
        A[0, 0] = A[-1, -1] = 1.0
        for i in range(1, n - 1):
            A[i, i - 1] = h[i - 1]
            A[i, i] = 2 * (h[i - 1] + h[i])
            A[i, i + 1] = h[i]
            rhs[i] = 6 * ((y[i + 1] - y[i]) / h[i] - (y[i] - y[i - 1]) / h[i - 1])
        M = np.linalg.solve(A, rhs)
        idx = np.clip(np.searchsorted(x, xq) - 1, 0, n - 2)
        d = xq - x[idx]
        hi = h[idx]
        return (
            y[idx]
            + d * ((y[idx + 1] - y[idx]) / hi - hi * (2 * M[idx] + M[idx + 1]) / 6)
            + d * d * M[idx] / 2
            + d * d * d * (M[idx + 1] - M[idx]) / (6 * hi)
        )

    def akima(x: "np.ndarray", y: "np.ndarray", xq: "np.ndarray") -> "np.ndarray":
        n = len(x)
        if n < 3:
            return np.interp(xq, x, y)
        m = np.diff(y) / np.diff(x)  # n-1 segment slopes
        # standard Akima boundary extension: two virtual slopes each side
        ml1 = 2 * m[0] - m[1]
        ml2 = 2 * ml1 - m[0]
        mr1 = 2 * m[-1] - m[-2]
        mr2 = 2 * mr1 - m[-1]
        mm = np.concatenate([[ml2, ml1], m, [mr1, mr2]])  # n+3 slopes
        w1 = np.abs(mm[3:] - mm[2:-1])  # |m_{i+1} - m_i|
        w2 = np.abs(mm[1:-2] - mm[:-3])  # |m_{i-1} - m_{i-2}|
        denom = w1 + w2
        t = np.where(denom > 0, (w1 * mm[1:-2] + w2 * mm[2:-1]) / np.where(denom == 0, 1, denom), (mm[1:-2] + mm[2:-1]) / 2)
        idx = np.clip(np.searchsorted(x, xq) - 1, 0, n - 2)
        d = xq - x[idx]
        hi = np.diff(x)[idx]
        a, b = y[idx], t[idx]
        c = (3 * m[idx] - 2 * t[idx] - t[idx + 1]) / hi
        e = (t[idx] + t[idx + 1] - 2 * m[idx]) / (hi * hi)
        return a + b * d + c * d * d + e * d * d * d

    def trend(x: "np.ndarray", y: "np.ndarray", xq: "np.ndarray") -> "np.ndarray":
        # least-squares line over the present points (FillerTrend)
        xm, ym = x.mean(), y.mean()
        den = ((x - xm) ** 2).sum()
        b = ((x - xm) * (y - ym)).sum() / den if den > 0 else 0.0
        return ym + b * (xq - xm)

    def lowess(x: "np.ndarray", y: "np.ndarray", xq: "np.ndarray") -> "np.ndarray":
        from warp10_platform_spark.analytics.fit import _loess_1d

        return _loess_1d(x, y, 0.5, xq)

    def rlowess(x: "np.ndarray", y: "np.ndarray", xq: "np.ndarray") -> "np.ndarray":
        # robust lowess (FillerRlowess.java): bisquare-reweighted refit —
        # fit, downweight outliers by residual, refit on inliers
        from warp10_platform_spark.analytics.fit import _loess_1d

        fit0 = _loess_1d(x, y, 0.5, x)
        resid = y - fit0
        s = np.median(np.abs(resid)) or 1.0
        w = np.clip(1 - (resid / (6 * s)) ** 2, 0, None) ** 2
        keep = w > 0.1
        if keep.sum() < 2:
            return _loess_1d(x, y, 0.5, xq)
        return _loess_1d(x[keep], y[keep], 0.5, xq)

    def newton(x: "np.ndarray", y: "np.ndarray", xq: "np.ndarray") -> "np.ndarray":
        # FillerNewton: divided-difference polynomial through the nearest
        # points (degree capped at 4 — full-degree Newton oscillates)
        deg = min(4, len(x) - 1)
        out = np.empty(len(xq))
        for i, xv in enumerate(xq):
            idx = np.argsort(np.abs(x - xv))[: deg + 1]
            xs, ys = x[idx], y[idx].copy()
            coef = ys.copy()
            for j in range(1, len(xs)):
                coef[j:] = (coef[j:] - coef[j - 1 : -1]) / (xs[j:] - xs[: -j])
            acc = coef[-1]
            for j in range(len(xs) - 2, -1, -1):
                acc = acc * (xv - xs[j]) + coef[j]
            out[i] = acc
        return out

    models = {
        "spline": natural_cubic,
        "akima": akima,
        "trend": trend,
        "lowess": lowess,
        "rlowess": rlowess,
        "newton": newton,
    }
    fitf = models[kind]

    out_schema = df.schema

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("ts").reset_index(drop=True)
        mask = pdf[value_col].notna().to_numpy()
        if mask.sum() < 2 or mask.all():
            return pdf
        x = pdf.loc[mask, "ts"].to_numpy(np.float64)
        y = pdf.loc[mask, value_col].to_numpy(np.float64)
        xq = pdf.loc[~mask, "ts"].to_numpy(np.float64)
        pdf.loc[~mask, value_col] = fitf(x, y, xq)
        return pdf

    return df.groupBy("gts_id").applyInPandas(run, schema=out_schema)


def fill_spline(df: DataFrame, value_col: str = "v_agg") -> DataFrame:
    """filler.spline (FillerSpline.java:29) — natural cubic spline."""
    return _fit_filler(df, "spline", value_col)


def fill_akima(df: DataFrame, value_col: str = "v_agg") -> DataFrame:
    """filler.akima (FillerAkima.java) — Akima sub-spline."""
    return _fit_filler(df, "akima", value_col)


def fill_trend(df: DataFrame, value_col: str = "v_agg") -> DataFrame:
    """filler.trend (FillerTrend.java) — least-squares line fill."""
    return _fit_filler(df, "trend", value_col)


def fill_lowess(df: DataFrame, value_col: str = "v_agg") -> DataFrame:
    """filler.lowess (FillerLowess.java) — local regression fill."""
    return _fit_filler(df, "lowess", value_col)


def fill_rlowess(df: DataFrame, value_col: str = "v_agg") -> DataFrame:
    """filler.rlowess (FillerRlowess.java) — robust (bisquare) lowess."""
    return _fit_filler(df, "rlowess", value_col)


def fill_newton(df: DataFrame, value_col: str = "v_agg") -> DataFrame:
    """filler.newton (FillerNewton.java) — divided-difference polynomial."""
    return _fit_filler(df, "newton", value_col)
