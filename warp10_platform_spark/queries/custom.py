"""Custom-aggregator (MACROMAPPER-surface) queries.

Each query drives functions/custom.py — a user-supplied Python callable
with the reference's aggregator argument contract
(MACROMAPPER.java:39-41, aggregator/Sum.java:40-47) — and proves the
harness against a DuckDB oracle computing the same math in SQL.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from warp10_platform_spark.functions import macro_bucketizer, macro_mapper, macro_reducer
from warp10_platform_spark.queries import register
from warp10_platform_spark.core import timeunits as tu
from warp10_platform_spark.queries.gts import DAILY, DAY, LASTBUCKET, NDAYS, PTS, _bucketized_decimal_mean
from warp10_platform_spark.sources.tables import canonical_points


def _wmean(fr) -> float:
    """Time-distance-weighted mean over the frame: w = 1/(1 + |Δt|/1s).
    Sequential accumulation in frame (tick) order so the oracle can add
    the same terms in the same IEEE order."""
    num = 0.0
    den = 0.0
    for t, v in zip(fr.ticks, fr.values):
        w = 1.0 / (1.0 + abs(float(t - fr.tick)) / float(tu.UNITS_PER_S))
        num += w * v
        den += w
    return num / den


_WMEAN_TERMS_NUM = " + ".join(
    f"COALESCE((1.0 / (1.0 + abs(CAST({o}_ts - ts AS DOUBLE)) / {float(tu.UNITS_PER_S)})) * {o}_v, 0.0)"
    for o in ("m2", "m1", "c0", "p1", "p2")
)
_WMEAN_TERMS_DEN = " + ".join(
    f"COALESCE(1.0 / (1.0 + abs(CAST({o}_ts - ts AS DOUBLE)) / {float(tu.UNITS_PER_S)}), 0.0)"
    for o in ("m2", "m1", "c0", "p1", "p2")
)

MACRO_WMEAN_ORACLE = f"""
WITH {PTS},
w AS (
  SELECT class, "user", ts,
         lag(ts, 2)  OVER win AS m2_ts, lag(v, 2)  OVER win AS m2_v,
         lag(ts, 1)  OVER win AS m1_ts, lag(v, 1)  OVER win AS m1_v,
         ts AS c0_ts, v AS c0_v,
         lead(ts, 1) OVER win AS p1_ts, lead(v, 1) OVER win AS p1_v,
         lead(ts, 2) OVER win AS p2_ts, lead(v, 2) OVER win AS p2_v
  FROM pts WINDOW win AS (PARTITION BY class, "user" ORDER BY ts)
)
SELECT class, "user", ts,
       round(({_WMEAN_TERMS_NUM}) / ({_WMEAN_TERMS_DEN}), 6) AS v_mapped
FROM w
"""


@register("macro_wmean", MACRO_WMEAN_ORACLE)
def macro_wmean(spark, sf_dir):
    """Custom mapper through the MACROMAPPER surface: time-weighted mean
    over a [2 pre, 2 post] tick frame — an aggregation no built-in
    operator provides, run via applyInPandas per series."""
    pts = canonical_points(spark, sf_dir)
    out = macro_mapper(pts, _wmean, pre=2, post=2)
    return out.select(
        "class",
        F.get_json_object(F.col("labels_key"), "$[0].value").alias("user"),
        "ts",
        F.round("v_mapped", 6).alias("v_mapped"),
    )


@register("macro_bucket_range", (
    f"WITH {PTS}, {DAILY} "
    'SELECT class, "user", ts, max(v) - min(v) AS v_mapped '
    'FROM daily GROUP BY class, "user", ts'
))
def macro_bucket_range(spark, sf_dir):
    """Custom bucketizer through the MACROMAPPER surface: per-day value
    range (max - min) — order-independent, so exact across engines."""
    pts = canonical_points(spark, sf_dir)
    out, _spec = macro_bucketizer(
        pts, lambda fr: float(fr.values.max() - fr.values.min()), DAY, LASTBUCKET, NDAYS
    )
    return out.select(
        "class",
        F.get_json_object(F.col("labels_key"), "$[0].value").alias("user"),
        "ts",
        "v_mapped",
    )


@register("macro_reduce_spread", (
    f"WITH {PTS}, {DAILY}, "
    'b AS (SELECT class, "user", ts, round(CAST(sum(v::DECIMAL(28,10)) AS DOUBLE) / count(v), 6) AS v_agg '
    '     FROM daily GROUP BY class, "user", ts) '
    "SELECT ts, max(v_agg) - min(v_agg) AS v_reduced FROM b GROUP BY ts"
))
def macro_reduce_spread(spark, sf_dir):
    """Custom reducer through the MACROMAPPER surface: spread (max - min)
    across ALL series' daily means at each bucket tick."""
    b = _bucketized_decimal_mean(spark, sf_dir)
    out = macro_reducer(b, lambda fr: float(fr.values.max() - fr.values.min()), by_labels=[], value_col="v_agg")
    return out.select("ts", "v_reduced")


def _np_slope(fr) -> float:
    """Least-squares slope of value vs time-seconds over a 7-tick frame —
    the numpy-vectorized custom-mapper example (LR per window)."""
    if len(fr.ticks) < 2:
        return float("nan")
    x = (fr.ticks - fr.tick) / float(tu.UNITS_PER_S)
    xm = x.mean()
    ym = fr.values.mean()
    den = float(((x - xm) ** 2).sum())
    if den == 0.0:
        return float("nan")
    return float(((x - xm) * (fr.values - ym)).sum() / den)


MACRO_SLOPE_ORACLE = f"""
WITH {PTS},
s AS (SELECT class, "user", ts,
             regr_slope(v, CAST(ts - {LASTBUCKET} AS DOUBLE) / {float(tu.UNITS_PER_S)})
               OVER (PARTITION BY class, "user" ORDER BY ts ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS sl
      FROM pts)
SELECT class, "user", ts, round(sl, 6) + 0.0 AS v_mapped FROM s"""


@register("macro_window_slope", MACRO_SLOPE_ORACLE)
def macro_window_slope(spark, sf_dir):
    """Custom mapper: rolling regression slope over [3 pre, 3 post] ticks.
    Demonstrates numpy vectorization inside the macro surface. Oracled via
    DuckDB regr_slope (slope is invariant to the x-shift: numpy centers x
    at the frame tick, the oracle at LASTBUCKET — verified bit-exact at
    sf0.001 and sf0.01 after round 6)."""
    pts = canonical_points(spark, sf_dir)
    out = macro_mapper(pts, _np_slope, pre=3, post=3)
    return out.select(
        "class",
        F.get_json_object(F.col("labels_key"), "$[0].value").alias("user"),
        "ts",
        (F.round("v_mapped", 6) + F.lit(0.0)).alias("v_mapped"),
    )
