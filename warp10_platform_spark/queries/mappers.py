"""MAP-frame and APPLY queries: dot-product and kernel smoothers,
chunked cumulative sums, imposed output ticks, time-extract mappers,
step/occurrences operands (GTSHelper.map:6280), value-predicate and
clamp mappers (mapper/MapperGT.java, MapperMinX.java), scalar mapper
coverage, and APPLY comparison/boolean ops.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from warp10_platform_spark.core import timeunits as tu
from warp10_platform_spark.core.frame import GTSFrame
from warp10_platform_spark.operators import reduce_apply as _ra
from warp10_platform_spark.operators.mapper import dotproduct_mapper
from warp10_platform_spark.queries import register
from warp10_platform_spark.queries.gts import DAILY, HOUR, PTS, _bucketized
from warp10_platform_spark.sources.tables import canonical_points


def _label_user():
    return F.element_at(F.col("labels"), "user").alias("user")


@register("dotproduct_smooth", (
    f"WITH {PTS}, "
    'l AS (SELECT class, "user", ts, lag(v) OVER w AS l1, v, lead(v) OVER w AS n1 '
    '      FROM pts WINDOW w AS (PARTITION BY class, "user" ORDER BY ts)) '
    'SELECT class, "user", ts, round(0.0 + l1 * 0.25 + v * 0.5 + n1 * 0.25, 6) AS v_mapped '
    "FROM l WHERE l1 IS NOT NULL AND n1 IS NOT NULL"
))
def dotproduct_smooth(spark, sf_dir):
    """mapper.dotproduct (MapperDotProduct.java:34): [0.25, 0.5, 0.25]
    binomial smoothing over a [1 pre, 1 post] frame; null at edges where
    the frame is shorter than the weight vector."""
    out = dotproduct_mapper(canonical_points(spark, sf_dir), [0.25, 0.5, 0.25], pre=1, post=1)
    return out.where(F.col("v_mapped").isNotNull()).select(
        "class",
        F.element_at("labels", F.lit("user")).alias("user"),
        "ts",
        F.round("v_mapped", 6).alias("v_mapped"),
    )


@register("map_csum_chunked", (
    f"WITH {PTS} SELECT class, \"user\", ts, CAST(round(sum(v::DECIMAL(28,10)) OVER ("
    '  PARTITION BY class, "user" ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW'
    "), 6) AS DOUBLE) AS v_mapped FROM pts"
))
def map_csum_chunked(spark, sf_dir):
    """Chunked mapper.csum — the 100 TB-safe running sum: weekly chunks
    bound window state; exact DECIMAL addition makes it equal the plain
    single-window csum bit-for-bit (same oracle as map_csum)."""
    from warp10_platform_spark.operators.mapper import map_csum_chunked as _csum

    WEEK = tu.us(7 * 86_400_000_000)
    pts = canonical_points(spark, sf_dir).withColumn("v_double", F.col("v_double").cast("decimal(28,10)"))
    out = _csum(pts, WEEK)
    return out.select(
        "class",
        F.element_at("labels", F.lit("user")).alias("user"),
        "ts",
        F.round("v_mapped", 6).cast("double").alias("v_mapped"),
    )


@register("map_imposed_ticks", (
    f"WITH {PTS}, "
    "series AS (SELECT DISTINCT class, \"user\" FROM pts), "
    f"ticks AS (SELECT unnest([{tu.us(1704844800000000)}, {tu.us(1705449600000000)}, {tu.us(1706054400000000)}]) AS t), "
    "g AS (SELECT s.class, s.\"user\", k.t FROM series s, ticks k) "
    "SELECT g.class, g.\"user\", g.t AS ts, "
    f"  CAST(round(coalesce(sum(p.v::DECIMAL(28,10)) FILTER (WHERE p.ts >= g.t - {tu.us(86400000000)} AND p.ts <= g.t), 0), 6) AS DOUBLE) AS v_mapped "
    "FROM g LEFT JOIN pts p ON p.class = g.class AND p.\"user\" = g.\"user\" "
    "GROUP BY g.class, g.\"user\", g.t"
))
def map_imposed_ticks(spark, sf_dir):
    """MAP with imposed output ticks (GTSHelper.map:6295): 1-day trailing
    sum evaluated at three explicit ticks per series."""
    from warp10_platform_spark.operators.mapper import map_at_ticks

    DAY_US = tu.us(86_400_000_000)
    pts = canonical_points(spark, sf_dir).withColumn("v_double", F.col("v_double").cast("decimal(28,10)"))
    out = map_at_ticks(
        pts, "sum", [tu.us(1704844800000000), tu.us(1705449600000000), tu.us(1706054400000000)], pre_us=DAY_US, post_us=0
    )
    return out.select(
        "class",
        F.element_at("labels", F.lit("user")).alias("user"),
        "ts",
        F.round(F.coalesce(F.col("v_mapped"), F.lit(0)), 6).cast("double").alias("v_mapped"),
    )


@register("kernel_gaussian_smooth", (
    f"WITH {PTS}, "
    "fr AS (SELECT class, \"user\", ts, "
    "       list(struct_pack(t := ts, v := v)) OVER "
    f"       (PARTITION BY class, \"user\" ORDER BY ts RANGE BETWEEN {HOUR} PRECEDING AND {HOUR} FOLLOWING) AS pairs "
    "       FROM pts) "
    "SELECT class, \"user\", ts, round("
    f" list_reduce(list_transform(pairs, p -> exp(-0.5 * ((p.t - ts) / {float(HOUR)}) ^ 2) / sqrt(2 * pi()) * p.v), (a, b) -> a + b)"
    f" / list_reduce(list_transform(pairs, p -> exp(-0.5 * ((p.t - ts) / {float(HOUR)}) ^ 2) / sqrt(2 * pi())), (a, b) -> a + b)"
    ", 6) AS v_mapped FROM fr"
))
def kernel_gaussian_smooth(spark, sf_dir):
    """mapper.kernel.gaussian (MapperKernelGaussian.java:24): 1h-bandwidth
    kernel-weighted moving average — collect_list window + HOF fold in
    tick order on both engines."""
    from warp10_platform_spark.operators.mapper import kernel_smoother

    out = kernel_smoother(canonical_points(spark, sf_dir), "gaussian", HOUR)
    return out.select(
        "class",
        F.element_at("labels", F.lit("user")).alias("user"),
        "ts",
        F.round("v_mapped", 6).alias("v_mapped"),
    )


_DAILY_COUNTS = (
    'c AS (SELECT class, "user", ts, count(*) AS n FROM daily GROUP BY class, "user", ts)'
)


@register("apply_compare_or", (
    f"WITH {PTS}, {DAILY}, {_DAILY_COUNTS}, "
    "a AS (SELECT \"user\", ts, n FROM c WHERE class = 'events.purchase'), "
    "b AS (SELECT \"user\", ts, n FROM c WHERE class = 'events.click') "
    'SELECT a."user" AS label_user, a.ts, (a.n > b.n) AS gt, '
    "       ((a.n >= 3) OR (b.n >= 3)) AS either_active "
    'FROM a JOIN b ON a."user" = b."user" AND a.ts = b.ts'
))
def apply_compare_or(spark, sf_dir):
    """APPLY op.gt + op.or (op/OpGT.java:31, OpBoolean.java:27):
    tick-aligned comparison and boolean combination of two daily series."""
    counts = _bucketized(spark, sf_dir, "bucketizer.count")
    a = counts.df.where(F.col("class") == "events.purchase")
    b = counts.df.where(F.col("class") == "events.click")
    gt = _ra.apply_op(a, b, "op.gt", by_labels=["user"], value_col="v_agg").select(
        "label_user", "ts", F.col("v_op").alias("gt")
    )
    a3 = a.withColumn("v_agg", F.col("v_agg") >= 3)
    b3 = b.withColumn("v_agg", F.col("v_agg") >= 3)
    either = _ra.apply_op(a3, b3, "op.or", by_labels=["user"], value_col="v_agg").select(
        "label_user", "ts", F.col("v_op").alias("either_active")
    )
    return gt.join(either, on=["label_user", "ts"])


@register("time_extract", (
    f"WITH {PTS} SELECT class, \"user\", ts, "
    f"year(make_timestamp({tu.duck_units_to_us('ts')})) AS y, month(make_timestamp({tu.duck_units_to_us('ts')})) AS m, "
    f"dayofmonth(make_timestamp({tu.duck_units_to_us('ts')})) AS d, hour(make_timestamp({tu.duck_units_to_us('ts')})) AS h "
    "FROM pts"
))
def time_extract(spark, sf_dir):
    """Time-extract mappers (MapperYear/Month/DayOfMonth/HourOfDay.java:29):
    calendar fields of the tick itself (UTC)."""
    from warp10_platform_spark.operators.mapper import map_scalar

    pts = canonical_points(spark, sf_dir)
    out = map_scalar(pts, "mapper.year", out_col="y")
    out = map_scalar(out, "mapper.month", out_col="m")
    out = map_scalar(out, "mapper.day", out_col="d")
    out = map_scalar(out, "mapper.hour", out_col="h")
    return out.select(
        "class", F.element_at("labels", F.lit("user")).alias("user"), "ts", "y", "m", "d", "h"
    )


@register("map_step_occurrences", (
    f"WITH {PTS}, "
    'r AS (SELECT class, "user", ts, abs(v) AS v_abs, '
    '             row_number() OVER (PARTITION BY class, "user" ORDER BY ts) AS rn FROM pts) '
    'SELECT class, "user", ts, round(v_abs, 6) AS v_abs FROM r '
    "WHERE (rn - 1) % 3 = 0 AND (rn - 1) // 3 < 4"
))
def map_step_occurrences(spark, sf_dir):
    """MAP step/occurrences operands (GTSHelper.map:6280): mapper.abs with
    step=3 (every 3rd tick) and occurrences=4 (at most 4 outputs per
    series) — the stride/cap post-filter over the mapped frame."""
    from warp10_platform_spark.operators.mapper import apply_step_occurrences

    gf = GTSFrame.fetch(canonical_points(spark, sf_dir)).map_scalar("mapper.abs")
    out = apply_step_occurrences(gf.df, step=3, occurrences=4)
    return out.select("class", _label_user(), "ts", F.round("v_mapped", 6).alias("v_abs"))


@register("predicate_clamp_mappers", (
    f"WITH {PTS} "
    'SELECT class, "user", ts, v > 50.0 AS gt50, round(least(v, 50.0), 6) AS clamped '
    "FROM pts WHERE class = 'events.purchase'"
))
def predicate_clamp_mappers(spark, sf_dir):
    """Value-predicate + clamp mappers (mapper/MapperGT.java:24,
    MapperMinX.java): mapper.gt emits the boolean verdict per tick,
    mapper.min.x caps the value — both single column exprs, fused into
    one projection (no join needed: each mapper keeps the input row)."""
    gf = GTSFrame.fetch(canonical_points(spark, sf_dir), "events.purchase{}")
    flagged = gf.map_scalar("mapper.gt", 50.0)
    clamped = GTSFrame(flagged.df.withColumnRenamed("v_mapped", "gt50"), value_col="v_double").map_scalar(
        "mapper.min.x", 50.0
    )
    return clamped.df.select(
        "class", _label_user(), "ts", "gt50", F.round("v_mapped", 6).alias("clamped")
    )


@register("mapper_scalar_coverage", (
    f"WITH {PTS} "
    'SELECT class, "user", ts, ts AS v_tick, '
    f"strftime(make_timestamp({tu.duck_units_to_us('ts')}), '%Y-%m-%dT%H:%M:%S') || printf('.%0{tu.SUBSEC_DIGITS}dZ', ts % {tu.UNITS_PER_S}) AS v_dt, "
    "CASE WHEN v > 0.5 THEN 1 WHEN v < 0.5 THEN -1 ELSE 0 END AS v_cmp "
    "FROM pts WHERE class = 'events.purchase'"
))
def mapper_scalar_coverage(spark, sf_dir):
    """mapper.tick / mapper.datetime / mapper.compareto
    (MapperTick.java:29, MapperDateTime.java, MapperCompareTo.java):
    tick-local value rewrites, all JVM expressions."""
    from warp10_platform_spark.operators.mapper import map_scalar

    gf = GTSFrame.fetch(canonical_points(spark, sf_dir), "events.purchase{}")
    df = map_scalar(gf.df, "mapper.tick", out_col="v_tick")
    df = map_scalar(df, "mapper.datetime", out_col="v_dt")
    df = map_scalar(df, "mapper.compareto", param=0.5, out_col="v_cmp")
    return df.select("class", _label_user(), "ts", "v_tick", "v_dt", "v_cmp")
