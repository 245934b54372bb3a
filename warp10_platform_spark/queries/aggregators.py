"""Aggregator queries: bucketizers and reducers beyond the headline set —
entropy, top-k, mode, strict weighted mean, argmin/argmax, join/delta/rate,
circular mean, product, and the BucketSpec accessors (BUCKETSPAN.java,
BUCKETCOUNT.java, LASTBUCKET.java).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from warp10_platform_spark.core import timeunits as tu
from warp10_platform_spark.core.frame import GTSFrame
from warp10_platform_spark.core.schema import labels_from_key
from warp10_platform_spark.functions.custom import macro_mapper
from warp10_platform_spark.queries import register
from warp10_platform_spark.queries.analytics import _user
from warp10_platform_spark.queries.custom import _wmean
from warp10_platform_spark.queries.gts import DAILY, DAY, LASTBUCKET, NDAYS, PTS, _bucketized
from warp10_platform_spark.queries.mappers import _label_user
from warp10_platform_spark.sources.tables import canonical_points


@register("entropy_daily", (
    f"WITH {PTS}, {DAILY}, "
    'c AS (SELECT class, "user", ts, v, count(*) AS c FROM daily GROUP BY class, "user", ts, v), '
    'n AS (SELECT class, "user", ts, sum(c) AS n FROM c GROUP BY class, "user", ts), '
    'e AS (SELECT c.class, c."user", c.ts, '
    "      list((c.c::DOUBLE / n.n) * ln(c.c::DOUBLE / n.n) ORDER BY c.v) AS terms "
    '      FROM c JOIN n ON c.class = n.class AND c."user" = n."user" AND c.ts = n.ts '
    '      GROUP BY c.class, c."user", c.ts) '
    'SELECT class, "user", ts, round(-list_reduce(terms, (a, b) -> a + b), 6) + 0.0 AS v_agg FROM e'
))
def entropy_daily(spark, sf_dir):
    """bucketizer.shannonentropy (aggregator/ShannonEntropy.java:33):
    -(Σ p ln p) over each day's value distribution, folded in sorted-value
    order on both engines."""
    gf = _bucketized(spark, sf_dir, "bucketizer.shannonentropy")
    return gf.df.select(
        "class",
        _user(),
        "ts",
        # + 0.0 folds IEEE -0.0 (single-value buckets) to +0.0 on both engines.
        (F.round("v_agg", 6) + F.lit(0.0)).alias("v_agg"),
    )


@register("bucketize_highest3", (
    f"WITH {PTS}, {DAILY}, "
    't AS (SELECT class, "user", ts, list(v ORDER BY v DESC)[1:3] AS top3 FROM daily GROUP BY class, "user", ts) '
    "SELECT class, \"user\", ts, array_to_string(top3, ',') AS top3 FROM t"
))
def bucketize_highest3(spark, sf_dir):
    """bucketizer.highest k=3 (aggregator/Highest.java:29): top-k values
    per bucket, joined to a string for cross-engine array compare."""
    gf = _bucketized(spark, sf_dir, "bucketizer.highest", p=3)
    return gf.df.select(
        "class",
        _user(),
        "ts",
        F.array_join(F.col("v_agg").cast("array<string>"), ",").alias("top3"),
    )


@register("mode_daily", (
    f"WITH {PTS}, {DAILY}, "
    'c AS (SELECT class, "user", ts, v, count(*) AS c FROM daily GROUP BY class, "user", ts, v), '
    "r AS (SELECT *, row_number() OVER (PARTITION BY class, \"user\", ts ORDER BY c DESC, v ASC) AS rk FROM c) "
    'SELECT class, "user", ts, v AS v_agg FROM r WHERE rk = 1'
))
def mode_daily(spark, sf_dir):
    """MODE (functions/MODE.java) as a reusable bucketizer — most frequent
    value per bucket, smallest-value tie-break (deterministic)."""
    gf = _bucketized(spark, sf_dir, "bucketizer.mode")
    return gf.df.select(
        "class",
        _user(),
        "ts",
        F.col("v_agg"),
    )


@register("strict_wmean", (
    # the macro_wmean oracle restricted to full 5-point frames
    f"WITH {PTS}, "
    "w AS (SELECT class, \"user\", ts, "
    "      lag(ts, 2) OVER win AS m2_ts, lag(v, 2) OVER win AS m2_v, "
    "      lag(ts, 1) OVER win AS m1_ts, lag(v, 1) OVER win AS m1_v, "
    "      ts AS c0_ts, v AS c0_v, "
    "      lead(ts, 1) OVER win AS p1_ts, lead(v, 1) OVER win AS p1_v, "
    "      lead(ts, 2) OVER win AS p2_ts, lead(v, 2) OVER win AS p2_v "
    "      FROM pts WINDOW win AS (PARTITION BY class, \"user\" ORDER BY ts)) "
    "SELECT class, \"user\", ts, round(("
    + " + ".join(
        f"(1.0 / (1.0 + abs(CAST({o}_ts - ts AS DOUBLE)) / {float(tu.UNITS_PER_S)})) * {o}_v"
        for o in ("m2", "m1", "c0", "p1", "p2")
    )
    + ") / ("
    + " + ".join(
        f"1.0 / (1.0 + abs(CAST({o}_ts - ts AS DOUBLE)) / {float(tu.UNITS_PER_S)})" for o in ("m2", "m1", "c0", "p1", "p2")
    )
    + "), 6) AS v_mapped FROM w WHERE m2_ts IS NOT NULL AND p2_ts IS NOT NULL"
))
def strict_wmean(spark, sf_dir):
    """STRICTMAPPER (mapper/STRICTMAPPER.java): the macro weighted mean
    with min_points=5 — edge frames yield no output point."""
    out = macro_mapper(canonical_points(spark, sf_dir), _wmean, pre=2, post=2, min_points=5)
    # pandas NaN arrives as SQL NULL through Arrow — strict frames emit no point
    return out.where(F.col("v_mapped").isNotNull()).select(
        "class",
        _user(),
        "ts",
        F.round("v_mapped", 6).alias("v_mapped"),
    )


@register("bucketize_argminmax", (
    f"WITH {PTS}, {DAILY} "
    'SELECT class, "user", ts, '
    "-(max(struct_pack(a := v, b := -raw_ts)).b) AS t_max, "
    "min(struct_pack(a := v, b := raw_ts)).b AS t_min "
    'FROM daily GROUP BY class, "user", ts'
))
def bucketize_argminmax(spark, sf_dir):
    """bucketizer.argmax/argmin (aggregator/Argminmax.java:46): the tick
    of each bucket's extremum. Ties on the extreme VALUE break to the
    EARLIEST tick — the reference scans ticks ascending with a strict
    comparison (Argminmax.java:158), so first occurrence wins; plain
    max_by/arg_min pick an arbitrary tied row and diverge between
    engines once buckets are dense enough to contain duplicate values
    (seen at sf0.1). Lexicographic struct min/max encodes the tie-break
    in both engines."""
    from warp10_platform_spark.operators.bucketize import SERIES_KEYS, bucket_end_col

    df = canonical_points(spark, sf_dir).where(
        (F.col("ts") <= LASTBUCKET) & (F.col("ts") > LASTBUCKET - DAY * NDAYS)
    )
    out = (
        df.withColumn("bucket_end", bucket_end_col(LASTBUCKET, DAY))
        .groupBy(*SERIES_KEYS, "bucket_end")
        .agg(
            (-F.max(F.struct(F.col("v_double").alias("a"), (-F.col("ts")).alias("b")))["b"]).alias("t_max"),
            F.min(F.struct(F.col("v_double").alias("a"), F.col("ts").alias("b")))["b"].alias("t_min"),
        )
        .withColumn("labels", labels_from_key())
    )
    return out.select(
        "class",
        F.element_at("labels", F.lit("user")).alias("user"),
        F.col("bucket_end").alias("ts"),
        "t_max",
        "t_min",
    )


@register("bucketize_join_delta_rate", (
    f"WITH {PTS}, {DAILY} "
    'SELECT class, "user", ts, '
    "array_to_string(list(CAST(v AS VARCHAR) ORDER BY CAST(v AS VARCHAR)), ',') AS joined, "
    "arg_max(v, raw_ts) - arg_min(v, raw_ts) AS delta, "
    f"round((arg_max(v, raw_ts) - arg_min(v, raw_ts)) / ((max(raw_ts) - min(raw_ts)) / {float(tu.UNITS_PER_S)}), 6) AS rate "
    'FROM daily GROUP BY class, "user", ts HAVING max(raw_ts) > min(raw_ts)'
))
def bucketize_join_delta_rate(spark, sf_dir):
    """bucketizer.join (sorted, Join.java:37) + delta (last-first,
    Delta.java:31) + rate per second (Rate.java:33) in one bucket pass."""
    from warp10_platform_spark.operators.bucketize import SERIES_KEYS, bucket_end_col, bucketizer_expr

    df = canonical_points(spark, sf_dir).where(
        (F.col("ts") <= LASTBUCKET) & (F.col("ts") > LASTBUCKET - DAY * NDAYS)
    )
    v, ts = F.col("v_double"), F.col("ts")
    out = (
        df.withColumn("bucket_end", bucket_end_col(LASTBUCKET, DAY))
        .groupBy(*SERIES_KEYS, "bucket_end")
        .agg(
            bucketizer_expr("join", v.cast("string"), ts).alias("joined"),
            bucketizer_expr("delta", v, ts).alias("delta"),
            F.round(bucketizer_expr("rate", v, ts), 6).alias("rate"),
            (F.max("ts") > F.min("ts")).alias("_multi"),
        )
        .withColumn("labels", labels_from_key())
        .where(F.col("_multi"))
    )
    return out.select(
        "class",
        F.element_at("labels", F.lit("user")).alias("user"),
        F.col("bucket_end").alias("ts"),
        "joined",
        "delta",
        "rate",
    )


@register("circular_mean_daily", (
    f"WITH {PTS}, {DAILY}, "
    # values (0-ish..500) → degrees: v*0.72 maps into [0,360); quantize
    # sin/cos to 1e-12 so the accumulation is order-independent
    "t AS (SELECT class, \"user\", ts, "
    "      CAST(round(sin(radians(v * 0.72)) * 1e12) AS BIGINT) AS sq, "
    "      CAST(round(cos(radians(v * 0.72)) * 1e12) AS BIGINT) AS cq "
    "      FROM daily) "
    'SELECT class, "user", ts, '
    "round(degrees(atan2(CAST(sum(sq) AS DOUBLE) / count(*) / 1e12, CAST(sum(cq) AS DOUBLE) / count(*) / 1e12)), 6) AS v_agg "
    'FROM t GROUP BY class, "user", ts'
))
def circular_mean_daily(spark, sf_dir):
    """bucketizer.mean.circular (aggregator/CircularMean.java:37) over
    values mapped to degrees: atan2(avg sin, avg cos), with sin/cos
    quantized to 1e-12 before summation (order-independent — the same
    exactness device as INTEGRATE)."""
    from warp10_platform_spark.operators.bucketize import SERIES_KEYS, bucket_end_col

    df = canonical_points(spark, sf_dir).where(
        (F.col("ts") <= LASTBUCKET) & (F.col("ts") > LASTBUCKET - DAY * NDAYS)
    )
    rad = F.radians(F.col("v_double") * 0.72)
    sq = F.round(F.sin(rad) * 1e12).cast("long")
    cq = F.round(F.cos(rad) * 1e12).cast("long")
    out = (
        df.withColumn("bucket_end", bucket_end_col(LASTBUCKET, DAY))
        .withColumn("_sq", sq)
        .withColumn("_cq", cq)
        .groupBy(*SERIES_KEYS, "bucket_end")
        .agg(
            F.round(
                F.degrees(
                    F.atan2(
                        F.sum("_sq").cast("double") / F.count("*") / 1e12,
                        F.sum("_cq").cast("double") / F.count("*") / 1e12,
                    )
                ),
                6,
            ).alias("v_agg"),
        )
        .withColumn("labels", labels_from_key())
    )
    return out.select(
        "class",
        F.element_at("labels", F.lit("user")).alias("user"),
        F.col("bucket_end").alias("ts"),
        "v_agg",
    )


@register("bucketspec_accessors", (
    f"WITH {PTS}, "
    f"daily AS (SELECT class, \"user\", {LASTBUCKET} - (({LASTBUCKET} - ts) // {DAY}) * {DAY} AS ts "
    f"          FROM pts WHERE ts <= {LASTBUCKET} AND ts > {LASTBUCKET - DAY * NDAYS}) "
    'SELECT class, "user", count(DISTINCT ts) AS n_filled, '
    f"       {DAY} AS bucketspan, {NDAYS} AS bucketcount, {LASTBUCKET} AS lastbucket "
    'FROM daily GROUP BY class, "user"'
))
def bucketspec_accessors(spark, sf_dir):
    """BucketSpec accessors (BUCKETSPAN.java, BUCKETCOUNT.java,
    LASTBUCKET.java) + ONLYBUCKETS: bucketize daily, read the spec back
    through the frame accessors, and count the non-empty buckets per
    series (ONLYBUCKETS is the identity on an unscaffolded bucketized
    frame, so its size IS the filled-bucket count)."""
    gf = _bucketized(spark, sf_dir, "bucketizer.count")
    ob = gf.onlybuckets()
    return ob.df.groupBy("class", "labels_key").agg(F.count("*").alias("n_filled")).select(
        "class",
        _user(),
        "n_filled",
        F.lit(gf.bucketspan()).alias("bucketspan"),
        F.lit(gf.bucketcount()).alias("bucketcount"),
        F.lit(gf.lastbucket()).alias("lastbucket"),
    )


@register("bucketize_product", (
    f"WITH {PTS}, "
    f"d AS (SELECT class, \"user\", {LASTBUCKET} - (({LASTBUCKET} - ts) // {DAY}) * {DAY} AS ts, "
    "  (CASE WHEN v > 0.5 THEN 3 WHEN v < 0.5 THEN 1 ELSE 2 END)::DOUBLE AS c "
    f"  FROM pts WHERE ts <= {LASTBUCKET} AND ts > {LASTBUCKET - DAY * NDAYS}) "
    'SELECT class, "user", ts, '
    "  list_reduce(list_sort(list(c)), (a, b) -> a * b) AS v_agg "
    'FROM d GROUP BY class, "user", ts'
))
def bucketize_product(spark, sf_dir):
    """bucketizer.product (MapperProduct.java:30 dual-registered as an
    aggregator): exact value-sorted double fold so the product is
    order-deterministic and engine-identical. Input is compareto+2 ∈
    {1,2,3} so magnitudes stay bounded."""
    from warp10_platform_spark.operators.mapper import map_scalar

    gf = _bucketized_input(spark, sf_dir)
    return _out_agg(gf)


def _bucketized_input(spark, sf_dir):
    from warp10_platform_spark.operators.mapper import map_scalar

    gf = GTSFrame.fetch(canonical_points(spark, sf_dir), None, LASTBUCKET - DAY * NDAYS + 1, LASTBUCKET)
    df = map_scalar(gf.df, "mapper.compareto", param=0.5, out_col="v_cmp")
    df = df.withColumn("v_double", (F.col("v_cmp") + 2).cast("double"))
    return GTSFrame(df.drop("v_cmp"), value_col="v_double").bucketize("bucketizer.product", DAY, lastbucket=LASTBUCKET, bucketcount=NDAYS)


def _out_agg(gf):
    return gf.df.select("class", _label_user(), "ts", "v_agg")
