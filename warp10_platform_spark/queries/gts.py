"""GTS operator queries over the events table (FIXTURES.md §F4 projection).

Each query drives the engine's GTSFrame API; its oracle re-derives the
same semantics in DuckDB SQL over a shared `pts` CTE. Grid constants are
fixed so both sides compute the identical anchored bucket grid
(GTSHelper.bucketize:2257 semantics, lastbucket-anchored).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from warp10_platform_spark.core.frame import GTSFrame
from warp10_platform_spark.core.schema import labels_from_key
from warp10_platform_spark.operators import outliers as _outliers
from warp10_platform_spark.operators import sort as _sort
from warp10_platform_spark.queries import register
from warp10_platform_spark.sources.tables import canonical_points

from warp10_platform_spark.core import timeunits as tu

# Grid constants in platform ticks (µs default; exact rescale under
# WARP10_TIME_UNITS=ms/ns — every constant is ms-aligned).
DAY = tu.us(86_400_000_000)
HOUR = tu.us(3_600_000_000)
LASTBUCKET = tu.us(1_706_659_200_000_000)  # 2024-01-31T00:00:00Z
NDAYS = 31

# Shared oracle CTE: the events→points projection (sources/tables.py twin);
# the epoch extractor flips with the session unit.
PTS = f"""pts AS (
  SELECT 'events.' || event_type AS class,
         CAST(user_id AS VARCHAR) AS "user",
         {tu.duck_epoch('ts')} AS ts,
         value AS v
  FROM events
)"""

# Daily anchored-grid CTE over pts (raw_ts kept for first/last aggs).
DAILY = f"""daily AS (
  SELECT class, "user",
         {LASTBUCKET} - (({LASTBUCKET} - ts) // {DAY}) * {DAY} AS ts,
         ts AS raw_ts,
         v
  FROM pts
  WHERE ts <= {LASTBUCKET} AND ts > {LASTBUCKET - DAY * NDAYS}
)"""


def _out(df, value_col, alias, ndigits=None):
    v = F.col(value_col)
    if ndigits is not None:
        v = F.round(v, ndigits)
    return df.select(
        F.col("class"),
        F.element_at(F.col("labels"), "user").alias("user"),
        F.col("ts"),
        v.alias(alias),
    )


# ---------- FETCH ----------

@register(
    "fetch_range",
    f"WITH {PTS} SELECT class, \"user\", ts, v AS v_double FROM pts "
    f"WHERE class = 'events.purchase' AND ts >= {tu.us(1704844800000000)} AND ts <= {tu.us(1705708800000000)}",
)
def fetch_range(spark, sf_dir):
    """FETCH (FETCH.java:99): selector + time range over the CANONICAL
    points layout — the class predicate prunes partitions and the ts
    range lands in PushedFilters (the 100 TB scan shape)."""
    from warp10_platform_spark.sources.tables import canonical_points

    gf = GTSFrame.fetch(canonical_points(spark, sf_dir), "events.purchase{}", tu.us(1704844800000000), tu.us(1705708800000000))
    return _out(gf.df, "v_double", "v_double")


@register(
    "fetch_range_daypruned",
    f"WITH {PTS} SELECT class, \"user\", ts, v AS v_double FROM pts "
    f"WHERE class = 'events.purchase' AND ts >= {tu.us(1704844800000000)} AND ts <= {tu.us(1705708800000000)}",
)
def fetch_range_daypruned(spark, sf_dir):
    """Same FETCH as fetch_range but over the (class, day)-partitioned
    layout (SURVEY §1.6's full 100 TB shape): the ts range is converted
    to exact day-partition bounds (`ts DIV day` is monotone), so the scan
    lists only the matching day directories — PartitionFilters carry
    class AND day, asserted in tests/test_plans.py."""
    from warp10_platform_spark.sources.tables import DAY_US, partitioned_points

    t0, t1 = tu.us(1704844800000000), tu.us(1705708800000000)
    pts = partitioned_points(spark, sf_dir).where(
        F.col("day").between(t0 // DAY_US, t1 // DAY_US)
    )
    gf = GTSFrame.fetch(pts, "events.purchase{}", t0, t1)
    return _out(gf.df, "v_double", "v_double")


@register(
    "fetch_last_n",
    f"WITH {PTS} SELECT class, \"user\", ts, v AS v_double FROM ("
    "  SELECT *, row_number() OVER (PARTITION BY class, \"user\" ORDER BY ts DESC) AS rn FROM pts"
    ") WHERE rn <= 3",
)
def fetch_last_n(spark, sf_dir):
    """Count-based FETCH (FETCH.java:128): last 3 points per series via a
    descending per-series window — the scan-level count pushdown analog."""
    gf = GTSFrame.fetch(canonical_points(spark, sf_dir), count=3)
    return _out(gf.df, "v_double", "v_double")


# ---------- BUCKETIZE ----------

def _bucketize_oracle(agg_sql: str, alias: str = "v_agg") -> str:
    return (
        f"WITH {PTS}, {DAILY} "
        f'SELECT class, "user", ts, {agg_sql} AS {alias} FROM daily GROUP BY class, "user", ts'
    )


def _bucketized(spark, sf_dir, bucketizer, decimal=False, **kw):
    pts = canonical_points(spark, sf_dir)
    if decimal:
        pts = pts.withColumn("v_double", F.col("v_double").cast("decimal(28,10)"))
    gf = GTSFrame.fetch(pts)
    return gf.bucketize(bucketizer, DAY, LASTBUCKET, NDAYS, **kw)


def _bucketized_decimal_mean(spark, sf_dir):
    """Daily mean per series as double(decimal_sum)/count — the
    reproducible form of bucketizer.mean."""
    from warp10_platform_spark.operators.bucketize import SERIES_KEYS, bucket_end_col

    df = canonical_points(spark, sf_dir).where(
        (F.col("ts") <= LASTBUCKET) & (F.col("ts") > LASTBUCKET - DAY * NDAYS)
    )
    return (
        df.withColumn("bucket_end", bucket_end_col(LASTBUCKET, DAY))
        .groupBy(*SERIES_KEYS, "bucket_end")
        .agg(
            F.round(
                F.sum(F.col("v_double").cast("decimal(28,10)")).cast("double") / F.count("v_double"), 6
            ).alias("v_agg"),
        )
        .withColumn("labels", labels_from_key())
        .withColumnRenamed("bucket_end", "ts")
    )


@register("bucketize_mean", _bucketize_oracle("round(CAST(sum(v::DECIMAL(28,10)) AS DOUBLE) / count(v), 6)"))
def bucketize_mean(spark, sf_dir):
    """bucketizer.mean with DECIMAL-exact accumulation: double sums are
    partial-aggregation-order dependent across engines; decimal sums are
    exact, so mean = double(sum)/count is reproducible bit-for-bit."""
    gf = _bucketized_decimal_mean(spark, sf_dir)
    return _out(gf, "v_agg", "v_agg")


@register("bucketize_sum", _bucketize_oracle("CAST(round(sum(v::DECIMAL(28,10)), 6) AS DOUBLE)"))
def bucketize_sum(spark, sf_dir):
    gf = _bucketized(spark, sf_dir, "bucketizer.sum", decimal=True)
    return _out(gf.df.withColumn("v_agg", F.round("v_agg", 6).cast("double")), "v_agg", "v_agg")


@register("bucketize_count", _bucketize_oracle("count(v)"))
def bucketize_count(spark, sf_dir):
    return _out(_bucketized(spark, sf_dir, "bucketizer.count").df, "v_agg", "v_agg")


@register("bucketize_min_max", (
    f"WITH {PTS}, {DAILY} "
    'SELECT class, "user", ts, min(v) AS v_min, max(v) AS v_max FROM daily GROUP BY class, "user", ts'
))
def bucketize_min_max(spark, sf_dir):
    from warp10_platform_spark.operators.bucketize import SERIES_KEYS, bucket_end_col

    df = canonical_points(spark, sf_dir).where(
        (F.col("ts") <= LASTBUCKET) & (F.col("ts") > LASTBUCKET - DAY * NDAYS)
    )
    out = (
        df.withColumn("bucket_end", bucket_end_col(LASTBUCKET, DAY))
        .groupBy(*SERIES_KEYS, "bucket_end")
        .agg(F.min("v_double").alias("v_min"), F.max("v_double").alias("v_max"))
        .withColumn("labels", labels_from_key())
        .withColumnRenamed("bucket_end", "ts")
    )
    return out.select(
        "class", F.element_at(F.col("labels"), "user").alias("user"), "ts", "v_min", "v_max"
    )


@register("bucketize_first_last", (
    f"WITH {PTS}, {DAILY} "
    'SELECT class, "user", ts, arg_min(v, raw_ts) AS v_first, arg_max(v, raw_ts) AS v_last '
    'FROM daily GROUP BY class, "user", ts'
))
def bucketize_first_last(spark, sf_dir):
    from warp10_platform_spark.operators.bucketize import SERIES_KEYS, bucket_end_col

    df = canonical_points(spark, sf_dir).where(
        (F.col("ts") <= LASTBUCKET) & (F.col("ts") > LASTBUCKET - DAY * NDAYS)
    )
    out = (
        df.withColumn("bucket_end", bucket_end_col(LASTBUCKET, DAY))
        .groupBy(*SERIES_KEYS, "bucket_end")
        .agg(
            F.min_by("v_double", "ts").alias("v_first"),
            F.max_by("v_double", "ts").alias("v_last"),
        )
        .withColumn("labels", labels_from_key())
        .withColumnRenamed("bucket_end", "ts")
    )
    return out.select("class", F.element_at(F.col("labels"), "user").alias("user"), "ts", "v_first", "v_last")


@register("bucketize_sd_median", (
    f"WITH {PTS}, {DAILY} "
    'SELECT class, "user", ts, round(stddev_samp(v), 6) AS v_sd, round(median(v), 6) AS v_median '
    'FROM daily GROUP BY class, "user", ts'
))
def bucketize_sd_median(spark, sf_dir):
    from warp10_platform_spark.operators.bucketize import SERIES_KEYS, bucket_end_col

    df = canonical_points(spark, sf_dir).where(
        (F.col("ts") <= LASTBUCKET) & (F.col("ts") > LASTBUCKET - DAY * NDAYS)
    )
    out = (
        df.withColumn("bucket_end", bucket_end_col(LASTBUCKET, DAY))
        .groupBy(*SERIES_KEYS, "bucket_end")
        .agg(
            F.round(F.stddev_samp("v_double"), 6).alias("v_sd"),
            F.round(F.median("v_double"), 6).alias("v_median"),
        )
        .withColumn("labels", labels_from_key())
        .withColumnRenamed("bucket_end", "ts")
    )
    return out.select("class", F.element_at(F.col("labels"), "user").alias("user"), "ts", "v_sd", "v_median")


# ---------- flagship: fetch → bucketize → reduce ----------

@register("gts_bucketize_reduce", (
    f"WITH {PTS}, {DAILY}, "
    'b AS (SELECT class, "user", ts, round(CAST(sum(v::DECIMAL(28,10)) AS DOUBLE) / count(v), 6) AS v_agg FROM daily GROUP BY class, "user", ts) '
    'SELECT "user" AS label_user, ts, max(v_agg) AS v_reduced FROM b GROUP BY "user", ts'
))
def gts_bucketize_reduce(spark, sf_dir):
    """SURVEY §7 minimum slice: fetch → daily mean per series →
    reducer.max across classes per user (REDUCE label-equivalence,
    GTSHelper.reduce:8147)."""
    from warp10_platform_spark.operators.bucketize import BucketSpec

    b = _bucketized_decimal_mean(spark, sf_dir)
    gf = GTSFrame(b, BucketSpec(LASTBUCKET, DAY, NDAYS), "v_agg")
    return gf.reduce_("reducer.max", by=["user"])


@register("reduce_fill_previous", (
    f"WITH {PTS}, {DAILY}, "
    'b AS (SELECT "user", ts, count(*) AS v FROM daily GROUP BY "user", ts), '
    f"g AS (SELECT u.\"user\", gs.ts FROM (SELECT DISTINCT \"user\" FROM b) u "
    f"     CROSS JOIN (SELECT unnest(generate_series({LASTBUCKET - (NDAYS - 1) * DAY}, {LASTBUCKET}, {DAY})) AS ts) gs), "
    'j AS (SELECT g."user", g.ts, b.v FROM g LEFT JOIN b ON b."user" = g."user" AND b.ts = g.ts) '
    'SELECT "user", ts, last_value(v IGNORE NULLS) OVER ('
    '  PARTITION BY "user" ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled '
    "FROM j"
))
def reduce_fill_previous(spark, sf_dir):
    """REDUCE → FILLPREVIOUS — the pipeline that REQUIRES the
    bucketization-congruence rule (GTSHelper.java:8196-8247): the daily
    per-series counts are bucketized, reduce_frame propagates the merged
    BucketSpec onto the per-user reduced series, and FILL scaffolds its
    grid from that spec (it refuses unbucketized frames). Days where a
    user has no event in ANY class are materialized and previous-filled;
    leading gaps stay null, matching the reference's filler.previous."""
    gf = GTSFrame.fetch(canonical_points(spark, sf_dir)).bucketize(
        "bucketizer.count", DAY, LASTBUCKET, NDAYS
    )
    red = gf.reduce_frame("reducer.sum", by=["user"])
    filled = red.fillprevious()
    return filled.df.select(
        F.element_at(F.col("labels"), "user").alias("user"),
        "ts",
        F.col("v_reduced").alias("v_filled"),
    )


@register("fill_trend_daily", (
    f"WITH {PTS}, {DAILY}, "
    'b AS (SELECT class, "user", ts, CAST(count(*) AS DOUBLE) AS v FROM daily GROUP BY class, "user", ts), '
    'series AS (SELECT DISTINCT class, "user" FROM b), '
    f'grid AS (SELECT s.class, s."user", g.ts FROM series s, '
    f"  (SELECT unnest(generate_series({LASTBUCKET - (NDAYS - 1) * DAY}, {LASTBUCKET}, {DAY})) AS ts) g), "
    'j AS (SELECT grid.class, grid."user", grid.ts, b.v FROM grid '
    '  LEFT JOIN b ON b.class = grid.class AND b."user" = grid."user" AND b.ts = grid.ts), '
    'mo AS (SELECT class, "user", count(v) AS n, avg(CAST(ts AS DOUBLE)) AS xm, avg(v) AS ym '
    '  FROM j WHERE v IS NOT NULL GROUP BY class, "user"), '
    'cen AS (SELECT j.class, j."user", '
    '    sum((j.ts - mo.xm) * (j.v - mo.ym)) AS sxy, sum((j.ts - mo.xm) * (j.ts - mo.xm)) AS sxx '
    '  FROM j JOIN mo ON mo.class = j.class AND mo."user" = j."user" '
    '  WHERE j.v IS NOT NULL GROUP BY j.class, j."user") '
    'SELECT j.class, j."user", j.ts, '
    '  round(CASE WHEN j.v IS NOT NULL THEN j.v '
    '        WHEN mo.n >= 2 THEN mo.ym + (CASE WHEN cen.sxx > 0 THEN cen.sxy / cen.sxx ELSE 0.0 END) * (j.ts - mo.xm) '
    '        END, 6) AS v_filled '
    'FROM j JOIN mo ON mo.class = j.class AND mo."user" = j."user" '
    '  JOIN cen ON cen.class = j.class AND cen."user" = j."user"'
))
def fill_trend_daily(spark, sf_dir):
    """filler.trend (FillerTrend.java) oracled end-to-end: daily counts
    per series, missing grid buckets filled with the per-series
    least-squares line over the PRESENT points (centered moments — the
    expanded n·Σxy−ΣxΣy form cancels catastrophically at epoch-µs x
    magnitudes). Series with <2 present points keep nulls, and present
    buckets pass through unchanged, exactly the reference filler."""
    from warp10_platform_spark.operators import fill as _fill

    gf = GTSFrame.fetch(canonical_points(spark, sf_dir)).bucketize(
        "bucketizer.count", DAY, LASTBUCKET, NDAYS
    )
    df = gf.df.withColumn("v_agg", F.col("v_agg").cast("double"))
    scaffolded = _fill.scaffold(df, gf.bucketspec)
    filled = _fill.fill_trend(scaffolded, "v_agg")
    return filled.select(
        "class",
        F.element_at(F.col("labels"), "user").alias("user"),
        "ts",
        F.round("v_agg", 6).alias("v_filled"),
    )


# ---------- MAP (window mappers) ----------# ---------- MAP (window mappers) ----------

@register("map_delta", (
    f"WITH {PTS} SELECT class, \"user\", ts, v_mapped FROM ("
    '  SELECT class, "user", ts, v - lag(v) OVER (PARTITION BY class, "user" ORDER BY ts) AS v_mapped FROM pts'
    ") WHERE v_mapped IS NOT NULL"
))
def map_delta(spark, sf_dir):
    gf = GTSFrame.fetch(canonical_points(spark, sf_dir)).delta()
    return _out(gf.df.where(F.col("v_mapped").isNotNull()), "v_mapped", "v_mapped")


@register("map_rate", (
    f"WITH {PTS} SELECT class, \"user\", ts, round(v_mapped, 6) + 0.0 AS v_mapped FROM ("
    f'  SELECT class, "user", ts, (v - lag(v) OVER w) / ((ts - lag(ts) OVER w) / {float(tu.UNITS_PER_S)}) AS v_mapped '
    '  FROM pts WINDOW w AS (PARTITION BY class, "user" ORDER BY ts)'
    ") WHERE v_mapped IS NOT NULL"
))
def map_rate(spark, sf_dir):
    gf = GTSFrame.fetch(canonical_points(spark, sf_dir)).rate()
    return _out(gf.df.where(F.col("v_mapped").isNotNull()), "v_mapped", "v_mapped", 6)


@register("map_moving_mean", (
    f"WITH {PTS} SELECT class, \"user\", ts, round(avg(v) OVER ("
    '  PARTITION BY class, "user" ORDER BY ts ROWS BETWEEN 2 PRECEDING AND CURRENT ROW'
    "), 6) AS v_mapped FROM pts"
))
def map_moving_mean(spark, sf_dir):
    gf = GTSFrame.fetch(canonical_points(spark, sf_dir)).map_aggregate("mapper.mean", pre=2, post=0)
    return _out(gf.df, "v_mapped", "v_mapped", 6)


@register("map_csum", (
    f"WITH {PTS} SELECT class, \"user\", ts, CAST(round(sum(v::DECIMAL(28,10)) OVER ("
    '  PARTITION BY class, "user" ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW'
    "), 6) AS DOUBLE) AS v_mapped FROM pts"
))
def map_csum(spark, sf_dir):
    pts = canonical_points(spark, sf_dir).withColumn("v_double", F.col("v_double").cast("decimal(28,10)"))
    gf = GTSFrame.fetch(pts).map_aggregate("mapper.csum")
    return _out(gf.df.withColumn("v_mapped", F.round("v_mapped", 6).cast("double")), "v_mapped", "v_mapped")


@register("map_time_range_sum", (
    f"WITH {PTS} SELECT class, \"user\", ts, CAST(round(sum(v::DECIMAL(28,10)) OVER ("
    f'  PARTITION BY class, "user" ORDER BY ts RANGE BETWEEN {tu.us(3600000000)} PRECEDING AND CURRENT ROW'
    "), 6) AS DOUBLE) AS v_mapped FROM pts"
))
def map_time_range_sum(spark, sf_dir):
    """Time-frame MAP (pre<0 → range window, GTSHelper.map:6275): sum over
    the trailing hour."""
    pts = canonical_points(spark, sf_dir).withColumn("v_double", F.col("v_double").cast("decimal(28,10)"))
    gf = GTSFrame.fetch(pts).map_aggregate("mapper.sum", pre=-HOUR, post=0)
    return _out(gf.df.withColumn("v_mapped", F.round("v_mapped", 6).cast("double")), "v_mapped", "v_mapped")


# ---------- APPLY (op.*) ----------

@register("apply_div", (
    f"WITH {PTS}, {DAILY}, "
    'p AS (SELECT "user", ts, CAST(round(sum(v::DECIMAL(28,10)), 6) AS DOUBLE) AS vp FROM daily WHERE class = \'events.purchase\' GROUP BY "user", ts), '
    'w AS (SELECT "user", ts, count(v) AS vw FROM daily WHERE class = \'events.view\' GROUP BY "user", ts) '
    'SELECT p."user" AS label_user, p.ts, round(p.vp / w.vw, 6) AS v_op FROM p JOIN w ON p."user" = w."user" AND p.ts = w.ts'
))
def apply_div(spark, sf_dir):
    """APPLY op.div (OpDiv.java:29; GTSHelper.apply:7846): daily purchase
    sum ÷ daily view count, tick-aligned per user."""
    pts = canonical_points(spark, sf_dir)
    pts_dec = pts.withColumn("v_double", F.col("v_double").cast("decimal(28,10)"))
    p = GTSFrame.fetch(pts_dec, "events.purchase{}").bucketize("bucketizer.sum", DAY, LASTBUCKET, NDAYS)
    p = GTSFrame(p.df.withColumn("v_agg", F.round("v_agg", 6).cast("double")), p.bucketspec, "v_agg")
    w = GTSFrame.fetch(pts, "events.view{}").bucketize("bucketizer.count", DAY, LASTBUCKET, NDAYS)
    out = p.apply_op(w, "op.div", by=["user"])
    return out.select("label_user", "ts", F.round("v_op", 6).alias("v_op"))


# ---------- FILL ----------

@register("fill_previous", (
    f"WITH {PTS}, {DAILY}, "
    'b AS (SELECT class, "user", ts, CAST(round(sum(v::DECIMAL(28,10)), 6) AS DOUBLE) AS v_agg FROM daily GROUP BY class, "user", ts), '
    "series AS (SELECT DISTINCT class, \"user\" FROM b), "
    f"grid AS (SELECT s.class, s.\"user\", g.ts FROM series s, "
    f"  (SELECT unnest(generate_series({LASTBUCKET - (NDAYS - 1) * DAY}, {LASTBUCKET}, {DAY})) AS ts) g) "
    "SELECT grid.class, grid.\"user\", grid.ts, "
    "  last_value(b.v_agg IGNORE NULLS) OVER (PARTITION BY grid.class, grid.\"user\" ORDER BY grid.ts) AS v_agg "
    "FROM grid LEFT JOIN b ON b.class = grid.class AND b.\"user\" = grid.\"user\" AND b.ts = grid.ts"
))
def fill_previous(spark, sf_dir):
    """FILLPREVIOUS over the daily grid (FillerPrevious.java:26) — the
    packed single-shuffle path: scaffold + forward fill as one HOF fold
    per series instead of dropDuplicates+join+window."""
    from warp10_platform_spark.operators.fill import fill_previous_packed

    gf = _bucketized(spark, sf_dir, "bucketizer.sum", decimal=True)
    b = gf.df.withColumn("v_agg", F.round("v_agg", 6).cast("double"))
    out = fill_previous_packed(b, gf.bucketspec)
    return _out(out, "v_agg", "v_agg")


# ---------- reshaping ----------

@register("sessionize", (
    f"WITH {PTS}, "
    f"g AS (SELECT class, \"user\", ts, CASE WHEN ts - lag(ts) OVER w > {tu.us(3600000000)} THEN 1 ELSE 0 END AS brk "
    '  FROM pts WINDOW w AS (PARTITION BY class, "user" ORDER BY ts)), '
    "s AS (SELECT class, \"user\", ts, CAST(sum(brk) OVER (PARTITION BY class, \"user\" ORDER BY ts "
    "  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM g) "
    'SELECT class, "user", session_id, count(*) AS n, max(ts) - min(ts) AS duration_us '
    'FROM s GROUP BY class, "user", session_id'
))
def sessionize(spark, sf_dir):
    """TIMESPLIT's sessions (TIMESPLIT.java:34): gap>1h sessionization,
    then a per-session summary."""
    from warp10_platform_spark.operators.reshape import session_ids

    gf = GTSFrame.fetch(canonical_points(spark, sf_dir))
    # gts_id leads the grouping keys: it functionally determines
    # (class, user), and because the sessionizing windows already hash-
    # partitioned by gts_id, the grouping distribution is satisfied and
    # the per-session summary runs with NO second shuffle (one exchange
    # total — asserted in tests/test_plans.py).  TIMESPLIT itself would
    # give each session a new gts_id, so the summary reads the session
    # numbers rather than the split series.
    return (
        gf.df.withColumn("session_id", session_ids(HOUR)).groupBy(
            "gts_id", "class", F.element_at(F.col("labels"), "user").alias("user"), "session_id"
        )
        .agg(F.count("*").alias("n"), (F.max("ts") - F.min("ts")).alias("duration_us"))
        .drop("gts_id")
    )


@register("tickindex", (
    f"WITH {PTS} SELECT class, \"user\", "
    'row_number() OVER (PARTITION BY class, "user" ORDER BY ts) - 1 AS ts, v AS v_double FROM pts'
))
def tickindex(spark, sf_dir):
    gf = GTSFrame.fetch(canonical_points(spark, sf_dir)).tickindex()
    return _out(gf.df, "v_double", "v_double")


@register("timeshift", (
    f"WITH {PTS} SELECT class, \"user\", ts + {tu.us(3600000000)} AS ts, v AS v_double FROM pts"
))
def timeshift(spark, sf_dir):
    gf = GTSFrame.fetch(canonical_points(spark, sf_dir)).timeshift(HOUR)
    return _out(gf.df, "v_double", "v_double")


@register("normalize", (
    f"WITH {PTS} SELECT class, \"user\", ts, round(CASE WHEN mx = mn THEN 0.0 ELSE (v - mn) / (mx - mn) END, 6) AS v_norm "
    "FROM (SELECT *, min(v) OVER w AS mn, max(v) OVER w AS mx FROM pts WINDOW w AS (PARTITION BY class, \"user\"))"
))
def normalize(spark, sf_dir):
    gf = GTSFrame.fetch(canonical_points(spark, sf_dir)).normalize()
    return _out(gf.df, "v_norm", "v_norm", 6)


@register("standardize", (
    f"WITH {PTS} SELECT class, \"user\", ts, round(CASE WHEN sd = 0 THEN 0.0 ELSE (v - mu) / sd END, 6) AS v_std "
    "FROM (SELECT *, avg(v) OVER w AS mu, stddev_samp(v) OVER w AS sd FROM pts WINDOW w AS (PARTITION BY class, \"user\"))"
))
def standardize(spark, sf_dir):
    gf = GTSFrame.fetch(canonical_points(spark, sf_dir)).standardize()
    return _out(gf.df, "v_std", "v_std", 6)


@register("quantize", (
    f"WITH {PTS} SELECT class, \"user\", ts, "
    "CASE WHEN v <= 25 THEN 0 WHEN v <= 50 THEN 1 WHEN v <= 75 THEN 2 WHEN v <= 100 THEN 3 ELSE 4 END AS v_q FROM pts"
))
def quantize(spark, sf_dir):
    gf = GTSFrame.fetch(canonical_points(spark, sf_dir)).quantize([25.0, 50.0, 75.0, 100.0])
    return _out(gf.df, "v_q", "v_q")


@register("compact_quantized", (
    f"WITH {PTS}, q AS (SELECT class, \"user\", ts, "
    "CASE WHEN v <= 25 THEN 0 WHEN v <= 50 THEN 1 WHEN v <= 75 THEN 2 WHEN v <= 100 THEN 3 ELSE 4 END AS v_q FROM pts), "
    "m AS (SELECT *, lag(v_q) OVER w AS pv FROM q WINDOW w AS (PARTITION BY class, \"user\" ORDER BY ts)) "
    'SELECT class, "user", ts, v_q FROM m WHERE pv IS NULL OR v_q != pv'
))
def compact_quantized(spark, sf_dir):
    """QUANTIZE → COMPACT (COMPACT.java:44, preserveRanges=false): run-
    compression keeping only the first point of each constant run."""
    gf = GTSFrame.fetch(canonical_points(spark, sf_dir)).quantize([25.0, 50.0, 75.0, 100.0])
    return _out(gf.compact().df, "v_q", "v_q")


@register("integrate", (
    f"WITH {PTS}, m AS (SELECT class, \"user\", ts, "
    f"  (v + lag(v) OVER w) / 2.0 * ((ts - lag(ts) OVER w) / {float(tu.UNITS_PER_S)}) AS seg "
    '  FROM pts WINDOW w AS (PARTITION BY class, "user" ORDER BY ts)) '
    'SELECT class, "user", ts, coalesce(sum(CAST(round(seg * 1000000) AS BIGINT)) OVER (PARTITION BY class, "user" ORDER BY ts '
    "  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 1000000.0, 0.0) AS v_int FROM m"
))
def integrate(spark, sf_dir):
    gf = GTSFrame.fetch(canonical_points(spark, sf_dir)).integrate()
    return _out(gf.df, "v_int", "v_int")


# ---------- sorts / top-k ----------

@register("topk_per_series", (
    f"WITH {PTS} SELECT class, \"user\", ts, v AS v_double FROM ("
    '  SELECT *, row_number() OVER (PARTITION BY class, "user" ORDER BY v DESC, ts ASC) AS rk FROM pts'
    ") WHERE rk <= 3"
))
def topk_per_series(spark, sf_dir):
    gf = GTSFrame.fetch(canonical_points(spark, sf_dir)).topk(3)
    return _out(gf.df, "v_double", "v_double")


@register("lastsort", (
    f"WITH {PTS} SELECT class, \"user\", arg_max(v, ts) AS last_v FROM pts GROUP BY class, \"user\""
))
def lastsort(spark, sf_dir):
    """LASTSORT (LASTSORT.java:34) — per-series latest value ranking table
    (ordering itself is order-insensitive in the compare)."""
    gf = GTSFrame.fetch(canonical_points(spark, sf_dir))
    last = _sort.lastsort(gf.df, "v_double")
    return last.select(
        "class",
        F.get_json_object(F.col("labels_key"), "$[0].value").alias("user"),
        F.col("last_v"),
    )


# ---------- outliers / stats ----------

@register("zscoretest", (
    f"WITH {PTS}, z AS (SELECT class, \"user\", ts, v, "
    '  (v - avg(v) OVER w) / stddev_samp(v) OVER w AS z FROM pts WINDOW w AS (PARTITION BY class, "user") ) '
    'SELECT class, "user", ts, round(z, 6) AS zscore FROM z WHERE abs(z) > 2'
))
def zscoretest(spark, sf_dir):
    """ZSCORETEST (GTSOutliersHelper.java:227): |z| > 2 ticks."""
    gf = GTSFrame.fetch(canonical_points(spark, sf_dir))
    out = _outliers.zscoretest(gf.df, 2.0)
    return _out(out.withColumn("zscore", F.round("zscore", 6)), "zscore", "zscore")


@register("musigma", (
    f"WITH {PTS} SELECT class, \"user\", round(avg(v), 6) AS mu, round(stddev_samp(v), 6) AS sigma "
    'FROM pts GROUP BY class, "user"'
))
def musigma(spark, sf_dir):
    gf = GTSFrame.fetch(canonical_points(spark, sf_dir))
    out = _outliers.musigma(gf.df)
    return out.select(
        "class",
        F.get_json_object(F.col("labels_key"), "$[0].value").alias("user"),
        F.round("mu", 6).alias("mu"),
        F.round("sigma", 6).alias("sigma"),
    )


@register("shannon_entropy", (
    f"WITH {PTS}, c AS (SELECT \"user\", class, count(*) AS n FROM pts GROUP BY \"user\", class), "
    't AS (SELECT "user", sum(n) AS tot FROM c GROUP BY "user") '
    'SELECT c."user", round(-sum((n / tot) * ln(n / tot)), 6) AS entropy '
    'FROM c JOIN t ON c."user" = t."user" GROUP BY c."user"'
))
def shannon_entropy(spark, sf_dir):
    """reducer.shannonentropy (ShannonEntropy.java:33): event-class
    distribution entropy per user."""
    pts = canonical_points(spark, sf_dir)
    c = pts.groupBy(F.element_at("labels", F.lit("user")).alias("user"), "class").agg(F.count("*").alias("n"))
    t = c.groupBy("user").agg(F.sum("n").alias("tot"))
    p = F.col("n") / F.col("tot")
    return (
        c.join(t, on="user")
        .groupBy("user")
        .agg(F.round(-F.sum(p * F.log(p)), 6).alias("entropy"))
    )


@register("mode_per_user", (
    f"WITH {PTS}, c AS (SELECT \"user\", class, count(*) AS n FROM pts GROUP BY \"user\", class) "
    'SELECT "user", class AS mode_class, n FROM ('
    '  SELECT *, row_number() OVER (PARTITION BY "user" ORDER BY n DESC, class ASC) AS rk FROM c'
    ") WHERE rk = 1"
))
def mode_per_user(spark, sf_dir):
    """MODE (MODE.java) with deterministic tie-break (count desc, name asc)."""
    from pyspark.sql import Window

    pts = canonical_points(spark, sf_dir)
    c = pts.groupBy(F.element_at("labels", F.lit("user")).alias("user"), "class").agg(F.count("*").alias("n"))
    w = Window.partitionBy("user").orderBy(F.col("n").desc(), F.col("class").asc())
    return (
        c.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("user", F.col("class").alias("mode_class"), "n")
    )


@register("value_histogram", (
    f"WITH {PTS} SELECT class, CAST(floor(v / 25) AS BIGINT) AS bin, count(*) AS n "
    "FROM pts GROUP BY class, bin"
))
def value_histogram(spark, sf_dir):
    """VALUEHISTOGRAM (VALUEHISTOGRAM.java): value→count map per class
    (binned for a numeric domain)."""
    pts = canonical_points(spark, sf_dir)
    return pts.groupBy(
        "class", F.floor(F.col("v_double") / 25).cast("long").alias("bin")
    ).agg(F.count("*").alias("n"))


@register("find_series", (
    f"WITH {PTS} SELECT DISTINCT class, \"user\" FROM pts WHERE class LIKE 'events.p%'"
))
def find_series(spark, sf_dir):
    """FIND (FIND.java:73): metadata-only selector search — distinct
    series identities, no data read beyond the directory columns."""
    pts = canonical_points(spark, sf_dir)
    from warp10_platform_spark.core.selector import selector_predicate

    return (
        pts.where(selector_predicate("~events\\.p.*{}"))
        .select("class", F.element_at("labels", F.lit("user")).alias("user"))
        .distinct()
    )


@register("findstats", (
    f"WITH {PTS} SELECT count(DISTINCT class) AS n_classes, "
    'count(DISTINCT class || \'|\' || "user") AS n_series FROM pts'
))
def findstats(spark, sf_dir):
    """FINDSTATS (FIND.java:73 flag): cardinality stats. Exact here;
    approx_count_distinct is the 100TB path (HLL++ ≙ HyperLogLogPlus.java)."""
    pts = canonical_points(spark, sf_dir)
    return pts.agg(
        F.count_distinct("class").alias("n_classes"),
        F.count_distinct("class", F.element_at("labels", F.lit("user"))).alias("n_series"),
    )


@register("bucketize_count_bucketed", _bucketize_oracle("count(v)"))
def bucketize_count_bucketed(spark, sf_dir):
    """Identical semantics to bucketize_count, but read through the
    gts_id-BUCKETED storage layout (sources/tables.bucketed_points): the
    bucket spec reaches Catalyst, so the per-series aggregation runs with
    ZERO Exchange operators — the shuffle-free per-series tier the 100 TB
    layout is designed for (plan-asserted in tests/test_plans.py)."""
    from warp10_platform_spark.operators.bucketize import SERIES_KEYS, bucket_end_col
    from warp10_platform_spark.sources.tables import bucketed_points

    df = bucketed_points(spark, sf_dir).where(
        (F.col("ts") <= LASTBUCKET) & (F.col("ts") > LASTBUCKET - DAY * NDAYS)
    )
    out = (
        df.withColumn("bucket_end", bucket_end_col(LASTBUCKET, DAY))
        .groupBy(*SERIES_KEYS, "bucket_end")
        .agg(F.count("v_double").alias("v_agg"))
        .withColumn("labels", labels_from_key())
        .withColumnRenamed("bucket_end", "ts")
    )
    return _out(out, "v_agg", "v_agg")
