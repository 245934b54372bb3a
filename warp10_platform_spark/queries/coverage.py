"""Coverage queries: calendar buckets, robust/moment aggregators,
directory-backed FIND, identity rewrites, pivot, series ranking.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from warp10_platform_spark.core.frame import GTSFrame
from warp10_platform_spark.operators import reshape as _reshape
from warp10_platform_spark.operators import sort as _sort
from warp10_platform_spark.queries import register
from warp10_platform_spark.queries.gts import DAILY, DAY, LASTBUCKET, NDAYS, PTS
from warp10_platform_spark.sources.directory import (
    build_directory,
    directory_table,
    fetch_filtered,
    fetch_gskip_gcount,
    find,
    findstats,
)
from warp10_platform_spark.core import timeunits as tu
from warp10_platform_spark.sources.tables import canonical_points

TZ = "Europe/Paris"

# Unit-aware: ticks → µs for make_timestamp, back to ticks via the
# session epoch extractor (core/timeunits).
CAL_TRUNC = (
    tu.DUCK_EPOCH_FN + "(timezone('{tz}', date_trunc('{unit}', "
    "timezone('{tz}', make_timestamp(" + tu.duck_units_to_us("ts") + ")::TIMESTAMPTZ))))"
)


@register("bucketize_calendar_daily", (
    f"WITH {PTS} SELECT class, \"user\", "
    + CAL_TRUNC.format(tz=TZ, unit="day")
    + ' AS ts, count(*) AS v_agg FROM pts GROUP BY class, "user", 3'
))
def bucketize_calendar_daily(spark, sf_dir):
    """BUCKETIZECALENDAR (functions/BUCKETIZECALENDAR.java): DST-aware
    daily buckets in Europe/Paris — calendar boundaries, not fixed spans."""
    gf = GTSFrame.fetch(canonical_points(spark, sf_dir)).bucketize_calendar("bucketizer.count", "day", TZ)
    return gf.df.select(
        "class", F.get_json_object("labels_key", "$[0].value").alias("user"), "ts", "v_agg"
    )


@register("bucketize_calendar_monthly", (
    f"WITH {PTS} SELECT class, \"user\", "
    + CAL_TRUNC.format(tz=TZ, unit="month")
    + ' AS ts, min(v) AS v_agg FROM pts GROUP BY class, "user", 3'
))
def bucketize_calendar_monthly(spark, sf_dir):
    gf = GTSFrame.fetch(canonical_points(spark, sf_dir)).bucketize_calendar("bucketizer.min", "month", TZ)
    return gf.df.select(
        "class", F.get_json_object("labels_key", "$[0].value").alias("user"), "ts", "v_agg"
    )


@register("bucketize_mad", (
    f"WITH {PTS}, {DAILY}, "
    'm AS (SELECT class, "user", ts, median(v) AS med FROM daily GROUP BY class, "user", ts) '
    'SELECT d.class, d."user", d.ts, round(median(abs(d.v - m.med)), 6) AS v_agg '
    'FROM daily d JOIN m ON d.class = m.class AND d."user" = m."user" AND d.ts = m.ts '
    'GROUP BY d.class, d."user", d.ts'
))
def bucketize_mad(spark, sf_dir):
    """bucketizer.mad — median absolute deviation per daily bucket
    (GTSOutliersHelper.mad), nested medians via one collect_list."""
    from warp10_platform_spark.queries.gts import _bucketized

    gf = _bucketized(spark, sf_dir, "bucketizer.mad")
    return gf.df.select(
        "class",
        F.get_json_object("labels_key", "$[0].value").alias("user"),
        "ts",
        F.round("v_agg", 6).alias("v_agg"),
    )


# Moment sums in DECIMAL (exact, order-independent) → population
# skewness assembled in double from the exact sums: the only way two
# engines with different partial-aggregation orders agree bit-for-bit.
# Precision chain (12,6)x(12,6)x(13,6) = (38,18) stays inside the 38-digit
# cap in BOTH engines (DuckDB errors past 38; Spark would silently drop
# scale).
_MOMENTS_SQL = """
SELECT class, "user", ts,
       count(*) AS n,
       CAST(sum(CAST(v AS DECIMAL(12,6))) AS DOUBLE) AS s1,
       CAST(sum(CAST(v AS DECIMAL(12,6)) * CAST(v AS DECIMAL(12,6))) AS DOUBLE) AS s2,
       CAST(sum(CAST(v AS DECIMAL(12,6)) * CAST(v AS DECIMAL(12,6)) * CAST(v AS DECIMAL(13,6))) AS DOUBLE) AS s3
FROM daily GROUP BY class, "user", ts
"""

SKEW_ORACLE = (
    f"WITH {PTS}, {DAILY}, mom AS ({_MOMENTS_SQL}) "
    "SELECT class, \"user\", ts, "
    "round((s3/n - 3*(s1/n)*(s2/n) + 2*(s1/n)*(s1/n)*(s1/n)) / "
    "      ((s2/n - (s1/n)*(s1/n)) ^ 1.5), 6) + 0.0 AS v_skew "
    "FROM mom WHERE n >= 3 AND (s2/n - (s1/n)*(s1/n)) > 0"
)


@register("bucketize_skewness", SKEW_ORACLE)
def bucketize_skewness(spark, sf_dir):
    """Population skewness per daily bucket (SKEWNESS.java) from exact
    DECIMAL moment sums — reproducible across engines.

    Buckets need n >= 3: two-point skewness is identically zero
    mathematically, so the computed value is pure cancellation noise
    whose last bits differ between engines (caught by the sf0.1 mirror —
    the moment sums were bit-identical, the assembled noise was not).
    n >= 3 buckets have generic nonzero skew far above noise."""
    from warp10_platform_spark.operators.bucketize import SERIES_KEYS, bucket_end_col

    d = F.col("v_double").cast("decimal(12,6)")
    d3 = F.col("v_double").cast("decimal(13,6)")
    df = canonical_points(spark, sf_dir).where(
        (F.col("ts") <= LASTBUCKET) & (F.col("ts") > LASTBUCKET - DAY * NDAYS)
    )
    mom = (
        df.withColumn("bucket_end", bucket_end_col(LASTBUCKET, DAY))
        .groupBy(*SERIES_KEYS, "bucket_end")
        .agg(
            F.count("*").alias("n"),
            F.sum(d).cast("double").alias("s1"),
            F.sum(d * d).cast("double").alias("s2"),
            F.sum(d * d * d3).cast("double").alias("s3"),
        )
    )
    n, s1, s2, s3 = F.col("n"), F.col("s1"), F.col("s2"), F.col("s3")
    m1, m2, m3 = s1 / n, s2 / n, s3 / n
    var = m2 - m1 * m1
    skew = (m3 - 3 * m1 * m2 + 2 * m1 * m1 * m1) / F.pow(var, 1.5)
    return (
        mom.where((n >= 3) & (var > 0))
        .select(
            "class",
            F.get_json_object("labels_key", "$[0].value").alias("user"),
            F.col("bucket_end").alias("ts"),
            (F.round(skew, 6) + F.lit(0.0)).alias("v_skew"),
        )
    )


@register("find_series_directory", (
    f"WITH {PTS} SELECT DISTINCT class, \"user\" FROM pts WHERE class LIKE 'events.p%'"
))
def find_series_directory(spark, sf_dir):
    """FIND via the directory table (SURVEY §1.6): selector resolved on
    one row per series — at scale this scans the directory parquet only,
    never the points store."""
    directory = directory_table(spark, sf_dir)
    return find(directory, "~events\\.p.*{}").select(
        "class", F.get_json_object("labels_key", "$[0].value").alias("user")
    )


@register("fetch_directory_semijoin", (
    f"WITH {PTS} SELECT class, \"user\", ts, v AS v_double FROM pts WHERE class = 'events.purchase'"
))
def fetch_directory_semijoin(spark, sf_dir):
    """FETCH with a directory pre-filter: broadcast the matching gts_ids,
    leftsemi-join the points scan (the 100 TB fetch shape)."""
    pts = canonical_points(spark, sf_dir)
    directory = build_directory(pts)
    out = fetch_filtered(pts, directory, "events.purchase{}")
    return out.select(
        "class", F.element_at("labels", F.lit("user")).alias("user"), "ts", "v_double"
    )


@register("fetch_gcount", (
    f"WITH {PTS}, "
    'dir AS (SELECT DISTINCT class, "user" FROM pts), '
    'rk AS (SELECT class, "user", row_number() OVER (ORDER BY class, "user") AS rn FROM dir), '
    'sel AS (SELECT class, "user" FROM rk WHERE rn > 3 AND rn <= 13) '
    'SELECT p.class, p."user", p.ts, p.v AS v_double '
    'FROM pts p JOIN sel s ON p.class = s.class AND p."user" = s."user"'
))
def fetch_gcount(spark, sf_dir):
    """FETCH gskip=3 gcount=10 (FETCH.java:135-136): skip the first 3
    matched series in directory order, fetch the next 10 — the global
    series budget across the whole match set."""
    pts = canonical_points(spark, sf_dir)
    directory = build_directory(pts)
    out = fetch_gskip_gcount(pts, directory, "~events\\..*{}", gskip=3, gcount=10)
    return out.select(
        "class", F.element_at("labels", F.lit("user")).alias("user"), "ts", "v_double"
    )


@register("findstats_directory", (
    f"WITH {PTS} SELECT count(DISTINCT class) AS n_classes, "
    'count(DISTINCT class || \'|\' || "user") AS n_series FROM pts'
))
def findstats_directory(spark, sf_dir):
    """FINDSTATS over the directory (exact; approx HLL variant is the
    same call with approx=True)."""
    directory = directory_table(spark, sf_dir)
    return findstats(directory)


@register("atindex_last", (
    f"WITH {PTS} SELECT class, \"user\", ts, v AS v_double FROM ("
    '  SELECT *, row_number() OVER (PARTITION BY class, "user" ORDER BY ts DESC) AS rn FROM pts'
    ") WHERE rn = 1"
))
def atindex_last(spark, sf_dir):
    """ATINDEX(-1) (ATINDEX.java): last point of each series."""
    gf = GTSFrame.fetch(canonical_points(spark, sf_dir)).atindex(-1)
    return gf.df.select(
        "class", F.element_at("labels", F.lit("user")).alias("user"), "ts", "v_double"
    )


@register("rename_relabel", (
    "SELECT DISTINCT 'events.' || event_type || '.renamed' AS class, "
    "'[{\"key\":\"region\",\"value\":\"eu\"}]' AS labels_key FROM events"
))
def rename_relabel(spark, sf_dir):
    """RENAME('+.renamed') + RELABEL {region: eu, user: NULL} — identity
    rewrite with gts_id/labels_key recompute (RENAME.java:34,
    RELABEL.java:37)."""
    gf = GTSFrame.fetch(canonical_points(spark, sf_dir)).rename("+.renamed").relabel({"region": "eu", "user": None})
    return gf.df.select("class", "labels_key").distinct()


@register("pivot_classes", (
    f"WITH {PTS} "
    "SELECT '[{\"key\":\"user\",\"value\":\"' || \"user\" || '\"}]' AS labels_key, ts, "
    "  max(v) FILTER (WHERE class = 'events.click') AS click, "
    "  max(v) FILTER (WHERE class = 'events.purchase') AS purchase, "
    "  max(v) FILTER (WHERE class = 'events.view') AS \"view\" "
    "FROM pts GROUP BY 1, 2"
))
def pivot_classes(spark, sf_dir):
    """PIVOT (multivariate view): one wide row per (user, tick), a column
    per event class."""
    pts = canonical_points(spark, sf_dir)
    wide = _reshape.pivot(pts, values=["events.click", "events.purchase", "events.view"])
    return wide.select(
        "labels_key", "ts",
        F.col("`events.click`").alias("click"),
        F.col("`events.purchase`").alias("purchase"),
        F.col("`events.view`").alias("view"),
    )


@register("sortby_sum", (
    f"WITH {PTS}, "
    's AS (SELECT class, "user", sum(v::DECIMAL(28,10)) AS skey FROM pts GROUP BY class, "user") '
    "SELECT class, \"user\", CAST(round(skey, 6) AS DOUBLE) AS sort_key, "
    "row_number() OVER (ORDER BY skey, class, \"user\") AS sort_rank FROM s"
))
def sortby_sum(spark, sf_dir):
    """SORTBY (SORTBY.java:38): series ranked by per-series total (exact
    DECIMAL sum so the rank order is engine-independent)."""
    pts = canonical_points(spark, sf_dir).withColumn("v_double", F.col("v_double").cast("decimal(28,10)"))
    ranked = _sort.sortby(pts, "bucketizer.sum")
    return ranked.select(
        "class",
        F.get_json_object("labels_key", "$[0].value").alias("user"),
        F.round("sort_key", 6).cast("double").alias("sort_key"),
        "sort_rank",
    )


@register("metasort_rank", (
    f"WITH {PTS}, i AS (SELECT DISTINCT class, \"user\" FROM pts) "
    "SELECT class, \"user\", row_number() OVER (ORDER BY class, \"user\") AS meta_rank FROM i"
))
def metasort_rank(spark, sf_dir):
    """METASORT: series ordered by metadata (class, canonical labels)."""
    ranked = _sort.metasort(canonical_points(spark, sf_dir))
    return ranked.select(
        "class", F.get_json_object("labels_key", "$[0].value").alias("user"), "meta_rank"
    )
