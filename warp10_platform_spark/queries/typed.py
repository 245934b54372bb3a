"""Typed-value GTS queries — LONG/BOOLEAN/STRING series through the
operator surface (GeoTimeSerie.java:37-44 type-per-series model).

The engine's dispatch is the `value_col` carried by GTSFrame: operators
take the value column they act on (v_double / v_long / v_bool /
v_string), so a boolean series runs op.and/op.mask and a string series
runs regexp mappers with no special casing.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from warp10_platform_spark.core.frame import GTSFrame
from warp10_platform_spark.operators import mapper as _mapper
from warp10_platform_spark.operators import reduce_apply as _ra
from warp10_platform_spark.queries import register
from warp10_platform_spark.queries.gts import DAILY, DAY, LASTBUCKET, NDAYS, PTS
from warp10_platform_spark.sources.tables import canonical_points, epoch_us_col, load_table


def _daily_bool(spark, sf_dir, cls: str, min_count: int):
    """Boolean daily series: true where the day has >= min_count points."""
    pts = canonical_points(spark, sf_dir)
    gf = GTSFrame.fetch(pts, f"{cls}{{}}").bucketize("bucketizer.count", DAY, LASTBUCKET, NDAYS)
    return GTSFrame(gf.df.withColumn("v_bool", F.col("v_agg") >= min_count), gf.bucketspec, "v_bool")


BOOL_AND_ORACLE = f"""
WITH {PTS}, {DAILY},
c AS (SELECT class, "user", ts, count(*) AS n FROM daily GROUP BY class, "user", ts),
a AS (SELECT "user", ts, n >= 2 AS v FROM c WHERE class = 'events.purchase'),
b AS (SELECT "user", ts, n >= 2 AS v FROM c WHERE class = 'events.click')
SELECT a."user" AS label_user, a.ts, (a.v AND b.v) AS v_op
FROM a JOIN b ON a."user" = b."user" AND a.ts = b.ts
"""


@register("bool_and_daily", BOOL_AND_ORACLE)
def bool_and_daily(spark, sf_dir):
    """Boolean GTS ∧ boolean GTS (op.and, op/OpBoolean.java:27): daily
    'active' flags of two event classes ANDed per user on aligned ticks."""
    a = _daily_bool(spark, sf_dir, "events.purchase", 2)
    b = _daily_bool(spark, sf_dir, "events.click", 2)
    out = a.apply_op(b, "op.and", by=["user"])
    return out.select("label_user", "ts", "v_op")


BOOL_MASK_ORACLE = f"""
WITH {PTS}, {DAILY},
c AS (SELECT class, "user", ts, count(*) AS n FROM daily GROUP BY class, "user", ts),
v AS (SELECT "user", ts, n AS purchases FROM c WHERE class = 'events.purchase'),
m AS (SELECT "user", ts, n >= 2 AS ok FROM c WHERE class = 'events.click')
SELECT v."user" AS label_user, v.ts, v.purchases AS v_op
FROM v JOIN m ON v."user" = m."user" AND v.ts = m.ts
WHERE m.ok
"""


@register("bool_mask", BOOL_MASK_ORACLE)
def bool_mask(spark, sf_dir):
    """op.mask (op/OpMask.java): keep the value series only at ticks where
    the boolean mask series is true."""
    pts = canonical_points(spark, sf_dir)
    v = GTSFrame.fetch(pts, "events.purchase{}").bucketize("bucketizer.count", DAY, LASTBUCKET, NDAYS)
    m = _daily_bool(spark, sf_dir, "events.click", 2)
    mask_df = m.df.drop("v_agg").withColumnRenamed("v_bool", "v_agg")
    out = _ra.apply_op(v.df, mask_df, "op.mask", by_labels=["user"], value_col="v_agg")
    return out.select("label_user", "ts", "v_op")


STRING_MATCH_ORACLE = """
SELECT 'orders.status' AS class, o_orderkey::VARCHAR AS k, epoch_us(o_orderdate) AS ts,
       (o_orderstatus = 'O') AS v_mapped
FROM orders
"""


@register("string_regexp_match", STRING_MATCH_ORACLE)
def string_regexp_match(spark, sf_dir):
    """String GTS → mapper.regexp-match (MapperRegExpMatch) → boolean GTS."""
    o = load_table(spark, sf_dir, "orders")
    pts = o.select(
        F.lit("orders.status").alias("class"),
        F.create_map(F.lit("k"), F.col("o_orderkey").cast("string")).alias("labels"),
        epoch_us_col(o, "o_orderdate").alias("ts"),
        F.col("o_orderstatus").alias("v_string"),
    )
    out = _mapper.map_scalar(pts, "mapper.regexp-match", "^O$", value_col="v_string")
    return out.select(
        "class", F.element_at(F.col("labels"), "k").alias("k"), "ts", "v_mapped"
    )


STRING_LEN_ORACLE = """
SELECT 'orders.clerk' AS class, o_orderkey::VARCHAR AS k, epoch_us(o_orderdate) AS ts,
       substr(o_orderpriority, 1, 1) AS v_sub, length(o_orderpriority)::BIGINT AS v_len
FROM orders
"""


@register("string_mappers", STRING_LEN_ORACLE)
def string_mappers(spark, sf_dir):
    """String-GTS scalar mappers: substring + length → LONG GTS (the
    string→long type transition, GTSHelper string mappers)."""
    o = load_table(spark, sf_dir, "orders")
    pts = o.select(
        F.lit("orders.clerk").alias("class"),
        F.col("o_orderkey").cast("string").alias("k"),
        epoch_us_col(o, "o_orderdate").alias("ts"),
        F.col("o_orderpriority").alias("v_string"),
    )
    return pts.select(
        "class",
        "k",
        "ts",
        F.substring("v_string", 1, 1).alias("v_sub"),
        F.length("v_string").cast("long").alias("v_len"),
    )
