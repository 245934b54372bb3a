"""FETCH options (boundary/skip/sample), counter analytics, composed
anomaly tests, discords, Holt smoothing, HLL cardinalities.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from warp10_platform_spark.analytics import fit as _fit
from warp10_platform_spark.core.frame import GTSFrame
from warp10_platform_spark.operators.mapper import map_scalar, npdf_mapper
from warp10_platform_spark.queries import register
from warp10_platform_spark.core import timeunits as tu
from warp10_platform_spark.queries.gts import PTS
from warp10_platform_spark.sources.directory import build_directory
from warp10_platform_spark.sources.tables import canonical_points

_B_START, _B_END = tu.us(1704844800000000), tu.us(1705708800000000)


@register("fetch_boundary", (
    f"WITH {PTS}, sel AS (SELECT * FROM pts WHERE class = 'events.purchase'), "
    f"inside AS (SELECT class, \"user\", ts, v FROM sel WHERE ts >= {_B_START} AND ts <= {_B_END}), "
    "pre AS (SELECT class, \"user\", ts, v FROM ("
    f"  SELECT *, row_number() OVER (PARTITION BY \"user\" ORDER BY ts DESC) AS rn FROM sel WHERE ts < {_B_START}"
    ") WHERE rn <= 2), "
    "post AS (SELECT class, \"user\", ts, v FROM ("
    f"  SELECT *, row_number() OVER (PARTITION BY \"user\" ORDER BY ts ASC) AS rn FROM sel WHERE ts > {_B_END}"
    ") WHERE rn <= 1) "
    "SELECT class, \"user\", ts, v AS v_double FROM inside "
    "UNION ALL SELECT class, \"user\", ts, v AS v_double FROM pre "
    "UNION ALL SELECT class, \"user\", ts, v AS v_double FROM post"
))
def fetch_boundary(spark, sf_dir):
    """FETCH boundary.pre=2 / boundary.post=1 (FETCH.java boundary
    params): range scan + nearest out-of-range context points — the
    as-of boundary every edge rate/fill needs."""
    gf = GTSFrame.fetch_with_boundary(
        canonical_points(spark, sf_dir), "events.purchase{}", _B_START, _B_END, boundary_pre=2, boundary_post=1
    )
    return gf.df.select(
        "class", F.element_at("labels", F.lit("user")).alias("user"), "ts", "v_double"
    )


@register("fetch_skip_sample", (
    f"WITH {PTS}, s AS ("
    '  SELECT class, "user", ts, v, row_number() OVER (PARTITION BY class, "user" ORDER BY ts) AS rn, '
    "         ('0x' || substr(md5(class || '|' || '[{' || '\"key\":\"user\",\"value\":\"' || \"user\" || '\"' || '}]' || '|' || CAST(ts AS VARCHAR)), 1, 8))::BIGINT % 10000 AS b"
    "  FROM pts) "
    "SELECT class, \"user\", ts, v AS v_double FROM s WHERE rn > 5 AND b < 5000"
))
def fetch_skip_sample(spark, sf_dir):
    """FETCH skip=5 + sample=0.5: per-series offset + deterministic
    hash-based sampling (reproducible across engines — rand() is not)."""
    gf = GTSFrame.fetch(canonical_points(spark, sf_dir)).skip(5).sample(0.5)
    return gf.df.select(
        "class", F.element_at("labels", F.lit("user")).alias("user"), "ts", "v_double"
    )


@register("rate_of_resets", (
    f"WITH {PTS}, l AS ("
    '  SELECT class, "user", v, lag(v) OVER (PARTITION BY class, "user" ORDER BY ts) AS pv FROM pts) '
    'SELECT class, "user", count(*) FILTER (WHERE v < pv) AS resets, count(pv) AS steps '
    'FROM l GROUP BY class, "user"'
))
def rate_of_resets(spark, sf_dir):
    """Rate-of-resets (counter analytics): count of decreasing steps per
    series — the counter-wrap detector feeding RESETS-compensation."""
    from pyspark.sql import Window

    w = Window.partitionBy("gts_id").orderBy("ts")
    pts = canonical_points(spark, sf_dir).withColumn("pv", F.lag("v_double").over(w))
    return pts.groupBy("class", F.element_at("labels", F.lit("user")).alias("user")).agg(
        F.count(F.when(F.col("v_double") < F.col("pv"), 1)).alias("resets"),
        F.count("pv").alias("steps"),
    )


@register("mapper_npdf_band", (
    f"WITH {PTS} SELECT class, \"user\", ts, "
    "round(1.0 / (25.0 * sqrt(2 * pi())) * exp(-0.5 * ((v - 50.0) / 25.0) ^ 2), 6) AS npdf, "
    "least(greatest(v, 10.0), 90.0) AS clamped, (v > 50.0) AS above "
    "FROM pts"
))
def mapper_npdf_band(spark, sf_dir):
    """mapper.npdf + clamp (min.x/max.x) + value-predicate mapper —
    the §2.5 scalar-mapper tail."""
    pts = canonical_points(spark, sf_dir)
    out = npdf_mapper(pts, mu=50.0, sigma=25.0, out_col="npdf")
    out = map_scalar(out, "mapper.min.x", 90.0, out_col="v_cap")
    out = map_scalar(out, "mapper.max.x", 10.0, value_col="v_cap", out_col="clamped")
    out = map_scalar(out, "mapper.gt", 50.0, out_col="above")
    return out.select(
        "class",
        F.element_at("labels", F.lit("user")).alias("user"),
        "ts",
        F.round("npdf", 6).alias("npdf"),
        "clamped",
        "above",
    )


def _stl_esd_oracle():
    from warp10_platform_spark.queries.analytics import _esd_round
    from warp10_platform_spark.queries.stl_oracle import build_stl_esd_oracle

    return build_stl_esd_oracle(_esd_round, k=3)


@register("stl_esd_outliers", _stl_esd_oracle())
def stl_esd_outliers(spark, sf_dir):
    """STLESDTEST (STLESDTEST.java): seasonal-aware anomalies — ESD (k=3)
    on the STL residual of daily-count series (period 7). Fold-exact STL
    + embedded-λ ESD, so the oracle replays decomposition AND all three
    removal rounds bit-for-bit."""
    from pyspark.sql import Window

    from warp10_platform_spark.queries.gts import _bucketized

    b = _bucketized(spark, sf_dir, "bucketizer.count")
    pts = b.df.withColumn("v_c", F.col("v_agg").cast("double"))
    wn = Window.partitionBy("gts_id")
    pts = pts.withColumn("_n", F.count("*").over(wn)).where(F.col("_n") >= 14).drop("_n")
    out = _fit.stl_esd_test_exact(pts, period=7, k=3, value_col="v_c")
    return out.select("class", F.get_json_object("labels_key", "$[0].value").alias("user"), "ts", "v_outlier")


DISCORDS_ORACLE = f"""
WITH {PTS},
per AS (
  SELECT class, "user",
         list(ts ORDER BY ts) AS tl,
         list_transform(list(v ORDER BY ts),
                        q -> floor(q * 1000000.0 + 0.5) / 1000000.0) AS xs,
         CAST(count(*) AS INT) AS n
  FROM pts GROUP BY class, "user"
),
m AS (
  SELECT class, "user", tl, xs, n,
         list_reduce(xs, (a, b) -> a + b) / n AS mean
  FROM per WHERE n >= 5
),
m2 AS (
  SELECT *, list_reduce(list_transform(xs, v -> (v - mean) * (v - mean)), (a, b) -> a + b) AS s2
  FROM m
),
lett AS (
  SELECT class, "user", tl, n,
         list_transform(xs, v ->
           CAST((v - mean) / sqrt(s2 / (n - 1)) >= -0.6745 AS INT) +
           CAST((v - mean) / sqrt(s2 / (n - 1)) >= 0.0 AS INT) +
           CAST((v - mean) / sqrt(s2 / (n - 1)) >= 0.6745 AS INT)) AS lc
  FROM m2 WHERE s2 > 0
),
flat AS (
  SELECT class, "user",
         unnest(list_transform(range(0, n - 3), i -> {{
           'ts': tl[i + 1],
           'word': substr('abcd', lc[i + 1] + 1, 1) || substr('abcd', lc[i + 2] + 1, 1) ||
                   substr('abcd', lc[i + 3] + 1, 1) || substr('abcd', lc[i + 4] + 1, 1)}})) AS u
  FROM lett
),
f2 AS (SELECT class, "user", u.ts AS ts, u.word AS word FROM flat),
cnt AS (SELECT class, "user", word, count(*) AS occurrences FROM f2 GROUP BY class, "user", word),
ranked AS (
  SELECT f.class, f."user", f.ts, f.word, c.occurrences,
         row_number() OVER (PARTITION BY f.class, f."user"
                            ORDER BY c.occurrences, f.word, f.ts) AS rk
  FROM f2 f JOIN cnt c ON c.class = f.class AND c."user" = f."user" AND c.word = f.word
)
SELECT class, "user", ts, word, occurrences FROM ranked WHERE rk <= 3
"""


@register("sax_discords", DISCORDS_ORACLE)
def sax_discords(spark, sf_dir):
    """DISCORDS (DISCORDS.java): rarest SAX subsequences per series.
    Values quantize to µ-units and the mean/variance are sequential
    left-folds in both engines, so the symbol assignment — and therefore
    the rarity ranking — is bit-exact against the SQL replay."""
    out = _fit.sax_discords(canonical_points(spark, sf_dir), word_len=4, alphabet=4, top=3)
    return out.select(
        "class", F.get_json_object("labels_key", "$[0].value").alias("user"), "ts", "word", "occurrences"
    )


HOLT_ORACLE = f"""
WITH {PTS},
per AS (
  SELECT class, "user",
         list_transform(list(v ORDER BY ts, v),
                        x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)) AS vs
  FROM pts GROUP BY class, "user"
),
st AS (
  SELECT class, "user",
    list_reduce(
      list_prepend([vs[1], vs[2] - vs[1]],
                   list_transform(vs[2:], x -> [x, 0::BIGINT])),
      (acc, p) -> [CAST(floor((3 * p[1] + 7 * (acc[1] + acc[2])) / 10.0) AS BIGINT),
                   CAST(floor((1 * (CAST(floor((3 * p[1] + 7 * (acc[1] + acc[2])) / 10.0) AS BIGINT) - acc[1])
                               + 9 * acc[2]) / 10.0) AS BIGINT)]) AS s
  FROM per WHERE len(vs) >= 2
)
SELECT class, "user", s[1] / 1000000.0 AS level, s[2] / 1000000.0 AS trend,
       (s[1] + s[2]) / 1000000.0 AS forecast
FROM st
"""


@register("holt_smooth", HOLT_ORACLE)
def holt_smooth(spark, sf_dir):
    """Double exponential smoothing (Holt, α=0.3 β=0.1): final
    level/trend/forecast per series. Exact int64 micro-unit fold — the
    identical integer recurrence on both engines (no float drift)."""
    out = _fit.holt_smooth(canonical_points(spark, sf_dir), alpha_num=3, beta_num=1, denom=10)
    return out.select(
        "class",
        F.get_json_object("labels_key", "$[0].value").alias("user"),
        "level",
        "trend",
        "forecast",
    )


# Portable HLL (the hll_cardinality construction, ungrouped): md5-derived
# 60-bit hash → 256 registers (p=8) → integer-exact 2^-M sum → estimate.
# Identical doubles on both engines, so even the APPROX path is oracled
# bit-for-bit.
def _phll_sql(key_sql: str, src: str, alias: str) -> str:
    return (
        f"(WITH h_ AS (SELECT ('0x' || substr(md5('hll:' || {key_sql}), 1, 15))::BIGINT AS hv FROM {src}), "
        "r_ AS (SELECT hv >> 52 AS reg, hv & ((1::BIGINT << 52) - 1) AS w FROM h_), "
        "m_ AS (SELECT reg, max(CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END) AS mj FROM r_ GROUP BY reg), "
        "s_ AS (SELECT sum(1::BIGINT << (53 - mj)) AS sum_int, count(*) AS nreg FROM m_), "
        "e_ AS (SELECT (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 * 9007199254740992.0 "
        "         / CAST(sum_int + (256 - nreg) * (1::BIGINT << 53) AS DOUBLE) AS e_raw, 256 - nreg AS v0 FROM s_) "
        "SELECT CAST(floor(CASE WHEN e_raw <= 640.0 AND v0 > 0 THEN 256.0 * ln(256.0 / v0) ELSE e_raw END) AS BIGINT) "
        f"FROM e_) AS {alias}"
    )


def _phll_estimate(df, key_expr_sql: str, alias: str):
    h = F.expr(f"cast(conv(substr(md5(concat('hll:', {key_expr_sql})), 1, 15), 16, 10) AS bigint)")
    r = df.select(
        F.shiftright(h, 52).alias("reg"),
        h.bitwiseAND(F.expr("shiftleft(CAST(1 AS BIGINT), 52) - 1")).alias("w"),
    )
    rho = F.when(F.col("w") == 0, F.lit(53)).otherwise(F.lit(53) - F.length(F.expr("bin(w)")))
    m = r.groupBy("reg").agg(F.max(rho).alias("mj"))
    s = m.agg(
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 53 - mj)")).alias("sum_int"),
        F.count("*").alias("nreg"),
    )
    alpha_m2 = (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 * 9007199254740992.0
    total = (F.col("sum_int") + (F.lit(256) - F.col("nreg")) * F.expr("shiftleft(CAST(1 AS BIGINT), 53)")).cast("double")
    e_raw = F.lit(alpha_m2) / total
    v0 = F.lit(256) - F.col("nreg")
    est = F.when((e_raw <= 640.0) & (v0 > 0), F.lit(256.0) * F.log(F.lit(256.0) / v0)).otherwise(e_raw)
    return s.select(F.floor(est).cast("long").alias(alias))


@register("findstats_hll", (
    f"WITH {PTS}, dirs AS (SELECT DISTINCT class, \"user\" FROM pts) "
    "SELECT "
    + _phll_sql("class", "dirs", "n_classes")
    + ", "
    + _phll_sql("class || '|' || \"user\"", "dirs", "n_series")
))
def findstats_hll(spark, sf_dir):
    """FINDSTATS approx variant (the reference's HyperLogLogPlus,
    script/HyperLogLogPlus.java) over the directory, with the PORTABLE
    HLL so even the sketch estimate is bit-exact cross-engine — the
    directory-scale path where exact distinct is itself too big. The
    Spark-native approx_count_distinct path stays available as
    findstats(d, approx=True)."""
    d = build_directory(canonical_points(spark, sf_dir))
    user = F.get_json_object("labels_key", "$[0].value")
    keys = d.select("class", F.concat("class", F.lit("|"), user).alias("skey"))
    nc = _phll_estimate(keys, "class", "n_classes")
    ns = _phll_estimate(keys, "skey", "n_series")
    return nc.crossJoin(ns)
