"""Geo + write-path + export queries.

Coordinates are synthesized deterministically from the event tick
(pure arithmetic both engines can compute), so haversine/HHCode results
have exact SQL oracles; distance sums are quantized to integer mm before
accumulation (the INTEGRATE trick) to stay order-independent.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from warp10_platform_spark.operators import geo as _geo
from warp10_platform_spark.queries import register
from warp10_platform_spark.core import timeunits as tu
from warp10_platform_spark.queries.gts import PTS
from warp10_platform_spark.sources import write as _write
from warp10_platform_spark.sources.tables import canonical_points

# lat/lon derived from the tick: bounded, varies per point, same formula
# in Spark and SQL. (No geo columns in the driver testdata.)
_LAT = "(CAST(ts % 1700 AS DOUBLE) / 10.0 - 85.0)"
_LON = "(CAST((ts DIV 1000) % 3500 AS DOUBLE) / 10.0 - 175.0)"
_LAT_SQL = "(CAST(ts % 1700 AS DOUBLE) / 10.0 - 85.0)"
_LON_SQL = "(CAST((ts // 1000) % 3500 AS DOUBLE) / 10.0 - 175.0)"


def _with_coords(spark, sf_dir):
    pts = canonical_points(spark, sf_dir)
    return pts.withColumn("lat", F.expr(_LAT)).withColumn("lon", F.expr(_LON))


_HAV_SQL = (
    "2.0 * 6371000.0 * asin(least(1.0, sqrt("
    "sin(radians(lat - plat) / 2) ^ 2 + cos(radians(plat)) * cos(radians(lat)) * sin(radians(lon - plon) / 2) ^ 2)))"
)


@register("geo_hdist", (
    f"WITH {PTS}, "
    f'c AS (SELECT class, "user", ts, {_LAT_SQL} AS lat, {_LON_SQL} AS lon FROM pts), '
    'l AS (SELECT class, "user", ts, lat, lon, '
    '      lag(lat) OVER w AS plat, lag(lon) OVER w AS plon FROM c WINDOW w AS (PARTITION BY class, "user" ORDER BY ts)), '
    f's AS (SELECT class, "user", CAST(round({_HAV_SQL} * 1000) AS BIGINT) AS seg_mm FROM l WHERE plat IS NOT NULL) '
    'SELECT class, "user", CAST(sum(seg_mm) AS DOUBLE) / 1000.0 AS hdist_m FROM s GROUP BY class, "user"'
))
def geo_hdist(spark, sf_dir):
    """HDIST (geo aggregate): total haversine track length per series.
    Segments quantized to integer mm before the sum → order-independent
    exact accumulation (same device as INTEGRATE)."""
    segs = _geo.segment_dist(_with_coords(spark, sf_dir))
    seg_mm = F.round(F.col("seg_m") * 1000).cast("long")
    return (
        segs.where(F.col("seg_m").isNotNull())
        .withColumn("seg_mm", seg_mm)
        .groupBy("class", F.element_at("labels", F.lit("user")).alias("user"))
        .agg((F.sum("seg_mm").cast("double") / 1000.0).alias("hdist_m"))
    )


@register("geo_speed_bbox", (
    f"WITH {PTS}, "
    f'c AS (SELECT class, "user", ts, {_LAT_SQL} AS lat, {_LON_SQL} AS lon FROM pts), '
    "b AS (SELECT * FROM c WHERE lat BETWEEN -40 AND 40 AND lon BETWEEN -90 AND 90), "
    'l AS (SELECT class, "user", ts, lat, lon, lag(lat) OVER w AS plat, lag(lon) OVER w AS plon, '
    '      lag(ts) OVER w AS pts_ FROM b WINDOW w AS (PARTITION BY class, "user" ORDER BY ts)) '
    f'SELECT class, "user", ts, round({_HAV_SQL} / ((ts - pts_) / {float(tu.UNITS_PER_S)}), 3) AS speed_ms '
    "FROM l WHERE plat IS NOT NULL"
))
def geo_speed_bbox(spark, sf_dir):
    """mapper.geo.within (bbox) → HSPEED: instantaneous speed of the
    in-zone track (filter BEFORE the lag window, like the reference's
    zone clip then speed)."""
    boxed = _geo.geo_within_bbox(_with_coords(spark, sf_dir), -40, 40, -90, 90)
    sped = _geo.hspeed(boxed)
    return sped.where(F.col("seg_m").isNotNull()).select(
        "class",
        F.element_at("labels", F.lit("user")).alias("user"),
        "ts",
        F.round("speed_ms", 3).alias("speed_ms"),
    )


@register("geo_hhcode_cells", (
    f"WITH {PTS}, "
    f'c AS (SELECT {_LAT_SQL} AS lat, {_LON_SQL} AS lon FROM pts), '
    "q AS (SELECT least(CAST(floor((lat + 90.0) / 180.0 * 256) AS BIGINT), 255) AS latq, "
    "             least(CAST(floor((lon + 180.0) / 360.0 * 256) AS BIGINT), 255) AS lonq FROM c), "
    "h AS (SELECT ("
    + " + ".join(
        f"(((latq >> {i}) & 1) << {2 * i + 1}) + (((lonq >> {i}) & 1) << {2 * i})" for i in range(8)
    )
    + ") AS hh FROM q) "
    "SELECT hh, count(*) AS n FROM h GROUP BY hh"
))
def geo_hhcode_cells(spark, sf_dir):
    """HHCode (HHCodeHelper.java): Morton-interleave spatial bucketing at
    8 bits/axis; point count per cell — the spatial-partitioning key for
    geo joins at scale."""
    c = _with_coords(spark, sf_dir)
    return c.select(_geo.hhcode(F.col("lat"), F.col("lon"), bits=8).alias("hh")).groupBy("hh").agg(
        F.count("*").alias("n")
    )


@register("update_lww", (
    f"WITH {PTS} SELECT class, \"user\", ts, "
    "CASE WHEN class = 'events.purchase' THEN -1.0 ELSE v END AS v_double FROM pts"
))
def update_lww(spark, sf_dir):
    """UPDATE (UPDATE.java:47): re-ingest every purchase point with value
    -1 at the same ticks — last-write-wins replacement."""
    pts = canonical_points(spark, sf_dir)
    new = pts.where(F.col("class") == "events.purchase").withColumn("v_double", F.lit(-1.0))
    out = _write.update(pts, new)
    return out.select(
        "class", F.element_at("labels", F.lit("user")).alias("user"), "ts", "v_double"
    )


@register("delete_selector", (
    f"WITH {PTS} SELECT class, \"user\", ts, v AS v_double FROM pts "
    f"WHERE NOT (class = 'events.purchase' AND ts >= {tu.us(1704844800000000)} AND ts <= {tu.us(1705708800000000)})"
))
def delete_selector(spark, sf_dir):
    """DELETE (DELETE.java:50): erase purchase points in a time range;
    survivors returned (anti-predicate pushed to the scan)."""
    out = _write.delete(canonical_points(spark, sf_dir), "events.purchase{}", tu.us(1704844800000000), tu.us(1705708800000000))
    return out.select(
        "class", F.element_at("labels", F.lit("user")).alias("user"), "ts", "v_double"
    )


@register("meta_attributes", (
    f"WITH {PTS} SELECT class, \"user\", ts, "
    "CASE WHEN class LIKE 'events.p%' THEN 'hot' ELSE NULL END AS tier FROM pts"
))
def meta_attributes(spark, sf_dir):
    """META (META.java:47): set attributes on selector-matched series —
    mutable metadata, identity (gts_id) unchanged."""
    out = _write.meta(canonical_points(spark, sf_dir), "~events\\.p.*{}", {"tier": "hot"})
    return out.select(
        "class",
        F.element_at("labels", F.lit("user")).alias("user"),
        "ts",
        F.element_at("attributes", F.lit("tier")).alias("tier"),
    )


@register("export_tsv", (
    f"WITH {PTS} SELECT CAST(ts AS VARCHAR) || chr(9) || class || '{{user=' || \"user\" || '}}' "
    "|| chr(9) || CAST(v AS VARCHAR) AS value FROM pts"
))
def export_tsv(spark, sf_dir):
    """/fetch TSV export (EgressFetchHandler.java:1077-1085): golden-output
    parity — byte-identical lines across engines."""
    return _write.export_tsv(canonical_points(spark, sf_dir))


@register("mfilter_series", (
    f"WITH {PTS}, "
    'k AS (SELECT class, "user" FROM pts GROUP BY class, "user" HAVING count(*) > 40 AND max(v) - min(v) > 100) '
    'SELECT p.class, p."user", p.ts, p.v AS v_double FROM pts p JOIN k USING (class, "user")'
))
def mfilter_series(spark, sf_dir):
    """MFILTER (MFILTER.java): custom Python whole-series predicate (keep
    series with >40 points and range >100) — integer/extremum math, so
    the SQL oracle reproduces the verdicts exactly."""
    from warp10_platform_spark.operators.filters import mfilter

    out = mfilter(
        canonical_points(spark, sf_dir),
        lambda fr: len(fr.ticks) > 40 and (fr.values.max() - fr.values.min()) > 100,
    )
    return out.select(
        "class", F.element_at("labels", F.lit("user")).alias("user"), "ts", "v_double"
    )


@register("mfilter_distributed", (
    f"WITH {PTS} "
    'SELECT class, "user", ts, v AS v_double FROM pts '
    "WHERE CAST(\"user\" AS BIGINT) % 2 = 0 AND class <> 'events.error'"
))
def mfilter_distributed(spark, sf_dir):
    """Distributed MACROFILTER (MACROFILTER.java): the filter macro ships
    to the executors — mapInPandas over the distinct series identities
    runs a Spark-less WarpScript stack per Arrow batch, survivors come
    back through a left-semi-join (the above-cardinality-cap path of
    FILTER, forced directly). Macro: keep even-user series of any class
    except events.error — integer/string decisions the SQL oracle
    replays exactly."""
    from warp10_platform_spark.warpscript.functions import macrofilter_semijoin
    from warp10_platform_spark.warpscript.tokenizer import tokenize

    toks = tokenize(
        "0 GET DUP 0 GET 'cls' STORE 1 GET 'user' GET TOLONG 2 % 0 == "
        "$cls 'events.error' != AND"
    )
    out = macrofilter_semijoin(canonical_points(spark, sf_dir), toks)
    return out.select(
        "class", F.element_at("labels", F.lit("user")).alias("user"), "ts", "v_double"
    )


# A WKT fence with a HOLE: pentagon outer ring, square inner ring, over the
# synthesized lat/lon domain. The oracle's ray cast is generated from the
# SAME ring literals by rings_contains_sql — term-for-term identical
# arithmetic, so in/out decisions match bitwise.
_FENCE_WKT = (
    "POLYGON ((-120 -60, 120 -60, 140 20, 0 75, -140 20, -120 -60), "
    "(-40 -20, 40 -20, 40 30, -40 30, -40 -20))"
)


def _fence_oracle():
    from warp10_platform_spark.operators.wkt import parse_wkt, rings_contains_sql

    cond = rings_contains_sql(parse_wkt(_FENCE_WKT).coords)
    return (
        f"WITH {PTS}, "
        f'c AS (SELECT class, "user", ts, {_LAT_SQL} AS lat, {_LON_SQL} AS lon FROM pts) '
        f'SELECT class, "user", ts, lat, lon FROM c WHERE {cond}'
    )


@register("geo_wkt_fence", _fence_oracle())
def geo_wkt_fence(spark, sf_dir):
    """GEO.WKT + GEOWITHIN (GeoWKT.java, GEOWITHIN.java,
    WarpScriptLib.java:1011-1031): polygon-with-hole fence applied to the
    located points as a pure Column ray cast — beyond-bbox geometry with
    no UDF and no geo library."""
    from warp10_platform_spark.operators.wkt import geo_within_wkt

    fenced = geo_within_wkt(_with_coords(spark, sf_dir), _FENCE_WKT)
    return fenced.select(
        "class", F.element_at("labels", F.lit("user")).alias("user"), "ts", "lat", "lon"
    )


@register("geo_wkt_relations", (
    "SELECT 'pentagon~square' AS pair, true AS intersects, "
    "'POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))' AS roundtrip "
    "UNION ALL SELECT 'pentagon~far', false, 'POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))' "
    "ORDER BY pair"
))
def geo_wkt_relations(spark, sf_dir):
    """GEOINTERSECTS + TOWKT on literal shapes (GEOINTERSECTS.java): the
    driver-side exact-geometry predicates, pinned by a constant oracle."""
    from warp10_platform_spark.operators.wkt import geo_intersects, parse_wkt, to_wkt

    fence = parse_wkt(_FENCE_WKT)
    square = parse_wkt("POLYGON ((-10 -10, 50 -10, 50 40, -10 40))")
    far = parse_wkt("POLYGON ((160 60, 170 60, 170 70, 160 70))")
    rt = to_wkt(parse_wkt("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"))
    rows = [
        ("pentagon~square", geo_intersects(fence, square), rt),
        ("pentagon~far", geo_intersects(fence, far), rt),
    ]
    return spark.createDataFrame(rows, "pair string, intersects boolean, roundtrip string")


# --- GeoXP cell mapping (round 4): the reference's actual location
# encoding (com.geoxp GeoXPLib / HHCodeHelper — core/geoxp.py), oracled
# by replaying the 32-bit unit scaling + Morton interleave in SQL. ---

_GH_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"

_LATQ = "least(CAST(floor((lat + 90.0) * 23860929.422222222) AS BIGINT), 4294967295)"
_LONQ = "least(CAST(floor((lon + 180.0) * 11930464.711111111) AS BIGINT), 4294967295)"
# 2^32/180 = 23860929.422222222..., 2^32/360 = 11930464.711111111...


def _interleave_sql(hi: str, lo: str, bits: int) -> str:
    """hi in odd positions, lo in even — the HHCode bit layout."""
    return "(" + " + ".join(
        f"((({hi} >> {i}) & 1) << {2 * i + 1}) + ((({lo} >> {i}) & 1) << {2 * i})"
        for i in range(bits)
    ) + ")"


def _geohash6_sql() -> str:
    # 6 geohash chars = 30 bits = lon/lat bits 31..17, LON first
    gh30 = _interleave_sql("lo15", "la15", 15)
    chars = ", ".join(
        f"substr('{_GH_ALPHABET}', CAST(((gh30 >> {25 - 5 * j}) & 31) AS INT) + 1, 1)"
        for j in range(6)
    )
    return (
        f"g AS (SELECT ({_LATQ} >> 17) AS la15, ({_LONQ} >> 17) AS lo15 FROM c), "
        f"h AS (SELECT {gh30} AS gh30 FROM g), "
        f"k AS (SELECT concat({chars}) AS gh FROM h)"
    )


@register("geo_geoxp_geohash", (
    f"WITH {PTS}, "
    f'c AS (SELECT {_LAT_SQL} AS lat, {_LON_SQL} AS lon FROM pts), '
    + _geohash6_sql()
    + " SELECT gh, count(*) AS n FROM k GROUP BY gh"
))
def geo_geoxp_geohash(spark, sf_dir):
    """->GEOHASH over the true GeoXP mapping (GeoHashHelper.fromHHCode):
    6-char geohash per point via the full 64-bit GeoXPPoint, counts per
    cell. Pure shift/mask codegen — the spatial bucketing key that
    co-locates geo joins at 100 TB."""
    from warp10_platform_spark.core.geoxp import geohash_col, to_geoxp_col

    c = _with_coords(spark, sf_dir)
    hh = to_geoxp_col(F.col("lat"), F.col("lon"))
    return c.select(geohash_col(hh, 6).alias("gh")).groupBy("gh").agg(F.count("*").alias("n"))


@register("geo_geoxp_cells16", (
    f"WITH {PTS}, "
    f'c AS (SELECT {_LAT_SQL} AS lat, {_LON_SQL} AS lon FROM pts), '
    f"g AS (SELECT ({_LATQ} >> 16) AS la16, ({_LONQ} >> 16) AS lo16 FROM c), "
    f"h AS (SELECT {_interleave_sql('la16', 'lo16', 16)} AS cell FROM g) "
    "SELECT cell, count(*) AS n FROM h GROUP BY cell"
))
def geo_geoxp_cells16(spark, sf_dir):
    """GeoXP cells at resolution 16 (top 32 bits of the GeoXPPoint,
    HHCodeHelper layout — lat odd bits): point count per cell."""
    from warp10_platform_spark.core.geoxp import to_geoxp_col

    c = _with_coords(spark, sf_dir)
    hh = to_geoxp_col(F.col("lat"), F.col("lon"))
    return (
        c.select(F.shiftrightunsigned(hh, 32).alias("cell"))
        .groupBy("cell")
        .agg(F.count("*").alias("n"))
    )


# --- constructive geometry fence (round 4): union of two WKT covers
# minus a third, as a pure prefix-IN predicate on both engines. ---

def _fence_cover():
    from warp10_platform_spark.operators import geocells as GC
    from warp10_platform_spark.operators.wkt import parse_wkt

    a = GC.cover_shape(parse_wkt("POLYGON((-30 -20, 20 -20, 20 25, -30 25, -30 -20))"), 8)
    b = GC.cover_shape(parse_wkt("POLYGON((0 10, 60 10, 60 50, 0 50, 0 10))"), 8)
    hole = GC.cover_shape(parse_wkt("POLYGON((-10 -5, 10 -5, 10 15, -10 15, -10 -5))"), 10)
    return a.union(b).subtraction(hole)


_FENCE = _fence_cover()


@register("geo_fence_cover", (
    f"WITH {PTS}, "
    f'c AS (SELECT class, {_LAT_SQL} AS lat, {_LON_SQL} AS lon FROM pts) '
    "SELECT class, count(*) AS n FROM c WHERE "
    + _FENCE.contains_sql("lat", "lon")
    + " GROUP BY class"
))
def geo_fence_cover(spark, sf_dir):
    """GEO.UNION + GEO.DIFFERENCE fence (GeoUnion.java:58,
    GeoSubtraction.java): two WKT polygon covers united, a finer-grained
    hole subtracted (splitting coarse cells down), then the coverage
    compiled to a per-resolution prefix-IN Column predicate — in-fence
    event counts per class. The predicate is pure codegen and ships with
    the plan: the 100 TB geofencing shape."""
    from warp10_platform_spark.core.geoxp import to_geoxp_col

    c = _with_coords(spark, sf_dir).withColumn("_hh", to_geoxp_col(F.col("lat"), F.col("lon")))
    pred = _FENCE.contains_hh_expr(F.col("_hh"))
    return c.where(pred).groupBy("class").agg(F.count("*").alias("n"))


# --- geometry interchange formats (round 4): the same fence assembled
# through the KML and WKB codecs IN SCRIPT, oracled via the coverage's
# prefix predicate replayed in SQL. ---

_FMT_RECT_A = "POLYGON ((-30 -20, 20 -20, 20 25, -30 25, -30 -20))"
_FMT_RECT_B = "POLYGON ((0 10, 60 10, 60 50, 0 50, 0 10))"


def _fmt_fence_script():
    """Rect A travels as KML text (GEO.KML), rect B as WKB bytes minted
    by ->WKB itself (GEO.WKB); the union is the fence."""
    from warp10_platform_spark.operators.geoformats import to_kml
    from warp10_platform_spark.operators.wkt import parse_wkt

    kml_a = to_kml(parse_wkt(_FMT_RECT_A))
    return (
        f"'{kml_a}' 8 true GEO.KML "
        f"'{_FMT_RECT_B}' ->WKB 8 true GEO.WKB "
        "GEO.UNION"
    )


def _fmt_fence_oracle():
    from warp10_platform_spark.operators import geocells as GC
    from warp10_platform_spark.operators.wkt import parse_wkt

    cov = GC.cover_shape(parse_wkt(_FMT_RECT_A), 8).union(
        GC.cover_shape(parse_wkt(_FMT_RECT_B), 8)
    )
    return (
        f"WITH {PTS}, "
        f'c AS (SELECT class, {_LAT_SQL} AS lat, {_LON_SQL} AS lon FROM pts) '
        "SELECT class, count(*) AS n FROM c WHERE "
        + cov.contains_sql("lat", "lon")
        + " GROUP BY class"
    )


@register("ws_geo_formats", _fmt_fence_oracle())
def ws_geo_formats(spark, sf_dir):
    """GEO.KML + ->WKB + GEO.WKB + GEO.UNION through the script surface
    (GeoKML.java, TOWKB.java, GeoWKB.java, GeoUnion.java; registrations
    WarpScriptLib.java:1011-1026): one rectangle arrives as KML text, the
    other as WKB bytes serialized by ->WKB in the same script; the united
    coverage fences the located points as a codegen prefix predicate."""
    from warp10_platform_spark.core.geoxp import to_geoxp_col
    from warp10_platform_spark.warpscript.stack import WarpScriptStack

    st = WarpScriptStack(spark, sf_dir)
    st.exec(_fmt_fence_script())
    cov = st.pop()
    c = _with_coords(spark, sf_dir).withColumn("_hh", to_geoxp_col(F.col("lat"), F.col("lon")))
    return c.where(cov.contains_hh_expr(F.col("_hh"))).groupBy("class").agg(
        F.count("*").alias("n")
    )


_TC_SQL = (
    "degrees(atan2(sin(radians(lon - plon)) * cos(radians(lat)), "
    "cos(radians(plat)) * sin(radians(lat)) - sin(radians(plat)) * cos(radians(lat)) * cos(radians(lon - plon))))"
)


@register("geo_truecourse", (
    f"WITH {PTS}, "
    f'c AS (SELECT class, "user", ts, {_LAT_SQL} AS lat, {_LON_SQL} AS lon FROM pts), '
    'l AS (SELECT class, "user", ts, lat, lon, lag(lat) OVER w AS plat, lag(lon) OVER w AS plon '
    '      FROM c WINDOW w AS (PARTITION BY class, "user" ORDER BY ts)) '
    f"SELECT class, \"user\", ts, round(({_TC_SQL} + 360.0) % 360.0, 3) AS course_deg "
    "FROM l WHERE plat IS NOT NULL"
))
def geo_truecourse(spark, sf_dir):
    """TRUECOURSE (aggregator/TrueCourse.java:38): per-segment initial
    bearing along the synthetic track."""
    out = _geo.truecourse(_with_coords(spark, sf_dir))
    return out.where(F.col("course_deg").isNotNull()).select(
        "class",
        F.element_at("labels", F.lit("user")).alias("user"),
        "ts",
        F.round("course_deg", 3).alias("course_deg"),
    )
