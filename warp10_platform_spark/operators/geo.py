"""Geo operators — haversine tracks, bounding boxes, HHCode (SURVEY §2
geo rows; reference: mapper/MapperGeoWithin.java:36, HHCodeHelper.java,
GTSHelper hdist/hspeed aggregates).

All pure Column expressions. Locations ride the points schema's
lat/lon/elev columns; series-track math is lag windows over gts_id.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from warp10_platform_spark.core import timeunits as tu
from warp10_platform_spark.operators.reshape import with_label

EARTH_RADIUS_M = 6_371_000.0


def haversine_m(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance in meters (the reference's orthodromic
    distance used by hdist/hspeed)."""
    rl1, rl2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2 - lat1) / 2.0
    dlon = F.radians(lon2 - lon1) / 2.0
    a = F.sin(dlat) * F.sin(dlat) + F.cos(rl1) * F.cos(rl2) * F.sin(dlon) * F.sin(dlon)
    # least() skips nulls in Spark, so guard explicitly: any null operand
    # (e.g. lag() at a series head) must yield null, not asin(1).
    return F.when(a.isNotNull(), F.lit(2.0 * EARTH_RADIUS_M) * F.asin(F.least(F.lit(1.0), F.sqrt(a))))


def _w():
    return Window.partitionBy("gts_id").orderBy("ts")


def segment_dist(df: DataFrame, out_col: str = "seg_m") -> DataFrame:
    """Distance from the previous point of the track (lag window)."""
    w = _w()
    return df.withColumn(
        out_col,
        haversine_m(F.lag("lat", 1).over(w), F.lag("lon", 1).over(w), F.col("lat"), F.col("lon")),
    )


def hdist(df: DataFrame) -> DataFrame:
    """HDIST: total horizontal distance travelled per series (sum of
    haversine segments) — one window pass + one aggregation."""
    segs = segment_dist(df)
    return segs.groupBy("gts_id", "class", "labels_key").agg(F.sum("seg_m").alias("hdist_m"))


def hspeed(df: DataFrame, out_col: str = "speed_ms") -> DataFrame:
    """HSPEED as a mapper: instantaneous speed m/s over the previous
    segment (VSPEED is the same window over elev)."""
    w = _w()
    dt_s = (F.col("ts") - F.lag("ts", 1).over(w)) / F.lit(float(tu.UNITS_PER_S))
    return segment_dist(df).withColumn(out_col, F.col("seg_m") / dt_s)


def vdist(df: DataFrame) -> DataFrame:
    """VDIST: total vertical (elevation) distance per series."""
    w = _w()
    dz = F.abs(F.col("elev") - F.lag("elev", 1).over(w))
    return (
        df.withColumn("_dz", dz)
        .groupBy("gts_id", "class", "labels_key")
        .agg(F.sum("_dz").alias("vdist"))
    )


def geo_within_bbox(df: DataFrame, lat_min: float, lat_max: float, lon_min: float, lon_max: float) -> DataFrame:
    """mapper.geo.within for a bounding box (MapperGeoWithin.java:36 with
    a rectangular zone): keep points inside; pushdown-friendly range
    predicates on the lat/lon columns."""
    return df.where(
        F.col("lat").between(lat_min, lat_max) & F.col("lon").between(lon_min, lon_max)
    )


def geo_within_polygon(df: DataFrame, polygon: list[tuple[float, float]]) -> DataFrame:
    """mapper.geo.within for an arbitrary polygon (MapperGeoWithin.java:36
    with a GeoXPShape): ray-casting point-in-polygon, unrolled into pure
    Column expressions (one XOR term per edge — no UDF, no geo library).
    `polygon` is [(lat, lon), ...], closed implicitly."""
    lat, lon = F.col("lat"), F.col("lon")
    inside = F.lit(False)
    n = len(polygon)
    for i in range(n):
        y1, x1 = polygon[i]
        y2, x2 = polygon[(i + 1) % n]
        if y1 == y2:
            continue  # horizontal edge never crosses a horizontal ray
        crosses = ((F.lit(y1) > lat) != (F.lit(y2) > lat)) & (
            lon < (F.lit(x2 - x1)) * (lat - F.lit(y1)) / F.lit(y2 - y1) + F.lit(x1)
        )
        inside = inside != crosses  # boolean XOR (Column has no ^ operator)
    return df.where(lat.isNotNull() & inside)


def hhcode(lat: Column, lon: Column, bits: int = 16) -> Column:
    """HHCode (HHCodeHelper.java): Morton/Z-order interleave of the
    quantized lat/lon — `bits` bits per axis (≤31), lat in odd positions.
    Pure integer exprs; the standard geo bucketing key for spatial
    partitioning/joins at scale."""
    scale = 1 << bits
    latq = F.floor((lat + 90.0) / 180.0 * scale).cast("long")
    lonq = F.floor((lon + 180.0) / 360.0 * scale).cast("long")
    latq = F.least(latq, F.lit(scale - 1))
    lonq = F.least(lonq, F.lit(scale - 1))
    out = F.lit(0).cast("long")
    for i in range(bits):
        out = (
            out
            + F.shiftleft(F.shiftright(latq, i).bitwiseAND(F.lit(1)), 2 * i + 1)
            + F.shiftleft(F.shiftright(lonq, i).bitwiseAND(F.lit(1)), 2 * i)
        )
    return out


def vspeed(df: DataFrame, out_col: str = "vspeed_ms") -> DataFrame:
    """VSPEED: vertical speed m/s over the previous segment."""
    w = _w()
    dz = (F.col("elev") - F.lag("elev", 1).over(w)).cast("double")
    dt_s = (F.col("ts") - F.lag("ts", 1).over(w)) / F.lit(float(tu.UNITS_PER_S))
    return df.withColumn(out_col, dz / dt_s)


def truecourse(df: DataFrame, out_col: str = "course_deg") -> DataFrame:
    """TRUECOURSE (aggregator/TrueCourse.java:38): initial great-circle
    bearing from the previous point, degrees in [0, 360)."""
    w = _w()
    lat1, lon1 = F.radians(F.lag("lat", 1).over(w)), F.radians(F.lag("lon", 1).over(w))
    lat2, lon2 = F.radians(F.col("lat")), F.radians(F.col("lon"))
    dlon = lon2 - lon1
    y = F.sin(dlon) * F.cos(lat2)
    x = F.cos(lat1) * F.sin(lat2) - F.sin(lat1) * F.cos(lat2) * F.cos(dlon)
    deg = F.degrees(F.atan2(y, x))
    return df.withColumn(out_col, (deg + 360.0) % 360.0)


def geo_approximate(df: DataFrame, bits: int = 8) -> DataFrame:
    """mapper.geo.approximate (MapperGeoApproximate.java): snap locations
    to the HHCode cell center at the given resolution — the spatial
    down-quantizer (coarser bits = coarser grid)."""
    scale = 1 << bits
    latq = F.least(F.floor((F.col("lat") + 90.0) / 180.0 * scale), F.lit(scale - 1))
    lonq = F.least(F.floor((F.col("lon") + 180.0) / 360.0 * scale), F.lit(scale - 1))
    return df.withColumn("lat", (latq + 0.5) * (180.0 / scale) - 90.0).withColumn(
        "lon", (lonq + 0.5) * (360.0 / scale) - 180.0
    )


def motionsplit(df: DataFrame, max_gap_m: float, label: str = "motionsplit") -> DataFrame:
    """MOTIONSPLIT (MOTIONSPLIT.java): split a track where the distance
    between consecutive points exceeds max_gap_m — the spatial twin of
    TIMESPLIT (lag + cumulative-sum session ids)."""
    segs = segment_dist(df)
    brk = F.when(F.col("seg_m") > max_gap_m, 1).otherwise(0)
    sid = F.sum(brk).over(_w().rowsBetween(Window.unboundedPreceding, 0))
    return with_label(segs, label, sid).drop("seg_m")
