"""The points schema — Spark mapping of the GTS data model.

Reference data model (SURVEY §1; warp10/src/main/java/io/warp10/continuum/
gts/GeoTimeSerie.java:35-137): a Geo Time Series is a named, labeled
sequence of (timestamp, optional location, optional elevation, value)
points, value type fixed per series (LONG/DOUBLE/BOOLEAN/STRING,
GeoTimeSerie.java:37-44).

Spark mapping: ONE long points DataFrame holding all series, type-tagged
union of value columns (exactly one v_* non-null per row). Per-series
identity (classId/labelsId, Metadata thrift struct — SURVEY §1.2) becomes
a materialized 64-bit `gts_id` column = xxhash64(class, canonical labels).

Columnar-per-series in the reference (parallel primitive arrays) becomes
columnar-across-series in Parquet — strictly more general; per-series
locality is recovered by partitioning/bucketing on gts_id.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

# `ts` is LONG microseconds since epoch — the reference's default
# platform time unit (Constants.java:51-56, configurable ms/us/ns; we keep
# LONG rather than TimestampType to honor that configurability).
POINTS_SCHEMA = StructType(
    [
        StructField("class", StringType(), False),
        StructField("labels", MapType(StringType(), StringType(), False), False),
        StructField("attributes", MapType(StringType(), StringType(), False), True),
        StructField("ts", LongType(), False),
        StructField("lat", DoubleType(), True),
        StructField("lon", DoubleType(), True),
        StructField("elev", LongType(), True),
        StructField("v_long", LongType(), True),
        StructField("v_double", DoubleType(), True),
        StructField("v_bool", BooleanType(), True),
        StructField("v_string", StringType(), True),
        StructField("gts_id", LongType(), False),
    ]
)

def canonical_labels(labels: Column = None) -> Column:
    """Canonical string form of a labels map: JSON of entries sorted by key.

    Used for gts_id hashing and for grouping (Spark cannot group by a
    MapType column directly). map_entries preserves insertion order, so we
    array_sort (sorts struct array by first field = key).
    """
    labels = F.col("labels") if labels is None else labels
    return F.to_json(F.array_sort(F.map_entries(labels)))


def labels_from_key(labels_key: Column = None) -> Column:
    """Inverse of canonical_labels: labels_key JSON → labels map.

    Aggregations must NOT carry the map-typed `labels` column through
    `first(...)`: a map-typed aggregate buffer is unsupported by
    HashAggregate, so Catalyst silently falls back to SortAggregate —
    two extra Sorts and an O(n log n) full partition sort per agg, which
    is the difference between hash and sort aggregation at 100 TB.
    Instead, group by `labels_key` (already a SERIES_KEY) and rebuild the
    map on the (far smaller) aggregated output with this JVM expression.
    """
    labels_key = F.col("labels_key") if labels_key is None else labels_key
    return F.map_from_entries(
        F.from_json(labels_key, "array<struct<key:string,value:string>>")
    )


def gts_id(class_col: Column = None, labels_col: Column = None) -> Column:
    """64-bit series identity ≙ classId/labelsId SipHashes of the reference
    (Metadata thrift, io_warp10_continuum_store_thrift_data.thrift:23-63).
    One hash of (class, canonical labels) is sufficient for identity here.
    """
    class_col = F.col("class") if class_col is None else class_col
    return F.xxhash64(class_col, canonical_labels(labels_col))


def with_gts_id(df):
    """Materialize gts_id (and labels_key, the groupable canonical labels)."""
    return df.withColumn("labels_key", canonical_labels()).withColumn(
        "gts_id", F.xxhash64(F.col("class"), F.col("labels_key"))
    )
