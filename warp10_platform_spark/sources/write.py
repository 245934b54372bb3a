"""Write paths + export formats — UPDATE / DELETE / META and the /fetch
dump formats (SURVEY §2.1).

Reference: script/functions/UPDATE.java:47 (ingest datapoints),
DELETE.java:50 (erase by selector+range), META.java:47 (set attributes);
EgressFetchHandler.java:1077-1085 (text/tsv/json export).

The Spark store is an immutable parquet lake, so UPDATE/DELETE are
dataset transformations the caller persists (overwrite/merge by
partition); the functions below produce the post-operation frame with
the reference's semantics — last-write-wins per (series, tick).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from warp10_platform_spark.core.selector import selector_predicate


def update(points: DataFrame, new_points: DataFrame, value_col: str = "v_double") -> DataFrame:
    """UPDATE: append new datapoints; a new value at an existing
    (series, tick) replaces it (storage last-write-wins). The `_gen`
    column makes write order explicit so the winner is deterministic."""
    cols = points.columns
    old = points.select(*cols).withColumn("_gen", F.lit(0))
    new = new_points.select(*cols).withColumn("_gen", F.lit(1))
    w = Window.partitionBy("gts_id", "ts").orderBy(F.col("_gen").desc(), F.col(value_col).desc_nulls_last())
    return (
        old.unionAll(new)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "_gen")
    )


def delete(points: DataFrame, selector: str, start: int | None = None, end: int | None = None) -> DataFrame:
    """DELETE: erase points matching selector within [start, end] (full
    series when no range). Returns the surviving frame — an anti-filter
    whose predicate pushes to the scan."""
    pred = selector_predicate(selector)
    if start is not None:
        pred = pred & (F.col("ts") >= start)
    if end is not None:
        pred = pred & (F.col("ts") <= end)
    return points.where(~pred)


def meta(points: DataFrame, selector: str, attributes: dict[str, str]) -> DataFrame:
    """META: merge attribute key/values on series matching the selector
    (attributes are mutable metadata NOT part of series identity —
    gts_id is untouched, unlike RELABEL)."""
    pairs = []
    for k, v in attributes.items():
        pairs += [F.lit(k), F.lit(v)]
    merged = F.map_concat(
        F.map_filter(F.col("attributes"), lambda k, _: ~k.isin(list(attributes))),
        F.create_map(*pairs),
    )
    return points.withColumn(
        "attributes",
        F.when(selector_predicate(selector), merged).otherwise(F.col("attributes")),
    )


def meta_delta(points: DataFrame, attributes: dict[str, str]) -> DataFrame:
    """METADIFF — delta attribute update (META.java delta=true →
    StandaloneIngressHandler.java:797,897 →
    StandaloneDirectoryClient.java:1037-1055): non-empty values upsert
    into the existing attribute map; an EMPTY value deletes the key."""
    keys = list(attributes)
    merged = F.map_filter(F.col("attributes"), lambda k, _: ~k.isin(keys))
    ups = [(k, v) for k, v in attributes.items() if v != ""]
    if ups:
        pairs = []
        for k, v in ups:
            pairs += [F.lit(k), F.lit(v)]
        merged = F.map_concat(merged, F.create_map(*pairs))
    return points.withColumn("attributes", merged)


# ---- export formats (EgressFetchHandler.java:1077-1085) ----

def export_tsv(points: DataFrame, value_col: str = "v_double") -> DataFrame:
    """TSV dump: ts <tab> class{labels} <tab> value (one string column,
    writable with spark.write.text)."""
    labels_str = F.array_join(
        F.transform(F.array_sort(F.map_entries("labels")), lambda e: F.concat(e["key"], F.lit("="), e["value"])),
        ",",
    )
    return points.select(
        F.concat_ws(
            "\t",
            F.col("ts").cast("string"),
            F.concat(F.col("class"), F.lit("{"), labels_str, F.lit("}")),
            F.col(value_col).cast("string"),
        ).alias("value")
    )
