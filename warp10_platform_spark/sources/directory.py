"""Directory table — series metadata separated from points (SURVEY §1.6).

The reference keeps a dedicated Directory service (class/labels →
classId/labelsId, served from memory, backed by LevelDB/HBase;
FETCH.java:238 → StandaloneDirectoryClient) so metadata selectors never
touch the points store. The Spark analog is a small `directory` table:
one row per series with identity + stats, consulted by FIND/FINDSTATS
and used as a broadcast semi-join filter in front of FETCH.

At 100 TB the directory is maintained incrementally at ingest (the
streaming_last view is its seed) and persisted as its own parquet —
~1e6 series rows vs ~1e12 point rows, a 10^6× smaller scan for every
metadata-only query. Here it is derived on demand from the points frame
(same schema, same consumers).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from warp10_platform_spark.core.schema import labels_from_key
from warp10_platform_spark.core.selector import selector_predicate


def build_directory(points: DataFrame) -> DataFrame:
    """points → directory: one row per series (identity, labels, extent
    stats). Shuffle carries only (gts_id, partials) — partial aggregation
    makes this one map-side-combined pass."""
    return (
        points.groupBy("gts_id", "class", "labels_key")
        .agg(
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
            F.count("*").alias("n_points"),
        )
        .withColumn("labels", labels_from_key())
        .select("gts_id", "class", "labels_key", "labels", "first_ts", "last_ts", "n_points")
    )


def find(directory: DataFrame, selector: str) -> DataFrame:
    """FIND (FIND.java:73) over the directory only — no points scan."""
    return directory.where(selector_predicate(selector))


def findstats(directory: DataFrame, approx: bool = False) -> DataFrame:
    """FINDSTATS: cardinalities from the directory. approx=True uses
    HLL++ (approx_count_distinct ≙ the reference's HyperLogLogPlus) —
    the 100 TB path where even the directory is large."""
    if approx:
        return directory.agg(
            F.approx_count_distinct("class").alias("n_classes"),
            F.approx_count_distinct("gts_id").alias("n_series"),
        )
    return directory.agg(
        F.count_distinct("class").alias("n_classes"),
        F.count_distinct("gts_id").alias("n_series"),
    )


def fetch_filtered(points: DataFrame, directory: DataFrame, selector: str) -> DataFrame:
    """FETCH with a directory pre-filter: resolve the selector on the
    directory (tiny), broadcast the matching gts_ids, semi-join the
    points scan. The points-side predicate is a single IN/semi-join on
    the clustering key — partition-prunable when points are bucketed by
    gts_id — instead of regex evaluation per point row."""
    ids = find(directory, selector).select("gts_id")
    return points.join(F.broadcast(ids), on="gts_id", how="leftsemi")


def fetch_gskip_gcount(
    points: DataFrame, directory: DataFrame, selector: str, gskip: int = 0, gcount: int | None = None
) -> DataFrame:
    """FETCH gskip/gcount (FETCH.java:135-136, 627-638): skip the first
    `gskip` matched SERIES, then fetch at most `gcount` series — a series
    budget, not a point budget. The reference walks the directory iterator
    in its storage order; here the order is pinned to (class, labels_key),
    the deterministic analog.

    The global rank is TWO-PHASE (r9): a bare Window.orderBy ranks the
    whole match set in one task — fine at 10^6 series (3.3 s, the
    DIRSCALE_r9 probe) but the wrong shape at 10^8+. Instead rows are
    assigned to ORDER-PRESERVING buckets, ranked LOCALLY per bucket,
    and per-bucket counts (tiny, broadcast) turn local ranks into
    global ones — every stage stays parallel and directory-sized.

    Bucket boundaries are DETERMINISTIC literals, not sampled: a
    hash-mod subset of the matched keys is collected once (one tiny
    scan-side job), sorted driver-side, and stride-picked; each row's
    bucket is then a pure function of its own key against those plan
    literals. The first cut used repartitionByRange +
    spark_partition_id, which is unsound across plan branches:
    range boundaries are SAMPLED per materialization and
    spark_partition_id is nondeterministic so Catalyst never reuses
    the exchange — the counts branch and the join branch could draw
    DIFFERENT boundaries and the offsets corrected the wrong
    partitions (intermittent test_gskip_gcount failure), and hiding
    that behind a persist() made correctness depend on a cache the
    registry is allowed to evict. With literal boundaries every
    materialization buckets identically, cached or not; the register()
    below is purely a perf hint (the window feeds two consumers).
    Keys compare as concat(class, \\x00, labels_key), equivalent to the
    (class, labels_key) tuple order because \\x00 is the minimal byte
    (class names never contain NUL)."""
    from pyspark.sql import Window

    from warp10_platform_spark.pipeline import cache as _cache

    matched = find(directory, selector)
    key = F.concat_ws("\x00", "class", "labels_key")
    sample = sorted(
        r[0]
        for r in matched.select(key.alias("k"))
        .where(F.abs(F.xxhash64(F.col("k"))) % 101 == 0)
        .collect()
    )
    n_parts = max(matched.sparkSession.sparkContext.defaultParallelism, 8)
    step = max(len(sample) // n_parts, 1)
    bounds = sample[step::step][: n_parts - 1]
    if bounds:
        barr = F.array(*[F.lit(b) for b in bounds])
        bucket = F.size(F.filter(barr, lambda b: b <= key))
    else:
        bucket = F.lit(0)
    local = _cache.register(
        matched.withColumn("_bkt", bucket).withColumn(
            "_lrn", F.row_number().over(Window.partitionBy("_bkt").orderBy("class", "labels_key"))
        )
    )
    counts = local.groupBy("_bkt").agg(F.count("*").alias("_c"))
    w_off = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
    offs = counts.withColumn("_off", F.coalesce(F.sum("_c").over(w_off), F.lit(0)))
    ranked = local.join(F.broadcast(offs.select("_bkt", "_off")), "_bkt").withColumn(
        "_rn", F.col("_lrn") + F.col("_off")
    )
    hi = gskip + gcount if gcount is not None else None
    cond = F.col("_rn") > gskip
    if hi is not None:
        cond = cond & (F.col("_rn") <= hi)
    ids = ranked.where(cond).select("gts_id")
    return points.join(F.broadcast(ids), on="gts_id", how="leftsemi")


def directory_table(spark, sf_dir: str) -> DataFrame:
    """The directory in its canonical STORAGE form: materialized parquet
    built once per dataset (the reference's Directory service persists
    exactly this: series identity + extents, StandaloneDirectoryClient).
    Every FIND/FINDSTATS then scans ~1 row per series and never opens the
    points store — asserted by tests/test_plans.py."""
    import os

    from warp10_platform_spark.sources.tables import _cache_key, cache_path, events_points

    key = _cache_key(sf_dir)
    path = cache_path(f"directory_{key}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        build_directory(events_points(spark, sf_dir)).write.mode("overwrite").parquet(path)
    from warp10_platform_spark.sources.tables import _read_parquet_memo

    return _read_parquet_memo(spark, path)
