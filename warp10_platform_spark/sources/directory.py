"""Directory — series metadata separated from points (SURVEY §1.6).

The reference keeps a dedicated Directory service (class/labels →
classId/labelsId, served from memory, backed by LevelDB/HBase) and its
FETCH looks the selector up there first, then reads the matched series
only (FETCH.java:238 → StandaloneDirectoryClient → GTSDecoderIterator),
so metadata selectors never touch the points store.  There are two
analogs here:

- `SeriesDirectory`, held on the driver, one entry per series of the
  class-partitioned points layout (sources/tables.PointsLayout builds it
  from the layout's own files).  FETCH's driver route looks the selector
  up in it: each class once, each label clause once per distinct value
  of its label plus once for "absent".  The pyarrow scan that follows
  filters on the matched gts_ids and the ts bounds and decodes no map
  column; the maps come from the directory.
- The Spark `directory` table: one row per series with identity + stats,
  consulted by FIND/FINDSTATS and used as a broadcast semi-join filter
  in front of FETCH.  At 100 TB it is maintained incrementally at ingest
  (the streaming_last view is its seed) and persisted as its own parquet
  — ~1e6 series rows vs ~1e12 point rows, a 10^6× smaller scan for every
  metadata-only query.  Here it is derived on demand from the points
  frame (same schema, same consumers).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from warp10_platform_spark.core.schema import labels_from_key
from warp10_platform_spark.core.selector import class_matches, clause_test, selector_predicate


def _first_rows(t: pa.Table) -> pa.Table:
    """The first row of each distinct labels_key of `t`."""
    codes = pc.dictionary_encode(t["labels_key"].combine_chunks()).indices.to_numpy()
    return t.take(np.unique(codes, return_index=True)[1])


class SeriesDirectory:
    """The series of a class-partitioned points layout, held on the
    driver as columns and sorted by (class, labels_key).

    Per series: the codes of its class and labels_key, its gts_id, and
    the labels and attributes maps of its first row.  Per label name:
    its distinct values and each series' code among them (-1 where the
    series lacks the label).  No Python object exists per series."""

    def __init__(self, fragments: dict[str, list]):
        """Read the (class, labels_key) series of `fragments` (class →
        parquet fragments), one file at a time."""
        self.classes = sorted(fragments)
        cols = ["labels_key", "gts_id", "labels", "attributes"]
        parts, class_code = [], []
        for code, cls in enumerate(self.classes):
            part = pa.concat_tables([_first_rows(f.to_table(columns=cols)) for f in fragments[cls]])
            parts.append(_first_rows(part))
            class_code.append(np.full(parts[-1].num_rows, code, np.int64))
        series = pa.concat_tables(parts)
        keys = pc.dictionary_encode(series["labels_key"].combine_chunks())
        class_code = np.concatenate(class_code)
        key_code = keys.indices.to_numpy().astype(np.int64)
        order = np.lexsort((key_code, class_code))
        series = series.take(order)
        self.keys = keys.dictionary
        self.class_code = class_code[order]
        self.key_code = key_code[order]
        # ascending, so searchsorted finds the series of a (class, labels_key)
        self._pair = self.class_code * len(self.keys) + self.key_code
        self.gts_id = series["gts_id"].to_numpy()
        self.labels = series["labels"].combine_chunks()
        self.attributes = series["attributes"].combine_chunks()
        offsets = self.labels.offsets.to_numpy()
        first, used = int(offsets[0]), int(offsets[-1] - offsets[0])
        names, values = self.labels.keys.slice(first, used), self.labels.items.slice(first, used)
        parent = np.repeat(np.arange(len(self.labels)), np.diff(offsets))
        self.values: dict[str, list[str]] = {}
        self.codes: dict[str, np.ndarray] = {}
        for name in pc.unique(names).to_pylist():
            at = pc.equal(names, name)
            enc = pc.dictionary_encode(values.filter(at))
            codes = np.full(len(self.gts_id), -1, np.int64)
            # a null value reads as an absent label, as element_at does
            codes[parent[at.to_numpy(zero_copy_only=False)]] = enc.indices.fill_null(-1).to_numpy()
            self.values[name] = enc.dictionary.to_pylist()
            self.codes[name] = codes

    def select(self, selectors) -> np.ndarray:
        """The series any parsed selector (without attribute clauses)
        matches, as ascending indices: the class part is decided once per
        class, and each label clause once per distinct value of its label
        plus once for a series without it."""
        hit = np.zeros(len(self.gts_id), bool)
        for s in selectors:
            ok = np.array([class_matches(s, c) for c in self.classes], bool)[self.class_code]
            for key, op, val in s.labels:
                if not ok.any():
                    break
                test = clause_test(key, op, val)
                # the last entry answers for "absent", which code -1 indexes
                answer = np.array([test(v) for v in self.values.get(key, ())] + [test(None)], bool)
                ok &= answer[self.codes[key]] if key in self.codes else answer[-1]
            hit |= ok
        return np.flatnonzero(hit)

    def class_names(self, series: np.ndarray) -> list[str]:
        """The classes of `series`, in order."""
        return [self.classes[c] for c in np.unique(self.class_code[series])]

    def rows(self, t: pa.Table, series: np.ndarray) -> np.ndarray:
        """The series of each row of `t` (its class and labels_key), or
        -1 where that is not one of `series`."""
        cls = pc.dictionary_encode(t["class"].combine_chunks())
        row_class = pc.index_in(cls.dictionary, value_set=pa.array(self.classes)).to_numpy(
            zero_copy_only=False).astype(np.int64)[cls.indices.to_numpy()]
        lk = pc.dictionary_encode(t["labels_key"].combine_chunks())
        wanted = np.unique(self.key_code[series])
        pos = pc.index_in(lk.dictionary, value_set=self.keys.take(wanted)).fill_null(-1).to_numpy()
        row_key = np.where(pos >= 0, wanted[pos], -1)[lk.indices.to_numpy()]
        pair = row_class * len(self.keys) + row_key
        at = np.minimum(np.searchsorted(self._pair, pair), len(self._pair) - 1)
        chosen = np.zeros(len(self.gts_id), bool)
        chosen[series] = True
        return np.where((row_key >= 0) & (self._pair[at] == pair) & chosen[at], at, -1)


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
