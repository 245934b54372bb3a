"""Directory — series metadata separated from points (SURVEY §1.6).

The reference keeps a dedicated Directory service (class/labels →
classId/labelsId, served from memory, backed by LevelDB/HBase) and its
FETCH looks the selector up there first, then reads the matched series
only (FETCH.java:238 → StandaloneDirectoryClient → GTSDecoderIterator),
so metadata selectors never touch the points store, and FIND answers
from it alone (FIND.java:73).  There are two analogs here:

- `SeriesDirectory`, held on the driver, one entry per series of the
  class-partitioned points layout (sources/tables.PointsLayout builds it
  from the layout's own files).  FETCH's driver route looks the selector
  up in it: each class once, each label clause once per distinct value
  of its label that starts with the clause's literal prefix, plus once
  for "absent".  It also holds each file's parquet handle, the row
  count and compressed bytes of its row groups and, per series, the
  first and last row that series has in each file.  The layout writes
  each class file sorted by series (the reference's (classId, labelsId)
  key order), so those row spans pick the few row groups the pyarrow
  scan that follows reads, and their bytes choose FETCH's route; it
  decodes no map column nor the class, and hands on the series it
  matched each row to, with their class, labels_key and maps from the
  directory, once per series (operators/gts_kernels.ArrowGTS).  With
  each series' extent, it answers WarpScript FIND, FINDSETS, FINDSTATS
  and METASET too, without a Spark job (`SeriesDirectory.entries`).
- The Spark `directory` table: one row per series with identity + stats,
  read by the batch queries and by the FIND family for a regex only
  Java reads as written, and a broadcast semi-join filter before FETCH.  At 100 TB it is
  maintained incrementally at ingest (the streaming_last view is its
  seed) and persisted as its own parquet — ~1e6 series rows vs ~1e12
  point rows, a 10^6× smaller scan for every metadata-only query.  Here
  it is built from the points once per dataset (`directory_table`).
"""

from __future__ import annotations

import bisect
from collections import namedtuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from warp10_platform_spark.core.schema import labels_from_key
from warp10_platform_spark.core.selector import class_matches, clause_test, literal_prefix, selector_predicate


_NO_TS = np.iinfo(np.int64)


def _extents(group: np.ndarray, size: int, lo, hi, n=None) -> tuple[np.ndarray, ...]:
    """Per group 0..size-1 of `group`: its least `lo` and greatest `hi`
    (int64's max and min where it has none) and its sum of `n` or count."""
    least, most = np.full(size, _NO_TS.max), np.full(size, _NO_TS.min)
    np.minimum.at(least, group, lo)
    np.maximum.at(most, group, hi)
    return least, most, np.bincount(group, n, size).astype(np.int64)


def _spans(t: pa.Table) -> tuple[np.ndarray, ...]:
    """Per distinct labels_key of `t`, in order of its first row: that
    row, its last row and its extent (least and greatest ts, row count)."""
    codes = pc.dictionary_encode(t["labels_key"].combine_chunks()).indices.to_numpy()
    first = np.unique(codes, return_index=True)[1]
    last = len(codes) - 1 - np.unique(codes[::-1], return_index=True)[1]
    ts = t["ts"]
    return first, last, *_extents(codes, len(first), ts.fill_null(_NO_TS.max).to_numpy(),
                                  ts.fill_null(_NO_TS.min).to_numpy())


# what a driver-route FETCH reads, decided before it reads
# (SeriesDirectory.pick): the matched series (ascending indices), the first
# and the last row of their spans ordered by first row, the row groups those
# overlap (numbered across the files, ascending) and their compressed bytes
Pick = namedtuple("Pick", "series first last groups nbytes")


class SeriesDirectory:
    """The series of a class-partitioned points layout, held on the
    driver as columns and numbered in Spark's ascending (class,
    labels_key) order, so ascending series indices are in that order.

    Per series: the codes of its class and labels_key, its gts_id, the
    labels and attributes maps of its first row and its extent
    (`entries`).  Per label name: its distinct values in ascending order
    and each series' code among them (-1 where the series lacks the
    label).  Per file: its `pyarrow.parquet.ParquetFile`, its class code
    (`class_names` holds the classes as an Arrow array) and its first
    row group.  Per row group: its file, its row count, the cumulative
    row count and its compressed bytes from the file's footer.  Per
    (series, file) holding it: a span, the series' first and last row in
    that file, ordered by first row.  Rows and row groups are numbered
    across the files, in file order.  No Python object exists per
    series."""

    def __init__(self, fragments: dict[str, list]):
        """Read the (class, labels_key) series of `fragments` (class →
        parquet fragments), one file at a time."""
        self.classes = sorted(fragments)
        self.class_names = pa.array(self.classes, pa.string())
        cols = ["labels_key", "ts", "gts_id", "labels", "attributes"]
        self.files, file_class, group_rows, group_bytes, group_file, heads, first, last = [], [], [], [], [], [], [], []
        extents = []
        for code, cls in enumerate(self.classes):
            for frag in fragments[cls]:
                pf = pq.ParquetFile(frag.path)
                t = pf.read(columns=cols)
                lo, hi, *extent = _spans(t)
                heads.append(t.take(lo))
                extents.append(extent)
                base = sum(group_rows)
                first.append(lo + base)
                last.append(hi + base)
                for rg in map(pf.metadata.row_group, range(pf.num_row_groups)):
                    group_rows.append(rg.num_rows)
                    group_bytes.append(sum(rg.column(i).total_compressed_size for i in range(rg.num_columns)))
                group_file += [len(self.files)] * pf.num_row_groups
                file_class.append(code)
                self.files.append(pf)
        self.file_class = np.array(file_class, np.int64)
        self.group_rows = np.array(group_rows, np.int64)
        self.group_bytes = np.array(group_bytes, np.int64)
        self.group_ends = np.cumsum(self.group_rows)
        self.group_file = np.array(group_file, np.int64)
        self.file_groups = np.searchsorted(self.group_file, np.arange(len(self.files)))
        heads = pa.concat_tables(heads)
        keys = pc.dictionary_encode(heads["labels_key"].combine_chunks())
        # the keys in ascending order, so the series are in Spark's
        # (class, labels_key) order
        order = pc.array_sort_indices(keys.dictionary).to_numpy()
        rank = np.empty(len(order), np.int64)
        rank[order] = np.arange(len(order))
        self.keys = keys.dictionary.take(order)
        head_file = np.repeat(np.arange(len(self.files)), [len(f) for f in first])
        pair = self.file_class[head_file] * len(self.keys) + rank[keys.indices.to_numpy()]
        # ascending, so searchsorted finds the series of a (class, labels_key)
        self._pair, at, span_series = np.unique(pair, return_index=True, return_inverse=True)
        first, last = np.concatenate(first), np.concatenate(last)
        order = np.argsort(first, kind="stable")
        self.span_first, self.span_last, self.span_series = first[order], last[order], span_series[order]
        self.class_code, self.key_code = np.divmod(self._pair, len(self.keys))
        self.first_ts, self.last_ts, self.n_points = _extents(
            span_series, len(self._pair), *map(np.concatenate, zip(*extents)))
        series = heads.take(at)
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
            order = pc.array_sort_indices(enc.dictionary).to_numpy()
            rank = np.empty(len(order) + 1, np.int64)
            rank[order], rank[-1] = np.arange(len(order)), -1
            codes = np.full(len(self.gts_id), -1, np.int64)
            # a null value reads as an absent label, as element_at does
            codes[parent[at.to_numpy(zero_copy_only=False)]] = rank[enc.indices.fill_null(-1).to_numpy()]
            self.values[name] = enc.dictionary.take(order).to_pylist()
            self.codes[name] = codes

    def select(self, selectors) -> np.ndarray:
        """The series any parsed selector (without attribute clauses)
        matches, as ascending indices: the class part is decided once per
        class, and each label clause once per distinct value of its label
        that starts with the clause's literal prefix (a range of the
        sorted values) plus once for a series without it."""
        hit = np.zeros(len(self.gts_id), bool)
        for s in selectors:
            ok = np.array([class_matches(s, c) for c in self.classes], bool)[self.class_code]
            for key, op, val in s.labels:
                if not ok.any():
                    break
                test, values = clause_test(key, op, val), self.values.get(key, [])
                prefix = literal_prefix(op, val)
                n = len(prefix)
                lo = bisect.bisect_left(values, prefix, key=lambda v: v[:n])
                hi = bisect.bisect_right(values, prefix, lo, key=lambda v: v[:n])
                # the last entry answers for "absent", which code -1 indexes
                answer = np.zeros(len(values) + 1, bool)
                answer[lo:hi] = [test(v) for v in values[lo:hi]]
                answer[-1] = test(None)
                ok &= answer[self.codes[key]] if key in self.codes else answer[-1]
            hit |= ok
        return np.flatnonzero(hit)

    def pick(self, selectors) -> Pick:
        """The series the parsed `selectors` match and the row groups that
        overlap one of their spans, with those row groups' compressed
        bytes, which FETCH compares with its gate.  In a file sorted by
        series a span holds its series' rows only; in an unsorted one it
        covers most of the file, and so do the row groups."""
        series = self.select(selectors)
        chosen = np.zeros(len(self.gts_id), bool)
        chosen[series] = True
        at = chosen[self.span_series]
        first, last, ends = self.span_first[at], self.span_last[at], self.group_ends
        touched = np.bincount(np.searchsorted(ends, first, "right"), minlength=len(ends) + 1)
        touched -= np.bincount(np.searchsorted(ends, last, "right") + 1, minlength=len(ends) + 1)
        groups = np.flatnonzero(np.cumsum(touched)[:-1])
        return Pick(series, first, last, groups, int(self.group_bytes[groups].sum()))

    def row_groups(self, pick: Pick) -> tuple[dict[int, np.ndarray], np.ndarray, np.ndarray]:
        """file → its picked row groups, ascending; the indices, into the
        rows of all those row groups read in that order, of the rows in a
        span of the picked series; and the class code of each such row."""
        g = pick.groups
        n = self.group_rows[g]
        # the row of each row read, then whether a span reaches it
        pos = np.arange(n.sum()) + np.repeat(self.group_ends[g] - np.cumsum(n), n)
        i = np.searchsorted(pick.first, pos, "right") - 1
        inside = np.flatnonzero((i >= 0) & (np.maximum.accumulate(pick.last)[np.maximum(i, 0)] >= pos))
        files = self.group_file[g]
        groups = {int(f): g[files == f] - self.file_groups[f] for f in np.unique(files)}
        return groups, inside, self.file_class[np.repeat(files, n)[inside]]

    def series(self, series: np.ndarray) -> pa.Table:
        """The class, labels_key, labels and attributes of `series`."""
        return pa.table({"class": self.class_names.take(self.class_code[series]),
                         "labels_key": self.keys.take(self.key_code[series]),
                         "labels": self.labels.take(series), "attributes": self.attributes.take(series)})

    def entries(self, series: np.ndarray) -> pa.Table:
        """The directory rows of `series` with build_directory's columns,
        the labels in labels_key's key order (as labels_from_key gives
        them) and a null first_ts and last_ts where a series has no ts."""
        # a taken map array's offsets start at 0
        labels = self.labels.take(series)
        parent = np.repeat(np.arange(len(labels)), np.diff(labels.offsets))
        order = pc.sort_indices(pa.table({"p": parent, "k": labels.keys}), [("p", "ascending"), ("k", "ascending")])
        first, last = self.first_ts[series], self.last_ts[series]
        return pa.table({
            "gts_id": self.gts_id[series],
            "class": self.class_names.take(self.class_code[series]),
            "labels_key": self.keys.take(self.key_code[series]),
            "labels": pa.MapArray.from_arrays(labels.offsets, labels.keys.take(order), labels.items.take(order)),
            "first_ts": pa.array(first, mask=first == _NO_TS.max),
            "last_ts": pa.array(last, mask=last == _NO_TS.min), "n_points": self.n_points[series]})

    def rows(self, row_class: np.ndarray, labels_key: pa.ChunkedArray, series: np.ndarray) -> np.ndarray:
        """The series of each row (its class code and labels_key), or -1
        where that is not one of `series`."""
        lk = pc.dictionary_encode(labels_key.combine_chunks())
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
    A FIND over it scans ~1 row per series and never opens the points
    store — asserted by tests/test_plans.py."""
    import os

    from warp10_platform_spark.sources.tables import _cache_key, _read_parquet_memo, cache_path, events_points

    path = cache_path(f"directory_{_cache_key(sf_dir)}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        build_directory(events_points(spark, sf_dir)).write.mode("overwrite").parquet(path)
    return _read_parquet_memo(spark, path)
