"""Testdata loaders + the events→GTS projection.

The driver provides TPC-H-ish parquet tables plus `events`, `documents`,
`embeddings` (TESTDATA.md). `events` is projected into the points schema
(FIXTURES.md §F4): class = 'events.' || event_type, labels = {user: ...},
ts = event time in LONG microseconds, v_double = value.

At 100 TB the points table would be written partitioned by
(class_bucket, day) with bucketing on gts_id; these loaders read the flat
driver parquet but apply the same schema so every operator is identical.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from warp10_platform_spark.core import timeunits as tu


TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


# (session id, sf_dir, table) -> scan DataFrame. spark.read.parquet costs
# ~150 ms of driver time per call (file listing + footer/schema
# resolution), and a bench/serving session re-loads the same handful of
# tables for every query build — ~40 % of tpch_q5's build was five table
# loads (r10, guide §5: the driver should do no repeated metadata work).
# This memoizes the immutable scan DATAFRAME (a logical plan — no data,
# no results; every action still scans parquet), keyed by session so a
# new session re-resolves schemas. Bounded: the fixture grid is a few
# dirs x 10 tables.
_SCANS: dict[tuple[int, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    key = (id(spark), sf_dir, name)
    hit = _SCANS.get(key)
    if hit is not None:
        return hit
    # Older driver testdata wrote events.ts as INT64 TIMESTAMP(NANOS), which a
    # plain SparkSession (e.g. the driver's correctness harness) rejects with
    # PARQUET_TYPE_ILLEGAL unless this runtime-settable conf is on. Set it here
    # so every query works on any session, not just the one built by
    # session.py. Guarded: the legacy conf may not exist in future Spark.
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if len(_SCANS) > 256:  # defensive bound for pathological callers
        _SCANS.clear()
    _SCANS[key] = df
    return df


def _read_parquet_memo(spark: SparkSession, path: str) -> DataFrame:
    """Memoized scan of a WRITE-ONCE materialized layout (canonical /
    partitioned points, directory) — same plan-object reuse as
    load_table; never use for tables that maintenance rewrites (rollup
    partials), where a pinned file listing would go stale."""
    key = (id(spark), path, "")
    hit = _SCANS.get(key)
    if hit is None:
        hit = _SCANS[key] = spark.read.parquet(path)
    return hit


def epoch_us_col(df: DataFrame, name: str = "ts"):
    """Column `name` → platform LONG-µs epoch, timezone-independent.

    Handles every shape the driver testdata has shipped: INT64
    TIMESTAMP(NANOS) (→ LONG ns under nanosAsLong), tz-less timestamp[us]
    (→ TIMESTAMP_NTZ in Spark 4), DATE, and tz'd TIMESTAMP. The NTZ/DATE
    path assembles the epoch from pure field extractions (unix_date +
    HOUR/MINUTE/fractional SECOND) because BOTH timestampdiff() and
    timediff() on NTZ operands route through spark.sql.session.timeZone:
    under a zone whose DST gap crosses local midnight (America/Sao_Paulo,
    2000-10-08 00:00 → 01:00) they shift by the gap width — found by the
    r5 adversarial-session sweep. Field extraction on NTZ/DATE is
    calendar-only, so the result matches DuckDB epoch_us on naive
    timestamps in every session zone."""
    dtype = dict(df.dtypes)[name]
    if dtype == "bigint":
        return F.expr(f"`{name}` DIV 1000")
    if dtype == "date":
        return F.expr(f"unix_date(`{name}`) * 86400000000")
    if dtype == "timestamp_ntz":
        # every term explicitly BIGINT: MINUTE(x) * 60000000 is INT*INT
        # (6e7 fits in int32) and overflows for minutes >= 36 under ANSI.
        return F.expr(
            f"unix_date(CAST(`{name}` AS DATE)) * 86400000000"
            f" + CAST(HOUR(`{name}`) AS BIGINT) * 3600000000"
            f" + CAST(MINUTE(`{name}`) AS BIGINT) * 60000000"
            f" + CAST(date_part('SECOND', `{name}`) * 1000000 AS BIGINT)"
        )
    return F.unix_micros(F.col(name))


def epoch_ticks_col(df: DataFrame, name: str = "ts"):
    """Column `name` → LONG platform-tick epoch, in the SESSION time
    unit (core/timeunits, Constants.java:551-567): µs by default, ms/ns
    when WARP10_TIME_UNITS says so. Same dtype dispatch and the same
    timezone-independence guarantees as epoch_us_col; every arithmetic
    path is exact integer scaling of the µs assembly (the ns source
    dtype short-circuits to avoid a lossy ns→µs→ns round trip)."""
    dtype = dict(df.dtypes)[name]
    if dtype == "bigint" and tu.TIME_UNIT == "ns":
        # source physical type IS ns (nanosAsLong): native, no rescale.
        return F.col(name)
    return tu.col_us_to_units(epoch_us_col(df, name))


def events_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events table → canonical points DataFrame (one GTS per
    (event_type, user_id)). epoch_ticks_col keeps the LONG time axis
    exact in the session unit (Constants.java:51-61; µs default)."""
    ev = load_table(spark, sf_dir, "events")
    ts_us = epoch_ticks_col(ev, "ts")
    # labels_key is built by direct concat, not canonical_labels(): the
    # projection's label map is statically {user: digits}, so the canonical
    # JSON is a fixed template (no escaping, no sort needed) — this is what
    # an ingest pipeline materializes at write time, and it removes a
    # per-point to_json/array_sort from the head of every query (~2×
    # cheaper projection, measured). with_gts_id stays the generic path;
    # tests assert both forms agree bit-for-bit.
    df = ev.select(
        F.concat(F.lit("events."), F.col("event_type")).alias("class"),
        F.create_map(F.lit("user"), F.col("user_id").cast("string")).alias("labels"),
        F.create_map().cast("map<string,string>").alias("attributes"),
        ts_us.alias("ts"),
        F.lit(None).cast("double").alias("lat"),
        F.lit(None).cast("double").alias("lon"),
        F.lit(None).cast("long").alias("elev"),
        F.lit(None).cast("long").alias("v_long"),
        F.col("value").alias("v_double"),
        F.lit(None).cast("boolean").alias("v_bool"),
        F.lit(None).cast("string").alias("v_string"),
        F.col("event_id"),
        F.concat(
            F.lit('[{"key":"user","value":"'),
            F.col("user_id").cast("string"),
            F.lit('"}]'),
        ).alias("labels_key"),
    )
    return df.withColumn("gts_id", F.xxhash64(F.col("class"), F.col("labels_key")))


def _cache_key(sf_dir: str, table: str = "events") -> str:
    """Cache key for derived layouts: path + size/mtime of the source
    parquet, so an in-place testdata regeneration (it has happened
    across driver rounds) invalidates stale caches instead of silently
    serving old data."""
    import hashlib

    p = os.path.join(sf_dir, f"{table}.parquet")
    # TIME_UNIT is part of the signature: a ns/ms session must never be
    # served a µs-tick materialized layout (or vice versa).
    try:
        st = os.stat(p)
        sig = f"{sf_dir}|{table}|{st.st_size}|{int(st.st_mtime)}|{tu.TIME_UNIT}"
    except OSError:
        sig = f"{sf_dir}|{table}|{tu.TIME_UNIT}"
    return hashlib.md5(sig.encode()).hexdigest()[:10]


# the parquet row-group size of the points layout: about 1,500 rows (some
# 115 series at sf0.1), so a FETCH of a few series reads a row group or two
_ROW_GROUP_BYTES = 128 << 10


def canonical_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The points table in its canonical STORAGE layout: µs LONG ts as a
    physical column, partitioned by class — what the 100 TB lake looks
    like (SURVEY §1.6: partition by class/day, bucket by gts_id), instead
    of the on-the-fly events projection whose derived ts/class defeat
    parquet predicate pushdown.  Each class file is sorted by
    (labels_key, ts), the reference's (classId, labelsId, ts) key order,
    in row groups of _ROW_GROUP_BYTES: a series' rows are contiguous, so
    FETCH's driver route reads only the row groups that hold the series
    it matched (PointsLayout.scan).  labels_key, not the gts_id hash, so
    that a label regex's matches are neighbours too.

    Materialized once per sf_dir under the repo's .cache/ and reused;
    FETCH range + class predicates then land in PushedFilters /
    partition pruning for real.  A layout without _LAYOUT_MARKER was
    written in an older format (unsorted, say) and is written again."""
    path = _points_path(sf_dir)
    if not os.path.exists(os.path.join(path, _LAYOUT_MARKER)):
        _write_points(events_points(spark, sf_dir), path)
    return _read_parquet_memo(spark, path)


# written beside _SUCCESS once a layout of canonical_points' format is
# complete; a new format takes a new name.  Readers skip "_" files.
_LAYOUT_MARKER = "_SORTED_BY_SERIES"


def _write_points(points: DataFrame, path: str) -> None:
    """Write `points` in canonical_points' layout, then its marker.  The
    sort leads with the partition column, so it is also the order the
    partitioned writer needs, and the writer adds no sort of its own."""
    (
        points.sortWithinPartitions("class", "labels_key", "ts")
        .write.mode("overwrite")
        .option("parquet.block.size", _ROW_GROUP_BYTES)
        .partitionBy("class")
        .parquet(path)
    )
    with open(os.path.join(path, _LAYOUT_MARKER), "w") as f:
        f.write(f"sorted by class, labels_key, ts; row groups of {_ROW_GROUP_BYTES} bytes\n")


def cache_path(name: str) -> str:
    """`name` under the repo's .cache/, where materialized layouts live."""
    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    return os.path.join(root, ".cache", name)


def _points_path(sf_dir: str) -> str:
    return cache_path(f"points_{_cache_key(sf_dir)}")


class PointsLayout:
    """The canonical_points files seen from the driver, through pyarrow:
    the files that hold each class, and the directory of the series they
    hold, of the rows each series spans and of the row groups' compressed
    bytes (sources/directory.SeriesDirectory).  FETCH routes on the bytes
    of the row groups the directory picks for its selectors and, on the
    driver route, scans exactly those row groups."""

    def __init__(self, path: str):
        import pyarrow.dataset as ds

        from warp10_platform_spark.sources.directory import SeriesDirectory

        self.dataset = ds.dataset(path, format="parquet", partitioning="hive")
        self.fragments: dict[str, list] = {}
        for frag in self.dataset.get_fragments():
            cls = ds.get_partition_keys(frag.partition_expression)["class"]
            self.fragments.setdefault(cls, []).append(frag)
        self.directory = SeriesDirectory(self.fragments)

    def scan(self, pick, start: int | None, end: int | None):
        """Rows of the series of `pick` (a sources/directory.Pick with at
        least one series) with start <= ts <= end, as an ArrowGTS of the
        layout's schema, grouped by file in file order.  Only the picked
        row groups are read.  The class, labels_key and maps of each
        series come from the directory, once per series, and each row's
        series from its match there: a row is kept only if its (class,
        labels_key) is one of the picked series, so two series sharing a
        gts_id cannot mix, and a file not sorted by series (a span
        covering most of it) answers alike, only slower."""
        import numpy as np

        from warp10_platform_spark.operators.gts_kernels import SERIES_COLUMNS, ArrowGTS

        d = self.directory
        schema = self.dataset.schema
        groups, inside, row_class = d.row_groups(pick)
        t = self._read(groups, [c for c in schema.names if c == "labels_key" or c not in SERIES_COLUMNS])
        t = t.take(inside)
        rows = d.rows(row_class, t["labels_key"], pick.series)
        keep = rows >= 0
        if start is not None or end is not None:
            ts = t["ts"]
            if ts.null_count:
                # a null ts is outside any bound, as in a parquet filter
                keep &= ts.is_valid().to_numpy()
                ts = ts.fill_null(0)
            ts = ts.to_numpy()
            if start is not None:
                keep &= ts >= start
            if end is not None:
                keep &= ts <= end
        idx = np.flatnonzero(keep)
        t = t.drop_columns(["labels_key"])
        if len(idx) < t.num_rows:
            t = t.take(idx)
        return ArrowGTS(d.series(pick.series), np.searchsorted(pick.series, rows[idx]), t, schema)

    def _read(self, groups: dict, columns: list[str]):
        """`columns` of the row groups `groups` (file → row groups of that
        file), file by file."""
        import pyarrow as pa

        # a few row groups decode faster on this thread than on the pool
        files = self.directory.files
        return pa.concat_tables(
            [files[f].read_row_groups(rgs, columns=columns, use_threads=False) for f, rgs in groups.items()])


# path -> PointsLayout; the layout is write-once, like _SCANS' entries
_LAYOUTS: dict[str, PointsLayout] = {}


def points_layout(spark: SparkSession, sf_dir: str) -> PointsLayout:
    """The memoized PointsLayout of canonical_points(spark, sf_dir),
    materializing the layout first when it is missing."""
    canonical_points(spark, sf_dir)
    path = _points_path(sf_dir)
    hit = _LAYOUTS.get(path)
    if hit is None:
        hit = _LAYOUTS[path] = PointsLayout(path)
    return hit


def bucketed_points(spark: SparkSession, sf_dir: str, buckets: int = 8) -> DataFrame:
    """The points table in its co-located STORAGE layout: bucketed by
    gts_id and sorted by (gts_id, ts) inside each bucket — SURVEY §1.6's
    "bucket by gts_id" made concrete.

    Reading through the table catalog exposes the bucket spec to Catalyst,
    so every per-series operation — groupBy(gts_id, ...) aggregation AND
    Window.partitionBy(gts_id) — runs with ZERO Exchange operators
    (asserted in tests/test_plans.py): at 100 TB the entire per-series
    tier becomes shuffle-free against this layout, the single biggest
    plan-level win bucketing buys. Materialized once per sf_dir under
    .cache/ and re-registered into the session catalog on reuse."""
    key = _cache_key(sf_dir)
    name = f"points_bucketed_{key}"
    path = cache_path(name)
    return _attach_bucketed(
        spark, events_points(spark, sf_dir), name, path, "gts_id", ("gts_id", "ts"), buckets
    )


def _attach_bucketed(spark, src_df, name, path, key, sort_cols, buckets):
    """Materialize (or re-attach) a bucketed+sorted table layout.

    saveAsTable is required because parquet files alone carry no bucket
    spec — the catalog entry is what lets Catalyst trust the layout and
    drop the Exchange. On reuse across sessions the data is NOT
    rewritten: a CREATE TABLE ... CLUSTERED BY re-attaches the spec to
    the existing files."""
    if not spark.catalog.tableExists(name):
        if os.path.exists(os.path.join(path, "_SUCCESS")):
            schema = ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}" for f in src_df.schema.fields
            )
            spark.sql(
                f"CREATE TABLE {name} ({schema}) USING parquet "
                f"CLUSTERED BY ({key}) SORTED BY ({', '.join(sort_cols)}) INTO {buckets} BUCKETS "
                f"LOCATION '{path}'"
            )
        else:
            (
                src_df.write.mode("overwrite")
                .bucketBy(buckets, key)
                .sortBy(*sort_cols)
                .option("path", path)
                .saveAsTable(name)
            )
    return spark.table(name)


DAY_US = tu.us(86_400_000_000)  # one day in platform ticks (µs default)


def partitioned_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The points table in the FULL 100 TB layout from SURVEY §1.6:
    partitioned by (class, day).  canonical_points proves class pruning +
    ts row-group pushdown; this adds the day-level directory partition so
    a FETCH time range prunes whole partitions before any file is opened
    (PartitionFilters, asserted in tests/test_plans.py) — at 100 TB the
    difference between listing a few day directories and statting every
    file's footer.  `day` is derived as `ts DIV 86400000000`, a pure
    integer function of the platform µs tick, so deriving the partition
    predicate from a ts range is exact (no timezone, no calendar)."""
    key = _cache_key(sf_dir)
    path = cache_path(f"points_day_{key}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        (
            events_points(spark, sf_dir)
            .withColumn("day", F.expr(f"ts DIV {DAY_US}"))
            .write.mode("overwrite")
            .partitionBy("class", "day")
            .parquet(path)
        )
    return _read_parquet_memo(spark, path)


def bucketed_fact(spark: SparkSession, sf_dir: str, table: str, key: str, buckets: int = 8) -> DataFrame:
    """A fact table in its co-located layout: bucketed + sorted by its
    join key — the 100 TB answer to the one shuffle the TPC-H tier cannot
    broadcast away (orders⋈lineitem on orderkey, tpch.py's q3/q18/q21).

    When BOTH sides of an equi-join are bucketed by the join key with the
    same bucket count, SortMergeJoin consumes the scans directly: zero
    Exchange on either side (asserted in tests/test_plans.py). Follow-up
    groupBys whose keys INCLUDE the bucket key inherit the distribution
    (HashPartitioning on a subset satisfies the clustered requirement),
    so an entire q18-shape pipeline — per-order pre-agg, join, final
    agg — runs without shuffling a single fact row. At 100 TB this
    layout is written once at ingest and every orderkey join after is
    network-free; locally it materializes under .cache/ like
    canonical_points."""
    key_sig = _cache_key(sf_dir, table)
    name = f"{table}_by_{key}_{key_sig}"
    path = cache_path(name)
    return _attach_bucketed(
        spark, load_table(spark, sf_dir, table), name, path, key, (key,), buckets
    )
