"""GTSFrame — the fluent API over the points DataFrame.

This is the engine's replacement for the reference's WarpScript stack
(SURVEY §3.1): a script like

    [ $token 'sensor.temp' { 'site' '~eu-.*' } $start $end ] FETCH
    [ SWAP bucketizer.mean 0 5 m 0 ] BUCKETIZE
    [ SWAP [ 'site' ] reducer.max ] REDUCE

becomes

    gf = GTSFrame.fetch(spark, points, "sensor.temp{site~eu-.*}", start, end)
    gf.bucketize("bucketizer.mean", span=5*60*1_000_000)
      .reduce_("reducer.max", by=["site"])

Every method is lazy — it appends DataFrame transformations; Catalyst
parses/optimizes/plans at action time, which is the reference's missing
query optimizer (SURVEY §4.1) obtained for free.

A frame can instead hold its points in driver memory as Arrow (`arrow`,
an operators/gts_kernels.ArrowGTS), when FETCH answers a small request on
the driver (the row groups its directory lookup picks are under
_LOCAL_MAX_BYTES): each series' class, labels_key and maps once, the
other columns once per point, and the series of each point.  BUCKETIZE,
MAP and REDUCE then run as numpy kernels (operators/gts_kernels.py) where
one covers the case, each handing the series on; any other op reads `df`
and continues in Spark, from the points as one Table (`table`).  A FETCH
frame, its lookup done, holds both routes lazily: its `df` is the Spark
scan plan and its `arrow` the scan of the picked row groups, so an op
without a kernel runs the plan the Spark route would, and reads nothing
on the driver.  The /exec response renders every frame from an ArrowGTS
(`__main__._render_arrow`): `arrow` here, or a Spark frame's points
collected with `toArrow()`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from warp10_platform_spark.core.schema import with_gts_id
from warp10_platform_spark.core.selector import selector_predicate
from warp10_platform_spark.operators import fill as _fill
from warp10_platform_spark.operators import filters as _filters
from warp10_platform_spark.operators import gts_kernels as _gk
from warp10_platform_spark.operators import mapper as _mapper
from warp10_platform_spark.operators import reduce_apply as _ra
from warp10_platform_spark.operators import reshape as _reshape
from warp10_platform_spark.operators import sort as _sort
from warp10_platform_spark.operators.bucketize import (
    BucketSpec,
    bucketize as _bucketize,
    merge_bucketspecs as _merge_specs,
)


class GTSFrame:
    """A (lazy) set of Geo Time Series = points DataFrame + bucket metadata.

    `value_col` names the current value column ('v_double' on raw points,
    'v_agg' after bucketize, ...), so chained operators compose without
    copying columns around.
    """

    def __init__(self, df, bucketspec: BucketSpec | None = None, value_col: str = "v_double",
                 *, table=None, spark: SparkSession | None = None):
        # `df` is a DataFrame, a function that plans it (a FETCH frame's
        # Spark scan), or None to build it from `table`
        self._df = df
        self.bucketspec = bucketspec
        self.value_col = value_col
        # Arrow-backed frames: the points as an ArrowGTS, a pyarrow Table
        # or a function that scans the row groups FETCH picked and counted
        # against its gate, and the session that builds `df` from them
        self._table = table
        self.spark = spark

    @property
    def df(self) -> DataFrame:
        if self._df is None:
            self._df = _gk.to_spark(self.spark, self.table)
        elif callable(self._df):
            self._df = self._df()
        return self._df

    @property
    def local(self) -> bool:
        """Whether the points are (or can be scanned into) Arrow."""
        return self._table is not None

    @property
    def arrow(self) -> _gk.ArrowGTS | None:
        """The points as an ArrowGTS (None on a Spark-only frame); a FETCH
        frame scans them on first access, and a frame given a Table works
        out its series then."""
        if callable(self._table):
            self._table = self._table()
        if self._table is not None and not isinstance(self._table, _gk.ArrowGTS):
            self._table = _gk.ArrowGTS.from_table(self._table)
        return self._table

    @property
    def table(self):
        """The points as one pyarrow Table (None on a Spark-only frame)."""
        return None if self.arrow is None else self.arrow.table

    def _local(self, points, bucketspec: BucketSpec | None, value_col: str) -> "GTSFrame":
        return GTSFrame(None, bucketspec, value_col, table=points, spark=self.spark)

    # ---- construction ----

    @classmethod
    def from_points(cls, df: DataFrame) -> "GTSFrame":
        if "gts_id" not in df.columns or "labels_key" not in df.columns:
            df = with_gts_id(df)
        return cls(df)

    @classmethod
    def fetch(
        cls,
        points: DataFrame,
        selector: str | None = None,
        start: int | None = None,
        end: int | None = None,
        count: int | None = None,
    ) -> "GTSFrame":
        """FETCH (FETCH.java:99): selector + time-range scan. The predicate
        lands in the Parquet scan (pushdown); `count` = last-n-per-series
        (count-based fetch, FETCH.java:128) via a descending window."""
        df = points
        if selector:
            df = df.where(selector_predicate(selector))
        if start is not None:
            df = df.where(F.col("ts") >= start)
        if end is not None:
            df = df.where(F.col("ts") <= end)
        gf = cls.from_points(df)
        if count is not None:
            from pyspark.sql import Window

            w = Window.partitionBy("gts_id").orderBy(F.col("ts").desc())
            gf = GTSFrame(
                gf.df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") <= count).drop("_rn"),
                value_col=gf.value_col,
            )
        return gf

    @classmethod
    def fetch_with_boundary(
        cls,
        points: DataFrame,
        selector: str | None,
        start: int,
        end: int,
        boundary_pre: int = 0,
        boundary_post: int = 0,
    ) -> "GTSFrame":
        """FETCH with boundary.pre/post (FETCH.java boundary params): the
        range scan plus up to N points per series immediately BEFORE start
        and AFTER end — the as-of context every rate/fill at a range edge
        needs. One scan, one window: rank points outside the range by
        distance from the boundary and keep the nearest N."""
        from pyspark.sql import Window

        df = points
        if selector:
            df = df.where(selector_predicate(selector))
        df = with_gts_id(df) if "gts_id" not in df.columns else df
        inside = (F.col("ts") >= start) & (F.col("ts") <= end)
        wpre = Window.partitionBy("gts_id").orderBy(F.col("ts").desc())
        wpost = Window.partitionBy("gts_id").orderBy(F.col("ts").asc())
        pre_rank = F.row_number().over(wpre)
        post_rank = F.row_number().over(wpost)
        before = df.where(F.col("ts") < start).withColumn("_rn", pre_rank).where(
            F.col("_rn") <= boundary_pre
        ).drop("_rn")
        after = df.where(F.col("ts") > end).withColumn("_rn", post_rank).where(
            F.col("_rn") <= boundary_post
        ).drop("_rn")
        return cls(df.where(inside).unionByName(before).unionByName(after))

    def skip(self, n: int) -> "GTSFrame":
        """FETCH skip parameter: drop the first n points per series."""
        from pyspark.sql import Window

        w = Window.partitionBy("gts_id").orderBy("ts")
        return self._wrap(
            self.df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") > n).drop("_rn")
        )

    def thin(self, step: int = 1, timestep: int = 1) -> "GTSFrame":
        """FETCH step/timestep params (FETCH.java:129-130, scan semantics
        MultiScanGTSDecoderIterator.java:380-420): iterate each series in
        DESCENDING time; a point survives `timestep` if its tick is at
        least `timestep` older than the last surviving tick (greedy from
        the newest point), and `step` then keeps every step-th survivor.
        The greedy carry makes this sequential per series → Arrow-batched
        applyInPandas (same class as LTTB), not a window."""
        if step <= 1 and timestep <= 1:
            return self
        import pandas as pd

        schema = self.df.schema
        stp, tstep = int(step), int(timestep)

        def _thin(pdf: "pd.DataFrame") -> "pd.DataFrame":
            pdf = pdf.sort_values("ts", ascending=False)
            nxt = None  # None = +inf (first point always passes timestep)
            steps = 0
            keep = []
            for t in pdf["ts"]:
                if nxt is not None and t > nxt:
                    keep.append(False)
                    continue
                nxt = t - tstep
                if steps > 0:
                    steps -= 1
                    keep.append(False)
                else:
                    steps = stp - 1
                    keep.append(True)
            return pdf[pd.Series(keep, index=pdf.index)]

        return self._wrap(self.df.groupBy("gts_id").applyInPandas(_thin, schema))

    def sample(self, rate: float) -> "GTSFrame":
        """FETCH sample parameter: deterministic hash-based point sampling
        (md5 of class|labels_key|ts — reproducible across runs AND
        engines, unlike rand(); the reference seeds a PRNG per request)."""
        bucket = F.expr(
            "cast(conv(substr(md5(concat(class, '|', labels_key, '|', cast(ts AS string))), 1, 8), 16, 10) AS bigint) % 10000"
        )
        return self._wrap(self.df.where(bucket < int(rate * 10000)))

    # ---- frame ops ----

    def bucketize(self, bucketizer: str, span: int, lastbucket: int | None = None,
                  bucketcount: int | None = None, p: float | None = None) -> "GTSFrame":
        if self.local and _gk.covers(bucketizer, _gk.BUCKETIZERS):
            local = _gk.bucketize(self.arrow, bucketizer, span, lastbucket, bucketcount, self.value_col, p)
            if local is not None:
                return self._local(*local, "v_agg")
        out, spec = _bucketize(self.df, bucketizer, span, lastbucket, bucketcount, value_col=self.value_col, p=p)
        return GTSFrame(out, bucketspec=spec, value_col="v_agg")

    def map_aggregate(self, mapper: str, pre: int = 0, post: int = 0, p: float | None = None) -> "GTSFrame":
        if self.local and _gk.covers(mapper, _gk.WINDOW_MAPPERS):
            local = _gk.map_window(self.arrow, mapper, pre, post, self.value_col)
            if local is not None:
                return self._local(local, self.bucketspec, "v_mapped")
        out = _mapper.map_aggregate(self.df, mapper, pre, post, value_col=self.value_col, p=p)
        return GTSFrame(out, self.bucketspec, value_col="v_mapped")

    def map_scalar(self, mapper: str, param=None) -> "GTSFrame":
        out = _mapper.map_scalar(self.df, mapper, param, value_col=self.value_col)
        return GTSFrame(out, self.bucketspec, value_col="v_mapped")

    def delta(self) -> "GTSFrame":
        return GTSFrame(_mapper.map_delta_prev(self.df, self.value_col), self.bucketspec, "v_mapped")

    def rate(self) -> "GTSFrame":
        return GTSFrame(_mapper.map_rate_prev(self.df, self.value_col), self.bucketspec, "v_mapped")

    def reduce_(self, reducer: str, by: list[str], p: float | None = None) -> DataFrame:
        """Terminal: returns the reduced DataFrame (one series per label
        equivalence class)."""
        return _ra.reduce_gts(self.df, reducer, by, value_col=self.value_col, p=p)

    def apply_op(self, other: "GTSFrame", op: str, by: list[str], broadcast_other: bool = False) -> DataFrame:
        return _ra.apply_op(self.df, other.df, op, by, value_col=self.value_col, broadcast_right=broadcast_other)

    @staticmethod
    def _canonical_eq(df: DataFrame, by: list[str], value_col: str, klass: str) -> DataFrame:
        """Reduced/applied output (label_k..., ts, value) → canonical
        series columns so every bucket-aware operator (FILL, MAP, ...)
        consumes it unchanged: labels = the equivalence-class labels
        (null/absent labels omitted, like the reference's partition
        labels), labels_key/gts_id recomputed canonically."""
        from warp10_platform_spark.core.schema import with_gts_id

        entries = F.filter(
            F.array(*[
                F.struct(F.lit(k).alias("key"), F.col(f"label_{k}").alias("value"))
                for k in by
            ]),
            lambda e: e["value"].isNotNull(),
        ) if by else F.array().cast("array<struct<key:string,value:string>>")
        out = with_gts_id(
            df.withColumn("labels", F.map_from_entries(entries)).withColumn(
                "class", F.lit(klass)
            )
        )
        return out.select("gts_id", "class", "labels_key", "labels", "ts", value_col)

    def reduce_frame(self, reducer: str, by: list[str], p: float | None = None, klass: str = "") -> "GTSFrame":
        """REDUCE with bucketization propagation (GTSHelper.java:
        8196-8247): every series in this frame shares its BucketSpec, so
        the congruence merge over the partition inputs is the spec
        itself when bucketized, None otherwise — carried on the result
        frame so a following FILL can scaffold the grid."""
        spec = _merge_specs(self.bucketspec)
        if self.local and p is None and _gk.covers(reducer, _gk.REDUCERS):
            local = _gk.reduce(self.arrow, reducer, by, self.value_col, klass)
            if local is not None:
                return self._local(local, spec, "v_reduced")
        out = _ra.reduce_gts(self.df, reducer, by, value_col=self.value_col, p=p)
        return GTSFrame(
            self._canonical_eq(out, by, "v_reduced", klass), bucketspec=spec, value_col="v_reduced"
        )

    def apply_frame(
        self, other: "GTSFrame", op: str, by: list[str], broadcast_other: bool = False, klass: str = ""
    ) -> "GTSFrame":
        """APPLY with the same congruence rule across BOTH operand
        frames: same span + congruent lastbucket → merged spec (union
        grid extent); anything else → unbucketized result."""
        out = _ra.apply_op(
            self.df, other.df, op, by, value_col=self.value_col, broadcast_right=broadcast_other
        )
        spec = _merge_specs(self.bucketspec, other.bucketspec)
        return GTSFrame(
            self._canonical_eq(out, by, "v_op", klass), bucketspec=spec, value_col="v_op"
        )

    # ---- fill (requires bucketized frame) ----

    def _scaffolded(self) -> DataFrame:
        assert self.bucketspec is not None, "FILL requires a bucketized GTSFrame"
        return _fill.scaffold(self.df, self.bucketspec)

    def fillprevious(self) -> "GTSFrame":
        return GTSFrame(_fill.fill_previous(self._scaffolded(), self.value_col), self.bucketspec, self.value_col)

    def fillnext(self) -> "GTSFrame":
        return GTSFrame(_fill.fill_next(self._scaffolded(), self.value_col), self.bucketspec, self.value_col)

    def fillvalue(self, v) -> "GTSFrame":
        return GTSFrame(_fill.fill_value(self._scaffolded(), v, self.value_col), self.bucketspec, self.value_col)

    def filllinear(self) -> "GTSFrame":
        return GTSFrame(_fill.fill_linear(self._scaffolded(), self.value_col), self.bucketspec, self.value_col)

    # ---- reshaping (delegation; each returns a new GTSFrame) ----

    def timeclip(self, start: int, end: int) -> "GTSFrame":
        return self._wrap(_reshape.timeclip(self.df, start, end))

    def clip(self, ranges) -> "GTSFrame":
        return self._wrap(_reshape.clip(self.df, ranges))

    def timeshift(self, delta: int) -> "GTSFrame":
        return self._wrap(_reshape.timeshift(self.df, delta))

    def timescale(self, k: float) -> "GTSFrame":
        return self._wrap(_reshape.timescale(self.df, k))

    def tickindex(self) -> "GTSFrame":
        return self._wrap(_reshape.tickindex(self.df))

    def chunk(self, width: int, lastchunk: int | None = None) -> "GTSFrame":
        return self._wrap(_reshape.chunk(self.df, width, lastchunk))

    def timesplit(self, quiet_us: int) -> "GTSFrame":
        return self._wrap(_reshape.timesplit(self.df, quiet_us))

    def dedup(self) -> "GTSFrame":
        return self._wrap(_reshape.dedup(self.df, self.value_col))

    def valuededup(self) -> "GTSFrame":
        return self._wrap(_reshape.valuededup(self.df, self.value_col))

    def compact(self, preserve_ranges: bool = False) -> "GTSFrame":
        return self._wrap(_reshape.compact(self.df, self.value_col, preserve_ranges))

    def normalize(self) -> "GTSFrame":
        return GTSFrame(_reshape.normalize(self.df, self.value_col), self.bucketspec, "v_norm")

    def standardize(self) -> "GTSFrame":
        return GTSFrame(_reshape.standardize(self.df, self.value_col), self.bucketspec, "v_std")

    def isonormalize(self) -> "GTSFrame":
        return GTSFrame(_reshape.isonormalize(self.df, self.value_col), self.bucketspec, "v_norm")

    def quantize(self, bounds) -> "GTSFrame":
        return GTSFrame(_reshape.quantize(self.df, bounds, self.value_col), self.bucketspec, "v_q")

    def monotonic(self) -> "GTSFrame":
        return GTSFrame(_reshape.monotonic(self.df, self.value_col), self.bucketspec, "v_mono")

    def integrate(self) -> "GTSFrame":
        return GTSFrame(_reshape.integrate(self.df, self.value_col), self.bucketspec, "v_int")

    def shrink(self, n: int) -> "GTSFrame":
        return self._wrap(_reshape.shrink(self.df, n))

    # ---- filters ----

    def filter_byclass(self, regex: str) -> "GTSFrame":
        return self._wrap(_filters.filter_byclass(self.df, regex))

    def filter_bylabels(self, clauses: dict[str, str]) -> "GTSFrame":
        return self._wrap(_filters.filter_bylabels(self.df, clauses))

    def filter_bysize(self, mn: int = 0, mx: int | None = None) -> "GTSFrame":
        return self._wrap(_filters.filter_bysize(self.df, mn, mx))

    def filter_last(self, cmp: str, threshold) -> "GTSFrame":
        return self._wrap(_filters.filter_last(self.df, cmp, threshold, self.value_col))

    # ---- sort / topk ----

    def topk(self, k: int, lowest: bool = False) -> "GTSFrame":
        return self._wrap(_sort.topk_per_series(self.df, k, self.value_col, lowest))

    def lastsort(self, reverse: bool = False) -> DataFrame:
        return _sort.lastsort(self.df, self.value_col, reverse)

    def lttb(self, threshold: int) -> "GTSFrame":
        return self._wrap(_sort.lttb(self.df, threshold, self.value_col))

    # ---- bucket-grid accessors (GeoTimeSerie.java:80-96) ----

    def lastbucket(self) -> int | None:
        """LASTBUCKET (LASTBUCKET.java): 0/None when not bucketized."""
        return self.bucketspec.lastbucket if self.bucketspec else None

    def bucketspan(self) -> int | None:
        """BUCKETSPAN (BUCKETSPAN.java)."""
        return self.bucketspec.bucketspan if self.bucketspec else None

    def bucketcount(self) -> int | None:
        """BUCKETCOUNT (BUCKETCOUNT.java)."""
        return self.bucketspec.bucketcount if self.bucketspec else None

    def unbucketize(self) -> "GTSFrame":
        """UNBUCKETIZE (GTSHelper.unbucketize:2676): drop grid metadata."""
        return GTSFrame(self.df, None, self.value_col)

    def onlybuckets(self) -> "GTSFrame":
        """ONLYBUCKETS: keep only points ON the bucket grid."""
        assert self.bucketspec is not None, "ONLYBUCKETS requires a bucketized GTSFrame"
        s = self.bucketspec
        on_grid = ((F.lit(s.lastbucket) - F.col("ts")) % F.lit(s.bucketspan)) == 0
        return self._wrap(self.df.where(on_grid & (F.col("ts") <= s.lastbucket)))

    def crop(self) -> "GTSFrame":
        """CROP (CROP.java): clip to the bucket grid extent."""
        assert self.bucketspec is not None, "CROP requires a bucketized GTSFrame"
        s = self.bucketspec
        return self._wrap(_reshape.crop(self.df, s.lastbucket, s.bucketspan, s.bucketcount))

    def bucketize_calendar(self, bucketizer: str, unit: str = "day", tz: str = "UTC",
                           p: float | None = None) -> "GTSFrame":
        from warp10_platform_spark.operators.bucketize import bucketize_calendar as _bc

        return GTSFrame(_bc(self.df, bucketizer, unit, tz, self.value_col, p=p), None, "v_agg")

    # ---- identity rewrites ----

    def rename(self, name: str) -> "GTSFrame":
        return self._wrap(_reshape.rename(self.df, name))

    def relabel(self, changes: dict) -> "GTSFrame":
        return self._wrap(_reshape.relabel(self.df, changes))

    def attick(self, tick: int) -> "GTSFrame":
        return self._wrap(_reshape.attick(self.df, tick))

    def atindex(self, index: int) -> "GTSFrame":
        return self._wrap(_reshape.atindex(self.df, index))

    def rangecompact(self) -> "GTSFrame":
        return self._wrap(_reshape.rangecompact(self.df, self.value_col))

    # ---- projections (VALUES/TICKS/NAME/LABELS, SURVEY §2.2) ----

    def values(self) -> DataFrame:
        """VALUES (VALUES.java): the value column per series."""
        return self.df.select("gts_id", "class", "labels_key", self.value_col)

    def ticks(self) -> DataFrame:
        """TICKS (TICKS.java)."""
        return self.df.select("gts_id", "class", "labels_key", "ts")

    def names(self) -> DataFrame:
        """NAME (NAME.java): distinct class names."""
        return self.df.select("class").distinct()

    def labels(self) -> DataFrame:
        """LABELS (LABELS.java): one labels map per series."""
        return self.df.select("gts_id", "class", "labels_key", "labels").dropDuplicates(
            ["gts_id", "class", "labels_key"]
        )

    # ---- geo (operators/geo.py) ----

    def hdist(self) -> DataFrame:
        from warp10_platform_spark.operators import geo as _geo

        return _geo.hdist(self.df)

    def hspeed(self) -> "GTSFrame":
        from warp10_platform_spark.operators import geo as _geo

        return GTSFrame(_geo.hspeed(self.df), self.bucketspec, "speed_ms")

    def geo_within(self, lat_min, lat_max, lon_min, lon_max) -> "GTSFrame":
        from warp10_platform_spark.operators import geo as _geo

        return self._wrap(_geo.geo_within_bbox(self.df, lat_min, lat_max, lon_min, lon_max))

    # ---- custom predicates / misc ----

    def mfilter(self, fn) -> "GTSFrame":
        return self._wrap(_filters.mfilter(self.df, fn, self.value_col))

    def unique(self) -> "GTSFrame":
        return self._wrap(_filters.unique(self.df, self.value_col))

    def fillticks(self, ticks: list[int]) -> "GTSFrame":
        return self._wrap(_fill.fillticks(self.df, ticks, self.value_col))

    # ---- plumbing ----

    def _wrap(self, df: DataFrame) -> "GTSFrame":
        return GTSFrame(df, self.bucketspec, self.value_col)

    def where(self, cond) -> "GTSFrame":
        return self._wrap(self.df.where(cond))

    def select_output(self, *extra) -> DataFrame:
        """Project to the canonical output shape (class, labels_key, ts, value)."""
        cols = ["class", "labels_key", "ts", self.value_col]
        return self.df.select(*[c for c in cols if c in self.df.columns], *extra)
