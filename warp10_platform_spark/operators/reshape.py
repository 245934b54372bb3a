"""Series reshaping — SURVEY §2.8: the core TSDB ops with no SQL keyword.

All pure Column/Window expressions (whole-stage codegen; no UDFs).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from warp10_platform_spark.core import timeunits as tu

SERIES_KEYS = ["gts_id", "class", "labels_key"]


def _w():
    return Window.partitionBy("gts_id").orderBy("ts")


def timeclip(df: DataFrame, start: int, end: int) -> DataFrame:
    """TIMECLIP (TIMECLIP.java:31): keep points with start <= ts <= end."""
    return df.where(F.col("ts").between(start, end))


def clip(df: DataFrame, ranges: list[tuple[int, int]]) -> DataFrame:
    """CLIP (CLIP.java:33): OR of multiple time ranges."""
    pred = F.lit(False)
    for s, e in ranges:
        pred = pred | F.col("ts").between(s, e)
    return df.where(pred)


def timeshift(df: DataFrame, delta: int) -> DataFrame:
    """TIMESHIFT (TIMESHIFT.java:28): translate ticks."""
    return df.withColumn("ts", F.col("ts") + F.lit(delta))


def timescale(df: DataFrame, factor: float) -> DataFrame:
    """TIMESCALE (TIMESCALE.java:29): multiply ticks."""
    return df.withColumn("ts", (F.col("ts") * F.lit(factor)).cast("long"))


def tickindex(df: DataFrame) -> DataFrame:
    """TICKINDEX (TICKINDEX.java:29; GTSHelper.tickindex:6205): replace
    ticks by their 0-based rank within the series."""
    return df.withColumn("ts", F.row_number().over(_w()).cast("long") - 1)


def timemodulo(df: DataFrame, period: int, label: str = "quotient") -> DataFrame:
    """TIMEMODULO (TIMEMODULO.java:39): split each series by ts % period —
    the quotient becomes a new label (new sub-series identity); ticks
    become the remainder."""
    # integer division (ts DIV period): float division + cast can round up
    # across an integer boundary for µs-scale ticks, `div` cannot.
    quot = F.expr(f"ts div {int(period)}")
    return with_label(df, label, quot).withColumn("ts", F.col("ts") % F.lit(period))


def chunk(df: DataFrame, width: int, lastchunk: int | None = None, label: str = "chunkid") -> DataFrame:
    """CHUNK (CHUNK.java:37): split each series into fixed-duration
    sub-series; chunk id goes into a new label. Grid anchored at lastchunk
    like BUCKETIZE. Pure column math — the 'split' is just a new identity
    column; no shuffle until the next grouped op."""
    if lastchunk is None:
        anchor = F.max("ts").over(Window.partitionBy("gts_id"))
    else:
        anchor = F.lit(lastchunk)
    cid = F.floor((anchor - F.col("ts")) / F.lit(width)).cast("long")
    return with_label(df, label, cid)


def session_ids(quiet_us: int) -> Column:
    """Each point's session within its series: the number of gaps between
    consecutive ticks above `quiet_us` up to it — the batch
    sessionization pattern (lag + cumsum)."""
    gap = F.col("ts") - F.lag("ts", 1).over(_w())
    brk = F.when(gap > quiet_us, 1).otherwise(0)
    return F.sum(brk).over(Window.partitionBy("gts_id").orderBy("ts").rowsBetween(Window.unboundedPreceding, 0))


def timesplit(df: DataFrame, quiet_us: int, label: str = "timesplit") -> DataFrame:
    """TIMESPLIT (TIMESPLIT.java:34): split a series when the gap between
    consecutive ticks exceeds `quiet_us`; the session id (also kept as
    `session_id`) becomes the new label."""
    return with_label(df.withColumn("session_id", session_ids(quiet_us)), label, F.col("session_id"))


def dedup(df: DataFrame, value_col: str = "v_double") -> DataFrame:
    """DEDUP (DEDUP.java:33; GTSHelper.dedup:7198): remove duplicate TICKS
    within a series, keeping one point per tick. The reference keeps the
    LAST value encountered in storage order; a distributed frame has no
    storage order, so we use a deterministic last-wins proxy: highest value
    (nulls last) wins. One row per (gts_id, ts) survives."""
    w = Window.partitionBy("gts_id", "ts").orderBy(F.col(value_col).desc_nulls_last())
    return df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")


def valuededup(df: DataFrame, value_col: str = "v_double") -> DataFrame:
    """VALUEDEDUP (VALUEDEDUP.java): keep first occurrence of each value
    per series (by tick order)."""
    w = Window.partitionBy("gts_id", value_col).orderBy("ts")
    return df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")


def compact(df: DataFrame, value_col: str = "v_double", preserve_ranges: bool = False) -> DataFrame:
    """COMPACT (COMPACT.java:44 calls GTSHelper.compact(gts, false)): drop
    consecutive repeated values keeping only the FIRST point of each run.
    preserve_ranges=True keeps first AND last of each run (edges preserved
    so plots/deltas stay correct). lag/lead change detection."""
    w = _w()
    v = F.col(value_col)
    keep = F.lag(value_col, 1).over(w).isNull() | (v != F.lag(value_col, 1).over(w))
    if preserve_ranges:
        keep = keep | F.lead(value_col, 1).over(w).isNull() | (v != F.lead(value_col, 1).over(w))
    return df.withColumn("_keep", keep).where(F.col("_keep")).drop("_keep")


def normalize(df: DataFrame, value_col: str = "v_double", out_col: str = "v_norm") -> DataFrame:
    """NORMALIZE (NORMALIZE.java:30): per-series 0-1 min/max scaling.
    Constant series normalize to 0 (reference behavior: range 0 → value 0)."""
    wp = Window.partitionBy("gts_id")
    mn, mx = F.min(value_col).over(wp), F.max(value_col).over(wp)
    return df.withColumn(out_col, F.when(mx == mn, F.lit(0.0)).otherwise((F.col(value_col) - mn) / (mx - mn)))


def standardize(df: DataFrame, value_col: str = "v_double", out_col: str = "v_std") -> DataFrame:
    """STANDARDIZE (STANDARDIZE.java:30): per-series z-score (sample sd)."""
    wp = Window.partitionBy("gts_id")
    mu, sd = F.avg(value_col).over(wp), F.stddev_samp(value_col).over(wp)
    return df.withColumn(out_col, F.when(sd == 0.0, F.lit(0.0)).otherwise((F.col(value_col) - mu) / sd))


def isonormalize(df: DataFrame, value_col: str = "v_double", out_col: str = "v_norm") -> DataFrame:
    """ISONORMALIZE (ISONORMALIZE.java): 0-1 scaling with GLOBAL min/max
    across all series (one global agg broadcast by Catalyst)."""
    w = Window.partitionBy()
    mn, mx = F.min(value_col).over(w), F.max(value_col).over(w)
    return df.withColumn(out_col, F.when(mx == mn, F.lit(0.0)).otherwise((F.col(value_col) - mn) / (mx - mn)))


def quantize(df: DataFrame, bounds: list[float], value_col: str = "v_double", out_col: str = "v_q") -> DataFrame:
    """QUANTIZE (QUANTIZE.java:35): map values to the index of the first
    bound that exceeds them (width_bucket-style)."""
    expr = F.lit(len(bounds))
    for i in reversed(range(len(bounds))):
        expr = F.when(F.col(value_col) <= F.lit(bounds[i]), F.lit(i)).otherwise(expr)
    return df.withColumn(out_col, expr)


def monotonic(df: DataFrame, value_col: str = "v_double", out_col: str = "v_mono") -> DataFrame:
    """MONOTONIC (MONOTONIC.java:35): running max per series."""
    w = _w().rowsBetween(Window.unboundedPreceding, 0)
    return df.withColumn(out_col, F.max(value_col).over(w))


def integrate(df: DataFrame, value_col: str = "v_double", out_col: str = "v_int") -> DataFrame:
    """INTEGRATE (INTEGRATE.java:28): cumulative trapezoidal integral over
    time (seconds).

    Per-segment areas are computed in double (deterministic row-local IEEE
    ops), then quantized to integer micro-units and ACCUMULATED as BIGINT:
    integer sums are exact and order-independent, so the result is
    reproducible regardless of how an engine organizes window aggregation
    (plain running sum vs segment-tree). Quantization error is 5e-7 per
    segment — far below sensor noise; scale-0 round() ties are exactly
    representable doubles so the quantization itself is engine-portable."""
    w = _w()
    v, ts = F.col(value_col), F.col("ts")
    seg = (v + F.lag(value_col, 1).over(w)) / 2.0 * ((ts - F.lag("ts", 1).over(w)) / F.lit(float(tu.UNITS_PER_S)))
    seg_q = F.round(seg * 1_000_000).cast("long")
    cum = Window.partitionBy("gts_id").orderBy("ts").rowsBetween(Window.unboundedPreceding, 0)
    total = F.sum(seg_q).over(cum) / F.lit(1_000_000.0)
    return df.withColumn(out_col, F.coalesce(total, F.lit(0.0)))


def crop(df: DataFrame, lastbucket: int, bucketspan: int, bucketcount: int) -> DataFrame:
    """CROP (CROP.java): restrict a bucketized series to its bucket grid
    [lastbucket - span*count, lastbucket]."""
    return df.where(
        (F.col("ts") <= lastbucket) & (F.col("ts") > lastbucket - bucketspan * bucketcount)
    )


def rangecompact(df: DataFrame, value_col: str = "v_double") -> DataFrame:
    """RANGECOMPACT (RANGECOMPACT.java:32 → GTSHelper.compact(gts, true)):
    drop constant runs but keep both edges."""
    return compact(df, value_col, preserve_ranges=True)


def attick(df: DataFrame, tick: int) -> DataFrame:
    """ATTICK (ATTICK.java): the point of each series at an exact tick."""
    return df.where(F.col("ts") == tick)


def atbucket(df: DataFrame, lastbucket: int, bucketspan: int, bucket_index: int) -> DataFrame:
    """ATBUCKET (ATBUCKET.java:31): the point of each series at bucket
    index i (0 = the lastbucket bucket, counting backwards)."""
    return df.where(F.col("ts") == lastbucket - bucket_index * bucketspan)


def atindex(df: DataFrame, index: int) -> DataFrame:
    """ATINDEX (ATINDEX.java): the point at 0-based index per series
    (negative = from the end, like the reference's -1 = last)."""
    if index >= 0:
        w = _w()
        return df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == index + 1).drop("_rn")
    w = Window.partitionBy("gts_id").orderBy(F.col("ts").desc())
    return df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == -index).drop("_rn")


def _regen_identity(df: DataFrame) -> DataFrame:
    """Recompute labels_key + gts_id after an identity rewrite
    (the reference recomputes classId/labelsId on RENAME/RELABEL)."""
    from warp10_platform_spark.core.schema import with_gts_id

    return with_gts_id(df.drop("labels_key", "gts_id"))


def with_label(df: DataFrame, label: str, value: Column) -> DataFrame:
    """A split's sub-series (TIMEMODULO, CHUNK, TIMESPLIT, MOTIONSPLIT,
    VALUESPLIT): `label` set to `value` as a string, replacing a label of
    that name, and the series identity recomputed as RELABEL does."""
    labels = F.map_filter("labels", lambda k, _: k != label)
    labels = F.map_concat(labels, F.create_map(F.lit(label), value.cast("string")))
    return _regen_identity(df.withColumn("labels", labels))


def rename(df: DataFrame, name: str) -> DataFrame:
    """RENAME (RENAME.java:34): set class name; a leading '+' suffixes the
    current name instead (reference convention)."""
    if name.startswith("+"):
        new = F.concat(F.col("class"), F.lit(name[1:]))
    else:
        new = F.lit(name)
    return _regen_identity(df.withColumn("class", new))


def relabel(df: DataFrame, changes: dict[str, str | None]) -> DataFrame:
    """RELABEL (RELABEL.java:37): merge label changes; a None value drops
    the label (reference: NULL removes; absent keys unchanged)."""
    drops = [k for k, v in changes.items() if v is None]
    sets = {k: v for k, v in changes.items() if v is not None}
    labels = F.col("labels")
    if drops:
        labels = F.map_filter(labels, lambda k, _: ~k.isin(drops))
    if sets:
        pairs = []
        for k, v in sets.items():
            pairs += [F.lit(k), F.lit(v)]
        labels = F.map_concat(F.map_filter(labels, lambda k, _: ~k.isin(list(sets))), F.create_map(*pairs))
    return _regen_identity(df.withColumn("labels", labels))


def shuffle(df: DataFrame, seed: int = 42) -> DataFrame:
    """SHUFFLE (SHUFFLE.java): random point order. Order is not
    observable in the frame model until an ORDER BY, so this materializes
    a deterministic pseudo-random rank column consumers may sort on."""
    return df.withColumn("shuffle_rank", F.xxhash64(F.col("gts_id"), F.col("ts"), F.lit(seed)))


def pivot(df: DataFrame, on: str = "class", value_col: str = "v_double", values: list[str] | None = None) -> DataFrame:
    """PIVOT/TOMVS: series-per-class → one wide row per (labels, tick)
    with a column per class — the multivariate view (MVSPLIT inverse).
    max() so colliding duplicate ticks resolve deterministically.
    groupBy().pivot() without an explicit `values` list triggers one
    distinct-scan — pass the classes at scale."""
    p = df.groupBy("labels_key", "ts").pivot(on, values) if values else df.groupBy("labels_key", "ts").pivot(on)
    return p.agg(F.max(value_col))


def mvsplit(df: DataFrame, value_cols: list[str], class_prefix: str = "") -> DataFrame:
    """MVSPLIT: one multivariate row → one row per (variable, tick) —
    stack/melt via an inline array of structs (no shuffle)."""
    entries = F.array(
        *[
            F.struct(F.lit(class_prefix + c).alias("class"), F.col(c).cast("double").alias("v_double"))
            for c in value_cols
        ]
    )
    ex = df.withColumn("_e", F.explode(entries))
    return ex.select(
        F.col("_e.class").alias("class"),
        *[c for c in df.columns if c not in value_cols],
        F.col("_e.v_double"),
    ).where(F.col("v_double").isNotNull())


def shrink(df: DataFrame, n: int) -> DataFrame:
    """SHRINK (SHRINK.java:31): truncate each series to its first n points
    (negative n → last n)."""
    if n >= 0:
        w = _w()
        return df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") <= n).drop("_rn")
    w = Window.partitionBy("gts_id").orderBy(F.col("ts").desc())
    return df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") <= -n).drop("_rn")


def max_tick_sliding_window(df: DataFrame, n: int, order_col: str = "event_id") -> DataFrame:
    """MAXTICKSLIDINGWINDOW (functions/MaxTickSlidingWindow.java:24): cap
    each series to its most recent n points. Batch analog of the
    streaming encoder cap — ties on ts broken deterministically by
    order_col so the kept set is stable across engines/partitionings."""
    w = Window.partitionBy("gts_id").orderBy(F.col("ts").desc(), F.col(order_col).desc())
    return df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") <= n).drop("_rn")


def max_time_sliding_window(df: DataFrame, span_us: int) -> DataFrame:
    """MAXTIMESLIDINGWINDOW (functions/MaxTimeSlidingWindow.java:24): keep
    only points within span_us of each series' latest tick. One window
    max + filter — no self-join."""
    w = Window.partitionBy("gts_id")
    return (
        df.withColumn("_mx", F.max("ts").over(w))
        .where(F.col("ts") > F.col("_mx") - F.lit(span_us))
        .drop("_mx")
    )
