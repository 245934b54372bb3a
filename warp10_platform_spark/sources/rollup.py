"""Materialized time-rollups (continuous aggregates) over the points lake.

Warp 10 itself has no pre-aggregation tier: every FETCH reads raw points
and GTSHelper.bucketize (warp10/src/main/java/io/warp10/continuum/gts/
GTSHelper.java:2257) aggregates them after the scan. At the 100 TB design
point that raw re-scan is the dominant cost of every dashboard-style
BUCKETIZE, so this module adds the standard lake answer: a materialized
table of MERGEABLE per-(series, fixed-span) partial aggregates —

    cnt       exact point count                       (long)
    sum_d     DECIMAL(38,10) sum of values            (exact, order-free)
    min_v / max_v                                     (double)
    first / last   struct<ts,v> endpoints via min/max  (lexicographic on
                   (ts, v): deterministic even under duplicate ticks)

from which any ALIGNED coarser BUCKETIZE grid (target span a multiple of
the rollup span, lastbucket on a rollup boundary) is answered EXACTLY by
re-grouping partials: decimal sums merge associatively, counts add,
min/max/first/last compose. The rollup path is therefore bit-identical
to the raw-scan path — proven by the oracled `rollup_daily_profile`
query (its DuckDB oracle aggregates the RAW events) and
tests/test_rollup.py.

Scale shape: with hourly rollups over second-resolution data the rebucket
reads ~3600× fewer rows than the raw scan; the rollup table is
partitioned by `class` (same pruning as canonical_points) and its `rb`
range predicate lands in PushedFilters. Incremental maintenance is a
pure partial-merge (`rollup_merge`): ingest batches contribute partials
that union+regroup into the existing table — no raw-data re-read, the
same property Structured Streaming's foreachBatch needs for a
continuously-maintained rollup.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from warp10_platform_spark.core import timeunits as tu
from warp10_platform_spark.core.schema import labels_from_key
from warp10_platform_spark.operators.bucketize import SERIES_KEYS
from warp10_platform_spark.sources.tables import _cache_key, cache_path, canonical_points

# One hour in platform ticks (µs default; scales with WARP10_TIME_UNITS).
HOUR_US = tu.us(3_600_000_000)

def _partials():
    # Built lazily: Column construction needs a live SparkContext.
    # s1q/s2q: sum and sum-of-squares of the 1e-6-QUANTIZED value
    # (micro-unit BIGINT → DECIMAL accumulation). Quantize-then-square is
    # the cross-engine trick: DECIMAL(28,10)² would overflow precision 38
    # (Spark silently drops scale, DuckDB errors — divergent), while the
    # integer path is exact, order-independent and portable. These two
    # columns put sd/var into the servable set: variance merges by plain
    # sums (n, Σx, Σx²), the textbook mergeable-moment partial.
    vq = F.expr("CAST(round(v_double * 1000000) AS BIGINT)")
    return [
        F.count("v_double").alias("cnt"),
        F.sum(F.col("v_double").cast("decimal(28,10)")).alias("sum_d"),
        F.min("v_double").alias("min_v"),
        F.max("v_double").alias("max_v"),
        F.min(F.struct("ts", F.col("v_double").alias("v"))).alias("first"),
        F.max(F.struct("ts", F.col("v_double").alias("v"))).alias("last"),
        F.sum(vq.cast("decimal(38,0)")).alias("s1q"),
        F.sum((vq.cast("decimal(19,0)") * vq.cast("decimal(19,0)")).cast("decimal(38,0)")).alias("s2q"),
    ]


def _merge_aggs():
    return [
        F.sum("cnt").alias("cnt"),
        F.sum("sum_d").alias("sum_d"),
        F.min("min_v").alias("min_v"),
        F.max("max_v").alias("max_v"),
        F.min("first").alias("first"),
        F.max("last").alias("last"),
        F.sum("s1q").alias("s1q"),
        F.sum("s2q").alias("s2q"),
    ]


def rollup_partials(points: DataFrame, span_us: int = HOUR_US) -> DataFrame:
    """Partial aggregates per (series, rollup bucket). `rb` is the
    bucket END (inclusive), grid anchored at 0: bucket covers
    (rb - span, rb]. Timestamps must be positive (µs epoch ticks are)."""
    rb = F.expr(f"((ts + {span_us - 1}L) DIV {span_us}L) * {span_us}L").alias("rb")
    return points.groupBy(*SERIES_KEYS, rb).agg(*_partials())


DAY_US = 24 * HOUR_US


def rollup_points(spark: SparkSession, sf_dir: str, span_us: int = HOUR_US) -> DataFrame:
    """The materialized rollup table for sf_dir — built once per
    (testdata signature, span) under .cache/, partitioned by `class` so
    selector pruning works exactly as on canonical_points.

    Coarser levels of the ladder are built FROM the finest materialized
    level, not from raw points: a day-partial is the exact merge of its
    24 hour-partials (associativity again), so materializing the whole
    ladder costs one raw scan plus rollup-sized regroups."""
    key = _cache_key(sf_dir)
    path = cache_path(f"rollup_{span_us}_{key}_v2")  # v2: +s1q/s2q moment partials
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        if span_us != HOUR_US and span_us % HOUR_US == 0:
            base = rollup_points(spark, sf_dir, HOUR_US)
            coarse_rb = F.expr(f"((rb + {span_us - 1}L) DIV {span_us}L) * {span_us}L").alias("rb")
            src = base.groupBy(*SERIES_KEYS, coarse_rb).agg(*_merge_aggs())
        else:
            src = rollup_partials(canonical_points(spark, sf_dir), span_us)
        src.write.mode("overwrite").partitionBy("class").parquet(path)
    return spark.read.parquet(path)


def rollup_merge(*rollups: DataFrame) -> DataFrame:
    """Merge rollup partial tables (e.g. an existing rollup plus a fresh
    ingest batch's partials) — union + regroup, exact by associativity.
    This is the 100 TB UPDATE path: maintenance cost is proportional to
    the DELTA, never a raw-history re-scan."""
    out = rollups[0]
    for r in rollups[1:]:
        out = out.unionByName(r)
    return out.groupBy(*SERIES_KEYS, "rb").agg(*_merge_aggs())


def rebucket(
    rollup: DataFrame, span_us: int, lastbucket_us: int, bucketcount: int, rollup_span_us: int = HOUR_US
) -> DataFrame:
    """Answer an anchored BUCKETIZE grid (GTSHelper.bucketize:2257
    semantics: bucket n covers (lastbucket-(n+1)·span, lastbucket-n·span])
    from rollup partials instead of raw points.

    Exactness requires alignment: every target bucket boundary must be a
    rollup boundary, i.e. span and lastbucket both multiples of the
    rollup span — enforced, because a silent misaligned answer would be
    wrong, not approximate. Output: one row per (series, bucket end) with
    all merged partials; callers project the metric(s) they need."""
    if span_us % rollup_span_us != 0:
        raise ValueError(
            f"target span {span_us} not a multiple of rollup span {rollup_span_us}: "
            "rollup buckets would straddle target boundaries"
        )
    if lastbucket_us % rollup_span_us != 0:
        raise ValueError(
            f"lastbucket {lastbucket_us} not on a rollup boundary "
            f"(span {rollup_span_us}): grid is misaligned"
        )
    lo = lastbucket_us - span_us * bucketcount
    # The raw window (lo, lastbucket] is exactly the union of rollup
    # buckets with rb in (lo, lastbucket] (both bounds are rollup
    # boundaries) — and this range predicate prunes the rollup scan.
    win = rollup.where((F.col("rb") <= lastbucket_us) & (F.col("rb") > lo))
    bucket_end = F.expr(
        f"{lastbucket_us}L - (({lastbucket_us}L - rb) DIV {span_us}L) * {span_us}L"
    ).alias("bucket_end")
    return (
        win.withColumn("bucket_end", bucket_end)
        .groupBy(*SERIES_KEYS, "bucket_end")
        .agg(*_merge_aggs())
        .withColumn("labels", labels_from_key())
        .withColumnRenamed("bucket_end", "ts")
    )


# Bucketizers the rollup partials can reconstruct. Everything else
# (median/percentile/sd/entropy/...) needs the raw distribution and
# routes to the raw scan.
# Bucketizers the partials reconstruct EXACTLY (same value the raw scan
# would produce, modulo FP reassociation on sum/mean).
SERVABLE = {"sum", "mean", "min", "max", "count", "first", "last"}

# Moment tier (s1q/s2q partials): sd/var of the 1e-6-QUANTIZED values.
# The merge algebra is exact (plain sums) and the variance numerator is
# computed in exact integer arithmetic (n·Σxq² − (Σxq)², DECIMAL —
# no catastrophic cancellation), but the VALUE is approximate in two
# documented ways: (a) quantization — values with |v| ≲ 5e-7 collapse
# to xq = 0, so a sub-quantum series serves sd = 0 while its true sd is
# nonzero; (b) the quantized sd differs from the raw-double sd by up to
# ~1e-6 in value units. Like the histogram-percentile tier, routing is
# therefore OPT-IN (serve_bucketize(approx_moments=True)): a silent
# approximate rewrite of an exact request would be wrong, not fast.
MOMENT_SERVABLE = {"sd", "sd.pop", "var", "var.pop"}


def _var_expr(pop: bool):
    """Variance from merged moment partials (n, Σxq, Σxq²), xq = round(
    v·1e6). num = n·Σxq² − (Σxq)² stays in DECIMAL(38,0) — exact integer,
    no cancellation — then ONE double rounding at the end, so the
    expression is IEEE-identical cross-engine (the DuckDB twin computes
    the same integer in HUGEINT). Exactness holds while n·Σxq² < 10^38:
    at vq ≤ 5.2e8 that is ~10^14 points per bucket, far beyond any
    series-bucket. Sample form is NULL for n < 2 (stddev_samp
    semantics)."""
    n = F.col("cnt").cast("decimal(38,0)")
    s1 = F.col("s1q")
    s2 = F.col("s2q")
    num = (s2 * n - s1 * s1).cast("double")
    nd = F.col("cnt").cast("double")
    denom = nd * nd if pop else nd * (nd - 1)
    v = F.greatest(num / denom, F.lit(0.0)) / F.lit(1e12)
    if pop:
        return v
    return F.when(F.col("cnt") > 1, v)


_PROJECT = {
    "sum": lambda: F.col("sum_d").cast("double"),
    "mean": lambda: F.col("sum_d").cast("double") / F.col("cnt"),
    "min": lambda: F.col("min_v"),
    "max": lambda: F.col("max_v"),
    "count": lambda: F.col("cnt"),
    "first": lambda: F.col("first.v"),
    "last": lambda: F.col("last.v"),
    "var": lambda: _var_expr(pop=False),
    "var.pop": lambda: _var_expr(pop=True),
    "sd": lambda: F.sqrt(_var_expr(pop=False)),
    "sd.pop": lambda: F.sqrt(_var_expr(pop=True)),
}


def serve_bucketize(
    spark: SparkSession,
    sf_dir: str,
    bucketizer: str,
    span_us: int,
    lastbucket_us: int,
    bucketcount: int,
    ladder: tuple[int, ...] = (DAY_US, HOUR_US),
    approx_percentile: bool = False,
    approx_moments: bool = False,
    p: float | None = None,
) -> tuple[DataFrame, str]:
    """Materialized-view rewrite for BUCKETIZE: serve the grid from the
    COARSEST rollup level that can answer it (bucketizer reconstructible
    from partials + grid aligned to that level); otherwise fall back to
    the raw-points scan. Returns (frame, route) with route
    "rollup:<span>" or "raw" so callers and tests can assert which
    physical source answered. A daily grid reads the day level (one row
    per series-day); an hour-aligned-but-not-day-aligned grid drops to
    the hour level; everything else scans raw.

    Parity contract with the raw path (tests/test_rollup.py):
    count/min/max are bit-identical; first/last are identical whenever
    ticks are unique per series (the GTS data model's invariant);
    sum/mean agree up to FP reassociation — the raw path's own
    partial-aggregation order is already nondeterministic at that level,
    while the rollup path is decimal-exact, i.e. never worse."""
    from warp10_platform_spark.operators.bucketize import bucketize as _raw_bucketize

    name = bucketizer.replace("bucketizer.", "")
    # percentile.<q>/median route to the histogram tier ONLY on explicit
    # opt-in — the answer is approximate (<= one bin width), and a silent
    # approximate rewrite of an exact request would be wrong, not fast.
    if approx_percentile and name in ("median", "percentile"):
        if name == "percentile":
            if p is None:
                raise ValueError("bucketizer.percentile requires p (the percentile rank)")
            q = float(p) / 100.0
        else:
            q = 0.5
        if span_us % HOUR_US == 0 and lastbucket_us % HOUR_US == 0:
            day = histogram_rebucket(
                histogram_points(spark, sf_dir, HOUR_US), span_us, lastbucket_us, bucketcount, HOUR_US
            )
            # v_agg is NULL when the percentile lands in a clamp bin
            # (value outside [lo, hi)) — see histogram_percentile.
            pct = histogram_percentile(day, q)
            out = pct.select(
                *SERIES_KEYS, "ts", F.col("v_pct").alias("v_agg")
            ).withColumn("labels", labels_from_key())
            return out, f"hist:{HOUR_US}"
    servable = SERVABLE | (MOMENT_SERVABLE if approx_moments else set())
    if name in servable:
        for rspan in sorted(ladder, reverse=True):
            if span_us % rspan == 0 and lastbucket_us % rspan == 0:
                merged = rebucket(
                    rollup_points(spark, sf_dir, rspan),
                    span_us,
                    lastbucket_us,
                    bucketcount,
                    rspan,
                )
                out = merged.select(
                    *SERIES_KEYS, "ts", _PROJECT[name]().alias("v_agg"), "labels"
                )
                return out, f"rollup:{rspan}"
    out, _spec = _raw_bucketize(
        canonical_points(spark, sf_dir), bucketizer, span_us, lastbucket_us, bucketcount, p=p
    )
    return out, "raw"


# ---- sketch partials: HLL registers as a rollup column -----------------
#
# Exact distinct over the rollup works when the key is part of the rollup
# grain (rollup_daily_active_series counts gts_id from series-hour rows).
# For distinct counts of something NOT in the grain — distinct VALUES per
# class-day — the 100 TB answer is a mergeable sketch partial: per
# (key, hour) HLL register maxima (p=8, 256 registers, the portable
# md5-based construction of queries/advanced.py). max() merges registers
# across hours/batches exactly like sum() merges counts, so the sketch
# column obeys the same O(delta) maintenance algebra as every other
# partial, and the estimate is derived at query time.


def hll_register_partials(
    points: DataFrame, item_sql: str, span_us: int = HOUR_US, key_cols: tuple = ("class",)
) -> DataFrame:
    """Per (key, rollup bucket, register) max-rho partials for the
    portable HLL. `item_sql` is a Spark-SQL expression rendering the
    counted item as a STRING whose bytes are identical cross-engine
    (render integers, never raw doubles)."""
    h = F.expr(
        f"cast(conv(substr(md5(concat('hll:', {item_sql})), 1, 15), 16, 10) AS bigint)"
    )
    rb = F.expr(f"((ts + {span_us - 1}L) DIV {span_us}L) * {span_us}L").alias("rb")
    r = points.select(
        *key_cols,
        rb,
        F.shiftright(h, 52).alias("reg"),
        h.bitwiseAND(F.expr("shiftleft(CAST(1 AS BIGINT), 52) - 1")).alias("w"),
    )
    rho = F.when(F.col("w") == 0, F.lit(53)).otherwise(
        F.lit(53) - F.length(F.expr("bin(w)"))
    )
    return r.groupBy(*key_cols, "rb", "reg").agg(F.max(rho).alias("mj"))


def hll_estimate(registers: DataFrame, group_cols: list) -> DataFrame:
    """Merge register partials down to `group_cols` (max per register —
    associative, so hour partials roll into days/weeks exactly) and
    derive the HLL estimate (`n_est`): alpha·m²·2^53 / Σ 2^(53-mj), with
    the standard linear-counting branch for small cardinalities. All
    inputs to the float math are exact integers, so both engines divide
    identical operands."""
    m = registers.groupBy(*group_cols, "reg").agg(F.max("mj").alias("mj"))
    s = m.groupBy(*group_cols).agg(
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 53 - mj)")).alias("sum_int"),
        F.count("*").alias("nreg"),
    )
    alpha_m2 = (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 * 9007199254740992.0
    total = (
        F.col("sum_int")
        + (F.lit(256) - F.col("nreg")) * F.expr("shiftleft(CAST(1 AS BIGINT), 53)")
    ).cast("double")
    e_raw = F.lit(alpha_m2) / total
    v0 = F.lit(256) - F.col("nreg")
    est = F.when(
        (e_raw <= 640.0) & (v0 > 0), F.lit(256.0) * F.log(F.lit(256.0) / v0)
    ).otherwise(e_raw)
    return s.select(*group_cols, F.floor(est).cast("long").alias("n_est"))


# ---------------------------------------------------------------------------
# Histogram partials: mergeable approximate-percentile tier.
#
# The numeric partials above reconstruct sum/mean/min/max/count/first/last
# exactly, but percentiles need the distribution. The standard mergeable
# answer is a fixed-grid histogram: bin = floor((v - lo) / w) clamped to
# [-1, n_bins] (underflow/overflow), stored SPARSE — one (series, rb, bin,
# cnt) row per occupied bin. Merging histograms is groupBy-sum (exact,
# associative, order-free), so the tier has the same O(delta) maintenance
# algebra as the numeric partials and the HLL registers. The percentile
# read is DETERMINISTIC (exact integer math over counts), so a SQL oracle
# replays it bit-for-bit; accuracy is the usual histogram bound (one bin
# width). Pick w binary-representable (e.g. 8.0) and the binning itself
# is IEEE-exact across engines.
# ---------------------------------------------------------------------------


def histogram_partials(
    points: DataFrame,
    span_us: int = HOUR_US,
    lo: float = 0.0,
    hi: float = 512.0,
    n_bins: int = 64,
) -> DataFrame:
    """Sparse value-histogram partials per (series, rollup bucket)."""
    w = (hi - lo) / n_bins
    rb = F.expr(f"((ts + {span_us - 1}L) DIV {span_us}L) * {span_us}L").alias("rb")
    bin_ = F.expr(
        f"CASE WHEN v_double < {lo!r}D THEN -1 "
        f"WHEN v_double >= {hi!r}D THEN {n_bins} "
        f"ELSE CAST(floor((v_double - {lo!r}D) / {w!r}D) AS INT) END"
    ).alias("bin")
    return points.groupBy(*SERIES_KEYS, rb, bin_).agg(F.count("*").alias("cnt"))


def histogram_points(
    spark: SparkSession,
    sf_dir: str,
    span_us: int = HOUR_US,
    lo: float = 0.0,
    hi: float = 512.0,
    n_bins: int = 64,
) -> DataFrame:
    """Materialized histogram-partial table (same contract as
    rollup_points: built once under .cache/, partitioned by class)."""
    key = _cache_key(sf_dir)
    # Cache key carries ALL bin-geometry parameters (span, n_bins, lo, hi)
    # so a later call with different edges can never be served a stale
    # table built with different bins.
    path = cache_path(f"hist_{span_us}_{n_bins}_{lo:g}_{hi:g}_{key}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        src = histogram_partials(canonical_points(spark, sf_dir), span_us, lo, hi, n_bins)
        src.write.mode("overwrite").partitionBy("class").parquet(path)
    return spark.read.parquet(path)


def histogram_rebucket(
    hist: DataFrame, span_us: int, lastbucket_us: int, bucketcount: int, rollup_span_us: int = HOUR_US
) -> DataFrame:
    """Merge histogram partials onto an aligned coarser grid — the same
    alignment contract (and error behavior) as rebucket()."""
    if span_us % rollup_span_us != 0 or lastbucket_us % rollup_span_us != 0:
        raise ValueError("histogram grid misaligned with rollup span")
    lo_b = lastbucket_us - span_us * bucketcount
    win = hist.where((F.col("rb") <= lastbucket_us) & (F.col("rb") > lo_b))
    bucket_end = F.expr(
        f"{lastbucket_us}L - (({lastbucket_us}L - rb) DIV {span_us}L) * {span_us}L"
    ).alias("ts")
    return win.withColumn("ts", bucket_end).groupBy(*SERIES_KEYS, "ts", "bin").agg(
        F.sum("cnt").alias("cnt")
    )


def histogram_percentile(
    hist: DataFrame,
    q: float,
    lo: float = 0.0,
    hi: float = 512.0,
    n_bins: int = 64,
    group_cols: tuple = ("gts_id", "class", "labels_key", "ts"),
) -> DataFrame:
    """Approximate percentile from merged histogram rows: the LOWER EDGE
    of the first bin (ascending) whose cumulative count reaches
    ceil(q * total). Pure integer comparisons over counts — bit-exact
    replayable in SQL; error <= one bin width by construction FOR
    INTERIOR bins only. When the selected bin is a clamp bin (underflow
    bin -1 holds every value < lo, overflow bin n_bins every value >=
    hi), the true percentile may be arbitrarily far outside [lo, hi), so
    v_pct is returned as NULL rather than an unbounded-error edge value
    — callers (serve_bucketize's hist route) surface the null instead of
    a silently wrong answer."""
    from pyspark.sql.window import Window

    w = (hi - lo) / n_bins
    cum = F.sum("cnt").over(Window.partitionBy(*group_cols).orderBy("bin"))
    tot = F.sum("cnt").over(Window.partitionBy(*group_cols))
    hit = hist.select(*group_cols, "bin", "cnt").withColumn("cum", cum).withColumn("tot", tot)
    sel = hit.where(F.col("cum") >= F.ceil(F.lit(q) * F.col("tot").cast("double"))).groupBy(
        *group_cols
    ).agg(F.min("bin").alias("bin"))
    interior = F.lit(lo) + F.col("bin").cast("double") * F.lit(w)
    return sel.withColumn(
        "v_pct",
        F.when((F.col("bin") < 0) | (F.col("bin") >= n_bins), F.lit(None).cast("double"))
        .otherwise(interior),
    )
