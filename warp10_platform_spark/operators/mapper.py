"""MAP — sliding-window transforms per series.

Reference frame spec (MAP.java:37-47; GTSHelper.map:6275-6295):
  mapper applied at each tick with a window [tick-pre, tick+post];
  pre/post > 0 count TICKS (rows), < 0 count TIME (range, in time units);
  `occurrences` caps #applications, `step` strides the output ticks.

Spark mapping is 1:1 — Window.partitionBy(gts_id).orderBy(ts) with
rowsBetween for tick-frames and rangeBetween (µs) for time-frames.
All arithmetic mappers are pure Column expressions (whole-stage codegen,
zero Python in the hot path). step/occurrences are row_number
post-filters, exactly the reference's semantics.

Window-per-series means the shuffle key is gts_id: at 100 TB the points
table is bucketed on gts_id so these windows run shuffle-free; a single
series always fits one executor's partition (series are bounded; the
reference makes the same assumption by materializing each GTS in RAM).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from warp10_platform_spark.core import timeunits as tu

from warp10_platform_spark.operators.bucketize import bucketizer_expr

SERIES_KEYS = ["gts_id", "class", "labels_key"]


def series_window(order_desc: bool = False) -> WindowSpec:
    order = F.col("ts").desc() if order_desc else F.col("ts").asc()
    return Window.partitionBy("gts_id").orderBy(order)


def frame_window(pre: int, post: int) -> WindowSpec:
    """pre/post ≥ 0 → rows-frame of that many ticks; negative → time-frame
    of |pre|/|post| time units (µs), matching GTSHelper.map:6275-6294."""
    w = Window.partitionBy("gts_id").orderBy("ts")
    if pre >= 0 and post >= 0:
        return w.rowsBetween(-pre, post)
    if pre > 0 or post > 0:
        # Mixed tick/time frames (ticks on one side, a time span on the
        # other) have no single Spark frame; refuse rather than silently
        # reinterpret a tick count as a µs span.
        raise ValueError(f"mixed tick/time frame not supported: pre={pre}, post={post}")
    return w.rangeBetween(-abs(pre), abs(post))


# --- window aggregate mappers (mapper.sum/mean/min/max/... over a frame) ---

def map_aggregate(
    df: DataFrame,
    mapper: str,
    pre: int = 0,
    post: int = 0,
    value_col: str = "v_double",
    out_col: str = "v_mapped",
    p: float | None = None,
) -> DataFrame:
    """Apply an aggregator over the sliding frame at every tick
    (dual registration of aggregator classes as mappers — SURVEY §2.5)."""
    w = frame_window(pre, post)
    n = mapper.replace("mapper.", "")
    v, ts = F.col(value_col), F.col("ts")
    if n == "delta":  # sum of deltas over frame == last - first
        expr = F.last(v).over(w) - F.first(v).over(w)
    elif n == "rate":
        dt = (F.last(ts).over(w) - F.first(ts).over(w)) / F.lit(float(tu.UNITS_PER_S))
        expr = (F.last(v).over(w) - F.first(v).over(w)) / dt
    elif n == "csum":
        expr = F.sum(v).over(Window.partitionBy("gts_id").orderBy("ts").rowsBetween(Window.unboundedPreceding, 0))
    else:
        expr = bucketizer_expr(n, v, ts, p=p).over(w)
    return df.withColumn(out_col, expr)


def map_csum_chunked(
    df: DataFrame,
    chunk_width_us: int,
    value_col: str = "v_double",
    out_col: str = "v_mapped",
) -> DataFrame:
    """Scale-safe cumulative sum (mapper.csum for unbounded series).

    A plain running-sum window holds one whole series in a single task —
    the first thing to break when one series spans years at 100 TB. Here
    the window state is bounded by chunking the time axis:
      1. local cumsum within (gts_id, chunk)           — bounded frame
      2. per-chunk totals, carry-in = sum of PRIOR chunk totals
         (a window over one row per chunk — trivially small)
      3. result = carry-in + local cumsum
    With DECIMAL values (exact addition) this equals the single-window
    csum bit-for-bit; chunk width tunes max rows per window task."""
    chunk = (F.col("ts") / F.lit(chunk_width_us)).cast("long")
    with_chunk = df.withColumn("_chunk", chunk)
    w_local = Window.partitionBy("gts_id", "_chunk").orderBy("ts").rowsBetween(Window.unboundedPreceding, 0)
    local = with_chunk.withColumn("_local", F.sum(value_col).over(w_local))
    totals = with_chunk.groupBy("gts_id", "_chunk").agg(F.sum(value_col).alias("_tot"))
    w_carry = Window.partitionBy("gts_id").orderBy("_chunk").rowsBetween(Window.unboundedPreceding, -1)
    carry = totals.withColumn("_carry", F.sum("_tot").over(w_carry)).select("gts_id", "_chunk", "_carry")
    joined = local.join(carry, on=["gts_id", "_chunk"], how="left")
    return (
        joined.withColumn(out_col, F.coalesce(F.col("_carry"), F.lit(0)) + F.col("_local"))
        .drop("_chunk", "_local", "_carry")
    )


def map_at_ticks(
    df: DataFrame,
    mapper: str,
    ticks: list[int],
    pre_us: int,
    post_us: int = 0,
    value_col: str = "v_double",
    out_col: str = "v_mapped",
    p: float | None = None,
) -> DataFrame:
    """MAP with IMPOSED OUTPUT TICKS (GTSHelper.map:6295 `ticks` param):
    evaluate a time-frame aggregate at an explicit tick list rather than
    at each data point. Scaffold rows (null value) are unioned in, the
    rangeBetween window aggregates only real points (nulls are ignored by
    the aggregate), and only scaffold ticks are emitted."""
    series = df.select("gts_id", "class", "labels_key", "labels").dropDuplicates(["gts_id"])
    scaffold = series.withColumn("ts", F.explode(F.array(*[F.lit(int(t)).cast("long") for t in ticks])))
    value_cols = [c for c in df.columns if c not in ("gts_id", "class", "labels_key", "labels", "ts")]
    for c in value_cols:
        scaffold = scaffold.withColumn(c, F.lit(None).cast(dict(df.dtypes)[c]))
    scaffold = scaffold.withColumn("_imposed", F.lit(True))
    data = df.select(*scaffold.columns[:-1]).withColumn("_imposed", F.lit(False))
    unioned = data.unionByName(scaffold)
    w = Window.partitionBy("gts_id").orderBy("ts").rangeBetween(-pre_us, post_us)
    n = mapper.replace("mapper.", "")
    agg = bucketizer_expr(n, F.col(value_col), F.col("ts"), p=p).over(w)
    return (
        unioned.withColumn(out_col, agg)
        .where(F.col("_imposed"))
        .drop("_imposed", *[c for c in value_cols if c != out_col])
    )


# --- arithmetic / scalar mappers: pure column exprs (mapper/Mapper*.java) ---

def _utc_wall(c):
    """LONG µs tick → TIMESTAMP_NTZ carrying the UTC wall-clock fields.

    The reference's datetime mappers extract UTC fields (MapperYear.java
    et al. default tz). Field extraction on a plain TIMESTAMP renders in
    the SESSION timezone, so year(timestamp_micros(ts)) silently changes
    meaning under a non-UTC session; NTZ arithmetic from the epoch is
    session-independent by construction."""
    return F.timestamp_add(
        "MICROSECOND", tu.col_units_to_us(c), F.expr("TIMESTAMP_NTZ '1970-01-01 00:00:00'")
    )


_UNARY = {
    "mapper.abs": F.abs,
    "mapper.ceil": F.ceil,
    "mapper.floor": F.floor,
    "mapper.round": F.round,
    "mapper.sqrt": F.sqrt,
    "mapper.exp": F.exp,
    "mapper.ln": F.log,
    "mapper.sigmoid": lambda c: F.lit(1.0) / (F.lit(1.0) + F.exp(-c)),
    "mapper.tanh": F.tanh,
    "mapper.tolong": lambda c: c.cast("long"),
    "mapper.todouble": lambda c: c.cast("double"),
    "mapper.toboolean": lambda c: c.cast("boolean"),
    "mapper.tostring": lambda c: c.cast("string"),
    "mapper.finite": lambda c: F.when(~F.isnan(c) & c.isNotNull() & (F.abs(c) != float("inf")), c),
    "mapper.parsedouble": lambda c: c.cast("double"),  # MapperParseDouble.java:30
    "mapper.tick": lambda c: c,            # MapperTick.java:29 (value := tick; ts col routed)
    "mapper.datetime": lambda c: F.concat(  # MapperDateTime.java: tick → ISO-8601 UTC string
        F.date_format(_utc_wall(c), "yyyy-MM-dd'T'HH:mm:ss"),
        F.format_string(f".%0{tu.SUBSEC_DIGITS}dZ", F.pmod(c, F.lit(tu.UNITS_PER_S))),
    ),
    "mapper.year": lambda c: F.year(_utc_wall(c)),
    "mapper.month": lambda c: F.month(_utc_wall(c)),
    "mapper.day": lambda c: F.dayofmonth(_utc_wall(c)),
    "mapper.weekday": lambda c: F.dayofweek(_utc_wall(c)),
    "mapper.hour": lambda c: F.hour(_utc_wall(c)),
    "mapper.minute": lambda c: F.minute(_utc_wall(c)),
    "mapper.second": lambda c: F.second(_utc_wall(c)),
}

_BINARY = {
    "mapper.add": lambda c, k: c + k,
    "mapper.mul": lambda c, k: c * k,
    "mapper.pow": lambda c, k: F.pow(c, k),
    "mapper.mod": lambda c, k: c % k,
    "mapper.log": lambda c, k: F.log(float(k), c),  # log base k
    # value-predicate mappers (mapper/MapperGT.java et al. — tick kept,
    # value replaced by the boolean verdict)
    "mapper.gt": lambda c, k: c > k,
    "mapper.ge": lambda c, k: c >= k,
    "mapper.lt": lambda c, k: c < k,
    "mapper.le": lambda c, k: c <= k,
    "mapper.eq": lambda c, k: c == k,
    "mapper.ne": lambda c, k: c != k,
    # clamps (MapperMinX/MapperMaxX: cap values at x)
    "mapper.min.x": lambda c, k: F.least(c, F.lit(k)),
    "mapper.max.x": lambda c, k: F.greatest(c, F.lit(k)),
}


def dotproduct_mapper(
    df: DataFrame,
    weights: list[float],
    pre: int,
    post: int,
    value_col: str = "v_double",
    out_col: str = "v_mapped",
    activation: str | None = None,
) -> DataFrame:
    """mapper.dotproduct (+.sigmoid/.tanh/.positive) —
    MapperDotProduct.java:34: dot of the frame's values with a constant
    weight vector; null where the frame is shorter than the vector
    (edges). JVM HOF exprs, whole-stage codegen."""
    w = frame_window(pre, post)
    arr = F.collect_list(F.col(value_col)).over(w)
    lits = "array(" + ",".join(f"{x}D" for x in weights) + ")"
    df2 = df.withColumn("_fr", arr)
    dot = F.expr(f"aggregate(zip_with(_fr, {lits}, (a, b) -> a * b), 0D, (acc, x) -> acc + x)")
    out = F.when(F.size("_fr") == len(weights), dot)
    if activation == "sigmoid":
        out = F.lit(1.0) / (F.lit(1.0) + F.exp(-out))
    elif activation == "tanh":
        out = F.tanh(out)
    elif activation == "positive":
        out = F.greatest(out, F.lit(0.0))
    return df2.withColumn(out_col, out).drop("_fr")


def npdf_mapper(df: DataFrame, mu: float, sigma: float, value_col: str = "v_double", out_col: str = "v_mapped") -> DataFrame:
    """mapper.npdf (MapperNPDF.java): N(mu, sigma) density of each value."""
    c = (F.col(value_col) - mu) / sigma
    coef = 1.0 / (sigma * math.sqrt(2.0 * math.pi))
    return df.withColumn(out_col, F.lit(coef) * F.exp(F.lit(-0.5) * c * c))


def map_scalar(df: DataFrame, mapper: str, param=None, value_col: str = "v_double", out_col: str = "v_mapped") -> DataFrame:
    """Tick-local mappers: value transform at each point, no frame.
    mapper.year/month/... extract datetime fields of the tick itself
    (MapperYear.java:29 et al. operate on the tick, tz-aware)."""
    c = F.col("ts") if mapper in (
        "mapper.year", "mapper.month", "mapper.day", "mapper.weekday",
        "mapper.hour", "mapper.minute", "mapper.second",
        "mapper.tick", "mapper.datetime",
    ) else F.col(value_col)
    if mapper in _UNARY:
        return df.withColumn(out_col, _UNARY[mapper](c))
    if mapper in _BINARY:
        return df.withColumn(out_col, _BINARY[mapper](c, param))
    # geo projections (MapperGeoLatitude.java:30 et al.): value := the
    # point's geo component; clearposition nulls the geo columns.
    if mapper == "mapper.geo.latitude":
        return df.withColumn(out_col, F.col("lat"))
    if mapper == "mapper.geo.longitude":
        return df.withColumn(out_col, F.col("lon"))
    if mapper == "mapper.geo.elevation":
        return df.withColumn(out_col, F.col("elev"))
    if mapper == "mapper.geo.clearposition":
        cleared = df
        for g in ("lat", "lon", "elev"):
            if g in df.columns:
                cleared = cleared.withColumn(g, F.lit(None).cast(dict(df.dtypes)[g]))
        return cleared.withColumn(out_col, F.col(value_col))
    if mapper == "mapper.compareto":
        # MapperCompareTo: -1/0/1 against the operand
        return df.withColumn(
            out_col,
            F.when(F.col(value_col) > param, 1).when(F.col(value_col) < param, -1).otherwise(0),
        )
    if mapper == "mapper.replace":
        return df.withColumn(out_col, F.lit(param))
    if mapper == "mapper.regexp-replace":
        pat, rep = param
        return df.withColumn(out_col, F.regexp_replace(F.col(value_col), pat, rep))
    if mapper == "mapper.regexp-match":
        return df.withColumn(out_col, F.col(value_col).rlike(param))
    raise ValueError(f"unknown scalar mapper: {mapper}")


def map_delta_prev(df: DataFrame, value_col: str = "v_double", out_col: str = "v_mapped") -> DataFrame:
    """mapper.delta with frame [1 tick pre, 0 post] — v - lag(v), the
    canonical counter-delta (aggregator/Delta.java:31 as a mapper)."""
    w = series_window()
    return df.withColumn(out_col, F.col(value_col) - F.lag(value_col, 1).over(w))


def map_rate_prev(df: DataFrame, value_col: str = "v_double", out_col: str = "v_mapped") -> DataFrame:
    """mapper.rate over previous tick: delta / Δt-seconds (Rate.java:33)."""
    w = series_window()
    dv = F.col(value_col) - F.lag(value_col, 1).over(w)
    dt = (F.col("ts") - F.lag("ts", 1).over(w)) / F.lit(float(tu.UNITS_PER_S))
    return df.withColumn(out_col, dv / dt)


def apply_step_occurrences(df: DataFrame, step: int = 1, occurrences: int = 0) -> DataFrame:
    """step strides output ticks; occurrences caps them (GTSHelper.map:6280)."""
    if step <= 1 and occurrences <= 0:
        return df
    w = series_window()
    out = df.withColumn("_rn", F.row_number().over(w))
    if step > 1:
        out = out.where((F.col("_rn") - 1) % step == 0)
        if occurrences > 0:
            out = out.withColumn("_rn2", F.row_number().over(w)).where(F.col("_rn2") <= occurrences).drop("_rn2")
    elif occurrences > 0:
        out = out.where(F.col("_rn") <= occurrences)
    return out.drop("_rn")


def kernel_smoother(df: DataFrame, kernel: str, bandwidth_us: int, value_col: str = "v_double", out_col: str = "v_mapped") -> DataFrame:
    """mapper.kernel.* — kernel-weighted moving average over a time frame
    (MapperKernelGaussian.java:24, MapperKernelSmoother.java:27).

    Expressed with collect_list over a rangeBetween window + higher-order
    functions: stays JVM-side (no pandas), weights = K(Δt/h).
    """
    w = Window.partitionBy("gts_id").orderBy("ts").rangeBetween(-bandwidth_us, bandwidth_us)
    pairs = F.collect_list(F.struct(F.col("ts").alias("t"), F.col(value_col).alias("v"))).over(w)
    t0 = F.col("ts")
    h = F.lit(float(bandwidth_us))
    u = lambda x: (x["t"] - t0).cast("double") / h  # noqa: E731
    kernels = {
        "gaussian": lambda x: F.exp(-F.lit(0.5) * u(x) * u(x)) / math.sqrt(2 * math.pi),
        "uniform": lambda x: F.lit(0.5),
        "triangular": lambda x: F.lit(1.0) - F.abs(u(x)),
        "epanechnikov": lambda x: F.lit(0.75) * (F.lit(1.0) - u(x) * u(x)),
        "cosine": lambda x: F.lit(math.pi / 4.0) * F.cos(F.lit(math.pi / 2.0) * u(x)),
        "quartic": lambda x: F.lit(15.0 / 16.0) * F.pow(F.lit(1.0) - u(x) * u(x), 2),
        "triweight": lambda x: F.lit(35.0 / 32.0) * F.pow(F.lit(1.0) - u(x) * u(x), 3),
        "tricube": lambda x: F.lit(70.0 / 81.0) * F.pow(F.lit(1.0) - F.pow(F.abs(u(x)), 3), 3),
        "logistic": lambda x: F.lit(1.0) / (F.exp(u(x)) + F.lit(2.0) + F.exp(-u(x))),
        # Silverman: 0.5·e^(−|u|/√2)·sin(|u|/√2 + π/4)
        "silverman": lambda x: F.lit(0.5)
        * F.exp(-F.abs(u(x)) / F.lit(math.sqrt(2.0)))
        * F.sin(F.abs(u(x)) / F.lit(math.sqrt(2.0)) + F.lit(math.pi / 4.0)),
    }
    if kernel not in kernels:
        raise ValueError(f"unknown kernel: {kernel}")
    kf = kernels[kernel]
    df2 = df.withColumn("_pairs", pairs)
    wsum = F.aggregate(F.col("_pairs"), F.lit(0.0), lambda acc, x: acc + kf(x) * x["v"])
    wtot = F.aggregate(F.col("_pairs"), F.lit(0.0), lambda acc, x: acc + kf(x))
    return df2.withColumn(out_col, wsum / wtot).drop("_pairs")
