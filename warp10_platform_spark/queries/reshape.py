"""Series-reshaping queries: literal construction and editing
(MAKEGTS/ADDVALUE/REMOVETICK), the FILTER framework, set ops,
VALUEDEDUP, TIMESCALE/MONOTONIC, COMMONTICKS, CHUNK, LTTB downsampling,
sliding retention caps (MaxTickSlidingWindow.java / MaxTimeSlidingWindow.java),
SHUFFLE + UNIQUE, projections (VALUES/TICKS/NAME/LABELS), VALUESORT +
LIMIT, FILLTICKS + filler.previous, NONEMPTY/MAXGTS, WRAP/UNWRAP
roundtrips and FETCH step/timestep thinning.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from warp10_platform_spark.core import timeunits as tu
from warp10_platform_spark.core.construct import addvalue, makegts, removetick
from warp10_platform_spark.core.frame import GTSFrame
from warp10_platform_spark.operators import fill as _fill
from warp10_platform_spark.operators import reduce_apply as _ra
from warp10_platform_spark.operators import reshape as _reshape
from warp10_platform_spark.operators import setops as _setops
from warp10_platform_spark.operators import sort as _sort
from warp10_platform_spark.queries import register
from warp10_platform_spark.queries.analytics import _user
from warp10_platform_spark.queries.gts import DAILY, DAY, LASTBUCKET, NDAYS, PTS
from warp10_platform_spark.queries.mappers import _label_user
from warp10_platform_spark.sources.tables import canonical_points


@register("makegts_edit", (
    "SELECT * FROM (VALUES "
    "('sensor.temp', '1', 1000000, 20.5), "
    "('sensor.temp', '1', 2000000, 21.0), "
    "('sensor.temp', '1', 3000000, -5.0)"
    ") AS t(class, site, ts, v_double)"
))
def makegts_edit(spark, sf_dir):
    """MAKEGTS + ADDVALUE(SETVALUE) + REMOVETICK (MAKEGTS.java:33 et al.):
    literal construction and point editing."""
    pts = makegts(spark, "sensor.temp", {"site": "1"}, [1_000_000, 2_000_000, 4_000_000], [20.5, 99.0, 7.0])
    pts = addvalue(pts, spark, "sensor.temp", {"site": "1"}, 2_000_000, 21.0)  # overwrite
    pts = addvalue(pts, spark, "sensor.temp", {"site": "1"}, 3_000_000, -5.0)  # new tick
    pts = removetick(pts, "sensor.temp", '[{"key":"site","value":"1"}]', 4_000_000)
    return pts.select(
        "class", F.element_at("labels", F.lit("site")).alias("site"), "ts", "v_double"
    )


@register("filters_compose", (
    f"WITH {PTS}, "
    'sized AS (SELECT class, "user" FROM pts WHERE class ~ \'^events\\.(p|c).*$\' '
    '          GROUP BY class, "user" HAVING count(*) >= 10), '
    'lastv AS (SELECT class, "user", arg_max(v, ts) AS lv FROM pts GROUP BY class, "user") '
    'SELECT p.class, p."user", p.ts, p.v AS v_double '
    "FROM pts p JOIN sized s ON p.class = s.class AND p.\"user\" = s.\"user\" "
    "JOIN lastv l ON p.class = l.class AND p.\"user\" = l.\"user\" "
    "WHERE l.lv > 20.0"
))
def filters_compose(spark, sf_dir):
    """FILTER framework composition (FILTER.java:39): byclass regex →
    bysize ≥ 10 → filter.last.gt 20 — each a series-level aggregate +
    broadcast semi-join."""
    gf = (
        GTSFrame.fetch(canonical_points(spark, sf_dir))
        .filter_byclass(r"^events\.(p|c).*$")
        .filter_bysize(10)
        .filter_last("gt", 20.0)
    )
    return gf.df.select(
        "class", F.element_at("labels", F.lit("user")).alias("user"), "ts", "v_double"
    )


@register("setops_merge_diff", (
    f"WITH {PTS}, "
    "a AS (SELECT class, \"user\", ts, v FROM pts WHERE class = 'events.purchase'), "
    "b AS (SELECT class, \"user\", ts, v FROM pts WHERE ts % 2 = 0) "
    "SELECT class, \"user\", ts, v AS v_double FROM ("
    "  SELECT * FROM a UNION SELECT * FROM b "
    "  EXCEPT SELECT * FROM a INTERSECT SELECT * FROM b"
    ")"
))
def setops_merge_diff(spark, sf_dir):
    """Set algebra (UNION/INTERSECTION/DIFFERENCE, WarpScriptLib:2015-17):
    symmetric difference of two point sets via the engine's set ops."""
    pts = canonical_points(spark, sf_dir).select(
        "class", F.element_at("labels", F.lit("user")).alias("user"), "ts", "v_double"
    )
    a = pts.where(F.col("class") == "events.purchase")
    b = pts.where(F.col("ts") % 2 == 0)
    keys = ["class", "user", "ts", "v_double"]
    union = _setops.union_points(a, b)
    inter = _setops.intersection_points(a, b, on=keys)
    return _setops.difference_points(union, inter, on=keys)


@register("valuededup_first", (
    f"WITH {PTS} SELECT class, \"user\", ts, v AS v_double FROM ("
    '  SELECT *, row_number() OVER (PARTITION BY class, "user", v ORDER BY ts) AS rn FROM pts'
    ") WHERE rn = 1"
))
def valuededup_first(spark, sf_dir):
    """VALUEDEDUP (VALUEDEDUP.java): keep the first occurrence of each
    distinct value per series."""
    gf = GTSFrame.fetch(canonical_points(spark, sf_dir)).valuededup()
    return gf.df.select(
        "class", F.element_at("labels", F.lit("user")).alias("user"), "ts", "v_double"
    )


@register("timescale_monotonic", (
    # trunc(): Spark's double→long cast truncates while DuckDB's rounds
    f"WITH {PTS}, s AS (SELECT class, \"user\", CAST(trunc(ts * 0.001) AS BIGINT) AS ts, v FROM pts) "
    'SELECT class, "user", ts, max(v) OVER (PARTITION BY class, "user" ORDER BY ts, v '
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_mono FROM s"
))
def timescale_monotonic(spark, sf_dir):
    """TIMESCALE (×0.001, µs→ms axis) then MONOTONIC running max."""
    gf = GTSFrame.fetch(canonical_points(spark, sf_dir)).timescale(0.001)
    out = _reshape.monotonic(gf.df.withColumn("_o", F.col("v_double")))
    # deterministic tie-break on equal scaled ticks: order by (ts, v)
    from pyspark.sql import Window

    w = Window.partitionBy("gts_id").orderBy("ts", "v_double").rowsBetween(Window.unboundedPreceding, 0)
    out = gf.df.withColumn("v_mono", F.max("v_double").over(w))
    return out.select(
        "class", F.element_at("labels", F.lit("user")).alias("user"), "ts", "v_mono"
    )


@register("commonticks_daily", (
    f"WITH {PTS}, {DAILY}, "
    'c AS (SELECT class, ts, count(*) AS n FROM daily GROUP BY class, ts), '
    "nall AS (SELECT count(DISTINCT class) AS total FROM c), "
    "common AS (SELECT ts FROM c GROUP BY ts HAVING count(DISTINCT class) = (SELECT total FROM nall)) "
    "SELECT c.class, c.ts, c.n FROM c JOIN common ON c.ts = common.ts"
))
def commonticks_daily(spark, sf_dir):
    """COMMONTICKS (COMMONTICKS.java) over class-level daily series
    (REDUCE by class first): ticks present in EVERY class — the total is
    a lazy 1-row aggregate cross-join, no driver action."""
    from warp10_platform_spark.operators.bucketize import bucket_end_col

    df = canonical_points(spark, sf_dir).where(
        (F.col("ts") <= LASTBUCKET) & (F.col("ts") > LASTBUCKET - DAY * NDAYS)
    )
    per_class = (
        df.withColumn("ts", bucket_end_col(LASTBUCKET, DAY))
        .groupBy("class", "ts")
        .agg(F.count("*").alias("n"))
        .withColumn("gts_id", F.xxhash64("class"))
    )
    out = _ra.commonticks(per_class)
    return out.select("class", "ts", "n")


@register("chunk_label", (
    f"WITH {PTS} SELECT class, \"user\", ts, "
    f"CAST(({LASTBUCKET} - ts) // {7 * DAY} AS VARCHAR) AS chunkid "
    f"FROM pts WHERE ts <= {LASTBUCKET}"
))
def chunk_label(spark, sf_dir):
    """CHUNK (CHUNK.java:37): weekly chunks anchored at lastchunk; the
    chunk id becomes a new label (sub-series identity)."""
    gf = GTSFrame.fetch(canonical_points(spark, sf_dir), end=LASTBUCKET).chunk(7 * DAY, LASTBUCKET)
    return gf.df.select(
        "class",
        F.element_at("labels", F.lit("user")).alias("user"),
        "ts",
        F.element_at("labels", F.lit("chunkid")).alias("chunkid"),
    )


LTTB_ORACLE = """
WITH RECURSIVE pts AS (
  SELECT 'events.' || event_type AS class, epoch_us(ts) AS ts, value AS v FROM events
),
s AS (
  SELECT class,
         list(ts ORDER BY ts) AS tl,
         list(ts::DOUBLE ORDER BY ts) AS x,
         list(v::DOUBLE ORDER BY ts) AS y,
         CAST(count(*) AS INT) AS n
  FROM pts GROUP BY class
),
walk AS (
  SELECT class, 0 AS j, 0 AS a, [0] AS keep FROM s WHERE n > 24
  UNION ALL
  SELECT class, j + 1,
         list_reduce(
           list_transform(range(lo, hi), k ->
             {'ar': abs((x[a + 1] - avgx) * (y[k + 1] - y[a + 1]) - (x[a + 1] - x[k + 1]) * (avgy - y[a + 1])),
              'i': k}),
           (p, q) -> CASE WHEN q.ar > p.ar THEN q ELSE p END).i,
         list_append(keep, list_reduce(
           list_transform(range(lo, hi), k ->
             {'ar': abs((x[a + 1] - avgx) * (y[k + 1] - y[a + 1]) - (x[a + 1] - x[k + 1]) * (avgy - y[a + 1])),
              'i': k}),
           (p, q) -> CASE WHEN q.ar > p.ar THEN q ELSE p END).i)
  FROM (
    SELECT w.class, w.j, w.a, w.keep, s.n, s.x, s.y,
           CAST(floor(w.j * ((s.n - 2) / 22.0)) AS INT) + 1 AS lo,
           LEAST(CAST(floor((w.j + 1) * ((s.n - 2) / 22.0)) AS INT) + 1, s.n - 1) AS hi,
           CAST(floor((w.j + 1) * ((s.n - 2) / 22.0)) AS INT) + 1 AS nlo,
           LEAST(CAST(floor((w.j + 2) * ((s.n - 2) / 22.0)) AS INT) + 1, s.n) AS nhi
    FROM walk w JOIN s ON s.class = w.class
    WHERE w.j < 22
  ) q1_,
  LATERAL (
    SELECT CASE WHEN nhi > nlo THEN list_reduce(list_slice(x, nlo + 1, nhi), (p, q) -> p + q) / (nhi - nlo) ELSE x[n] END AS avgx,
           CASE WHEN nhi > nlo THEN list_reduce(list_slice(y, nlo + 1, nhi), (p, q) -> p + q) / (nhi - nlo) ELSE y[n] END AS avgy
  ) q2_
),
chosen AS (
  SELECT w.class, unnest(list_append(w.keep, s.n - 1)) AS idx
  FROM walk w JOIN s ON s.class = w.class WHERE w.j = 22
)
SELECT c.class, s.tl[c.idx + 1] AS ts, s.y[c.idx + 1] AS v_double
FROM chosen c JOIN s ON s.class = c.class
UNION ALL
SELECT p.class, p.ts, p.v AS v_double
FROM pts p JOIN s ON s.class = p.class WHERE s.n <= 24
"""


# epoch extractor flips with the session time unit (core/timeunits)
LTTB_ORACLE = LTTB_ORACLE.replace("epoch_us(ts)", tu.duck_epoch("ts"))


@register("lttb_downsample", LTTB_ORACLE)
def lttb_downsample(spark, sf_dir):
    """LTTB (LTTB.java:32): largest-triangle-three-buckets downsample of
    each per-class series (users merged → thousands of points, so the
    triangle walk actually runs at gate scale) to 24 points. The oracle
    replays the identical greedy selection with a recursive CTE — the
    bucket means are sequential left-folds in BOTH engines (not
    np.mean's pairwise summation), which is what makes the argmax
    bit-reproducible."""
    from warp10_platform_spark.core.schema import with_gts_id

    pts = canonical_points(spark, sf_dir).select(
        "class",
        F.create_map().cast("map<string,string>").alias("labels"),
        "ts",
        "v_double",
    )
    gf = GTSFrame(with_gts_id(pts)).lttb(24)
    return gf.df.select("class", "ts", "v_double")


@register("sliding_retention_caps", (
    f"WITH {PTS}, "
    "last5 AS (SELECT class, \"user\", ts, "
    "                 row_number() OVER (PARTITION BY class, \"user\" ORDER BY ts DESC, event_id DESC) AS rn "
    "          FROM (SELECT class, \"user\", ts, event_id FROM (SELECT 'events.' || event_type AS class, "
    f"                CAST(user_id AS VARCHAR) AS \"user\", {tu.duck_epoch('ts')} AS ts, event_id FROM events) q)), "
    "t3 AS (SELECT class, \"user\", ts, max(ts) OVER (PARTITION BY class, \"user\") AS mx FROM pts) "
    "SELECT a.class, a.\"user\" AS user, a.n_last5, b.n_3d FROM "
    "(SELECT class, \"user\", count(*) AS n_last5 FROM last5 WHERE rn <= 5 GROUP BY class, \"user\") a "
    "JOIN "
    f"(SELECT class, \"user\", count(*) AS n_3d FROM t3 WHERE ts > mx - {3 * DAY} GROUP BY class, \"user\") b "
    "ON a.class = b.class AND a.\"user\" = b.\"user\""
))
def sliding_retention_caps(spark, sf_dir):
    """MAXTICKSLIDINGWINDOW + MAXTIMESLIDINGWINDOW
    (functions/MaxTickSlidingWindow.java:24, MaxTimeSlidingWindow.java:24):
    per-series retention caps — last 5 points and last 3 days — as batch
    operators; output is the kept-count per series for both policies."""
    pts = canonical_points(spark, sf_dir)
    user = F.element_at("labels", "user").alias("user")
    by_n = _reshape.max_tick_sliding_window(pts, 5).groupBy("class", user).agg(
        F.count("*").alias("n_last5")
    )
    by_t = _reshape.max_time_sliding_window(pts, 3 * DAY).groupBy("class", user).agg(
        F.count("*").alias("n_3d")
    )
    return by_n.join(by_t, on=["class", "user"])


@register("shuffle_unique", (
    "WITH h AS (SELECT event_type, event_id, "
    "                  md5('mix:' || CAST(event_id AS VARCHAR)) AS hk FROM events), "
    "r AS (SELECT event_type, event_id, row_number() OVER (PARTITION BY event_type ORDER BY hk) AS rn FROM h), "
    "u AS (SELECT event_type, count(DISTINCT CAST(trunc(value * 10) AS BIGINT)) AS n_unique "
    "      FROM (SELECT event_type, value FROM events) e GROUP BY event_type) "
    "SELECT r.event_type, r.event_id AS pick, r.rn, u.n_unique "
    "FROM r JOIN u USING (event_type) WHERE r.rn <= 3"
))
def shuffle_unique(spark, sf_dir):
    """SHUFFLE + UNIQUE (functions/SHUFFLE.java, UNIQUE.java:32):
    deterministic shuffle — order by a keyed md5 so every engine and
    partitioning draws the same permutation — take 3 per class, plus the
    distinct count of decimated values (UNIQUE)."""
    from warp10_platform_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    hk = F.md5(F.concat(F.lit("mix:"), F.col("event_id").cast("string")))
    w = Window.partitionBy("event_type").orderBy(hk)
    r = (
        ev.select("event_type", "event_id", hk.alias("hk"))
        .withColumn("rn", F.row_number().over(Window.partitionBy("event_type").orderBy("hk")))
        .where(F.col("rn") <= 3)
    )
    u = ev.groupBy("event_type").agg(
        F.countDistinct((F.col("value") * 10).cast("bigint")).alias("n_unique")
    )
    return r.join(u, on="event_type").select(
        "event_type", F.col("event_id").alias("pick"), "rn", "n_unique"
    )


@register("projection_accessors", (
    f"WITH {PTS} "
    'SELECT class, "user", count(ts) AS n_ticks, min(ts) AS first_ts, max(ts) AS last_ts, '
    "       round(min(v), 6) AS v_min, round(max(v), 6) AS v_max "
    'FROM pts GROUP BY class, "user"'
))
def projection_accessors(spark, sf_dir):
    """VALUES/TICKS projections (VALUES.java, TICKS.java): per-series
    tick census from the TICKS projection joined to the value range from
    the VALUES projection — both accessors exercised, one shuffle each on
    the series key."""
    gf = GTSFrame.fetch(canonical_points(spark, sf_dir))
    t = gf.ticks().groupBy("class", "labels_key").agg(
        F.count("ts").alias("n_ticks"), F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts")
    )
    v = gf.values().groupBy("class", "labels_key").agg(
        F.round(F.min("v_double"), 6).alias("v_min"), F.round(F.max("v_double"), 6).alias("v_max")
    )
    return t.join(v, on=["class", "labels_key"]).select(
        "class", _user(), "n_ticks", "first_ts", "last_ts", "v_min", "v_max"
    )


@register("valuesort_limit", (
    f"WITH {PTS} "
    "SELECT v AS v_double FROM (SELECT DISTINCT v FROM pts) u ORDER BY v LIMIT 5"
))
def valuesort_limit(spark, sf_dir):
    """VALUESORT + LIMIT (VALUESORT.java:27, LIMIT.java): ascending global
    value order over the distinct value set (ties removed so the head is
    deterministic in any engine), capped at 5 — Spark executes this as a
    TakeOrderedAndProject, no full sort materialization."""
    pts = canonical_points(spark, sf_dir).select("v_double").distinct()
    return _sort.valuesort(pts, "v_double").limit(5)


_FT = [LASTBUCKET - 20 * DAY, LASTBUCKET - 10 * DAY, LASTBUCKET]  # probe ticks


@register("fillticks_previous", (
    f"WITH {PTS}, "
    's AS (SELECT DISTINCT class, "user" FROM pts), '
    f"t AS (SELECT unnest([{_FT[0]}, {_FT[1]}, {_FT[2]}]) AS ts), "
    "st AS (SELECT class, \"user\", ts FROM s CROSS JOIN t), "
    "f AS (SELECT st.class, st.\"user\", st.ts, "
    "             (SELECT arg_max(p.v, p.ts) FROM pts p "
    "              WHERE p.class = st.class AND p.\"user\" = st.\"user\" AND p.ts <= st.ts) AS v "
    "      FROM st) "
    'SELECT class, "user", ts, round(v, 6) AS v_filled FROM f WHERE v IS NOT NULL'
))
def fillticks_previous(spark, sf_dir):
    """FILLTICKS + filler.previous (FILLTICKS.java,
    filler/FillerPrevious.java:26): materialize three probe ticks on every
    series, forward-fill from the latest earlier point, return the probe
    rows (rows with no prior point stay null and are dropped, matching
    the reference's empty-fill behavior)."""
    gf = GTSFrame.fetch(canonical_points(spark, sf_dir)).fillticks(_FT)
    filled = _fill.fill_previous(gf.df, "v_double")
    probes = filled.where(F.col("ts").isin(_FT) & F.col("v_double").isNotNull())
    return probes.select("class", _label_user(), "ts", F.round("v_double", 6).alias("v_filled"))


@register("nonempty_maxgts", (
    f"WITH {PTS}, "
    f"clipped AS (SELECT * FROM pts WHERE ts >= {LASTBUCKET - 5 * DAY} AND ts <= {LASTBUCKET}), "
    'sz AS (SELECT class, "user", count(*) AS n FROM clipped GROUP BY class, "user"), '
    'r AS (SELECT *, row_number() OVER (ORDER BY class, "user") AS rk, count(*) OVER () AS n_series FROM sz) '
    'SELECT class, "user", n, n_series FROM r WHERE rk <= 5'
))
def nonempty_maxgts(spark, sf_dir):
    """NONEMPTY + MAXGTS/LIMIT (NONEMPTY.java): clip to the last 5 days,
    keep only series that still have points (empty series vanish from the
    points model — NONEMPTY is counting them), cap the listing at the
    first 5 series in metadata order, carrying the total series count."""
    gf = GTSFrame.fetch(canonical_points(spark, sf_dir)).timeclip(LASTBUCKET - 5 * DAY, LASTBUCKET)
    sz = gf.df.groupBy("class", "labels_key").agg(F.count("*").alias("n"))
    w = Window.orderBy("class", "labels_key")
    r = sz.withColumn("rk", F.row_number().over(w)).withColumn(
        "n_series", F.count("*").over(Window.partitionBy())
    )
    return r.where(F.col("rk") <= 5).select("class", _user(), "n", "n_series")


@register("wrap_unwrap_roundtrip", (
    f"WITH {PTS} "
    'SELECT class, "user", ts, round(v, 6) AS v '
    "FROM pts WHERE class = 'events.purchase'"
))
def wrap_unwrap_roundtrip(spark, sf_dir):
    """WRAP → UNWRAP functional roundtrip (WRAP.java, UNWRAP.java via
    core/wrap.py): pack every purchase series into a base64 blob, parse
    it back, and the exploded points must equal the original fetch —
    proving the blob is self-contained (metadata + ordered ticks)."""
    from warp10_platform_spark.core.wrap import unwrap, wrap

    gf = GTSFrame.fetch(canonical_points(spark, sf_dir), "events.purchase{}")
    blobs = wrap(gf.df)
    pts = unwrap(blobs)
    return pts.select("class", _label_user(), "ts", F.round("v_double", 6).alias("v"))


_THIN_STEP = 2


_THIN_TSTEP = 10 * DAY


@register("fetch_step_timestep", (
    # Recursion over SURVIVORS, not rows: each step jumps straight to the
    # next kept tick (max ts <= last - timestep, a lateral asof lookup),
    # so depth = range/timestep instead of series length. The row-by-row
    # state-machine CTE it replaces walked 50k recursion steps on the r5
    # skew fixture's fat series (502 s); this is bit-identical (verified
    # on all three fixtures) in 0.2 s. Greedy-chain equivalence:
    # survivor(i+1) = max{t <= survivor(i) - timestep}; `step` keeps
    # every step-th survivor ((k-1) % step = 0).
    f"WITH RECURSIVE {PTS}, "
    'surv(class, "user", ts, k) AS ('
    '  SELECT class, "user", max(ts), 1 FROM pts GROUP BY class, "user" '
    "  UNION ALL "
    '  SELECT w.class, w."user", nxt.ts, w.k + 1 '
    "  FROM surv w JOIN LATERAL ("
    "    SELECT max(p.ts) AS ts FROM pts p "
    f'    WHERE p.class = w.class AND p."user" = w."user" AND p.ts <= w.ts - {_THIN_TSTEP}'
    "  ) nxt ON nxt.ts IS NOT NULL) "
    'SELECT p.class, p."user", p.ts, round(p.v, 6) AS v '
    'FROM surv s JOIN pts p ON p.class = s.class AND p."user" = s."user" AND p.ts = s.ts '
    f"WHERE (s.k - 1) % {_THIN_STEP} = 0"
))
def fetch_step_timestep(spark, sf_dir):
    """FETCH step+timestep thinning (FETCH.java:129-130; scan loop
    MultiScanGTSDecoderIterator.java:380-420): greedy newest-first
    timestep spacing, then every step-th survivor. The oracle replays the
    survivor chain with an asof-jump recursive CTE."""
    gf = GTSFrame.fetch(canonical_points(spark, sf_dir)).thin(step=_THIN_STEP, timestep=_THIN_TSTEP)
    return gf.df.select("class", _label_user(), "ts", F.round("v_double", 6).alias("v"))


@register("wrap_thrift_roundtrip", (
    f"WITH {PTS} SELECT class, \"user\", ts, v AS v_double FROM pts WHERE class = 'events.view'"
))
def wrap_thrift_roundtrip(spark, sf_dir):
    """WRAP/UNWRAP in the reference WIRE FORMAT (GTSEncoder stream inside
    a TCompactProtocol GTSWrapper, OrderPreservingBase64 text —
    core/gtscodec.py; thrift:260-300, GTSEncoder.java:300-700): every
    point round-trips through real interchange bytes, so the oracle is
    the identity selection."""
    from warp10_platform_spark.core.wrap import unwrap_thrift, wrap_thrift

    pts = canonical_points(spark, sf_dir).where(F.col("class") == "events.view")
    wrapped = wrap_thrift(pts)
    back = unwrap_thrift(wrapped)
    return back.select(
        "class", _user(), "ts", "v_double"
    )
