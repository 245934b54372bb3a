"""§2.10 analytics queries: regression, correlation, smoothing, outlier
tests, decomposition, spectra, SAX.

Oracle techniques: fold-exact moments (ts-ordered left folds on both
engines), embedded t-quantile λ(n) tables (bounded n via the daily grid),
recursive-CTE DP replay (DTW), and row-based argmax (window rank) — DuckDB
1.0.0's list-subscript-on-lambda-output is nondeterministic, so decisions
are made row-wise.

stl_decompose / stl_esd_outliers are replayed end-to-end by a generated
CTE chain (queries/stl_oracle.py): both inner-loop iterations —
subseries loess, reflect-padded MA low-pass, trend loess — then (for
STLESDTEST) the three ESD removal rounds, all from the same fold-exact
building blocks.

Even findstats_hll is oracled: its portable-HLL construction (the
hll_cardinality device) computes identical register sums and estimates
on both engines — EVERY queries() entry now carries a bit-exact oracle.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from warp10_platform_spark.analytics import fit as _fit
from warp10_platform_spark.analytics import sax as _sax
from warp10_platform_spark.analytics import stats as _stats
from warp10_platform_spark.queries import register
from warp10_platform_spark.core import timeunits as tu
UPS = float(tu.UNITS_PER_S)
from warp10_platform_spark.queries.gts import DAILY, DAY, LASTBUCKET, NDAYS, PTS, _bucketized, _bucketized_decimal_mean
from warp10_platform_spark.sources.tables import canonical_points


def _user():
    return F.get_json_object("labels_key", "$[0].value").alias("user")


LR_ORACLE = f"""
WITH {PTS},
b AS (SELECT class, "user", ts - min(ts) OVER (PARTITION BY class, "user") AS x,
             CAST(v AS DECIMAL(12,6)) AS y FROM pts),
mom AS (
  SELECT class, "user", count(*) AS n, sum(x) AS sx,
         CAST(sum(CAST(x AS DECIMAL(38,0)) * x) AS DOUBLE) AS sxx,
         CAST(sum(y) AS DOUBLE) AS sy,
         CAST(sum(CAST(x AS DECIMAL(20,0)) * y) AS DOUBLE) AS sxy
  FROM b GROUP BY class, "user"
)
SELECT class, "user",
       round((n * sxy - sx * sy) / (n * sxx - CAST(sx AS DOUBLE) * sx) * {UPS}, 6) + 0.0 AS slope,
       round((sy - (n * sxy - sx * sy) / (n * sxx - CAST(sx AS DOUBLE) * sx) * sx) / n, 6) + 0.0 AS intercept
FROM mom WHERE n >= 2
"""


@register("lr_slope", LR_ORACLE)
def lr_slope(spark, sf_dir):
    """LR (functions/LR.java): per-series least-squares value~time line,
    exact integer/decimal accumulators → engine-independent double."""
    out = _fit.lr_fit(canonical_points(spark, sf_dir))
    return out.select(
        "class",
        _user(),
        # + 0.0 normalizes IEEE -0.0 to +0.0 (matches the oracle's `+ 0.0`;
        # the driver's value hash is sign-bit-sensitive).
        (F.round("slope", 6) + F.lit(0.0)).alias("slope"),
        (F.round("intercept", 6) + F.lit(0.0)).alias("intercept"),
    )


CORR_ORACLE = f"""
WITH {PTS}, {DAILY},
c AS (SELECT class, "user", ts, CAST(count(*) AS DECIMAL(12,6)) AS n FROM daily GROUP BY class, "user", ts),
a AS (SELECT "user", ts, n FROM c WHERE class = 'events.click'),
b AS (SELECT "user", ts, n FROM c WHERE class = 'events.view'),
j AS (SELECT a."user", a.n AS va, b.n AS vb FROM a JOIN b ON a."user" = b."user" AND a.ts = b.ts),
mom AS (
  SELECT "user", count(*) AS n,
         CAST(sum(va) AS DOUBLE) AS sa, CAST(sum(vb) AS DOUBLE) AS sb,
         CAST(sum(va * va) AS DOUBLE) AS saa, CAST(sum(vb * vb) AS DOUBLE) AS sbb,
         CAST(sum(va * vb) AS DOUBLE) AS sab
  FROM j GROUP BY "user"
)
SELECT "user", n,
       round((sab - sa * sb / n) / sqrt((saa - sa * sa / n) * (sbb - sb * sb / n)), 6) AS corr
FROM mom WHERE n >= 2 AND (saa - sa * sa / n) > 0 AND (sbb - sb * sb / n) > 0
"""


@register("correlate_pearson", CORR_ORACLE)
def correlate_pearson(spark, sf_dir):
    """CORRELATE: Pearson corr between each user's daily click and view
    counts on common days — exact decimal moments."""
    a = _bucketized(spark, sf_dir, "bucketizer.count")
    ad = a.df.where(F.col("class") == "events.click").withColumn("v_agg", F.col("v_agg").cast("decimal(12,6)"))
    bd = a.df.where(F.col("class") == "events.view").withColumn("v_agg", F.col("v_agg").cast("decimal(12,6)"))
    out = _fit.correlate_daily(ad, bd)
    return out.select(_user(), "n", F.round("corr", 6).alias("corr"))


EXP_ORACLE = f"""
WITH {PTS},
per AS (
  SELECT class, "user", list(v ORDER BY ts, v) AS vs FROM pts GROUP BY class, "user"
)
SELECT class, "user",
       round(list_reduce(vs, (acc, x) -> acc * 0.7::DOUBLE + x * 0.3::DOUBLE), 6) AS s_last
FROM per
"""


@register("exp_smooth_last", EXP_ORACLE)
def exp_smooth_last(spark, sf_dir):
    """Single exponential smoothing final state (α=0.3) — sequential IEEE
    recurrence, identical fold order in both engines."""
    out = _fit.exp_smooth_last(canonical_points(spark, sf_dir), alpha=0.3)
    return out.select("class", _user(), F.round("s_last", 6).alias("s_last"))


SAX_ORACLE = f"""
WITH {PTS},
b AS (SELECT class, "user", CAST(v AS DECIMAL(12,6)) AS y,
             row_number() OVER (PARTITION BY class, "user" ORDER BY ts, v) - 1 AS r,
             count(*) OVER (PARTITION BY class, "user") AS n
      FROM pts),
segs AS (SELECT class, "user", n, (r * 8) // n AS seg, sum(y) AS ssum, count(*) AS scnt
         FROM b GROUP BY class, "user", n, seg),
stats AS (SELECT class, "user", CAST(sum(ssum) AS DOUBLE) AS s1 FROM segs GROUP BY class, "user"),
sq AS (SELECT class, "user", CAST(sum(CAST(v AS DECIMAL(12,6)) * CAST(v AS DECIMAL(12,6))) AS DOUBLE) AS s2,
              count(*) AS cnt
       FROM pts GROUP BY class, "user"),
z AS (
  SELECT g.class, g."user", g.seg,
         CASE WHEN sq.cnt > 1 AND (sq.s2 - st.s1 * st.s1 / sq.cnt) > 0
              THEN (CAST(g.ssum AS DOUBLE) / g.scnt - st.s1 / sq.cnt)
                   / sqrt((sq.s2 - st.s1 * st.s1 / sq.cnt) / (sq.cnt - 1))
              ELSE 0.0 END AS zz
  FROM segs g JOIN stats st ON g.class = st.class AND g."user" = st."user"
              JOIN sq ON g.class = sq.class AND g."user" = sq."user"
)
SELECT class, "user",
       string_agg(CASE WHEN zz <= -0.6745 THEN 'a' WHEN zz <= 0.0 THEN 'b'
                       WHEN zz <= 0.6745 THEN 'c' ELSE 'd' END, '' ORDER BY seg) AS sax_word
FROM z GROUP BY class, "user"
"""


@register("sax_words", SAX_ORACLE)
def sax_words(spark, sf_dir):
    """PATTERNS/SAX (PATTERNS.java:32): one 8-letter SAX word per series,
    alphabet 4 — z-scores from exact sums so binning is reproducible."""
    out = _sax.sax_words(canonical_points(spark, sf_dir), w=8, alphabet=4)
    return out.select("class", _user(), "sax_word")


# --- Grubbs / ESD oracles -------------------------------------------------
# The t-quantile critical values λ(n) depend only on n and α; the queries run
# on the daily grid so n ≤ NDAYS and the λ table embeds as a SQL list literal
# (index = n) built from the SAME Python t_ppf the operator uses — the two
# engines then compare bit-identical doubles. Moments/argmax are ts-ordered
# left folds on both sides (exact_moments=True ↔ list_reduce).
_G_LAM = "[" + ", ".join(
    "0.0" if n < 3 else repr(_stats._grubbs_critical(n, 0.05)) for n in range(1, NDAYS + 2)
) + "]"
_E_LAM = "[" + ", ".join(
    "0.0" if n < 3 else repr(_stats._esd_critical(n, 0.05)) for n in range(1, NDAYS + 2)
) + "]"

_DAILY_COUNT_ARR = (
    'cd AS (SELECT class, "user", ts, CAST(count(*) AS DOUBLE) AS v FROM daily GROUP BY class, "user", ts), '
    'arr AS (SELECT class, "user", list(ts ORDER BY ts) AS t, list(v ORDER BY ts) AS a FROM cd GROUP BY class, "user")'
)

# NOTE: list subscripting (t[ix]) + list_position on lambda-derived lists is
# unstable in DuckDB 1.0.0 (nondeterministic NULLs) — the oracles below use
# lambdas ONLY for the ts-ordered moment folds (verified stable) and do the
# argmax/decision row-wise with window functions.
GRUBBS_ORACLE = f"""
WITH {PTS}, {DAILY}, {_DAILY_COUNT_ARR},
m1 AS (SELECT class, "user", a, len(a) AS n,
              list_reduce(a, (p, q) -> p + q) / len(a) AS m
       FROM arr WHERE len(a) >= 3),
m2 AS (SELECT class, "user", n, m,
              sqrt(list_reduce(list_transform(a, x -> (x - m) * (x - m)), (p, q) -> p + q) / (n - 1)) AS s
       FROM m1),
zrow AS (SELECT cd.class, cd."user", cd.ts, cd.v, m2.n, abs((cd.v - m2.m) / m2.s) AS z
         FROM cd JOIN m2 ON cd.class = m2.class AND cd."user" = m2."user" WHERE m2.s > 0),
pick AS (SELECT *, row_number() OVER (PARTITION BY class, "user" ORDER BY z DESC, ts) AS rk FROM zrow)
SELECT class, "user", ts, v AS v_outlier
FROM pick WHERE rk = 1 AND z > (CAST({_G_LAM} AS DOUBLE[]))[n]
"""


@register("grubbs_outliers", GRUBBS_ORACLE)
def grubbs_outliers(spark, sf_dir):
    """GRUBBSTEST (GTSOutliersHelper.grubbsTest:260) at α=0.05 on each
    series' daily-count profile; fold-exact moments → bit-exact oracle."""
    b = _bucketized(spark, sf_dir, "bucketizer.count")
    pts = b.df.withColumn("v_c", F.col("v_agg").cast("double"))
    out = _stats.grubbs_test(pts, alpha=0.05, value_col="v_c", exact_moments=True)
    return out.select("class", _user(), "ts", "v_outlier")


def _esd_round(r: int) -> str:
    """One ESD iteration, row-based: ts-ordered moment folds per series,
    argmax via window rank, removal via anti-join. Series that fall under
    n<3 or s=0 simply emit no candidate (and nothing is removed, so later
    rounds repeat that no-op — same fixpoint as the Python break)."""
    prev = f"alive{r - 1}"
    return f"""
a{r} AS MATERIALIZED (SELECT class, "user", list(v ORDER BY ts) AS a FROM {prev} GROUP BY class, "user"),
b{r} AS (SELECT class, "user", a, len(a) AS n, list_reduce(a, (p, q) -> p + q) / len(a) AS m
         FROM a{r} WHERE len(a) >= 3),
c{r} AS (SELECT class, "user", n, m,
                sqrt(list_reduce(list_transform(a, x -> (x - m) * (x - m)), (p, q) -> p + q) / (n - 1)) AS s
         FROM b{r}),
z{r} AS (SELECT al.class, al."user", al.ts, al.v, c.n, abs((al.v - c.m) / c.s) AS z
         FROM {prev} al JOIN c{r} c ON al.class = c.class AND al."user" = c."user" WHERE c.s > 0),
p{r} AS MATERIALIZED (SELECT *, row_number() OVER (PARTITION BY class, "user" ORDER BY z DESC, ts) AS rk FROM z{r}),
cand{r} AS (SELECT class, "user", ts, v, z AS stat, (CAST({_E_LAM} AS DOUBLE[]))[n] AS lam, {r} AS j
            FROM p{r} WHERE rk = 1),
alive{r} AS MATERIALIZED (SELECT al.* FROM {prev} al LEFT JOIN cand{r} c
                ON al.class = c.class AND al."user" = c."user" AND al.ts = c.ts
                WHERE c.ts IS NULL)"""


ESD_ORACLE = (
    f"WITH {PTS}, {DAILY}, {_DAILY_COUNT_ARR},\n"
    'alive0 AS MATERIALIZED (SELECT class, "user", ts, v FROM cd),'
    + ",".join(_esd_round(r) for r in (1, 2, 3, 4, 5))
    + """,
cands AS (SELECT * FROM cand1 UNION ALL SELECT * FROM cand2 UNION ALL SELECT * FROM cand3
          UNION ALL SELECT * FROM cand4 UNION ALL SELECT * FROM cand5),
lastj AS (SELECT class, "user", max(CASE WHEN stat > lam THEN j END) AS last_j
          FROM cands GROUP BY class, "user")
SELECT c.class, c."user", c.ts, c.v AS v_outlier
FROM cands c JOIN lastj l ON c.class = l.class AND c."user" = l."user"
WHERE l.last_j IS NOT NULL AND c.j <= l.last_j
"""
)


@register("esd_outliers", ESD_ORACLE)
def esd_outliers(spark, sf_dir):
    """ESDTEST (GTSOutliersHelper.ESDTest:329): generalized ESD, k=5, on
    daily-count profiles; the oracle replays all 5 removal rounds as
    chained CTEs with the same embedded λ(n) doubles."""
    b = _bucketized(spark, sf_dir, "bucketizer.count")
    pts = b.df.withColumn("v_c", F.col("v_agg").cast("double"))
    out = _stats.esd_test(pts, k=5, alpha=0.05, value_col="v_c", exact_moments=True)
    return out.select("class", _user(), "ts", "v_outlier")


# INTERPOLATOR.2D oracle: on the fixture grid f(x,y) = x·y with integer
# axes, every quantity in the bicubic pipeline (central-difference
# derivatives, Hermite coefficients, u/v powers at quarter offsets) is a
# small dyadic rational — float arithmetic is EXACT end-to-end, and exact
# bicubic interpolation of a bilinear function on interior cells IS x·y.
# So the oracle is literally `x * y`, and equality is bitwise, not
# approximate. Query points keep to interior cells (1..6): the reference
# zeroes border derivatives, so border cells would not reproduce x·y.
INTERP2D_ORACLE = """
WITH q AS (
  SELECT event_id,
         CAST(1 + (event_id % 5) AS DOUBLE) + 0.25::DOUBLE * (1 + (event_id // 5) % 3) AS x,
         CAST(1 + ((event_id // 3) % 5) AS DOUBLE) + 0.25::DOUBLE * (1 + (event_id // 7) % 3) AS y
  FROM events WHERE event_id % 101 = 0
)
SELECT event_id, x, y, x * y AS v_interp FROM q
"""


@register("interp2d_bicubic", INTERP2D_ORACLE)
def interp2d_bicubic(spark, sf_dir):
    """INTERPOLATOR.2D.BICUBIC (script/interpolation/BicubicInterpolator.java,
    WarpScriptLib.java:1950): bicubic interpolation over an 8x8 grid of
    f = x*y, queried at event-derived interior points."""
    import numpy as np

    from warp10_platform_spark.analytics.interpolate import apply_interpolator_2d
    from warp10_platform_spark.sources.tables import load_table

    xs = np.arange(8.0)
    ys = np.arange(8.0)
    fgrid = np.outer(xs, ys)
    ev = load_table(spark, sf_dir, "events").where(F.col("event_id") % 101 == 0)
    eid = F.col("event_id")
    q = ev.select(
        "event_id",
        ((1 + eid % 5).cast("double") + F.lit(0.25) * (1 + F.expr("event_id DIV 5") % 3)).alias("x"),
        ((1 + F.expr("event_id DIV 3") % 5).cast("double") + F.lit(0.25) * (1 + F.expr("event_id DIV 7") % 3)).alias("y"),
    )
    return apply_interpolator_2d(q, xs, ys, fgrid)


def _stl_oracle():
    from warp10_platform_spark.queries.stl_oracle import build_stl_oracle

    return build_stl_oracle()


@register("stl_decompose", _stl_oracle())
def stl_decompose(spark, sf_dir):
    """STL (STL.java:36): trend/seasonal/resid of each series' daily
    counts, weekly period. Fold-exact variant → the oracle replays both
    inner-loop iterations (subseries loess, reflect-padded MA low-pass,
    trend loess) bit-for-bit; series shorter than 2*period are excluded
    on both engines (the operator's NaN path is unit-tested instead —
    NaN hashing is engine-ambiguous)."""
    b = _bucketized(spark, sf_dir, "bucketizer.count")
    pts = b.df.withColumn("v_c", F.col("v_agg").cast("double"))
    wn = Window.partitionBy("gts_id")
    pts = pts.withColumn("_n", F.count("*").over(wn)).where(F.col("_n") >= 14).drop("_n")
    out = _fit.stl_decompose_exact(pts, period=7, value_col="v_c")
    return out.select(
        "class", _user(), "ts",
        (F.round("trend", 6) + F.lit(0.0)).alias("trend"),
        (F.round("seasonal", 6) + F.lit(0.0)).alias("seasonal"),
        (F.round("resid", 6) + F.lit(0.0)).alias("resid"),
    )


# LOWESS oracle: neighbors on the day-index axis (small exact ints, so
# distances/dmax are exact and round(…,6) is far from repr boundaries),
# selection ordered by (|d|, x), weighted moments as five ts-ordered left
# folds with the tricube written as explicit products — all mirrored
# verbatim by analytics/fit.lowess_smooth_exact.
_LOW_BASE = LASTBUCKET - NDAYS * DAY
_T = "(e.d / dmax)"
_U = f"(1 - {_T} * {_T} * {_T})"
_W = f"({_U} * {_U} * {_U})"


def _lowess_fold(term: str) -> str:
    return f"list_reduce(list_transform(L, e -> {term}), (p, q) -> p + q)"


LOWESS_ORACLE = f"""
WITH {PTS}, {DAILY},
cd AS (SELECT class, "user", ts, CAST(count(*) AS DOUBLE) AS v,
              (ts - {_LOW_BASE}) // {DAY} AS di
       FROM daily GROUP BY class, "user", ts),
nn AS (SELECT class, "user", count(*) AS cnt FROM cd GROUP BY class, "user"),
pr AS (SELECT e.class, e."user", e.di AS di0, e.ts AS ts0, b.di AS dj, b.v,
              CAST(abs(b.di - e.di) AS DOUBLE) AS d, n.cnt,
              row_number() OVER (PARTITION BY e.class, e."user", e.di
                                 ORDER BY abs(b.di - e.di), b.di) AS rn
       FROM cd e
       JOIN cd b ON e.class = b.class AND e."user" = b."user"
       JOIN nn n ON e.class = n.class AND e."user" = n."user"),
sel AS (SELECT * FROM pr WHERE rn <= greatest(2, CAST(ceiling(0.3::DOUBLE * cnt) AS BIGINT))),
grp AS MATERIALIZED (SELECT class, "user", di0, ts0, max(d) AS dmax, count(*) AS k,
               list(struct_pack(d := d, x := CAST(dj AS DOUBLE), y := v) ORDER BY d, dj) AS L
        FROM sel GROUP BY class, "user", di0, ts0),
sums AS (SELECT class, "user", di0, ts0, dmax, k,
   CASE WHEN dmax = 0 THEN {_lowess_fold('e.y')} / k END AS mean0,
   CASE WHEN dmax > 0 THEN {_lowess_fold(_W)} END AS sw,
   CASE WHEN dmax > 0 THEN {_lowess_fold(_W + ' * e.x')} END AS swx,
   CASE WHEN dmax > 0 THEN {_lowess_fold(_W + ' * e.y')} END AS swy,
   CASE WHEN dmax > 0 THEN {_lowess_fold(_W + ' * e.x * e.y')} END AS swxy,
   CASE WHEN dmax > 0 THEN {_lowess_fold(_W + ' * e.x * e.x')} END AS swxx
   FROM grp),
fin AS (SELECT *, sw * swxx - swx * swx AS den FROM sums)
SELECT class, "user", ts0 AS ts,
  round(CASE WHEN dmax = 0 THEN mean0
             WHEN den = 0 THEN swy / sw
             ELSE (swy - ((sw * swxy - swx * swy) / den) * swx) / sw
                  + ((sw * swxy - swx * swy) / den) * CAST(di0 AS DOUBLE) END, 6) + 0.0 AS v_smooth
FROM fin
"""


@register("lowess_smooth", LOWESS_ORACLE)
def lowess_smooth(spark, sf_dir):
    """LOWESS (LOWESS.java:36): tricube local linear smoothing, frac 0.3,
    over each series' daily-count profile on the day-index axis. The
    fold-exact variant makes the oracle bit-reproducible; the numpy
    lowess_smooth engine op remains the raw-series fast path."""
    b = _bucketized(spark, sf_dir, "bucketizer.count")
    pts = b.df.select(
        "class", "labels_key", "gts_id",
        ((F.col("ts") - F.lit(_LOW_BASE)) / F.lit(DAY)).cast("long").alias("ts"),
        F.col("v_agg").cast("double").alias("v_c"),
    )
    out = _fit.lowess_smooth_exact(pts, frac=0.3, value_col="v_c")
    return out.select(
        "class", _user(),
        (F.lit(_LOW_BASE) + F.col("ts") * F.lit(DAY)).alias("ts"),
        (F.round("v_smooth", 6) + F.lit(0.0)).alias("v_smooth"),
    )


_TWO_PI = 6.283185307179586  # float64(2*pi), same literal in both engines

# Top-3 spectral bins per (class, user): mean-centered DFT where every sum
# is a ts-ordered left fold (Spark `aggregate` 0.0 seed == DuckDB
# `list_reduce` first-element seed bit-for-bit; counts are integer-valued
# doubles so the mean's sum is exact in any order). Rank by rounded
# magnitude desc, bin asc — deterministic on both engines.
FFT_TOP_ORACLE = f"""
WITH {PTS}, {DAILY},
cd AS (SELECT class, "user", ts, CAST(count(*) AS DOUBLE) AS v FROM daily GROUP BY class, "user", ts),
arr AS (SELECT class, "user", list(v ORDER BY ts) AS a FROM cd GROUP BY class, "user"),
ok AS (SELECT class, "user", a, len(a) AS n,
              list_reduce(a, (p, q) -> p + q) / len(a) AS m
       FROM arr WHERE len(a) >= 4),
bins AS (SELECT class, "user", a, n, m, unnest(range(1, n // 2 + 1)) AS k FROM ok),
c AS (SELECT class, "user", k,
  list_reduce(list_transform(a, (x, i) -> (x - m) * cos({_TWO_PI} * k * (i - 1) / n)), (p, q) -> p + q) AS re,
  list_reduce(list_transform(a, (x, i) -> (x - m) * sin({_TWO_PI} * k * (i - 1) / n)), (p, q) -> p + q) AS im
  FROM bins),
mg AS (SELECT class, "user", k AS freq_bin, round(sqrt(re * re + im * im), 6) AS magnitude FROM c),
rk AS (SELECT *, row_number() OVER (PARTITION BY class, "user" ORDER BY magnitude DESC, freq_bin) AS r FROM mg)
SELECT class, "user", freq_bin, magnitude FROM rk WHERE r <= 3
"""


@register("fft_top_bins", FFT_TOP_ORACLE)
def fft_top_bins(spark, sf_dir):
    """FFT top-k (continuum/gts/FFT.java): top-3 magnitude bins of each
    user's mean-centered daily-count spectrum. DFT via ts-ordered JVM
    folds (the fft_bins precedent) so the oracle is bit-exact; the numpy
    rfft engine op (analytics/fit.fft_top) stays the O(n log n) path for
    long series and is unit-tested separately."""
    counts = _bucketized(spark, sf_dir, "bucketizer.count")
    arr = (
        counts.df.groupBy("class", "labels_key")
        .agg(F.expr("transform(sort_array(collect_list(struct(ts, v_agg))), s -> CAST(s.v_agg AS DOUBLE))").alias("a"))
        .where(F.size("a") >= 4)
    )
    n = F.size("a")
    m = F.aggregate("a", F.lit(0.0), lambda acc, x: acc + x) / n
    bins = arr.select(
        "class", "labels_key", "a", n.alias("n"), m.alias("m"),
        F.explode(F.expr("sequence(1, size(a) div 2)")).alias("k"),
    )
    k, nn, mm = F.col("k"), F.col("n"), F.col("m")

    def fold(trig):
        terms = F.transform("a", lambda x, i: (x - mm) * trig(F.lit(_TWO_PI) * k * i / nn))
        return F.aggregate(terms, F.lit(0.0), lambda acc, t: acc + t)

    re, im = fold(F.cos), fold(F.sin)
    mg = bins.select(
        "class", "labels_key", k.alias("freq_bin"),
        F.round(F.sqrt(re * re + im * im), 6).alias("magnitude"),
    )
    w = Window.partitionBy("class", "labels_key").orderBy(F.col("magnitude").desc(), F.col("freq_bin"))
    return (
        mg.withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= 3)
        .select("class", _user(), "freq_bin", "magnitude")
    )


# Pairwise DTW is inherently O(K^2) in the series count, so the query
# bounds K: only the DTW_TOPK most active purchase users (deterministic
# total-count order, user id tie-break) enter the pair join. At sf1 the
# unbounded pairing is 15k users = 112M pairs — a non-plan at any scale;
# the cap keeps the demo semantics and makes the cost SF-invariant.
DTW_TOPK = 40

# DTW oracle: replay the banded DP row-by-row with a recursive CTE (the
# LTTB precedent). Row i is built from row i-1 by a left fold over j whose
# accumulator is the partial new row (list_reduce with DOUBLE[] elements —
# the [j] singletons carry the column index). Every cell is a sum/min of
# integer-valued doubles (daily counts), so numpy and DuckDB agree
# bit-for-bit; 'infinity' marks out-of-band cells exactly like np.inf.
DTW_ORACLE = f"""
WITH RECURSIVE {PTS}, {DAILY},
cd AS (SELECT "user", ts, CAST(count(*) AS DOUBLE) AS v FROM daily
       WHERE class = 'events.purchase' GROUP BY "user", ts),
top AS (SELECT "user" FROM cd GROUP BY "user"
        ORDER BY sum(v) DESC, "user" LIMIT {DTW_TOPK}),
arr AS (SELECT cd."user", list(v ORDER BY ts) AS a
        FROM cd JOIN top ON cd."user" = top."user" GROUP BY cd."user"),
pairs AS (SELECT x."user" AS key_a, y."user" AS key_b, x.a AS va, y.a AS vb,
                 len(x.a) AS n, len(y.a) AS m,
                 greatest(3, abs(len(x.a) - len(y.a))) AS w
          FROM arr x JOIN arr y ON x."user" < y."user"),
dp AS (
  SELECT key_a, key_b, va, vb, n, m, w, 0 AS i,
         list_concat([0.0], list_transform(range(1, m + 1), j -> 'infinity'::DOUBLE)) AS row
  FROM pairs
  UNION ALL
  SELECT key_a, key_b, va, vb, n, m, w, i + 1,
         list_reduce(
           list_concat([['infinity'::DOUBLE]], list_transform(range(1, m + 1), j -> [CAST(j AS DOUBLE)])),
           (acc, e) -> list_append(acc,
               CASE WHEN CAST(e[1] AS BIGINT) BETWEEN greatest(1, i + 1 - w) AND least(m, i + 1 + w)
                    THEN abs(va[i + 1] - vb[CAST(e[1] AS BIGINT)])
                         + least(row[CAST(e[1] AS BIGINT) + 1], row[CAST(e[1] AS BIGINT)], acc[-1])
                    ELSE 'infinity'::DOUBLE END)
         ) AS row
  FROM dp WHERE i < n
)
SELECT key_a, key_b, row[m + 1] AS dtw FROM dp WHERE i = n
"""


@register("dtw_daily", DTW_ORACLE)
def dtw_daily(spark, sf_dir):
    """DTW (DTW.java:35): pairwise warped distance between users' daily
    purchase-count profiles, Sakoe-Chiba band w=3 (widened to |n-m|)."""
    b = _bucketized(spark, sf_dir, "bucketizer.count")
    purchases = b.df.where(F.col("class") == "events.purchase").select(
        _user(), "ts", F.col("v_agg").cast("double").alias("v_agg")
    )
    top = (
        purchases.groupBy("user")
        .agg(F.sum("v_agg").alias("_n"))
        .orderBy(F.desc("_n"), "user")
        .limit(DTW_TOPK)
        .select("user")
    )
    purchases = purchases.join(F.broadcast(top), "user")
    return _fit.dtw_pairs(purchases, value_col="v_agg", window=3, key_col="user")


# Same dyadic-exactness argument as INTERP2D, one dimension up: on
# f = x·y·z with integer axes every tricubic intermediate is a small
# dyadic rational, so the oracle is literally x*y*z, bitwise.
INTERP3D_ORACLE = """
WITH q AS (
  SELECT event_id,
         CAST(1 + (event_id % 3) AS DOUBLE) + 0.25::DOUBLE * (1 + (event_id // 5) % 3) AS x,
         CAST(1 + ((event_id // 3) % 3) AS DOUBLE) + 0.25::DOUBLE * (1 + (event_id // 7) % 3) AS y,
         CAST(1 + ((event_id // 9) % 3) AS DOUBLE) + 0.25::DOUBLE * (1 + (event_id // 11) % 3) AS z
  FROM events WHERE event_id % 101 = 0
)
SELECT event_id, x, y, z, x * y * z AS v_interp FROM q
"""


@register("interp3d_tricubic", INTERP3D_ORACLE)
def interp3d_tricubic(spark, sf_dir):
    """INTERPOLATOR.3D.TRICUBIC (script/interpolation/TricubicInterpolator.java,
    WarpScriptLib.java:1949-1956): tricubic interpolation over a 6x6x6
    grid of f = x*y*z, queried at event-derived interior points."""
    import numpy as np

    from warp10_platform_spark.analytics.interpolate import apply_interpolator_3d
    from warp10_platform_spark.sources.tables import load_table

    xs = np.arange(6.0)
    fgrid = np.einsum("i,j,k->ijk", xs, xs, xs)
    ev = load_table(spark, sf_dir, "events").where(F.col("event_id") % 101 == 0)
    eid = F.col("event_id")
    q = ev.select(
        "event_id",
        ((1 + eid % 3).cast("double") + F.lit(0.25) * (1 + F.expr("event_id DIV 5") % 3)).alias("x"),
        ((1 + F.expr("event_id DIV 3") % 3).cast("double") + F.lit(0.25) * (1 + F.expr("event_id DIV 7") % 3)).alias("y"),
        ((1 + F.expr("event_id DIV 9") % 3).cast("double") + F.lit(0.25) * (1 + F.expr("event_id DIV 11") % 3)).alias("z"),
    )
    return apply_interpolator_3d(q, xs, xs, xs, fgrid)


# Daily event counts per class (all users folded together) — a small
# per-class series pair for lag analysis.
_CLASS_DAILY = (
    'cd AS (SELECT class, ts, CAST(count(*) AS DOUBLE) AS v FROM daily GROUP BY class, ts)'
)


@register("correlate_sliding", (
    f"WITH {PTS}, {DAILY}, {_CLASS_DAILY}, "
    # counts are integral: scale-0 decimals keep the moment sums exact
    # while their squares stay inside DuckDB's INT64 unscaled arithmetic
    # (scale-6 squares overflow at sf1 magnitudes)
    "a AS (SELECT ts, v::DECIMAL(18,0) AS va FROM cd WHERE class = 'events.purchase'), "
    "b AS (SELECT ts, v::DECIMAL(18,0) AS vb FROM cd WHERE class = 'events.click'), "
    "lags AS (SELECT unnest([-2, -1, 0, 1, 2]) AS lag), "
    f"j AS (SELECT lag, va, vb FROM a JOIN (SELECT lag, ts + lag * {DAY} AS ts, vb FROM b, lags) s USING (ts)), "
    "m AS (SELECT lag, count(*) AS n, "
    "             CAST(sum(va) AS DOUBLE) AS sa, CAST(sum(vb) AS DOUBLE) AS sb, "
    "             CAST(sum(va * va) AS DOUBLE) AS saa, CAST(sum(vb * vb) AS DOUBLE) AS sbb, "
    "             CAST(sum(va * vb) AS DOUBLE) AS sab FROM j GROUP BY lag) "
    "SELECT lag, n, round((sab - sa * sb / n) / sqrt((saa - sa * sa / n) * (sbb - sb * sb / n)), 6) AS corr "
    "FROM m WHERE n >= 2 AND (saa - sa * sa / n) > 0 AND (sbb - sb * sb / n) > 0"
))
def correlate_sliding(spark, sf_dir):
    """CORRELATE (continuum/gts/CORRELATE.java): sliding cross-correlation
    of the daily purchase-count series against the click-count series at
    lags −2..+2 days — one exploded join, exact DECIMAL moment sums."""
    counts = _bucketized(spark, sf_dir, "bucketizer.count")
    base = counts.df.groupBy("class", "ts").agg(
        F.sum("v_agg").cast("double").alias("v"), F.lit("{}").alias("labels_key")
    )
    a = base.where(F.col("class") == "events.purchase")
    b = base.where(F.col("class") == "events.click")
    out = _fit.correlate_lagged(a, b, lags=[-2, -1, 0, 1, 2], step_us=DAY,
                                value_col="v", decimal_type="decimal(18,0)")
    return out.select("lag", "n", F.round("corr", 6).alias("corr"))


_BRK = (-0.6745, 0.0, 0.6745)  # alphabet-4 gaussian breakpoints (SAXUtils)


def _sax_letter_sql(z: str) -> str:
    return (
        f"CASE WHEN {z} < {_BRK[0]} THEN 'a' WHEN {z} < {_BRK[1]} THEN 'b' "
        f"WHEN {z} < {_BRK[2]} THEN 'c' ELSE 'd' END"
    )


_PAT_WIN = (
    "w AS (SELECT class, \"user\", ts, v, "
    "             lead(v, 1) OVER win AS v1, lead(v, 2) OVER win AS v2, lead(v, 3) OVER win AS v3 "
    "      FROM dm WINDOW win AS (PARTITION BY class, \"user\" ORDER BY ts)), "
    "z AS (SELECT class, \"user\", ts, (v + v1 + v2 + v3) / 4.0 AS m, "
    "             sqrt(((v - (v + v1 + v2 + v3) / 4.0) * (v - (v + v1 + v2 + v3) / 4.0) "
    "                 + (v1 - (v + v1 + v2 + v3) / 4.0) * (v1 - (v + v1 + v2 + v3) / 4.0) "
    "                 + (v2 - (v + v1 + v2 + v3) / 4.0) * (v2 - (v + v1 + v2 + v3) / 4.0) "
    "                 + (v3 - (v + v1 + v2 + v3) / 4.0) * (v3 - (v + v1 + v2 + v3) / 4.0)) / 4.0) AS sd, "
    "             v, v1, v2, v3 "
    "      FROM w WHERE v3 IS NOT NULL)"
)


@register("patterns_match", (
    f"WITH {PTS}, {DAILY}, "
    'dm AS (SELECT class, "user", ts, round(CAST(sum(v::DECIMAL(28,10)) AS DOUBLE) / count(v), 6) AS v '
    '       FROM daily GROUP BY class, "user", ts), '
    f"{_PAT_WIN}, "
    "words AS (SELECT class, \"user\", ts, "
    f"   {_sax_letter_sql('CASE WHEN sd = 0 THEN 0.0 ELSE (v - m) / sd END')} || "
    f"   {_sax_letter_sql('CASE WHEN sd = 0 THEN 0.0 ELSE (v1 - m) / sd END')} || "
    f"   {_sax_letter_sql('CASE WHEN sd = 0 THEN 0.0 ELSE (v2 - m) / sd END')} || "
    f"   {_sax_letter_sql('CASE WHEN sd = 0 THEN 0.0 ELSE (v3 - m) / sd END')} AS word "
    "   FROM z) "
    "SELECT class, \"user\" AS user, ts, word FROM words WHERE word LIKE 'a%d'"
))
def patterns_match(spark, sf_dir):
    """PATTERNDETECTION (functions/PATTERNDETECTION.java:32, SAXUtils):
    slide a 4-bucket window over each daily-mean series, z-normalize per
    window, SAX-discretize (alphabet 4), emit ticks whose word matches
    the rising pattern 'a..d' — all JVM exprs, letter thresholds shared
    bit-for-bit with the oracle."""
    dm = _bucketized_decimal_mean(spark, sf_dir)
    w = Window.partitionBy("class", "labels_key").orderBy("ts")
    d = dm.select("class", "labels_key", "ts", F.col("v_agg").alias("v"))
    d = (
        d.withColumn("v1", F.lead("v", 1).over(w))
        .withColumn("v2", F.lead("v", 2).over(w))
        .withColumn("v3", F.lead("v", 3).over(w))
        .where(F.col("v3").isNotNull())
    )
    m = (F.col("v") + F.col("v1") + F.col("v2") + F.col("v3")) / 4.0
    var = (
        (F.col("v") - m) * (F.col("v") - m)
        + (F.col("v1") - m) * (F.col("v1") - m)
        + (F.col("v2") - m) * (F.col("v2") - m)
        + (F.col("v3") - m) * (F.col("v3") - m)
    ) / 4.0
    sd = F.sqrt(var)

    def letter(vc):
        z = F.when(sd == 0, F.lit(0.0)).otherwise((vc - m) / sd)
        return (
            F.when(z < _BRK[0], "a").when(z < _BRK[1], "b").when(z < _BRK[2], "c").otherwise("d")
        )

    word = F.concat(letter(F.col("v")), letter(F.col("v1")), letter(F.col("v2")), letter(F.col("v3")))
    return (
        d.select("class", _user(), "ts", word.alias("word"))
        .where(F.col("word").like("a%d"))
    )


@register("dwt_haar", (
    f"WITH {PTS}, {DAILY}, "
    'dm AS (SELECT class, "user", ts, round(CAST(sum(v::DECIMAL(28,10)) AS DOUBLE) / count(v), 6) AS v '
    '       FROM daily GROUP BY class, "user", ts), '
    'idx AS (SELECT class, "user", v, row_number() OVER (PARTITION BY class, "user" ORDER BY ts) - 1 AS i FROM dm), '
    'pairs AS (SELECT class, "user", i // 2 AS k, '
    "                 max(CASE WHEN i % 2 = 0 THEN v END) AS v0, "
    "                 max(CASE WHEN i % 2 = 1 THEN v END) AS v1 "
    '          FROM idx GROUP BY class, "user", i // 2) '
    'SELECT class, "user" AS user, k, '
    "       round((v0 + v1) / 1.4142135623730951, 6) AS approx, "
    "       round((v0 - v1) / 1.4142135623730951, 6) AS detail "
    "FROM pairs WHERE v1 IS NOT NULL"
))
def dwt_haar(spark, sf_dir):
    """FDWT, one Haar level (script/fwt/): pairwise (sum, diff)/√2 over
    each daily-mean series — identical arithmetic on both sides, so the
    compare is bit-exact after round(6)."""
    dm = _bucketized_decimal_mean(spark, sf_dir)
    out = _fit.haar_dwt_level1(dm, value_col="v_agg")
    return out.select(
        "class", _user(), "k", F.round("approx", 6).alias("approx"), F.round("detail", 6).alias("detail")
    )


# ---------- oracled spectral + sketch queries ----------

_FFT_CD = (
    'cd AS (SELECT class, ts, CAST(count(*) AS DOUBLE) AS v FROM daily GROUP BY class, ts)'
)


@register("fft_bins", (
    "WITH {pts}, {daily}, {cd}, "
    "arr AS (SELECT class, list(v ORDER BY ts) AS a FROM cd GROUP BY class), "
    "bins AS (SELECT class, a, k FROM arr, (SELECT unnest([1, 2, 3, 4]) AS k) ks), "
    "c AS (SELECT class, k, "
    f"  list_reduce(list_transform(a, (x, i) -> x * cos({_TWO_PI} * k * (i - 1) / len(a))), (p, q) -> p + q) AS re, "
    f"  list_reduce(list_transform(a, (x, i) -> x * sin({_TWO_PI} * k * (i - 1) / len(a))), (p, q) -> p + q) AS im "
    "  FROM bins) "
    "SELECT class, k, round(sqrt(re * re + im * im), 6) AS magnitude FROM c"
).format(pts=PTS, daily=__import__("warp10_platform_spark.queries.gts", fromlist=["DAILY"]).DAILY, cd=_FFT_CD))
def fft_bins(spark, sf_dir):
    """FFT at fixed bins (continuum/gts/FFT.java): DFT magnitude of each
    class's daily-count series at frequency bins k=1..4. The sums fold a
    ts-ordered array left-to-right on BOTH engines (Spark `aggregate`
    with 0.0 seed == DuckDB `list_reduce` first-element seed, exact),
    so the doubles match bit-for-bit before round(6). Unlike the numpy
    fft_top_bins (rows-only), this shape is fully JVM-side and oracled."""
    counts = _bucketized(spark, sf_dir, "bucketizer.count")
    base = counts.df.groupBy("class", "ts").agg(F.sum("v_agg").cast("double").alias("v"))
    arr = base.groupBy("class").agg(
        F.expr("transform(sort_array(collect_list(struct(ts, v))), s -> s.v)").alias("a")
    )
    bins = arr.select("class", "a", F.explode(F.array(*[F.lit(i) for i in (1, 2, 3, 4)])).alias("k"))
    k, n = F.col("k"), F.size("a")

    def fold(trig):
        terms = F.transform("a", lambda x, i: x * trig(F.lit(_TWO_PI) * k * i / n))
        return F.aggregate(terms, F.lit(0.0), lambda acc, t: acc + t)

    re, im = fold(F.cos), fold(F.sin)
    return bins.select("class", "k", F.round(F.sqrt(re * re + im * im), 6).alias("magnitude"))


# HyperLogLog with a portable hash: both engines derive the SAME 60-bit
# hash from md5, so registers, integer-exact 2^-M sums, and the estimate
# agree bit-for-bit — an HLL whose oracle is the same HLL, not a
# tolerance band.
_HLL_SQL = (
    f"WITH {PTS}, "
    "h AS (SELECT class, ('0x' || substr(md5('hll:' || \"user\"), 1, 15))::BIGINT AS hv FROM pts), "
    "r AS (SELECT class, hv >> 52 AS reg, hv & ((1::BIGINT << 52) - 1) AS w FROM h), "
    "m AS (SELECT class, reg, max(CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END) AS mj "
    "      FROM r GROUP BY class, reg), "
    "s AS (SELECT class, sum(1::BIGINT << (53 - mj)) AS sum_int, count(*) AS nreg FROM m GROUP BY class), "
    "e AS (SELECT class, "
    "        (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 * 9007199254740992.0 "
    "          / CAST(sum_int + (256 - nreg) * (1::BIGINT << 53) AS DOUBLE) AS e_raw, "
    "        256 - nreg AS v0 FROM s), "
    "x AS (SELECT class, CASE WHEN e_raw <= 640.0 AND v0 > 0 THEN 256.0 * ln(256.0 / v0) ELSE e_raw END AS est FROM e), "
    "d AS (SELECT class, count(DISTINCT \"user\") AS n_exact FROM pts GROUP BY class) "
    "SELECT x.class, CAST(floor(x.est) AS BIGINT) AS hll_est, d.n_exact "
    "FROM x JOIN d ON x.class = d.class"
)


@register("hll_cardinality", _HLL_SQL)
def hll_cardinality(spark, sf_dir):
    """FINDSTATS HLL (the reference's HyperLogLogPlus,
    script/HyperLogLogPlus.java): per-class distinct-user estimate with
    p=8 (256 registers). The 2^-M register sum is kept as an exact
    BIGINT in 2^-53 units, so the only float ops are one division and
    (in the small-range branch) one ln — identical in both engines.
    Pure streaming aggregate: no distinct, no shuffle of raw users —
    THE sketch shape for 100 TB directory stats. Exact count joined in
    for reference."""
    pts = canonical_points(spark, sf_dir)
    user = F.element_at("labels", "user")
    h = F.expr(
        "cast(conv(substr(md5(concat('hll:', element_at(labels, 'user'))), 1, 15), 16, 10) AS bigint)"
    )
    r = pts.select(
        "class",
        F.shiftright(h, 52).alias("reg"),
        (h.bitwiseAND(F.expr("shiftleft(CAST(1 AS BIGINT), 52) - 1"))).alias("w"),
        user.alias("user"),
    )
    rho = F.when(F.col("w") == 0, F.lit(53)).otherwise(F.lit(53) - F.length(F.expr("bin(w)")))
    m = r.groupBy("class", "reg").agg(F.max(rho).alias("mj"))
    s = m.groupBy("class").agg(
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 53 - mj)")).alias("sum_int"),
        F.count("*").alias("nreg"),
    )
    alpha_m2 = (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 * 9007199254740992.0
    total = (F.col("sum_int") + (F.lit(256) - F.col("nreg")) * F.expr("shiftleft(CAST(1 AS BIGINT), 53)")).cast("double")
    e_raw = F.lit(alpha_m2) / total
    v0 = F.lit(256) - F.col("nreg")
    est = F.when((e_raw <= 640.0) & (v0 > 0), F.lit(256.0) * F.log(F.lit(256.0) / v0)).otherwise(e_raw)
    x = s.select("class", F.floor(est).cast("long").alias("hll_est"))
    d = r.groupBy("class").agg(F.count_distinct("user").alias("n_exact"))
    return x.join(d, on="class")
