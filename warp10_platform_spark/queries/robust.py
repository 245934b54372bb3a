"""RLOWESS robustness + piecewise HYBRIDTEST/HYBRIDTEST2 — the two
semantic-parity fixes from the r4 verdict, each with a bit-exact DuckDB
replay oracle.

- rlowess_robust: GTSHelper.rlowess:10795 — r bisquare robustifying
  iterations around the q-nearest-neighbour tricube local-linear fit
  (centered/centroid normal equations, pointwise_lowess:10694), on an
  outlier-injected daily-count fixture.
- hybrid_piecewise: GTSOutliersHelper.hybridTest:524 — per piece of
  ppp*bpp buckets: STL seasonal + piece median subtracted, median-mode
  ESD (sigma = MAD/0.6745). The fixture level-shifts +50 between pieces
  so the piecewise result provably differs from whole-series STL+ESD.
- hybrid_entropy: GTSOutliersHelper.entropyHybridTest:643 — the
  HYBRIDTEST2 variant with entropy-weighted phase-mean seasonal.

All folds are ordered (value/tick) on both engines, the same fold-exact
discipline as queries/stl_oracle.py.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from warp10_platform_spark.analytics import fit as _fit
from warp10_platform_spark.queries import register
from warp10_platform_spark.core import timeunits as tu
EPOCH_TS = tu.duck_epoch('ts')
from warp10_platform_spark.queries.analytics import _E_LAM, _user
from warp10_platform_spark.queries.gts import DAILY, HOUR, LASTBUCKET, PTS, _bucketized
from warp10_platform_spark.queries.stl_oracle import _iteration

# ---------------------------------------------------------------- RLOWESS

RQ = 7  # bandwidth (nearest neighbours)
RR = 2  # robustness iterations


def _rloess_cte(prefix: str, src: str, keys: list[str], q: int) -> str:
    """One rho-weighted robust-lowess pass over `src` (keys…, x, y, rho)
    → `{prefix}_out` (keys…, x, val). Exact twin of
    analytics/fit._rloess_fold p=1: q nearest by (|d|, x), tricube^3 * rho
    weights (zero rho floored at 1e-6), centered centroid regression."""
    k = ", ".join(keys)
    ke = " AND ".join(f"e.{c} = b.{c}" for c in keys)
    kn = " AND ".join(f"e.{c} = n.{c}" for c in keys)
    ek = ", ".join(f"e.{c}" for c in keys)
    T = "(e.d / dmaxa)"
    T3 = f"(1 - {T} * {T} * {T})"
    W = (
        f"(CASE WHEN {T} >= 1 THEN 0.0 ELSE {T3} * {T3} * {T3} * "
        "(CASE WHEN e.rho = 0 THEN 0.000001 ELSE e.rho END) END)"
    )

    def fold(term: str) -> str:
        return f"list_reduce(list_transform(L, e -> {term}), (p, q) -> p + q)"

    return f"""
{prefix}_nn AS (SELECT {k}, count(*) AS cnt FROM {src} GROUP BY {k}),
{prefix}_pr AS (
  SELECT {ek}, e.x AS x0, b.x AS xj, b.y, b.rho, abs(b.x - e.x) AS d, n.cnt,
         row_number() OVER (PARTITION BY {ek}, e.x ORDER BY abs(b.x - e.x), b.x) AS rn
  FROM {src} e
  JOIN {src} b ON {ke}
  JOIN {prefix}_nn n ON {kn}),
{prefix}_sel AS (SELECT * FROM {prefix}_pr WHERE rn <= least({q}, cnt)),
{prefix}_grp AS MATERIALIZED (
  SELECT {k}, x0, cnt,
         CASE WHEN {q} > cnt THEN max(d) * {q} / cnt ELSE max(d) END AS dmaxa,
         count(*) AS kk,
         list(struct_pack(d := d, x := xj, y := y, rho := rho) ORDER BY d, xj) AS L
  FROM {prefix}_sel GROUP BY {k}, x0, cnt),
{prefix}_s1 AS (
  SELECT {k}, x0, dmaxa, kk, L,
    CASE WHEN dmaxa = 0 THEN {fold('e.y')} / kk END AS mean0,
    CASE WHEN dmaxa > 0 THEN {fold(W)} END AS sw,
    CASE WHEN dmaxa > 0 THEN {fold(W + ' * e.x')} END AS swx,
    CASE WHEN dmaxa > 0 THEN {fold(W + ' * e.y')} END AS swy
  FROM {prefix}_grp),
{prefix}_s2 AS (
  SELECT {k}, x0, dmaxa, mean0, swx / sw AS ct, swy / sw AS cv,
    CASE WHEN dmaxa > 0 THEN {fold(W + ' * (e.x - swx / sw) * (e.y - swy / sw)')} / sw END AS covar,
    CASE WHEN dmaxa > 0 THEN {fold(W + ' * (e.x - swx / sw) * (e.x - swx / sw)')} / sw END AS varr
  FROM {prefix}_s1),
{prefix}_out AS MATERIALIZED (
  SELECT {k}, x0 AS x,
    CASE WHEN dmaxa = 0 THEN mean0
         WHEN varr = 0 THEN cv + 0.0 * x0
         ELSE (cv - ct * (covar / varr)) + (covar / varr) * x0 END AS val
  FROM {prefix}_s2)"""


def _rlowess_oracle(q: int = RQ, r: int = RR) -> str:
    keys = ["class", '"user"']
    ke = " AND ".join(f"b.{c} = s.{c}" for c in keys)
    head = f"""
WITH {PTS}, {DAILY},
cd AS (SELECT class, "user", ts, CAST(count(*) AS DOUBLE) AS y0 FROM daily GROUP BY class, "user", ts),
num AS (SELECT class, "user", ts, y0,
        row_number() OVER (PARTITION BY class, "user" ORDER BY ts) - 1 AS i,
        count(*) OVER (PARTITION BY class, "user") AS cnt FROM cd),
base AS MATERIALIZED (
  SELECT class, "user", ts, CAST(ts AS DOUBLE) AS x,
         y0 + CASE WHEN i % 11 = 4 THEN 60.0 ELSE 0.0 END AS y
  FROM num WHERE cnt >= 14),
src0 AS (SELECT class, "user", x, y, 1.0 AS rho FROM base)"""
    chunks = []
    for t in range(r + 1):
        chunks.append(_rloess_cte(f"rl{t}", f"src{t}", keys, q))
        if t < r:
            chunks.append(f"""
res{t} AS (SELECT b.class, b."user", b.x, b.y, abs(b.y - s.val) AS rr
  FROM base b JOIN rl{t}_out s ON {ke} AND b.x = s.x),
rme{t} AS (SELECT class, "user", list(rr ORDER BY rr, x) AS LR FROM res{t} GROUP BY class, "user"),
rmd{t} AS (SELECT class, "user",
    CASE WHEN len(LR) % 2 = 1 THEN LR[len(LR) // 2 + 1]
         ELSE (LR[len(LR) // 2] + LR[len(LR) // 2 + 1]) / 2 END AS med FROM rme{t}),
src{t + 1} AS (
  SELECT r.class, r."user", r.x, r.y,
         CASE WHEN 6 * m.med = 0 THEN 1.0
              WHEN r.rr / (6 * m.med) >= 1 THEN 0.0
              ELSE (1 - (r.rr / (6 * m.med)) * (r.rr / (6 * m.med)))
                 * (1 - (r.rr / (6 * m.med)) * (r.rr / (6 * m.med))) END AS rho
  FROM res{t} r JOIN rmd{t} m ON r.class = m.class AND r."user" = m."user")""")
    tail = f"""
SELECT b.class, b."user", b.ts, round(s.val, 6) + 0.0 AS v_smooth
FROM base b JOIN rl{r}_out s ON {ke} AND b.x = s.x
"""
    return head + "," + ",".join(chunks) + tail


def _rlowess_frame(spark, sf_dir):
    """Daily-count profile with deterministic injected outliers (+60 every
    11th day) — the robustness iterations' raison d'etre."""
    b = _bucketized(spark, sf_dir, "bucketizer.count")
    pts = b.df.withColumn("v_c", F.col("v_agg").cast("double"))
    w = Window.partitionBy("gts_id").orderBy("ts")
    wn = Window.partitionBy("gts_id")
    pts = (
        pts.withColumn("i", F.row_number().over(w) - 1)
        .withColumn("cnt", F.count("*").over(wn))
        .where(F.col("cnt") >= 14)
        .withColumn("y", F.col("v_c") + F.when(F.col("i") % 11 == 4, 60.0).otherwise(0.0))
    )
    return pts


@register("rlowess_robust", _rlowess_oracle())
def rlowess_robust(spark, sf_dir):
    """RLOWESS (RLOWESS.java:47, GTSHelper.rlowess:10795): robust lowess
    with q=7 neighbours and r=2 bisquare reweight iterations over an
    outlier-bearing daily-count fixture. The oracle replays all three
    lowess passes AND both rho updates bit-for-bit."""
    pts = _rlowess_frame(spark, sf_dir)
    out = _fit.rlowess_smooth(pts, q=RQ, r=RR, d=0, p=1, value_col="y")
    return out.select("class", _user(), "ts", F.round("v_smooth", 6).alias("v_smooth"))


# ------------------------------------------------------- piecewise HYBRID

H_BPP = 5  # buckets per period
H_PPP = 2  # periods per piece
H_PIECE = H_BPP * H_PPP
H_TAIL = 2 * H_PIECE  # last 20 hourly buckets → exactly 2 pieces
H_K = 2
H_WIN = 240  # hours scanned for the per-class hourly profile
H_SPIKE = 30.0  # injected outlier, one per piece (j % piece == 3)

_K3 = ["class", '"user"', "piece"]


def _esd_med_round(r: int, keys: list[str]) -> str:
    """One MEDIAN-mode ESD iteration (GTSOutliersHelper.madsigma:115:
    sigma = MAD/0.6745, sample-std fallback when MAD == 0), keyed by
    `keys`; same removal/anti-join shape as queries/analytics._esd_round."""
    prev = f"alive{r - 1}"
    k = ", ".join(keys)
    kal = ", ".join(f"al.{c}" for c in keys)
    k_am = " AND ".join(f"al.{c} = m.{c}" for c in keys)
    k_dm = " AND ".join(f"d.{c} = a.{c}" for c in keys)
    k_as = " AND ".join(f"al.{c} = s.{c}" for c in keys)
    k_ac = " AND ".join(f"al.{c} = c.{c}" for c in keys)
    kd = ", ".join(f"d.{c}" for c in keys)
    return f"""
ml{r} AS MATERIALIZED (
  SELECT {k}, list(v ORDER BY v, ts) AS LV, list(v ORDER BY ts) AS LVT, count(*) AS n
  FROM {prev} GROUP BY {k}),
md{r} AS (
  SELECT {k}, n, LVT,
         CASE WHEN n % 2 = 1 THEN LV[n // 2 + 1] ELSE (LV[n // 2] + LV[n // 2 + 1]) / 2 END AS med
  FROM ml{r} WHERE n >= 3),
ad{r} AS (SELECT {kal}, al.ts, al.v, m.n, m.med, abs(al.v - m.med) AS av
          FROM {prev} al JOIN md{r} m ON {k_am}),
adl{r} AS (SELECT {k}, list(av ORDER BY av, ts) AS LA FROM ad{r} GROUP BY {k}),
mad{r} AS (SELECT {k},
    CASE WHEN len(LA) % 2 = 1 THEN LA[len(LA) // 2 + 1]
         ELSE (LA[len(LA) // 2] + LA[len(LA) // 2 + 1]) / 2 END AS mad FROM adl{r}),
mu{r} AS (SELECT {kd}, d.n, d.med, d.LVT, a.mad,
    CASE WHEN a.mad = 0 THEN list_reduce(d.LVT, (p, q) -> p + q) / d.n END AS mu
  FROM md{r} d JOIN mad{r} a ON {k_dm}),
sg{r} AS (SELECT {k}, n, med,
    CASE WHEN mad <> 0 THEN mad / 0.6745
         ELSE sqrt(list_reduce(list_transform(LVT, x -> (x - mu) * (x - mu)), (p, q) -> p + q) / (n - 1)) END AS sig
  FROM mu{r}),
z{r} AS (SELECT {kal}, al.ts, al.v, s.n, abs((al.v - s.med) / s.sig) AS z
         FROM {prev} al JOIN sg{r} s ON {k_as} WHERE s.sig > 0),
p{r} AS MATERIALIZED (SELECT *, row_number() OVER (PARTITION BY {k} ORDER BY z DESC, ts) AS rk FROM z{r}),
cand{r} AS (SELECT {k}, ts, v, z AS stat, (CAST({_E_LAM} AS DOUBLE[]))[n] AS lam, {r} AS j
            FROM p{r} WHERE rk = 1),
alive{r} AS MATERIALIZED (SELECT {kal}, al.ts, al.v FROM {prev} al LEFT JOIN cand{r} c
                ON {k_ac} AND al.ts = c.ts
                WHERE c.ts IS NULL)"""


_HYBRID_BASE = f"""
WITH pts AS (SELECT 'events.' || event_type AS class, 'all' AS "user", {EPOCH_TS} AS ts FROM events),
hh AS (SELECT class, "user", {LASTBUCKET} - (({LASTBUCKET} - ts) // {HOUR}) * {HOUR} AS ts FROM pts
       WHERE ts <= {LASTBUCKET} AND ts > {LASTBUCKET} - {H_WIN} * {HOUR}),
cd AS (SELECT class, "user", ts, CAST(count(*) AS DOUBLE) AS y0 FROM hh GROUP BY class, "user", ts),
num AS (SELECT class, "user", ts, y0,
        row_number() OVER (PARTITION BY class, "user" ORDER BY ts) - 1 AS ig,
        count(*) OVER (PARTITION BY class, "user") AS cntg FROM cd),
hb AS (SELECT class, "user", ts, y0, ig - (cntg - {H_TAIL}) AS j
       FROM num WHERE cntg >= {H_TAIL} AND ig >= cntg - {H_TAIL}),
base AS MATERIALIZED (
  SELECT class, "user", j // {H_PIECE} AS piece, j % {H_PIECE} AS i,
         {H_PIECE} AS cnt, ts,
         y0 + 50.0 * CAST(j // {H_PIECE} AS DOUBLE)
            + CASE WHEN j % {H_PIECE} = 3 THEN {H_SPIKE} ELSE 0.0 END AS y
  FROM hb)"""


def _hybrid_tail() -> str:
    k3 = ", ".join(_K3)
    k_cl = " AND ".join(f"c.{c} = l.{c}" for c in _K3)
    cands = " UNION ALL ".join(f"SELECT * FROM cand{r}" for r in range(1, H_K + 1))
    return f""",
cands AS ({cands}),
lastj AS (SELECT {k3}, max(CASE WHEN stat > lam THEN j END) AS last_j FROM cands GROUP BY {k3})
SELECT c.class, c."user", c.ts, c.v AS v_outlier
FROM cands c JOIN lastj l ON {k_cl}
WHERE l.last_j IS NOT NULL AND c.j <= l.last_j
"""


_MED_PIECE = """
medl AS (SELECT class, "user", piece, list(y ORDER BY y, i) AS L FROM base GROUP BY class, "user", piece),
medp AS (SELECT class, "user", piece,
    CASE WHEN len(L) % 2 = 1 THEN L[len(L) // 2 + 1]
         ELSE (L[len(L) // 2] + L[len(L) // 2 + 1]) / 2 END AS m FROM medl)"""


def _hybrid_oracle() -> str:
    chunks = []
    chunks.extend(_iteration(1, None, tuple(_K3), "base", H_BPP))
    chunks.extend(_iteration(2, "trend1_out", tuple(_K3), "base", H_BPP))
    chunks.append(_MED_PIECE)
    kbs = " AND ".join(f"b.{c} = s.{c}" for c in _K3)
    kbm = " AND ".join(f"b.{c} = m.{c}" for c in _K3)
    chunks.append(f"""
alive0 AS MATERIALIZED (
  SELECT b.class, b."user", b.piece, b.ts, b.y - s.val - m.m AS v
  FROM base b
  JOIN seas2_out s ON {kbs} AND b.i = s.i
  JOIN medp m ON {kbm})""")
    chunks.extend(_esd_med_round(r, _K3) for r in range(1, H_K + 1))
    return _HYBRID_BASE + "," + ",".join(chunks) + _hybrid_tail()


def _entropy_oracle() -> str:
    """DuckDB replay of _entropy_seasonal (entropyHybridTest:699-738):
    per (series, piece, phase): softmax-of-sqrt-zscore → normalized
    entropy → seasonal = entropy * phase mean."""
    chunks = [f"""
phx AS (SELECT class, "user", piece, i % {H_BPP} AS ph, i, ts, y FROM base),
e0 AS (SELECT class, "user", piece, ph, list(y ORDER BY i) AS LY, count(*) AS m
       FROM phx GROUP BY class, "user", piece, ph),
e1 AS (SELECT *, list_reduce(LY, (p, q) -> p + q) / m AS mu FROM e0),
e2 AS (SELECT *, CASE WHEN m > 1
         THEN sqrt(list_reduce(list_transform(LY, x -> (x - mu) * (x - mu)), (p, q) -> p + q) / (m - 1))
         ELSE 0.0 END AS sigma FROM e1),
e3 AS (SELECT *, list_transform(LY,
         x -> exp(sqrt(CASE WHEN sigma <> 0 THEN abs((x - mu) / sigma) ELSE 1.0 END))) AS LP FROM e2),
e4 AS (SELECT *, list_reduce(LP, (p, q) -> p + q) AS total FROM e3),
e5 AS (SELECT *, list_reduce(list_transform(LP, x -> -(x / total) * ln(x / total)), (p, q) -> p + q) AS ent0
       FROM e4),
e6 AS (SELECT class, "user", piece, ph,
         (CASE WHEN ent0 <> 0 THEN ent0 / ln(CAST(m AS DOUBLE)) ELSE 1.0 END) * mu AS seasonal
       FROM e5)""", _MED_PIECE]
    kps = " AND ".join(f"p.{c} = s.{c}" for c in _K3)
    kpm = " AND ".join(f"p.{c} = m.{c}" for c in _K3)
    chunks.append(f"""
alive0 AS MATERIALIZED (
  SELECT p.class, p."user", p.piece, p.ts, p.y - s.seasonal - m.m AS v
  FROM phx p
  JOIN e6 s ON {kps} AND p.ph = s.ph
  JOIN medp m ON {kpm})""")
    chunks.extend(_esd_med_round(r, _K3) for r in range(1, H_K + 1))
    return _HYBRID_BASE + "," + ",".join(chunks) + _hybrid_tail()


def _hybrid_frame(spark, sf_dir):
    """Per-class HOURLY count profile (one GTS per event class, user=all),
    last 20 non-empty hourly buckets → 2 pieces of 2 periods x 5 buckets;
    +50 level shift on the second piece (piecewise != whole-series) and a
    +30 injected outlier per piece at in-piece index 3."""
    from warp10_platform_spark.sources.tables import canonical_points

    pts = canonical_points(spark, sf_dir).where(
        (F.col("ts") <= LASTBUCKET) & (F.col("ts") > LASTBUCKET - H_WIN * HOUR)
    )
    hb = pts.select(
        "class", F.expr(f"{LASTBUCKET} - (({LASTBUCKET} - ts) DIV {HOUR}) * {HOUR}").alias("ts")
    )
    cd = hb.groupBy("class", "ts").agg(F.count("*").cast("double").alias("y0"))
    cd = cd.withColumn("labels_key", F.lit('[{"key":"user","value":"all"}]')).withColumn(
        "gts_id", F.xxhash64("class", "labels_key")
    )
    w = Window.partitionBy("gts_id").orderBy("ts")
    wn = Window.partitionBy("gts_id")
    return (
        cd.withColumn("ig", F.row_number().over(w) - 1)
        .withColumn("cntg", F.count("*").over(wn))
        .where((F.col("cntg") >= H_TAIL) & (F.col("ig") >= F.col("cntg") - H_TAIL))
        .withColumn("j", F.col("ig") - (F.col("cntg") - H_TAIL))
        .withColumn(
            "y",
            F.col("y0")
            + 50.0 * F.expr(f"CAST(j DIV {H_PIECE} AS DOUBLE)")
            + F.when(F.col("j") % H_PIECE == 3, H_SPIKE).otherwise(0.0),
        )
    )


@register("hybrid_piecewise", _hybrid_oracle())
def hybrid_piecewise(spark, sf_dir):
    """HYBRIDTEST (HYBRIDTEST.java:110, GTSOutliersHelper.hybridTest:524):
    piecewise seasonal-hybrid ESD honoring the piece argument — 2 pieces
    of 2 periods x 5 buckets over a level-shifted hourly-count fixture;
    STL seasonal + piece median removed, median-mode ESD (k=2) per piece."""
    pts = _hybrid_frame(spark, sf_dir)
    out = _fit.hybrid_test_exact(pts, H_BPP, H_PPP, k=H_K, alpha=0.05, value_col="y")
    return out.select("class", _user(), "ts", "v_outlier")


@register("hybrid_entropy", _entropy_oracle())
def hybrid_entropy(spark, sf_dir):
    """HYBRIDTEST2 (HYBRIDTEST2.java:109, entropyHybridTest:643): the
    entropy-seasonal piecewise hybrid ESD on the same fixture."""
    pts = _hybrid_frame(spark, sf_dir)
    out = _fit.hybrid_test_exact(pts, H_BPP, H_PPP, k=H_K, alpha=0.05, value_col="y", entropy=True)
    return out.select("class", _user(), "ts", "v_outlier")
