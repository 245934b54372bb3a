"""DuckDB replay of the fold-exact STL (analytics/fit.stl_decompose_exact).

Generates one large chained-CTE query that replays, bit-for-bit, every
step of the 2-iteration inner loop over each series' daily-count profile:
detrend → per-phase cycle-subseries loess → MA(period)×2 + MA(3) low-pass
with reflect padding → deseasonalize → trend loess. The loess and MA
building blocks are the same fold-exact shapes proven by the LOWESS
oracle (ordered neighbor folds / ascending offset folds); only
list_reduce over ordered lists is used (stable in DuckDB 1.0.0 — see the
analytics.py note on list-subscript nondeterminism).

Series shorter than 2*period are excluded on BOTH engines (the operator
itself emits NaN rows for them — unit-tested — but NaN hashing is
engine-ambiguous, so the QUERY restricts).
"""

from __future__ import annotations

from warp10_platform_spark.queries.gts import DAILY, PTS

PERIOD = 7
ITERATIONS = 2


def _loess_cte(prefix: str, src: str, keys: list[str], frac_expr: str) -> str:
    """Fold-exact loess over `src` (columns: keys…, x DOUBLE, y DOUBLE)
    → CTE `{prefix}_out` (keys…, x, val). frac_expr may reference `cnt`."""
    k = ", ".join(keys)
    ke = " AND ".join(f"e.{c} = b.{c}" for c in keys)
    kn = " AND ".join(f"e.{c} = n.{c}" for c in keys)
    ek = ", ".join(f"e.{c}" for c in keys)
    t = "(e.d / e.dmax)"  # placeholder; real tricube built below per fold
    _ = t
    T = "(e.d / dmax)"
    U = f"(1 - {T} * {T} * {T})"
    W = f"({U} * {U} * {U})"

    def fold(term: str) -> str:
        return f"list_reduce(list_transform(L, e -> {term}), (p, q) -> p + q)"

    return f"""
{prefix}_nn AS (SELECT {k}, count(*) AS cnt FROM {src} GROUP BY {k}),
{prefix}_pr AS (
  SELECT {ek}, e.x AS x0, b.x AS xj, b.y, abs(b.x - e.x) AS d, n.cnt,
         row_number() OVER (PARTITION BY {ek}, e.x ORDER BY abs(b.x - e.x), b.x) AS rn
  FROM {src} e
  JOIN {src} b ON {ke}
  JOIN {prefix}_nn n ON {kn}),
{prefix}_sel AS (SELECT * FROM {prefix}_pr
  WHERE rn <= greatest(2, CAST(ceiling(({frac_expr}) * cnt) AS BIGINT))),
{prefix}_grp AS MATERIALIZED (
  SELECT {k}, x0, max(d) AS dmax, count(*) AS kk,
         list(struct_pack(d := d, x := xj, y := y) ORDER BY d, xj) AS L
  FROM {prefix}_sel GROUP BY {k}, x0),
{prefix}_sums AS (
  SELECT {k}, x0, dmax, kk,
    CASE WHEN dmax = 0 THEN {fold('e.y')} / kk END AS mean0,
    CASE WHEN dmax > 0 THEN {fold(W)} END AS sw,
    CASE WHEN dmax > 0 THEN {fold(W + ' * e.x')} END AS swx,
    CASE WHEN dmax > 0 THEN {fold(W + ' * e.y')} END AS swy,
    CASE WHEN dmax > 0 THEN {fold(W + ' * e.x * e.y')} END AS swxy,
    CASE WHEN dmax > 0 THEN {fold(W + ' * e.x * e.x')} END AS swxx
  FROM {prefix}_grp),
{prefix}_out AS MATERIALIZED (
  SELECT {k}, x0 AS x,
    CASE WHEN dmax = 0 THEN mean0
         WHEN sw * swxx - swx * swx = 0 THEN swy / sw
         ELSE (swy - ((sw * swxy - swx * swy) / (sw * swxx - swx * swx)) * swx) / sw
              + ((sw * swxy - swx * swy) / (sw * swxx - swx * swx)) * x0 END AS val
  FROM {prefix}_sums)"""


DEFAULT_KEYS = ("class", '"user"')


def _ma_cte(prefix: str, src: str, k: int, keys: tuple = DEFAULT_KEYS) -> str:
    """Reflect-padded MA(k) over `src` (keys…, i, cnt, val) →
    `{prefix}_out` (keys…, i, cnt, val); ascending-offset fold of
    val[mirror(i+d)] * (1/k)."""
    lo = k // 2
    offsets = ", ".join(str(d) for d in range(-lo, k - lo))
    inv = repr(1.0 / k)
    ks = ", ".join(f"s.{c}" for c in keys)
    ka = ", ".join(f"a.{c}" for c in keys)
    kab = " AND ".join(f"a.{c} = b.{c}" for c in keys)
    k_ = ", ".join(keys)
    return f"""
{prefix}_j AS (
  SELECT {ks}, s.i, s.cnt, o.d,
         CASE WHEN s.i + o.d < 0 THEN -(s.i + o.d)
              WHEN s.i + o.d >= s.cnt THEN 2 * s.cnt - 2 - (s.i + o.d)
              ELSE s.i + o.d END AS j
  FROM {src} s CROSS JOIN (SELECT unnest([{offsets}]) AS d) o),
{prefix}_t AS (
  SELECT {ka}, a.i, a.cnt, a.d, b.val * {inv} AS term
  FROM {prefix}_j a JOIN {src} b ON {kab} AND b.i = a.j),
{prefix}_out AS MATERIALIZED (
  SELECT {k_}, i, cnt, list_reduce(list(term ORDER BY d), (p, q) -> p + q) AS val
  FROM {prefix}_t GROUP BY {k_}, i, cnt)"""


def _iteration(
    r: int,
    trend_src: str | None,
    keys: tuple = DEFAULT_KEYS,
    base: str = "base",
    period: int = PERIOD,
) -> list[str]:
    """One STL inner iteration as a list of comma-joinable CTE chunks:
    produces seas{r}_out (keys…,i,cnt,val) and trend{r}_out
    (keys…,x,val). trend_src None → trend ≡ 0. `base` must expose
    (keys…, i, cnt, ts, y)."""
    kb = ", ".join(f"b.{c}" for c in keys)
    kbt = " AND ".join(f"b.{c} = t.{c}" for c in keys)
    kbs = " AND ".join(f"b.{c} = s.{c}" for c in keys)
    kso = " AND ".join(f"s.{c} = o.{c}" for c in keys)
    ksd = " AND ".join(f"s.{c} = d.{c}" for c in keys)
    kcl = " AND ".join(f"c.{c} = l.{c}" for c in keys)
    ks = ", ".join(f"s.{c}" for c in keys)
    kc = ", ".join(f"c.{c}" for c in keys)
    k_ = ", ".join(keys)
    trend_join = f"LEFT JOIN {trend_src} t ON {kbt} AND CAST(b.i AS DOUBLE) = t.x" if trend_src else ""
    trend_val = "coalesce(t.val, 0.0)" if trend_src else "0.0"
    return [
        f"""
detr{r} AS MATERIALIZED (
  SELECT {kb}, b.i, b.cnt, b.ts, b.y, b.y - {trend_val} AS detr
  FROM {base} b {trend_join}),
sub{r} AS (
  SELECT {k_}, i % {period} AS ph, CAST(i // {period} AS DOUBLE) AS x, detr AS y, i
  FROM detr{r})""",
        _loess_cte(f"phl{r}", f"sub{r}", list(keys) + ["ph"], "0.75::DOUBLE"),
        f"""
cyc{r} AS MATERIALIZED (
  SELECT {ks}, s.i, d.cnt, o.val
  FROM sub{r} s
  JOIN phl{r}_out o ON {kso} AND s.ph = o.ph AND s.x = o.x
  JOIN detr{r} d ON {ksd} AND s.i = d.i)""",
        _ma_cte(f"ma{r}a", f"cyc{r}", period, keys),
        _ma_cte(f"ma{r}b", f"ma{r}a_out", period, keys),
        _ma_cte(f"ma{r}c", f"ma{r}b_out", 3, keys),
        f"""
seas{r}_out AS MATERIALIZED (
  SELECT {kc}, c.i, c.cnt, c.val - l.val AS val
  FROM cyc{r} c JOIN ma{r}c_out l ON {kcl} AND c.i = l.i),
trin{r} AS (
  SELECT {kb}, CAST(b.i AS DOUBLE) AS x, b.y - s.val AS y
  FROM {base} b JOIN seas{r}_out s ON {kbs} AND b.i = s.i)""",
        _loess_cte(
            f"trl{r}", f"trin{r}", list(keys),
            f"greatest(0.3::DOUBLE, 1.5::DOUBLE * {period} / cnt)",
        ),
        f"""
trend{r}_out AS MATERIALIZED (SELECT {k_}, x, val FROM trl{r}_out)""",
    ]


def build_stl_oracle() -> str:
    head = f"""
WITH {PTS}, {DAILY},
cd AS (SELECT class, "user", ts, CAST(count(*) AS DOUBLE) AS y FROM daily GROUP BY class, "user", ts),
num AS (SELECT class, "user", ts, y,
               row_number() OVER (PARTITION BY class, "user" ORDER BY ts) - 1 AS i,
               count(*) OVER (PARTITION BY class, "user") AS cnt
        FROM cd),
base AS MATERIALIZED (SELECT * FROM num WHERE cnt >= {2 * PERIOD})"""
    chunks = []
    prev = None
    for r in range(1, ITERATIONS + 1):
        chunks.extend(_iteration(r, prev))
        prev = f"trend{r}_out"
    last = ITERATIONS
    tail = f"""
SELECT b.class, b."user", b.ts,
       round(t.val, 6) + 0.0 AS trend,
       round(s.val, 6) + 0.0 AS seasonal,
       round(b.y - t.val - s.val, 6) + 0.0 AS resid
FROM base b
JOIN trend{last}_out t ON b.class = t.class AND b."user" = t."user" AND CAST(b.i AS DOUBLE) = t.x
JOIN seas{last}_out s ON b.class = s.class AND b."user" = s."user" AND b.i = s.i
"""
    return head + "," + ",".join(chunks) + tail


def build_stl_esd_oracle(esd_round_fn, k: int) -> str:
    """STLESDTEST replay: the STL chain above feeding (unrounded)
    residual rows into the row-based ESD rounds (esd_round_fn = the
    generator from queries/analytics.py, passed in to avoid a circular
    import — analytics is mid-import when this runs)."""
    head = f"""
WITH {PTS}, {DAILY},
cd AS (SELECT class, "user", ts, CAST(count(*) AS DOUBLE) AS y FROM daily GROUP BY class, "user", ts),
num AS (SELECT class, "user", ts, y,
               row_number() OVER (PARTITION BY class, "user" ORDER BY ts) - 1 AS i,
               count(*) OVER (PARTITION BY class, "user") AS cnt
        FROM cd),
base AS MATERIALIZED (SELECT * FROM num WHERE cnt >= {2 * PERIOD})"""
    chunks = []
    prev = None
    for r in range(1, ITERATIONS + 1):
        chunks.extend(_iteration(r, prev))
        prev = f"trend{r}_out"
    last = ITERATIONS
    chunks.append(f"""
alive0 AS MATERIALIZED (
  SELECT b.class, b."user", b.ts, b.y - t.val - s.val AS v
  FROM base b
  JOIN trend{last}_out t ON b.class = t.class AND b."user" = t."user" AND CAST(b.i AS DOUBLE) = t.x
  JOIN seas{last}_out s ON b.class = s.class AND b."user" = s."user" AND b.i = s.i)""")
    chunks.extend(esd_round_fn(r) for r in range(1, k + 1))
    cands_union = " UNION ALL ".join(f"SELECT * FROM cand{r}" for r in range(1, k + 1))
    tail = f""",
cands AS ({cands_union}),
lastj AS (SELECT class, "user", max(CASE WHEN stat > lam THEN j END) AS last_j
          FROM cands GROUP BY class, "user")
SELECT c.class, c."user", c.ts, c.v AS v_outlier
FROM cands c JOIN lastj l ON c.class = l.class AND c."user" = l."user"
WHERE l.last_j IS NOT NULL AND c.j <= l.last_j
"""
    return head + "," + ",".join(chunks) + tail
