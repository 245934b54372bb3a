"""Expected answers computed by DuckDB, and the comparisons against them."""

from __future__ import annotations

import math

REL_TOL = 1e-9


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def dashboard_sql(script, sf_dir: str) -> str | None:
    """DuckDB twin of a dashboard script, or None when its bucketizer is
    not count or sum (those two are the ones checked exactly)."""
    if script.agg not in ("count", "sum"):
        return None
    cls = script.cls[1:] if script.cls.startswith("~") else None
    where = [
        f"regexp_full_match(class, {_sql_str(cls)})" if cls else f"class = {_sql_str(script.cls)}",
        f"t BETWEEN {script.start} AND {script.end}",
        f"regexp_full_match(\"user\", {_sql_str(script.user_re)})",
    ]
    last, span, n = script.end, script.span, script.count
    agg = "count(*)::DOUBLE" if script.agg == "count" else "sum(v)"
    sql = f"""
WITH pts AS (
  SELECT 'events.' || event_type AS class, CAST(user_id AS VARCHAR) AS "user",
         epoch_us(ts) AS t, value AS v
  FROM read_parquet({_sql_str(sf_dir + '/events.parquet')})
), b AS (
  SELECT class, "user", {last} - (({last} - t) // {span}) * {span} AS t, {agg} AS v
  FROM pts WHERE {' AND '.join(where)} AND t > {last - span * n} AND t <= {last}
  GROUP BY ALL
)"""
    body = "SELECT class, \"user\", t, v FROM b"
    if script.mapper:
        name, pre, post = script.mapper
        fn = "avg" if name == "mean" else name
        sql += f""", m AS (
  SELECT class, "user", t, {fn}(v) OVER (PARTITION BY class, "user" ORDER BY t
         ROWS BETWEEN {pre} PRECEDING AND {post} FOLLOWING) AS v FROM b
)"""
        body = "SELECT class, \"user\", t, v FROM m"
    if script.reducer:
        name, by_user = script.reducer
        fn = {"mean": "avg", "count": "count"}.get(name, name)
        key = "\"user\"" if by_user else "NULL"
        src = "m" if script.mapper else "b"
        body = f"SELECT NULL AS class, {key} AS \"user\", t, {fn}(v)::DOUBLE AS v FROM {src} GROUP BY ALL"
    return sql + "\n" + body


def series_values(response: list, script) -> dict:
    """Engine /exec response → {(class, user): {tick: value}} keyed the way
    dashboard_sql keys its rows (class dropped after a REDUCE, user kept
    only when the REDUCE groups by it)."""
    out: dict = {}
    for gts in response[0] if response and isinstance(response[0], list) else response:
        labels = gts.get("l") or {}
        if script.reducer:
            key = (None, labels.get("user") if script.reducer[1] else None)
        else:
            key = (gts.get("c"), labels.get("user"))
        vals = out.setdefault(key, {})
        for point in gts.get("v") or []:
            vals[int(point[0])] = point[-1]
    return out


def expected_values(rows) -> dict:
    out: dict = {}
    for cls, user, t, v in rows:
        if v is None:
            continue
        out.setdefault((cls, user), {})[int(t)] = v
    return out


def same_values(got: dict, want: dict, rel_tol: float = REL_TOL) -> bool:
    """Exact keys, values equal up to a relative tolerance (Spark sums
    doubles in a data-dependent order)."""
    got = {k: v for k, v in got.items() if v}
    want = {k: v for k, v in want.items() if v}
    if got.keys() != want.keys():
        return False
    for k, series in want.items():
        g = got[k]
        if g.keys() != series.keys():
            return False
        for t, v in series.items():
            if not _close(g[t], v, rel_tol):
                return False
    return True


def _close(a, b, rel_tol: float) -> bool:
    if a is None or b is None:
        return a is b
    a, b = float(a), float(b)
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return math.isclose(a, b, rel_tol=rel_tol, abs_tol=1e-9)


# ---- catalog ---------------------------------------------------------

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def catalog_expected(sf_dir: str, names: list[str], cache_dir: str) -> dict:
    """name → DuckDB result of each query's oracle in canonical() form,
    computed once per fixture and oracle text and cached under `cache_dir`."""
    import hashlib
    import os
    import pickle

    from warp10_platform_spark.queries import ORACLES

    sqls = {n: ORACLES[n] for n in names}
    h = hashlib.sha256(repr(sorted(sqls.items())).encode())
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            st = os.stat(p)
            h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}".encode())
    path = os.path.join(cache_dir, f"catalog-expected-{h.hexdigest()[:16]}.pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    import duckdb

    con = duckdb.connect()
    con.execute("SET enable_progress_bar=false")
    con.execute("SET threads=4")
    con.execute("SET memory_limit='2GB'")
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet({_sql_str(p)})")
    out = {n: canonical(con.sql(sql).df()) for n, sql in sqls.items()}
    con.close()
    tmp = path + f".{os.getpid()}"
    with open(tmp, "wb") as f:
        pickle.dump(out, f)
    os.replace(tmp, path)
    return out


def frame_mismatch(got, want, rel_tol: float = 1e-6) -> str | None:
    """None when result frame `got` holds the rows of `want` (a frame
    already in canonical() form) in any order, with floats equal up to
    rel_tol; else a short description."""
    import numpy as np

    if sorted(got.columns) != list(want.columns):
        return f"columns {sorted(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    g, w = canonical(got), want
    for c in g.columns:
        a, b = g[c].to_numpy(), w[c].to_numpy()
        if a.dtype.kind in "fiub" and b.dtype.kind in "fiub":
            a, b = a.astype("float64"), b.astype("float64")
            ok = np.isclose(a, b, rtol=rel_tol, atol=1e-6, equal_nan=True)
        else:
            ok = np.array([x == y for x, y in zip(a.tolist(), b.tolist())], dtype=bool)
        if not ok.all():
            i = int(np.argmin(ok))
            return f"{c}[{i}]: {a[i]!r} != {b[i]!r}"
    return None


def canonical(df):
    """Columns in name order, cells in one comparable representation
    (epoch µs for timestamps, text for nested values), rows sorted."""
    import pandas as pd

    cols = sorted(df.columns)
    out = pd.DataFrame(index=range(len(df)))
    for c in cols:
        s = df[c].reset_index(drop=True)
        if pd.api.types.is_datetime64_any_dtype(s):
            s = s.astype("datetime64[us]").astype("int64")
        elif s.dtype == object:
            if pd.api.types.infer_dtype(s, skipna=True) in ("string", "empty"):
                s = ("s:" + s).fillna("")
            else:
                s = s.map(_cell_text)
        out[c] = s
    return out.sort_values(cols, na_position="first", kind="mergesort").reset_index(drop=True)


def _cell_text(v):
    import datetime
    import decimal

    import numpy as np
    import pandas as pd

    if v is None or v is pd.NaT or (isinstance(v, float) and math.isnan(v)):
        return ""
    if isinstance(v, str):
        return "s:" + v
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, (pd.Timestamp, datetime.datetime, datetime.date)):
        return "t:%d" % pd.Timestamp(v).value
    if isinstance(v, (decimal.Decimal, int, float)) and not isinstance(v, bool):
        return "n:%r" % float(v)
    if isinstance(v, (list, tuple, np.ndarray)):
        return "l:" + "|".join(_cell_text(x) for x in v)
    if isinstance(v, dict):
        return "m:" + "|".join(f"{k}={_cell_text(x)}" for k, x in sorted(v.items()))
    return "o:" + str(v)
