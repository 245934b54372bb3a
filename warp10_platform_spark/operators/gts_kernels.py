"""numpy kernels for GTS frames held in driver memory as pyarrow Tables.

A small /exec request (a FETCH whose class-pruned files fall under
warpscript/functions.py's _LOCAL_MAX_BYTES) is answered on the driver:
the reference evaluates WarpScript over in-memory GTS arrays too (SURVEY
§1.1, GeoTimeSerie's parallel primitive arrays), and for a kilobyte answer
that beats planning Spark jobs.  These kernels give BUCKETIZE, MAP and
REDUCE Spark's semantics over such a Table.  The caller checks `covers`
for the op's name first; a kernel returns None for another case it does
not cover, and the caller then continues in Spark (GTSFrame.df).

Agreement with the Spark operators (tests/test_local_route.py):

- keys, ticks, counts, max and min are identical;
- BUCKETIZE sums and means add in scan order (np.bincount is a sequential
  loop), MAP window sums add each frame from its first row, as Spark's
  sliding window frame recomputes them; Spark merges per-partition
  partials in fetch order, so a double sum may differ in its last bits;
- percentile interpolates like Spark's Percentile.getPercentile, not like
  numpy's lerp;
- long values keep Spark's result types: sum/max/min stay long, mean and
  percentile are double, count is long.
"""

from __future__ import annotations

import re

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from warp10_platform_spark.operators.bucketize import BucketSpec

BUCKETIZERS = ("sum", "mean", "count", "max", "min", "percentile")
WINDOW_MAPPERS = ("sum", "mean", "count", "max", "min")
REDUCERS = ("sum", "mean", "count", "max", "min")


def _short(name: str) -> str:
    return name.split(".", 1)[1] if name.startswith(("bucketizer.", "mapper.", "reducer.")) else name


def covers(name: str, names: tuple[str, ...]) -> bool:
    """Whether a kernel exists for the bucketizer/mapper/reducer `name`:
    checked before a FETCH frame scans its Table."""
    return _short(name) in names


def _values(table: pa.Table, col: str):
    """(values, valid) numpy arrays of a long or double column, or None."""
    if col not in table.column_names:
        return None
    c = table[col]
    if not (pa.types.is_int64(c.type) or pa.types.is_float64(c.type)):
        return None
    return c.fill_null(0).to_numpy(), pc.is_valid(c).to_numpy(zero_copy_only=False)


def _codes(col) -> np.ndarray:
    """Integer code of each row's value (null is a value of its own)."""
    arr = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
    return pc.dictionary_encode(arr, null_encoding="encode").indices.to_numpy(zero_copy_only=False)


def _group(*keys: np.ndarray) -> tuple[np.ndarray, np.ndarray, int]:
    """Group rows by equal key tuples: the group of each row, the first
    row of each group and the group count; groups are numbered in key
    order."""
    order = np.lexsort(keys[::-1])
    new = np.ones(len(order), bool)
    if len(order):
        new[1:] = np.any([k[order][1:] != k[order][:-1] for k in keys], axis=0)
    g = np.empty(len(order), np.int64)
    g[order] = np.cumsum(new) - 1
    return g, order[new], int(new.sum())


def _series(table: pa.Table) -> tuple[np.ndarray, np.ndarray, int]:
    """_group by series: (class, labels_key)."""
    return _group(_codes(table["class"]), _codes(table["labels_key"]))


def _aggregate(n: str, v: np.ndarray, ok: np.ndarray, g: np.ndarray, ng: int, p: float | None = None):
    """Aggregate `n` of the valid values per group: (values, valid)."""
    gv, vv = g[ok], v[ok]
    cnt = np.bincount(gv, minlength=ng)
    if n == "count":
        return cnt.astype(np.int64), np.ones(ng, bool)
    has = cnt > 0
    if n == "mean" or (n == "sum" and v.dtype.kind == "f"):
        # astype: np.bincount of no weights returns int64
        s = np.bincount(gv, weights=vv.astype(np.float64), minlength=ng).astype(np.float64)
        return (s / np.maximum(cnt, 1) if n == "mean" else s), has
    if n == "sum":
        s = np.zeros(ng, np.int64)
        np.add.at(s, gv, vv)
        return s, has
    out = np.zeros(ng, np.float64 if n == "percentile" else v.dtype)
    if not has.any():
        return out, has
    starts = (np.cumsum(cnt) - cnt)[has]
    if n in ("max", "min"):
        # np.maximum propagates NaN and np.fmin skips it: Spark orders NaN
        # above every other double
        sv = vv[np.argsort(gv, kind="stable")]
        out[has] = (np.maximum if n == "max" else np.fmin).reduceat(sv, starts)
        return out, has
    sv = vv[np.lexsort((vv, gv))].astype(np.float64)
    pos = (cnt[has] - 1) * (p / 100.0)
    lo, hi = np.floor(pos).astype(np.int64), np.ceil(pos).astype(np.int64)
    vlo, vhi = sv[starts + lo], sv[starts + hi]
    out[has] = np.where((lo == hi) | (vlo == vhi), vlo, (hi - pos) * vlo + (pos - lo) * vhi)
    return out, has


def _column(values: np.ndarray, valid: np.ndarray) -> pa.Array:
    return pa.array(values, mask=~valid)


def bucketize(table: pa.Table, bucketizer: str, span: int, lastbucket: int | None,
              bucketcount: int | None, value_col: str, p: float | None = None):
    """operators/bucketize.bucketize over a Table: (table, BucketSpec)."""
    n = _short(bucketizer)
    vals = _values(table, value_col)
    if vals is None or (n == "percentile" and p is None):
        return None
    v, ok = vals
    ts = table["ts"].to_numpy()
    if (lastbucket is None or bucketcount is None) and len(ts):
        lastbucket = int(ts.max()) if lastbucket is None else lastbucket
        bucketcount = int((lastbucket - int(ts.min())) // span) + 1 if bucketcount is None else bucketcount
    spec = BucketSpec(int(lastbucket or 0), int(span), int(bucketcount or 0))
    rows = np.flatnonzero((ts <= spec.lastbucket) & (ts > spec.lastbucket - spec.bucketspan * spec.bucketcount))
    sid = _series(table)[0][rows]
    back = (spec.lastbucket - ts[rows]) // spec.bucketspan
    g, first, ng = _group(sid, back)
    agg = _aggregate(n, v[rows], ok[rows], g, ng, p)
    src = rows[first]
    out = table.select([c for c in ("gts_id", "class", "labels_key") if c in table.column_names]).take(src)
    out = out.append_column("ts", pa.array(spec.lastbucket - back[first] * spec.bucketspan))
    out = out.append_column("v_agg", _column(*agg))
    return out.append_column("labels", table["labels"].take(src)), spec


def map_window(table: pa.Table, mapper: str, pre: int, post: int, value_col: str):
    """operators/mapper.map_aggregate for a rows frame (pre, post >= 0)
    over a Table, rows sorted by series then tick."""
    n = _short(mapper)
    vals = _values(table, value_col)
    if vals is None or pre < 0 or post < 0:
        return None
    sid = _series(table)[0]
    order = np.lexsort((table["ts"].to_numpy(), sid))
    s, v, ok = sid[order], vals[0][order], vals[1][order]
    m = len(s)
    acc = np.zeros(m, np.float64 if n == "mean" else v.dtype)
    cnt = np.zeros(m, np.int64)
    for k in range(-pre, post + 1):
        j = np.clip(np.arange(m) + k, 0, max(m - 1, 0))
        use = (np.arange(m) + k == j) & (s[j] == s) & ok[j]
        x = v[j]
        if n in ("sum", "mean"):
            # added in frame order, as Spark recomputes each frame
            acc = np.where(use, acc + x, acc)
        elif n in ("max", "min"):
            both = (np.maximum if n == "max" else np.fmin)(acc, x)
            acc = np.where(use, np.where(cnt > 0, both, x), acc)
        cnt += use
    if n == "count":
        mapped = _column(cnt, np.ones(m, bool))
    else:
        mapped = _column(acc / np.maximum(cnt, 1) if n == "mean" else acc, cnt > 0)
    out = table.take(pa.array(order))
    if "v_mapped" in out.column_names:
        return out.set_column(out.column_names.index("v_mapped"), "v_mapped", mapped)
    return out.append_column("v_mapped", mapped)


_JSON_ESCAPES = {'"': '\\"', "\\": "\\\\", "\b": "\\b", "\f": "\\f", "\n": "\\n", "\r": "\\r", "\t": "\\t"}


def _json_str(s: str) -> str:
    """A JSON string as Spark's to_json (Jackson) writes it."""
    return '"' + re.sub(
        r'["\\\x00-\x1f]', lambda m: _JSON_ESCAPES.get(m.group()) or f"\\u{ord(m.group()):04X}", s
    ) + '"'


def labels_key(labels: dict[str, str]) -> str:
    """core/schema.canonical_labels for one labels dict."""
    return "[" + ",".join(
        '{"key":%s,"value":%s}' % (_json_str(k), _json_str(v)) for k, v in sorted(labels.items())
    ) + "]"


def reduce(table: pa.Table, reducer: str, by: list[str], value_col: str, klass: str = ""):
    """GTSFrame.reduce_frame over a Table: one series per by-label
    equivalence class, with canonical class/labels_key/labels columns."""
    n = _short(reducer)
    vals = _values(table, value_col)
    if vals is None:
        return None
    sid, first, _ = _series(table)
    eq_of: dict[tuple, int] = {}
    per_series = [eq_of.setdefault(tuple(dict(lab).get(k) for k in by), len(eq_of))
                  for lab in table["labels"].take(first).to_pylist()]
    eq = np.array(per_series, np.int64)[sid]
    ts = table["ts"].to_numpy()
    g, gfirst, ng = _group(eq, ts)
    agg = _aggregate(n, vals[0], vals[1], g, ng)
    classes = [{k: x for k, x in zip(by, key) if x is not None} for key in eq_of]
    labels = [classes[e] for e in eq[gfirst]]
    return pa.table({
        "class": pa.array([klass] * ng, pa.string()),
        "labels_key": pa.array([labels_key(lab) for lab in labels], pa.string()),
        "labels": pa.array([list(lab.items()) for lab in labels], pa.map_(pa.string(), pa.string())),
        "ts": pa.array(ts[gfirst], pa.int64()),
        "v_reduced": _column(*agg),
    })


def to_spark(spark, table: pa.Table):
    """The Spark frame of a Table, built once by GTSFrame.df: the Table's
    own schema, plus the gts_id a reduced frame computes in Spark."""
    from pyspark.sql import functions as F
    from pyspark.sql.pandas.types import from_arrow_schema

    if not table.num_rows:  # createDataFrame needs at least one chunk
        table = table.schema.empty_table()
    df = spark.createDataFrame(table, schema=from_arrow_schema(table.schema))
    if "gts_id" not in table.column_names:
        df = df.select(F.xxhash64("class", "labels_key").alias("gts_id"), *df.columns)
    return df
