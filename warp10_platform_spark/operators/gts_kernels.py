"""numpy kernels for GTS frames held in driver memory as Arrow.

A small /exec request (a FETCH whose picked row groups take fewer bytes
than warpscript/functions.py's _LOCAL_MAX_BYTES) is answered on the
driver: the reference evaluates WarpScript over in-memory GTS arrays too
(SURVEY §1.1, GeoTimeSerie's parallel primitive arrays), and for a
kilobyte answer that beats planning Spark jobs.  Such a frame is an
ArrowGTS: its class, labels_key and maps once per series, the other
columns once per point, and the series of each point, which FETCH's scan
already knows and each kernel hands on, so no kernel works out again
which rows form a series.  These kernels give BUCKETIZE, MAP and REDUCE
Spark's semantics over it.  The caller checks `covers` for the op's name
first; a kernel returns None for another case it does not cover, and the
caller then continues in Spark (GTSFrame.df).

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

# the columns of a point that are the same for every point of its series
SERIES_COLUMNS = ("class", "labels_key", "labels", "attributes")


class ArrowGTS:
    """Points held on the driver, as Arrow, with the series of each.

    `series` has one row per series, in Spark's ascending (class,
    labels_key) order, nulls first, and the SERIES_COLUMNS the points
    have; `rows` has one row per point and the other columns; `sid[i]` is
    the series of point i.  `schema` orders the columns of `table`, the
    points as one Table (what GTSFrame.df hands to Spark)."""

    def __init__(self, series: pa.Table, sid: np.ndarray, rows: pa.Table, schema: pa.Schema):
        self.series, self.sid, self.rows, self.schema = series, sid, rows, schema
        self._table = None

    @classmethod
    def from_table(cls, t: pa.Table) -> "ArrowGTS":
        """The series of a Table's rows, worked out once.  A series'
        maps are those of its first row in ts order."""
        order = pc.sort_indices(t, sort_keys=[(c, "ascending") for c in ("class", "labels_key", "ts")],
                                null_placement="at_start").to_numpy()
        same = np.ones(max(len(order) - 1, 0), bool)
        for c in ("class", "labels_key"):
            code = pc.dictionary_encode(t[c].combine_chunks(), null_encoding="encode").indices.to_numpy(
                zero_copy_only=False)[order]
            same &= code[1:] == code[:-1]
        new = np.ones(len(order), bool)
        new[1:] = ~same
        sid = np.empty(len(order), np.int64)
        sid[order] = np.cumsum(new) - 1
        kept = [c for c in SERIES_COLUMNS if c in t.column_names]
        return cls(t.select(kept).take(order[new]), sid, t.drop_columns(kept), t.schema)

    @property
    def num_rows(self) -> int:
        return len(self.sid)

    @property
    def table(self) -> pa.Table:
        """The points as one Table, built on first use."""
        if self._table is None:
            self._table = pa.Table.from_arrays(
                [self.series[c].take(self.sid) if c in SERIES_COLUMNS else self.rows[c] for c in self.schema.names],
                schema=self.schema)
        return self._table

    def ordered(self) -> "ArrowGTS":
        """These points in (series, ts) order, null ticks first and ties
        in row order."""
        ts = self.rows["ts"]
        order = np.lexsort((_numpy(ts), ts.is_valid().to_numpy(zero_copy_only=False), self.sid))
        if (np.diff(order) > 0).all():
            return self
        return ArrowGTS(self.series, self.sid[order], self.rows.take(order), self.schema)

    def derive(self, sid: np.ndarray, rows: pa.Table, names, series: pa.Table | None = None) -> "ArrowGTS":
        """A kernel's output: `rows` of the series `sid` of `series` (by
        default these points' series), with the columns `names`; a column
        not in `rows` keeps its type here."""
        fields = [rows.schema.field(c) if c in rows.column_names else self.schema.field(c) for c in names]
        return ArrowGTS(self.series if series is None else series, sid, rows, pa.schema(fields))


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
    return _numpy(c), pc.is_valid(c).to_numpy(zero_copy_only=False)


def _numpy(col) -> np.ndarray:
    """A long or double column as numpy, nulls as 0."""
    return (col.fill_null(0) if col.null_count else col).to_numpy()


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


def bucketize(points: ArrowGTS, bucketizer: str, span: int, lastbucket: int | None,
              bucketcount: int | None, value_col: str, p: float | None = None):
    """operators/bucketize.bucketize over points: (points, BucketSpec)."""
    n = _short(bucketizer)
    vals = _values(points.rows, value_col)
    if vals is None or (n == "percentile" and p is None):
        return None
    v, ok = vals
    ts = points.rows["ts"].to_numpy()
    if (lastbucket is None or bucketcount is None) and len(ts):
        lastbucket = int(ts.max()) if lastbucket is None else lastbucket
        bucketcount = int((lastbucket - int(ts.min())) // span) + 1 if bucketcount is None else bucketcount
    spec = BucketSpec(int(lastbucket or 0), int(span), int(bucketcount or 0))
    rows = np.flatnonzero((ts <= spec.lastbucket) & (ts > spec.lastbucket - spec.bucketspan * spec.bucketcount))
    back = (spec.lastbucket - ts[rows]) // spec.bucketspan
    # buckets numbered in (series, ts) order
    g, first, ng = _group(points.sid[rows], -back)
    agg = _aggregate(n, v[rows], ok[rows], g, ng, p)
    src = rows[first]
    out = {"gts_id": points.rows["gts_id"].take(src)} if "gts_id" in points.rows.column_names else {}
    out["ts"] = pa.array(spec.lastbucket - back[first] * spec.bucketspan)
    out["v_agg"] = _column(*agg)
    names = [c for c in ("gts_id", "class", "labels_key", "ts", "v_agg", "labels")
             if c in out or c in points.schema.names]
    return points.derive(points.sid[src], pa.table(out), names), spec


def map_window(points: ArrowGTS, mapper: str, pre: int, post: int, value_col: str):
    """operators/mapper.map_aggregate for a rows frame (pre, post >= 0)
    over points, which come out in (series, ts) order."""
    n = _short(mapper)
    points = points.ordered()
    vals = _values(points.rows, value_col)
    if vals is None or pre < 0 or post < 0:
        return None
    s, (v, ok) = points.sid, vals
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
    rows = points.rows
    if "v_mapped" in rows.column_names:
        rows = rows.set_column(rows.column_names.index("v_mapped"), "v_mapped", mapped)
        names = points.schema.names
    else:
        rows, names = rows.append_column("v_mapped", mapped), points.schema.names + ["v_mapped"]
    return points.derive(s, rows, names)


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


def reduce(points: ArrowGTS, reducer: str, by: list[str], value_col: str, klass: str = ""):
    """GTSFrame.reduce_frame over points: one series per by-label
    equivalence class, with canonical class/labels_key/labels columns."""
    n = _short(reducer)
    vals = _values(points.rows, value_col)
    if vals is None:
        return None
    # each series' by-label values (null where absent), then its class
    labels = points.series["labels"].combine_chunks()
    values = [pc.map_lookup(labels, k, "last") for k in by]
    codes = [pc.dictionary_encode(x, null_encoding="encode").indices.to_numpy(zero_copy_only=False) for x in values]
    eq, first, ne = _group(*(codes or [np.zeros(len(labels), np.int64)]))
    classes = [{k: x for k, x in zip(by, key) if x is not None}
               for key in zip(*(x.take(first).to_pylist() for x in values))] if by else [{}] * ne
    keys = [labels_key(lab) for lab in classes]
    # classes numbered in labels_key order, as the series of the output
    order = sorted(range(ne), key=keys.__getitem__)
    rank = np.empty(ne, np.int64)
    rank[order] = np.arange(ne)
    sid = rank[eq][points.sid]
    ts = points.rows["ts"].to_numpy()
    g, gfirst, ng = _group(sid, ts)
    agg = _aggregate(n, vals[0], vals[1], g, ng)
    series = pa.table({
        "class": pa.array([klass] * ne, pa.string()),
        "labels_key": pa.array([keys[i] for i in order], pa.string()),
        "labels": pa.array([list(classes[i].items()) for i in order], pa.map_(pa.string(), pa.string())),
    })
    rows = pa.table({"ts": pa.array(ts[gfirst], pa.int64()), "v_reduced": _column(*agg)})
    return points.derive(sid[gfirst], rows, ["class", "labels_key", "labels", "ts", "v_reduced"], series)


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
