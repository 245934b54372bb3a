"""WarpScript function registry — each name applies against the stack,
exactly like the reference's `findFunction(stmt).apply(stack)` dispatch
(MemoryWarpScriptStack.java:1060-1075, registrations WarpScriptLib.java).

GTS functions bind to the engine's operators via GTSFrame, so a script is
tokenized and applied in the driver but the DATA work stays one lazy
Catalyst plan — nothing executes until the caller collects the result.
"""

from __future__ import annotations

import time as _time
from typing import Callable

from pyspark.sql import functions as F

from warp10_platform_spark.core import timeunits as _tuc
from warp10_platform_spark.core.frame import GTSFrame
from warp10_platform_spark.core.selector import selector_of
from warp10_platform_spark.sources.tables import canonical_points


class _Registry(dict):
    """Name → function table that binds each WarpScript name once, like the
    reference's single block of addNamedWarpScriptFunction calls
    (WarpScriptLib.java:1966-3570): binding a name that is already bound
    raises, so a second definition fails at import instead of silently
    shadowing the first."""

    def __setitem__(self, name, fn):
        if name in self:
            raise ValueError(f"WarpScript function {name!r} is already registered")
        super().__setitem__(name, fn)


REGISTRY: dict[str, Callable] = _Registry()


def register(*names: str):
    def deco(fn):
        for n in names:
            REGISTRY[n] = fn
        return fn

    return deco


# ---------- stack manipulation (WarpScriptLib.java:1988-2060) ----------

@register("DUP")
def _dup(st):
    st.push(st.peek())


@register("SWAP")
def _swap(st):
    a, b = st.pop(), st.pop()
    st.push(a)
    st.push(b)


@register("DROP")
def _drop(st):
    st.pop()


@register("CLEAR")
def _clear(st):
    st.stack.clear()


@register("DEPTH")
def _depth(st):
    st.push(st.depth())


@register("ROT")
def _rot(st):
    c, b, a = st.pop(), st.pop(), st.pop()
    st.push(b)
    st.push(c)
    st.push(a)


@register("PICK")
def _pick(st):
    n = st.pop()
    st.push(st.stack[-n])


# ---------- list/map literals ----------

class _Mark:
    pass


class _MapMark(_Mark):
    pass


@register("[", "MARK")
def _mark(st):
    st.push(_Mark())


@register("]")
def _endlist(st):
    out = []
    while True:
        v = st.pop()
        if isinstance(v, _MapMark):
            raise RuntimeError("']' closing a '{'")
        if isinstance(v, _Mark):
            break
        out.append(v)
    out.reverse()
    st.push(out)


@register("{")
def _mapmark(st):
    st.push(_MapMark())


@register("}")
def _endmap(st):
    kv = []
    while True:
        v = st.pop()
        if isinstance(v, _MapMark):
            break
        if isinstance(v, _Mark):
            raise RuntimeError("'}' closing a '['")
        kv.append(v)
    kv.reverse()
    if len(kv) % 2:
        raise RuntimeError("odd number of map entries")
    st.push({kv[i]: kv[i + 1] for i in range(0, len(kv), 2)})


@register("->LIST")
def _tolist(st):
    n = st.pop()
    items = [st.pop() for _ in range(n)]
    items.reverse()
    st.push(items)


@register("SIZE")
def _size(st):
    v = st.pop()
    if isinstance(v, GTSFrame):
        st.push(v.df.count())
    else:
        st.push(len(v))


@register("GET")
def _get(st):
    k = st.pop()
    coll = st.pop()
    st.push(coll[k])


# ---------- symbols / macros / control flow ----------

@register("STORE")
def _store(st):
    name = st.pop()
    st.symbols[name] = st.pop()


@register("LOAD")
def _load(st):
    name = st.pop()
    if name not in st.symbols:
        raise NameError(f"undefined variable {name!r}{st._dropped_hint(name)}")
    st.push(st.symbols[name])


@register("EVAL", "RUN")
def _eval(st):
    from warp10_platform_spark.warpscript.stack import Macro, NativeMacro

    v = st.pop()
    if isinstance(v, NativeMacro):
        v.fn(st)
    elif isinstance(v, Macro):
        st.exec_macro(v)
    elif isinstance(v, str):
        st.exec(v)
    else:
        raise TypeError("EVAL expects a macro or a string")


@register("IFT")
def _ift(st):
    macro = st.pop()
    cond = st.pop()
    if cond:
        st.exec_macro(macro)


@register("IFTE")
def _ifte(st):
    melse = st.pop()
    mthen = st.pop()
    cond = st.pop()
    st.exec_macro(mthen if cond else melse)


@register("FOREACH")
def _foreach(st):
    from warp10_platform_spark.warpscript.stack import BreakLoop, ContinueLoop

    macro = st.pop()
    seq = st.pop()
    items = seq.items() if isinstance(seq, dict) else seq
    for item in items:
        if isinstance(seq, dict):
            st.push(item[0])
            st.push(item[1])
        else:
            st.push(item)
        try:
            st.exec_macro(macro)
        except BreakLoop:
            return
        except ContinueLoop:
            continue


@register("FOR")
def _for(st):
    from warp10_platform_spark.warpscript.stack import BreakLoop, ContinueLoop

    macro = st.pop()
    stop = st.pop()
    start = st.pop()
    for i in range(start, stop + 1):
        st.push(i)
        try:
            st.exec_macro(macro)
        except BreakLoop:
            return
        except ContinueLoop:
            continue


# ---------- arithmetic / comparison / logic ----------

def _binop(fn):
    def inner(st):
        b = st.pop()
        a = st.pop()
        st.push(fn(a, b))

    return inner


REGISTRY["+"] = _binop(lambda a, b: a + b)
REGISTRY["-"] = _binop(lambda a, b: a - b)
REGISTRY["*"] = _binop(lambda a, b: a * b)
REGISTRY["/"] = _binop(lambda a, b: a / b if isinstance(a, float) or isinstance(b, float) else (a // b if isinstance(a, int) and isinstance(b, int) and a % b == 0 else a / b))
REGISTRY["%"] = _binop(lambda a, b: a % b)
REGISTRY["**"] = _binop(lambda a, b: a ** b)
REGISTRY["=="] = _binop(lambda a, b: a == b)
REGISTRY["!="] = _binop(lambda a, b: a != b)
REGISTRY["<"] = _binop(lambda a, b: a < b)
REGISTRY["<="] = _binop(lambda a, b: a <= b)
REGISTRY[">"] = _binop(lambda a, b: a > b)
REGISTRY[">="] = _binop(lambda a, b: a >= b)
REGISTRY["AND"] = _binop(lambda a, b: bool(a) and bool(b))
REGISTRY["OR"] = _binop(lambda a, b: bool(a) or bool(b))
REGISTRY["NOT"] = REGISTRY["!"] = lambda st: st.push(not st.pop())
REGISTRY["MIN"] = _binop(min)
REGISTRY["MAX"] = _binop(max)
REGISTRY["ABS"] = lambda st: st.push(abs(st.pop()))
REGISTRY["TOLONG"] = lambda st: st.push(int(st.pop()))
REGISTRY["TODOUBLE"] = lambda st: st.push(float(st.pop()))
REGISTRY["TOSTRING"] = lambda st: st.push(str(st.pop()))


# ---------- time units & now (Constants.java:51-61 — session unit) ----------

# Unit-suffix functions (script/unary/UNIT.java, registered at
# WarpScriptLib.java:2268-2276): tick = Math.round(v * factor_ms *
# TIME_UNITS_PER_MS), factor in ms per named unit — fractional for
# sub-ms suffixes, so `3 ns` is 0 in us mode and 3 in ns mode, and a
# DOUBLE operand (1.5 s) lands on a LONG tick exactly like the
# reference (Math.round = floor(x + 0.5), not banker's rounding).
_UNIT_FACTORS_MS = {
    "w": 7.0 * 24 * 60 * 60 * 1000,
    "d": 24.0 * 60 * 60 * 1000,
    "h": 60.0 * 60 * 1000,
    "m": 60.0 * 1000,
    "s": 1000.0,
    "ms": 1.0,
    "us": 0.001,
    "ns": 0.000001,
    "ps": 0.000000001,
}


def _unit_fn(factor: float):
    import math

    floor = math.floor

    def fn(st):
        v = st.pop()
        if isinstance(v, bool) or not isinstance(v, (int, float)):
            raise TypeError("unit suffix can only operate on numeric values")
        st.push(int(floor(float(v) * factor * _tuc.UNITS_PER_MS + 0.5)))
    return fn


for _name, _factor in _UNIT_FACTORS_MS.items():
    REGISTRY[_name] = _unit_fn(_factor)

REGISTRY["NOW"] = lambda st: st.push(int(_time.time() * _tuc.UNITS_PER_S))


# ---------- aggregator / op / filter name tokens ----------
# The reference pushes function OBJECTS for these names; we push their
# registry string (plus popped params for the parameterized ones), which
# the consuming GTS function interprets.

_AGG_BASENAMES = (
    "sum mean min max count first last median sd sd.pop var var.pop delta rate rms "
    "join and or argmin argmax mad mean.circular shannonentropy.0"
).split()
for _fam in ("bucketizer", "mapper", "reducer"):
    for _bn in _AGG_BASENAMES:
        _full = f"{_fam}.{_bn}"
        REGISTRY[_full] = (lambda name: lambda st: st.push(name))(_full)

# Parameterized aggregators pop their parameter at CREATION, like the
# reference's function objects (`95.0 bucketizer.percentile` builds a
# Percentile aggregator — PERCENTILE.java:48; same for highest/lowest's
# k — MAXWITH/MINWITH): push a ("param_agg", name, p) tuple the GTS
# consumers (BUCKETIZE/MAP/REDUCE) interpret.


def _param_agg(name):
    def f(st):
        p = st.pop()
        st.push(("param_agg", name, float(p)))

    return f


for _fam in ("bucketizer", "mapper", "reducer"):
    for _bn in ("percentile", "highest", "lowest"):
        _full = f"{_fam}.{_bn}"
        REGISTRY[_full] = _param_agg(_full)

for _opn in ("op.add", "op.sub", "op.mul", "op.div", "op.eq", "op.ne", "op.gt",
             "op.ge", "op.lt", "op.le", "op.and", "op.or", "op.mask", "op.negmask"):
    REGISTRY[_opn] = (lambda name: lambda st: st.push(name))(_opn)


def _param_filter(name):
    """filter.* creation pops its params NOW (like the reference's filter
    factory functions) and pushes a spec tuple consumed by FILTER."""

    def inner(st):
        st.push((name, st.pop()))

    return inner


REGISTRY["filter.byclass"] = _param_filter("filter.byclass")
REGISTRY["filter.bylabels"] = _param_filter("filter.bylabels")
REGISTRY["filter.byselector"] = _param_filter("filter.byselector")
REGISTRY["filter.last.gt"] = _param_filter("filter.last.gt")
REGISTRY["filter.last.lt"] = _param_filter("filter.last.lt")


# ---------- GTS functions ----------

def _as_frame(v) -> GTSFrame:
    if isinstance(v, GTSFrame):
        return v
    if isinstance(v, list):
        frames = [f for f in v if isinstance(f, GTSFrame)]
        if len(frames) == 1:
            return frames[0]
        if frames:
            df = frames[0].df
            for f in frames[1:]:
                df = df.unionByName(f.df)
            return GTSFrame(df, frames[0].bucketspec, frames[0].value_col)
    raise TypeError(f"expected GTS on stack, got {type(v).__name__}")


def _ts_param(v, now_us: int) -> int:
    """FETCH time param: long platform ticks | ISO8601 string | 'now'
    (FETCH.java PARAM_END/PARAM_START handling)."""
    if isinstance(v, int):
        return v
    s = str(v)
    if s == "now":
        return now_us
    from datetime import datetime, timezone

    dt = datetime.fromisoformat(s.replace("Z", "+00:00"))
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    # integer-exact: whole seconds in ticks + the µs field rescaled
    return int(dt.replace(microsecond=0).timestamp()) * _tuc.UNITS_PER_S + _tuc.us(dt.microsecond)


# FETCH answers on the driver from Arrow (GTSFrame.table) when the row
# groups the series directory picks for its selectors, the ones that
# route reads, take fewer compressed bytes than this, and plans Spark
# jobs otherwise.  On 4 cores (scripts/fetch_route_crossover.py, figures
# in CHANGES.md) Arrow answered dashboard scripts 2.4x faster at 20 MB,
# level with Spark at 41 MB and 2x slower at 81 MB of bytes it read then
# (whole class files), which is what this gate counts.  Not re-measured
# where one class exceeds it (sf10).
_LOCAL_MAX_BYTES = 32 << 20


def _found(st, selector: str, limit: int | None = None):
    """The directory rows `selector` matches, in (class, labels_key)
    order, as an Arrow table from the layout's series directory, as
    FETCH's driver route looks it up; for a regex only Java reads as
    written, at most `limit` of them from the directory table."""
    from warp10_platform_spark.core.selector import parse_selector, python_compiles
    from warp10_platform_spark.sources.directory import directory_table, find
    from warp10_platform_spark.sources.tables import points_layout

    sel = parse_selector(selector)
    if sel.attributes:
        clause = ",".join(k + op + v for k, op, v in sel.attributes)
        raise ValueError(f"{selector}: the directory keeps no series attributes to match {{{clause}}} with")
    if python_compiles(sel):
        d = points_layout(st.spark, st.sf_dir).directory
        return d.entries(d.select([sel]))
    rows = find(directory_table(st.spark, st.sf_dir), selector).orderBy("class", "labels_key")
    return (rows if limit is None else rows.limit(limit)).toArrow()


def _local_fetch(st, selectors: list[str], start: int | None, end: int | None) -> GTSFrame | None:
    """FETCH's driver route, or None where it does not apply: for
    attribute clauses, for regexes Python's re does not read as Spark
    (Java) does, and when the row groups the selectors pick take
    _LOCAL_MAX_BYTES compressed bytes or more.  The selectors are looked
    up once, here, in the layout's series directory; on first use of its
    points the frame reads only the picked row groups and keeps the
    matched series' rows in the ts bounds, and when no series matches it
    scans nothing.  Until then its Spark frame is the Spark route's scan
    plan."""
    from warp10_platform_spark.core.selector import parse_selector, python_compiles
    from warp10_platform_spark.sources.tables import points_layout

    if not all(t is None or isinstance(t, int) for t in (start, end)):
        return None
    sels = [parse_selector(s) for s in selectors]
    # the series directory holds labels only
    if any(s.attributes for s in sels) or not all(python_compiles(s) for s in sels):
        return None
    layout = points_layout(st.spark, st.sf_dir)
    pick = layout.directory.pick(sels)
    if pick.nbytes >= _LOCAL_MAX_BYTES:
        return None
    table = (lambda: layout.scan(pick, start, end)) if len(pick.series) else layout.dataset.schema.empty_table()
    return GTSFrame(lambda: _spark_fetch(st, selectors, start, end, None).df, table=table, spark=st.spark)


def _selected_points(st, selectors: list[str]):
    """The class-partitioned layout where any selector matches: the
    selector's class prunes partitions (FETCH's Spark route)."""
    from functools import reduce

    from warp10_platform_spark.core.selector import selector_predicate

    pred = reduce(lambda a, b: a | b, (selector_predicate(s) for s in selectors))
    return canonical_points(st.spark, st.sf_dir).where(pred)


def _spark_fetch(st, selectors: list[str], start: int | None, end: int | None, count: int | None) -> GTSFrame:
    """FETCH's Spark route: the time bounds reach the scan's PushedFilters."""
    return GTSFrame.fetch(_selected_points(st, selectors), None, start=start, end=end, count=count)


def _fetch_frame(st, selectors: list[str], start: int | None, end: int | None, count: int | None) -> GTSFrame:
    """Selector + time-range FETCH on whichever route _local_fetch picks.
    A count-based FETCH (the last `count` points per series) has no
    kernel and stays on the Spark route."""
    gf = _local_fetch(st, selectors, start, end) if count is None else None
    return gf if gf is not None else _spark_fetch(st, selectors, start, end, count)


def _fetch_map(st, params: dict):
    """Map-parameter FETCH (FETCH.java:1100-1400): selector/selectors/
    class+labels/metaset targeting; start+end, end+timespan or end+count
    time range; boundary.pre/post, skip, sample, step/timestep,
    gskip/gcount post-processing — each dispatched to the engine tier
    that already implements it (core/frame.py, sources/directory.py)."""
    import time as _t

    from warp10_platform_spark.core.selector import to_selector

    now_us = int(_t.time() * _tuc.UNITS_PER_S)
    params = dict(params)

    # ---- targeting --------------------------------------------------
    selectors: list[str] = []
    if "metaset" in params:
        if "boundary.pre" in params or "boundary.post" in params:
            raise ValueError("FETCH cannot support both MetaSet and pre/post boundary parameters.")
        from warp10_platform_spark.core import gtscodec as gc
        from warp10_platform_spark.functions import aes

        blob = params["metaset"]
        raw = gc.opb64_decode(blob) if isinstance(blob, str) else bytes(blob)
        key = getattr(st, "attributes", {}).get("metaset.master.key")
        if not isinstance(key, (bytes, bytearray)):
            key = bytes(range(32))
        import gzip as _gz

        try:
            ms = gc.read_metaset(_gz.decompress(aes.unwrap(bytes(key), raw)))
        except Exception as e:
            raise ValueError("FETCH was unable to decode the provided MetaSet.") from e
        if ms["expiry"] < int(_t.time() * 1000):
            raise ValueError("FETCH MetaSet has expired.")
        selectors = [
            to_selector(md["name"], md["labels"], exact=True) for md in ms["metadatas"]
        ]
        # MetaSet constraints (FETCH.java:1326-1380)
        if ms["maxduration"] is not None:
            if ms["notbefore"] is None and ms["notafter"] is None:
                params["end"] = now_us
            if ms["maxduration"] >= 0:
                if "timespan" not in params or params["timespan"] > ms["maxduration"]:
                    params["timespan"] = ms["maxduration"]
            else:
                if "count" not in params or params["count"] > -ms["maxduration"]:
                    params["count"] = -ms["maxduration"]
        if ms["notbefore"] is not None and _ts_param(params.get("end", now_us), now_us) < ms["notbefore"]:
            params["end"] = ms["notbefore"]
        if ms["notafter"] is not None and _ts_param(params.get("end", now_us), now_us) > ms["notafter"]:
            params["end"] = ms["notafter"]
    elif "selectors" in params:
        selectors = [str(s) for s in params["selectors"]]
    elif "selector" in params:
        selectors = [str(params["selector"])]
    elif "class" in params:
        selectors = [selector_of(str(params["class"]), params.get("labels"))]
    else:
        raise ValueError("FETCH missing 'selector', 'selectors', 'class' or 'metaset' parameter.")

    # ---- time range -------------------------------------------------
    end = _ts_param(params["end"], now_us) if "end" in params else None
    start = _ts_param(params["start"], now_us) if "start" in params else None
    count = int(params["count"]) if "count" in params else None
    if "timespan" in params:
        if end is None:
            raise ValueError("FETCH 'timespan' requires 'end'.")
        start = end - int(params["timespan"]) + 1

    pre = int(params.get("boundary.pre", params.get("boundary", 0)))
    post = int(params.get("boundary.post", params.get("boundary", 0)))
    if pre or post or "gskip" in params or "gcount" in params:
        pts = _selected_points(st, selectors)
        if "gskip" in params or "gcount" in params:
            from warp10_platform_spark.sources.directory import build_directory, fetch_gskip_gcount

            # predicate already applied; rank the remaining series
            pts = fetch_gskip_gcount(
                pts, build_directory(pts), "~.*{}",
                gskip=int(params.get("gskip", 0)),
                gcount=int(params["gcount"]) if "gcount" in params else None,
            )
        if pre or post:
            gf = GTSFrame.fetch_with_boundary(
                pts, None, start if start is not None else 0,
                end if end is not None else now_us, boundary_pre=pre, boundary_post=post,
            )
        else:
            gf = GTSFrame.fetch(pts, None, start=start, end=end, count=count)
    else:
        gf = _fetch_frame(st, selectors, start, end, count)

    if "skip" in params:
        gf = gf.skip(int(params["skip"]))
    if "step" in params or "timestep" in params:
        gf = gf.thin(step=int(params.get("step", 1)), timestep=int(params.get("timestep", 1)))
    if "sample" in params:
        gf = gf.sample(float(params["sample"]))
    if "type" in params:
        # PARAM_TYPE: constrain to one value type (FETCH.java:1380-1395)
        col = {"LONG": "v_long", "DOUBLE": "v_double", "BOOLEAN": "v_bool", "STRING": "v_string"}.get(
            str(params["type"]).upper()
        )
        if col is None:
            raise ValueError("FETCH invalid 'type' parameter.")
        gf = GTSFrame(gf.df.where(F.col(col).isNotNull()), gf.bucketspec, col)
    return gf


@register("FETCH")
def _fetch(st):
    """[ (token)? class_selector labels_map start end ] FETCH — the
    5/4-element list form (FETCH.java:101-141) — or the map-parameter
    form `{ 'selector' … 'end' … 'timespan' … } FETCH` (FETCH.java
    PARAM_* handling, see _fetch_map). A negative final list element
    means count-based fetch: [ … now -count ] keeps the last `count`
    points per series (FETCH.java:128)."""
    args = st.pop()
    if isinstance(args, dict):
        st.push(_fetch_map(st, args))
        return
    if not isinstance(args, list):
        raise TypeError("FETCH expects a parameter list")
    if len(args) == 5:
        _token, cls, labels, a, b = args
    elif len(args) == 4:
        cls, labels, a, b = args
    else:
        raise ValueError("FETCH expects [ token? class labels start end ]")
    selector = selector_of(cls, labels)
    if isinstance(b, int) and b < 0:
        st.push(_fetch_frame(st, [selector], None, a, -b))
    else:
        st.push(_fetch_frame(st, [selector], a, b, None))


@register("FIND")
def _find(st):
    """[ class labels ] FIND (FIND.java:73): the matched directory rows."""
    args = st.pop()
    cls, labels = (args[-4], args[-3]) if len(args) >= 4 else (args[0], args[1] if len(args) > 1 else {})
    st.push(st.spark.createDataFrame(_found(st, selector_of(cls, labels))))


@register("BUCKETIZE")
def _bucketize(st):
    """[ gts… bucketizer lastbucket bucketspan bucketcount ] BUCKETIZE
    (BUCKETIZE.java:34 argument order)."""
    args = st.pop()
    gts, bucketizer, lastbucket, span, count = (
        args[:-4], args[-4], args[-3], args[-2], args[-1]
    )
    gf = _as_frame(gts if len(gts) != 1 else gts[0])
    if isinstance(bucketizer, tuple) and bucketizer[0] == "param_agg":
        st.push(gf.bucketize(
            bucketizer[1], span, lastbucket=lastbucket or None,
            bucketcount=count or None, p=bucketizer[2],
        ))
        return
    if isinstance(bucketizer, tuple) and bucketizer[0] == "macrobucketizer":
        from warp10_platform_spark.functions.custom import macro_bucketizer

        df, spec = macro_bucketizer(
            gf.df, bucketizer[1], span, lastbucket=lastbucket or None,
            bucketcount=count or None, value_col=gf.value_col,
        )
        st.push(GTSFrame(df, spec, "v_agg"))
        return
    st.push(gf.bucketize(
        bucketizer,
        span,
        lastbucket=lastbucket or None,
        bucketcount=count or None,
    ))


# ---- parameterized mappers with their own operators (registrations
# WarpScriptLib.java:2770-2830): each factory pushes a (name, param) spec
# that MAP looks up in _MAPPER_TABLE ----

for _nm in ("mapper.dotproduct", "mapper.dotproduct.positive",
            "mapper.dotproduct.sigmoid", "mapper.dotproduct.tanh"):
    REGISTRY[_nm] = (lambda name: lambda st: st.push((name, [float(x) for x in st.pop()])))(_nm)


def _npdf_factory(st):
    """mu sigma mapper.npdf (MapperNPDF.Builder:43-63: pops sigma, then
    mu)."""
    sigma = float(st.pop())
    mu = float(st.pop())
    st.push(("mapper.npdf", (mu, sigma)))


REGISTRY["mapper.npdf"] = _npdf_factory
REGISTRY["mapper.replace"] = lambda st: st.push(("mapper.replace", st.pop()))


def _regexp_replace_factory(st):
    """'regex' 'replacement' mapper.regexp.replace
    (MapperRegExpReplace.Builder:43-55: pops replacement, then regex)."""
    rep = str(st.pop())
    pat = str(st.pop())
    st.push(("mapper.regexp.replace", (pat, rep)))


REGISTRY["mapper.regexp.replace"] = _regexp_replace_factory
REGISTRY["mapper.regexp.match"] = lambda st: st.push(("mapper.regexp.match", str(st.pop())))

for _nm in ("mapper.geo.within", "mapper.geo.outside", "mapper.geo.fence"):
    REGISTRY[_nm] = (lambda name: lambda st: st.push((name, st.pop())))(_nm)
REGISTRY["mapper.geo.approximate"] = lambda st: st.push(("mapper.geo.approximate", int(st.pop())))
REGISTRY["mapper.sd.welford"] = lambda st: st.push("mapper.sd.welford")
REGISTRY["mapper.var.welford"] = lambda st: st.push("mapper.var.welford")


def _shape_pred(shape):
    from warp10_platform_spark.operators import geocells as GC
    from warp10_platform_spark.operators.wkt import shape_contains_expr

    if isinstance(shape, GC.GeoCells):
        from warp10_platform_spark.core.geoxp import to_geoxp_col

        return shape.contains_hh_expr(to_geoxp_col(F.col("lat"), F.col("lon")))
    return shape_contains_expr(shape, F.col("lat"), F.col("lon"))


def _m_dot(activation):
    def run(gf, weights, pre, post):
        from warp10_platform_spark.operators.mapper import dotproduct_mapper

        return GTSFrame(
            dotproduct_mapper(gf.df, weights, pre, post, value_col=gf.value_col,
                              activation=activation),
            gf.bucketspec, "v_mapped",
        )

    return run


def _m_npdf(gf, p, pre, post):
    from warp10_platform_spark.operators.mapper import npdf_mapper

    mu, sigma = p
    return GTSFrame(npdf_mapper(gf.df, mu, sigma, value_col=gf.value_col), gf.bucketspec, "v_mapped")


def _m_scalar(engine_name):
    def run(gf, p, pre, post):
        return gf.map_scalar(engine_name, p)

    return run


def _m_geo_within(gf, shape, pre, post):
    return GTSFrame(
        gf.df.where(F.col("lat").isNotNull() & _shape_pred(shape)), gf.bucketspec, gf.value_col
    )


def _m_geo_outside(gf, shape, pre, post):
    return GTSFrame(
        gf.df.where(F.col("lat").isNull() | ~_shape_pred(shape)), gf.bucketspec, gf.value_col
    )


def _m_geo_fence(gf, shape, pre, post):
    # MapperGeoFence.apply: value := boolean inside-ness, location kept
    return GTSFrame(
        gf.df.withColumn("v_mapped", F.col("lat").isNotNull() & _shape_pred(shape)),
        gf.bucketspec, "v_mapped",
    )


def _m_geo_approximate(gf, res, pre, post):
    # MapperGeoApproximate: resolution 2..32 even → bits per axis = res/2
    from warp10_platform_spark.operators.geo import geo_approximate

    return GTSFrame(geo_approximate(gf.df, bits=max(1, res // 2)), gf.bucketspec, gf.value_col)


def _m_welford(base):
    def run(gf, p, pre, post):
        return gf.map_aggregate(base, pre, post)

    return run


_MAPPER_TABLE = {
    "mapper.dotproduct": _m_dot(None),
    "mapper.dotproduct.positive": _m_dot("positive"),
    "mapper.dotproduct.sigmoid": _m_dot("sigmoid"),
    "mapper.dotproduct.tanh": _m_dot("tanh"),
    "mapper.npdf": _m_npdf,
    "mapper.replace": _m_scalar("mapper.replace"),
    "mapper.regexp.replace": _m_scalar("mapper.regexp-replace"),
    "mapper.regexp.match": _m_scalar("mapper.regexp-match"),
    "mapper.geo.within": _m_geo_within,
    "mapper.geo.outside": _m_geo_outside,
    "mapper.geo.fence": _m_geo_fence,
    "mapper.geo.approximate": _m_geo_approximate,
    "mapper.sd.welford": _m_welford("mapper.sd"),
    "mapper.var.welford": _m_welford("mapper.var"),
}


@register("MAP")
def _map(st):
    """[ gts… mapper pre post occurrences ] MAP (MAP.java:39-47). The
    mapper slot holds an aggregator name, a scalar-mapper name, or a
    (scalar-mapper, param) factory tuple; names in _MAPPER_TABLE run
    their own operator."""
    from warp10_platform_spark.operators.mapper import _BINARY as _SCB
    from warp10_platform_spark.operators.mapper import _UNARY as _SCU

    args = st.pop()
    gts, mapper, pre, post, _occ = args[:-4], args[-4], args[-3], args[-2], args[-1]
    gf = _as_frame(gts if len(gts) != 1 else gts[0])
    name = mapper[0] if isinstance(mapper, tuple) else mapper
    if isinstance(name, str) and name in _MAPPER_TABLE:
        param = mapper[1] if isinstance(mapper, tuple) else None
        st.push(_MAPPER_TABLE[name](gf, param, pre, post))
    elif isinstance(mapper, tuple) and mapper[0] == "macromapper":
        from warp10_platform_spark.functions.custom import macro_mapper

        st.push(GTSFrame(
            macro_mapper(gf.df, mapper[1], pre, post, value_col=gf.value_col),
            gf.bucketspec, "v_mapped",
        ))
    elif isinstance(mapper, tuple) and mapper[0] == "strictmapper":
        from warp10_platform_spark.functions.custom import macro_mapper

        _tag, inner, mn, _mx = mapper
        fn = inner[1] if isinstance(inner, tuple) and inner[0] == "macromapper" else inner
        st.push(GTSFrame(
            macro_mapper(gf.df, fn, pre, post, value_col=gf.value_col, min_points=mn),
            gf.bucketspec, "v_mapped",
        ))
    elif isinstance(mapper, tuple) and mapper[0].startswith("mapper.") and mapper[0].count(".") == 2 and \
            mapper[0].split(".")[2] in ("tick", "lat", "lon", "elev", "hhcode"):
        from warp10_platform_spark.warpscript.functions_series import apply_field_mapper

        st.push(GTSFrame(apply_field_mapper(gf, mapper[0], mapper[1]), gf.bucketspec, gf.value_col))
    elif mapper == "mapper.geo.clear":
        df = gf.df.withColumn("lat", F.lit(None).cast("double")).withColumn(
            "lon", F.lit(None).cast("double")).withColumn("elev", F.lit(None).cast("long"))
        st.push(GTSFrame(df, gf.bucketspec, gf.value_col))
    elif isinstance(mapper, tuple) and mapper[0].startswith("mapper.kernel."):
        from warp10_platform_spark.operators.mapper import kernel_smoother

        kname = mapper[0].rsplit(".", 1)[1]
        st.push(GTSFrame(
            kernel_smoother(gf.df, kname, mapper[1], value_col=gf.value_col),
            gf.bucketspec, "v_mapped",
        ))
    elif isinstance(mapper, tuple) and mapper[0] in _SCB:
        st.push(gf.map_scalar(mapper[0], mapper[1]))
    elif isinstance(mapper, str) and mapper in ("mapper.lat", "mapper.lon", "mapper.elev"):
        col = mapper.rsplit(".", 1)[1]
        st.push(GTSFrame(
            gf.df.withColumn("v_mapped", F.col(col).cast("double")), gf.bucketspec, "v_mapped"
        ))
    elif isinstance(mapper, str) and mapper.startswith("mapper.") and mapper.split(".", 1)[1] in (
        "hspeed", "hdist", "truecourse", "vspeed", "vdist"
    ):
        from warp10_platform_spark.operators import geo as _geo_ops

        which = mapper.split(".", 1)[1]
        if which == "hspeed":
            out = _geo_ops.hspeed(gf.df, out_col="v_mapped")
        elif which == "hdist":
            out = _geo_ops.segment_dist(gf.df, out_col="v_mapped")
        elif which == "truecourse":
            out = _geo_ops.truecourse(gf.df, out_col="v_mapped")
        elif which == "vspeed":
            out = _geo_ops.vspeed(gf.df, out_col="v_mapped")
        else:  # vdist is a per-series total (the reference mapper emits it at the last tick)
            out = _geo_ops.vdist(gf.df).withColumnRenamed("vdist", "v_mapped")
        st.push(GTSFrame(out, gf.bucketspec, "v_mapped"))
    elif isinstance(mapper, str) and mapper in _SCU:
        st.push(gf.map_scalar(mapper))
    elif mapper == "mapper.delta" and pre == 1 and post == 0:
        st.push(gf.delta())
    elif mapper == "mapper.rate" and pre == 1 and post == 0:
        st.push(gf.rate())
    elif isinstance(mapper, tuple) and mapper[0] == "param_agg":
        st.push(gf.map_aggregate(mapper[1], pre, post, p=mapper[2]))
    else:
        st.push(gf.map_aggregate(mapper, pre, post))


@register("REDUCE")
def _reduce(st):
    """[ [gts…] [label …] reducer ] REDUCE (REDUCE.java:37)."""
    args = st.pop()
    gts_list, by_labels, reducer = args[0], args[1], args[2]
    gf = _as_frame(gts_list)
    if isinstance(reducer, tuple) and reducer[0] == "macroreducer":
        from warp10_platform_spark.functions.custom import macro_reducer

        st.push(macro_reducer(gf.df, reducer[1], by_labels, value_col=gf.value_col))
        return
    if isinstance(reducer, tuple) and reducer[0] == "strictreducer":
        reducer = reducer[1]
    # GTSFrame result with the bucketization-congruence rule applied
    # (GTSHelper.java:8196-8247): a bucketized input propagates its spec
    # onto the reduced series, so the reference pipeline
    # BUCKETIZE → REDUCE → FILLPREVIOUS works in-script.
    if isinstance(reducer, tuple) and reducer[0] == "param_agg":
        st.push(gf.reduce_frame(reducer[1], by_labels, p=reducer[2]))
        return
    st.push(gf.reduce_frame(reducer, by_labels))


@register("APPLY")
def _apply(st):
    """[ [gts_a] [gts_b] [label …] op ] APPLY (APPLY.java:40) — result
    frame carries the congruence-merged BucketSpec of both operands."""
    args = st.pop()
    a, b, by_labels, op = args[0], args[1], args[2], args[3]
    st.push(_as_frame(a).apply_frame(_as_frame(b), op, by_labels))


MACROFILTER_MAXIDS: int | None = None
"""Driver-side MACROFILTER cardinality cap; None → $WARP10_MACROFILTER_MAXIDS
(default 10000). At or below the cap the macro evaluates over a bounded
driver collect of the distinct identities (reference-faithful —
MACROFILTER.java also sees metadata on the stack); above it the macro
ships to the executors (r6 verdict: collect+isin is a driver bottleneck
and a giant IN-list at a 10^7-series directory)."""


def _macrofilter_cap() -> int:
    import os

    if MACROFILTER_MAXIDS is not None:
        return MACROFILTER_MAXIDS
    return int(os.environ.get("WARP10_MACROFILTER_MAXIDS", "10000"))


def _picklable_symbols(symbols: dict) -> tuple[dict, list[str]]:
    """Snapshot of the driver stack's symbol table that survives pickling
    to executors (scalars, lists/maps, Macros), plus the NAMES that were
    dropped (lazy frames and other driver-bound values). The dropped
    names ship alongside so a filter macro referencing one fails
    executor-side with 'was bound on the driver but could not be
    pickled', not a generic undefined-variable NameError."""
    import pickle

    out, dropped = {}, []
    for k, v in symbols.items():
        try:
            pickle.dumps(v)
        except Exception:  # noqa: BLE001 — py4j/DataFrame handles
            dropped.append(k)
            continue
        out[k] = v
    return out, dropped


def macrofilter_semijoin(df, tokens, symbols: dict | None = None,
                         dropped_symbols: list[str] | None = None):
    """Distributed MACROFILTER (MACROFILTER.java): evaluate the filter
    macro over the DISTINCT series identities ON THE EXECUTORS — a
    mapInPandas over the directory partitions runs a Spark-less
    WarpScript stack per Arrow batch — then left-semi-join the surviving
    identities back onto the points. No driver collect, no IN-list: the
    shuffle carries only (class, labels_key) survivor pairs, so the plan
    holds at a 10^7-series directory where the driver path cannot."""
    import json as _json

    ids = df.select("class", "labels_key").distinct()
    toks = list(tokens)
    syms = dict(symbols or {})
    dropped = list(dropped_symbols or [])

    def run(batches):
        import numpy as np

        from warp10_platform_spark.warpscript.stack import Macro, WarpScriptStack

        wst = WarpScriptStack(None, "", bootstrap=False)
        wst.symbols.update(syms)
        wst.dropped_symbols.update(dropped)
        macro = Macro(toks)
        for pdf in batches:
            keep = []
            for cls, lk in zip(pdf["class"].tolist(), pdf["labels_key"].tolist()):
                labels = {e["key"]: e["value"] for e in _json.loads(lk or "[]")}
                wst._ops = 0  # fresh ops budget per identity, like a fresh stack
                wst.stack.clear()
                wst.push([[cls, labels]])
                wst.exec_macro(macro)
                keep.append(bool(wst.pop()))
            yield pdf[np.array(keep, dtype=bool)]

    kept = ids.mapInPandas(run, schema=ids.schema)
    return df.join(kept, ["class", "labels_key"], "left_semi")


# ---- filter specs with their own operators (registrations
# WarpScriptLib.java:2770-2830): FilterAny.java, FilterByLabels.java with
# attribute checking, FilterByMetadata.java and LatencyFilter.java. FILTER
# looks these names up in _FILTER_TABLE. `filter.all.X t` retains series
# where NO point matches the complement comparator (the reference builds
# all.* from the complemented any.* builder, :2796-2803). ----

_CMP_EXPR = {
    "eq": lambda c, t: c == t,
    "ne": lambda c, t: c != t,
    "gt": lambda c, t: c > t,
    "ge": lambda c, t: c >= t,
    "lt": lambda c, t: c < t,
    "le": lambda c, t: c <= t,
}
_ALL_COMPLEMENT = {"ne": "eq", "lt": "ge", "le": "gt", "ge": "lt", "gt": "le", "eq": "ne"}

for _c in _CMP_EXPR:
    REGISTRY[f"filter.any.{_c}"] = _param_filter(f"filter.any.{_c}")
    REGISTRY[f"filter.all.{_c}"] = _param_filter(f"filter.all.{_c}")
REGISTRY["filter.byattr"] = _param_filter("filter.byattr")
REGISTRY["filter.bylabelsattr"] = _param_filter("filter.bylabelsattr")
REGISTRY["filter.bymetadata"] = _param_filter("filter.bymetadata")


def _latency_filter_factory(st):
    """min max [options] filter.latencies (LatencyFilter.Builder:110-140:
    pops options list, then max latency, then min latency)."""
    options = st.pop()
    mx = int(st.pop())
    mn = int(st.pop())
    st.push(("filter.latencies", (mn, mx, [str(o) for o in options])))


REGISTRY["filter.latencies"] = _latency_filter_factory


def _selector_pred(col, sel: str):
    """Reference label-selector semantics (FilterByLabels.java:80-92):
    '=' prefix or bare → exact match; '~' prefix → regex."""
    if sel.startswith("~"):
        return col.isNotNull() & col.rlike(sel[1:])
    if sel.startswith("="):
        sel = sel[1:]
    return col.isNotNull() & (col == F.lit(sel))


def _series_with_any(df, pred, how):
    """Keep (how="left_semi") or drop (how="left_anti") whole series that
    have >=1 point matching pred — a series-key join, so a surviving
    series keeps all its points."""
    keys = df.where(pred).select("gts_id").distinct()
    return df.join(keys, "gts_id", how)


def _latencies(frames, mn, mx, options):
    """filter.latencies (LatencyFilter.filter:200-420): series[0] =
    uplink packets (LONG ids), rest = downlinks; match equal values with
    downlink tick in [uptick+min, uptick+max]; emit the option-selected
    derived series. Spark shape: value equi-join + tick range predicate
    (range join), aggregated per requested output."""
    if not isinstance(frames, list) or len(frames) < 2:
        raise ValueError("filter.latencies expects [uplink downlink...] GTS list")
    def _pkt(gf):
        # packet id: LONG value column when present, else the frame's
        # value column cast (construct pipelines carry v_double)
        if "v_long" in gf.df.columns:
            return F.coalesce(F.col("v_long"), F.col(gf.value_col).cast("long"))
        return F.col(gf.value_col).cast("long")

    up = frames[0].df.select(
        F.col("class").alias("u_class"), _pkt(frames[0]).alias("pkt"),
        F.col("ts").alias("u_ts"),
    )
    outs = []
    for dgf in frames[1:]:
        d = dgf.df.select(
            F.col("class").alias("d_class"),
            _pkt(dgf).alias("pkt"), F.col("ts").alias("d_ts"),
        )
        m = up.join(d, "pkt").where(
            (F.col("d_ts") - F.col("u_ts") >= mn) & (F.col("d_ts") - F.col("u_ts") <= mx)
        ).withColumn("lat_us", F.col("d_ts") - F.col("u_ts"))
        if "uplink.latency.min" in options or "uplink.latency.max" in options:
            aggs = []
            if "uplink.latency.min" in options:
                aggs.append(F.min("lat_us").alias("v_min"))
            if "uplink.latency.max" in options:
                aggs.append(F.max("lat_us").alias("v_max"))
            g = m.groupBy("u_class", "u_ts").agg(*aggs)
            if "uplink.latency.min" in options:
                outs.append(g.select(
                    F.concat(F.col("u_class"), F.lit(":uplink.latency.min")).alias("class"),
                    F.col("u_ts").alias("ts"), F.col("v_min").cast("double").alias("v_double"),
                ))
            if "uplink.latency.max" in options:
                outs.append(g.select(
                    F.concat(F.col("u_class"), F.lit(":uplink.latency.max")).alias("class"),
                    F.col("u_ts").alias("ts"), F.col("v_max").cast("double").alias("v_double"),
                ))
        for opt, agg, suffix in (
            ("downlink.latency.min", F.min("lat_us"), ":downlink.latency.min"),
            ("downlink.latency.max", F.max("lat_us"), ":downlink.latency.max"),
            ("downlink.matches", F.count("lat_us"), ":downlink.matches"),
        ):
            if opt in options:
                g = m.groupBy("d_class", "d_ts").agg(agg.alias("v"))
                outs.append(g.select(
                    F.concat(F.col("d_class"), F.lit(suffix)).alias("class"),
                    F.col("d_ts").alias("ts"), F.col("v").cast("double").alias("v_double"),
                ))
    if not outs:
        raise ValueError("filter.latencies: no recognized option requested")
    u = outs[0]
    for o in outs[1:]:
        u = u.unionByName(o)
    from warp10_platform_spark.core.schema import with_gts_id

    full = u.selectExpr(
        "class", "cast(map() as map<string,string>) AS labels",
        "cast(map() as map<string,string>) AS attributes", "ts",
        "cast(null as double) AS lat", "cast(null as double) AS lon",
        "cast(null as long) AS elev", "cast(null as long) AS v_long",
        "v_double", "cast(null as boolean) AS v_bool", "cast(null as string) AS v_string",
    )
    return GTSFrame(with_gts_id(full), None, "v_double")


def _f_any(cmp):
    def run(gf, thr, raw):
        return GTSFrame(
            _series_with_any(gf.df, _CMP_EXPR[cmp](F.col(gf.value_col), F.lit(thr)), "left_semi"),
            gf.bucketspec, gf.value_col,
        )

    return run


def _f_all(cmp):
    comp = _ALL_COMPLEMENT[cmp]

    def run(gf, thr, raw):
        return GTSFrame(
            _series_with_any(gf.df, _CMP_EXPR[comp](F.col(gf.value_col), F.lit(thr)), "left_anti"),
            gf.bucketspec, gf.value_col,
        )

    return run


def _f_byattr(gf, clauses, raw):
    pred = F.lit(True)
    for k, sel in clauses.items():
        pred = pred & _selector_pred(F.element_at(F.col("attributes"), k), sel)
    return GTSFrame(gf.df.where(pred), gf.bucketspec, gf.value_col)


def _f_bylabelsattr(gf, clauses, raw):
    # FilterByLabels.filter with checkLabels+checkAttributes: the label
    # value if present, else the attribute value (:121-135).
    pred = F.lit(True)
    for k, sel in clauses.items():
        v = F.coalesce(F.element_at(F.col("labels"), k), F.element_at(F.col("attributes"), k))
        pred = pred & _selector_pred(v, sel)
    return GTSFrame(gf.df.where(pred), gf.bucketspec, gf.value_col)


def _f_bymetadata(gf, sel_frames, raw):
    sel = _as_frame(sel_frames)
    keys = sel.df.select("class", "labels_key").distinct()
    return GTSFrame(
        gf.df.join(F.broadcast(keys), ["class", "labels_key"], "left_semi"),
        gf.bucketspec, gf.value_col,
    )


_FILTER_TABLE = {
    "filter.byattr": _f_byattr,
    "filter.bylabelsattr": _f_bylabelsattr,
    "filter.bymetadata": _f_bymetadata,
    "filter.latencies": lambda gf, p, raw: _latencies(raw, *p),
}
for _c in _CMP_EXPR:
    _FILTER_TABLE[f"filter.any.{_c}"] = _f_any(_c)
    _FILTER_TABLE[f"filter.all.{_c}"] = _f_all(_c)


@register("FILTER")
def _filter(st):
    """[ [gts…] [label …] filterspec ] FILTER (FILTER.java:39); names in
    _FILTER_TABLE run their own operator."""
    args = st.pop()
    gf = _as_frame(args[0])
    spec = args[-1]
    name, param = spec[0], spec[1]
    if name == "filter.byclass":
        st.push(gf.filter_byclass(param))
    elif name == "filter.bylabels":
        st.push(gf.filter_bylabels(param))
    elif name == "filter.byselector":
        from warp10_platform_spark.core.selector import selector_predicate

        st.push(GTSFrame(gf.df.where(selector_predicate(param)), gf.bucketspec, gf.value_col))
    elif name.startswith("filter.last."):
        st.push(gf.filter_last(name.rsplit(".", 1)[1], param))
    elif name == "filter.bysize":
        mn, mx = param
        st.push(gf.filter_bysize(mn, mx))
    elif name == "macrofilter":
        # Two-tier strategy: a bounded probe (cap+1 rows max) decides
        # whether the distinct-identity set is small enough to evaluate
        # driver-side; above the cap the macro ships to the executors
        # and survivors come back through a left-semi-join.
        import json as _json

        cap = _macrofilter_cap()
        tokens = spec[2] if len(spec) > 2 else None
        probe = gf.df.select("class", "labels_key").distinct().limit(cap + 1).collect()
        if len(probe) > cap:
            if tokens is None:
                raise RuntimeError(
                    f"MACROFILTER: more than {cap} distinct series "
                    "(WARP10_MACROFILTER_MAXIDS) and no shippable macro — "
                    "refusing the unbounded driver-side evaluation"
                )
            syms, dropped = _picklable_symbols(st.symbols)
            st.push(GTSFrame(
                macrofilter_semijoin(gf.df, tokens, syms, dropped),
                gf.bucketspec, gf.value_col,
            ))
        else:
            idents = [
                (r["class"],
                 {e["key"]: e["value"] for e in _json.loads(r["labels_key"] or "[]")},
                 (r["class"], r["labels_key"]))
                for r in probe
            ]
            kept = set(param(idents, st))
            if not kept:
                st.push(GTSFrame(gf.df.limit(0), gf.bucketspec, gf.value_col))
            else:
                key_col = F.concat_ws("\x00", F.col("class"), F.col("labels_key"))
                keys = [c + "\x00" + lk for c, lk in kept]
                st.push(GTSFrame(gf.df.where(key_col.isin(keys)), gf.bucketspec, gf.value_col))
    elif name in _FILTER_TABLE:
        st.push(_FILTER_TABLE[name](gf, param, args[0]))
    else:
        raise ValueError(f"unknown filter {name}")


def _frame_method(name, *method_names, n_params: int = 0):
    """Register a stack function that pops n params then the frame and
    calls the GTSFrame method."""

    def inner(st):
        params = [st.pop() for _ in range(n_params)]
        params.reverse()
        gf = _as_frame(st.pop())
        st.push(getattr(gf, method_names[0])(*params))

    REGISTRY[name] = inner


_frame_method("FILLPREVIOUS", "fillprevious")
_frame_method("FILLNEXT", "fillnext")
_frame_method("FILLVALUE", "fillvalue", n_params=1)
_frame_method("INTERPOLATE", "filllinear")
_frame_method("TIMESHIFT", "timeshift", n_params=1)
_frame_method("TIMESCALE", "timescale", n_params=1)
_frame_method("TICKINDEX", "tickindex")
_frame_method("DEDUP", "dedup")
_frame_method("VALUEDEDUP", "valuededup")
_frame_method("COMPACT", "compact")
_frame_method("NORMALIZE", "normalize")
_frame_method("STANDARDIZE", "standardize")
_frame_method("ISONORMALIZE", "isonormalize")
_frame_method("MONOTONIC", "monotonic")
_frame_method("INTEGRATE", "integrate")
_frame_method("SHRINK", "shrink", n_params=1)
_frame_method("CHUNK", "chunk", n_params=1)
_frame_method("TIMESPLIT", "timesplit", n_params=1)
_frame_method("QUANTIZE", "quantize", n_params=1)


@register("TIMECLIP")
def _timeclip(st):
    end = st.pop()
    start = st.pop()
    gf = _as_frame(st.pop())
    st.push(gf.timeclip(start, end))


@register("MERGE")
def _merge(st):
    st.push(_as_frame(st.pop()))


@register("NONEMPTY")
def _nonempty(st):
    st.push(_as_frame(st.pop()))


@register("SORT", "RSORT")
def _sort(st):
    # Points live in an unordered relation; ordering is imposed by every
    # consuming window (orderBy ts) — SORT is an identity here by design.
    st.push(_as_frame(st.pop()))


REGISTRY["{}"] = lambda st: st.push({})  # common shorthand for an empty label map


# ---------- extended stack manipulation (WarpScriptLib registrations) ----------

@register("DUPN")
def _dupn(st):
    n = st.pop()
    if n < 0 or n > st.depth():
        raise RuntimeError("DUPN count out of range")
    for v in st.stack[-n:] if n else []:
        st.push(v)


@register("DROPN")
def _dropn(st):
    n = st.pop()
    for _ in range(n):
        st.pop()


@register("ROLL")
def _roll(st):
    """Move the n-th element (1-based from the top) to the top (ROLL.java)."""
    n = st.pop()
    if n < 1 or n > st.depth():
        raise RuntimeError("ROLL index out of range")
    st.push(st.stack.pop(-n))


@register("ROLLD")
def _rolld(st):
    """Move the top element down to the n-th position (ROLLD.java)."""
    n = st.pop()
    if n < 1 or n > st.depth():
        raise RuntimeError("ROLLD index out of range")
    v = st.pop()
    st.stack.insert(len(st.stack) - n + 1, v)


@register("COUNTTOMARK")
def _counttomark(st):
    for i, v in enumerate(reversed(st.stack)):
        if isinstance(v, _Mark):
            st.push(i)
            return
    raise RuntimeError("no MARK on stack")


@register("CLEARTOMARK")
def _cleartomark(st):
    while True:
        if isinstance(st.pop(), _Mark):
            return


# ---------- extended control flow ----------

@register("WHILE")
def _while(st):
    """`<% cond %> <% body %> WHILE` (WHILE.java: pops RUN-macro then
    WHILE-macro; loops while the condition macro leaves true)."""
    from warp10_platform_spark.warpscript.stack import BreakLoop, ContinueLoop

    body = st.pop()
    cond = st.pop()
    while True:
        st.exec_macro(cond)
        if not st.pop():
            return
        try:
            st.exec_macro(body)
        except BreakLoop:
            return
        except ContinueLoop:
            continue


@register("UNTIL")
def _until(st):
    """`<% body %> <% cond %> UNTIL` (UNTIL.java): run body, then stop
    once the condition macro leaves true."""
    from warp10_platform_spark.warpscript.stack import BreakLoop, ContinueLoop

    cond = st.pop()
    body = st.pop()
    while True:
        try:
            st.exec_macro(body)
        except BreakLoop:
            return
        except ContinueLoop:
            pass
        st.exec_macro(cond)
        if st.pop():
            return


@register("FORSTEP")
def _forstep(st):
    """`start stop step <% body %> FORSTEP` (FORSTEP.java)."""
    from warp10_platform_spark.warpscript.stack import BreakLoop, ContinueLoop

    macro = st.pop()
    step = st.pop()
    stop = st.pop()
    start = st.pop()
    if step == 0:
        raise RuntimeError("FORSTEP step must be non-zero")
    i = start
    while (i <= stop) if step > 0 else (i >= stop):
        st.push(i)
        try:
            st.exec_macro(macro)
        except BreakLoop:
            return
        except ContinueLoop:
            pass
        i += step


@register("BREAK")
def _break(st):
    from warp10_platform_spark.warpscript.stack import BreakLoop

    raise BreakLoop()


@register("CONTINUE")
def _continue(st):
    from warp10_platform_spark.warpscript.stack import ContinueLoop

    raise ContinueLoop()


@register("RETURN")
def _return(st):
    from warp10_platform_spark.warpscript.stack import MacroReturn

    raise MacroReturn()


@register("STOP")
def _stop(st):
    from warp10_platform_spark.warpscript.stack import ScriptStop

    raise ScriptStop()


@register("ASSERT")
def _assert(st):
    if not st.pop():
        raise RuntimeError("ASSERT failed")


@register("DEFINED")
def _defined(st):
    st.push(st.pop() in st.symbols)


@register("ISNULL")
def _isnull(st):
    st.push(st.pop() is None)


@register("ISNaN")
def _isnan(st):
    v = st.pop()
    st.push(isinstance(v, float) and v != v)


@register("SWITCH")
def _switch(st):
    """`<% cond %> <% exec %> … <% default %> ncases SWITCH`
    (SWITCH.java): run condition macros in definition order; the first
    that leaves true selects its exec macro, else the default runs."""
    ncases = st.pop()
    default = st.pop()
    cases = []
    for _ in range(ncases):
        exec_m = st.pop()
        cond_m = st.pop()
        cases.insert(0, (cond_m, exec_m))
    chosen = default
    for cond_m, exec_m in cases:
        st.exec_macro(cond_m)
        if st.pop() is True:
            chosen = exec_m
            break
    st.exec_macro(chosen)


@register("TRY")
def _try(st):
    """`<% try %> <% catch %> <% finally %> TRY` (TRY.java): the last
    error is kept for RETHROW, mirroring ATTRIBUTE_LAST_ERROR."""
    finally_m = st.pop()
    catch_m = st.pop()
    try_m = st.pop()
    from warp10_platform_spark.warpscript.stack import (
        BreakLoop, ContinueLoop, MacroReturn, ScriptStop,
    )

    try:
        st.exec_macro(try_m)
    except (BreakLoop, ContinueLoop, MacroReturn, ScriptStop):
        raise  # loop/macro control is not an error
    except Exception as exc:  # noqa: BLE001 — the catch macro decides
        st.last_error = exc
        st.exec_macro(catch_m)
    finally:
        if finally_m.tokens:
            st.exec_macro(finally_m)


@register("RETHROW")
def _rethrow(st):
    err = getattr(st, "last_error", None)
    if err is None:
        raise RuntimeError("RETHROW with no prior error")
    raise err


# ---------- math (Math.* delegates in the reference) ----------

import math as _math  # noqa: E402

REGISTRY["SQRT"] = lambda st: st.push(_math.sqrt(st.pop()))
REGISTRY["CBRT"] = lambda st: st.push(_math.cbrt(st.pop()))
REGISTRY["EXP"] = lambda st: st.push(_math.exp(st.pop()))
REGISTRY["LOG"] = lambda st: st.push(_math.log(st.pop()))       # natural (Math.log)
REGISTRY["LOG10"] = lambda st: st.push(_math.log10(st.pop()))
REGISTRY["LOG1P"] = lambda st: st.push(_math.log1p(st.pop()))
REGISTRY["CEIL"] = lambda st: st.push(_math.ceil(st.pop()))     # Math.ceil → LONG
REGISTRY["FLOOR"] = lambda st: st.push(_math.floor(st.pop()))
REGISTRY["ROUND"] = lambda st: st.push(_math.floor(st.pop() + 0.5))  # Math.round half-up
REGISTRY["RINT"] = lambda st: st.push(float(round(st.pop())))   # Math.rint half-even


def _signum(st):
    v = st.pop()
    st.push(float((v > 0) - (v < 0)))


REGISTRY["SIGNUM"] = _signum
REGISTRY["PI"] = lambda st: st.push(_math.pi)
REGISTRY["NaN"] = lambda st: st.push(float("nan"))
REGISTRY["MINLONG"] = lambda st: st.push(-(2 ** 63))
REGISTRY["MAXLONG"] = lambda st: st.push(2 ** 63 - 1)


# ---------- strings ----------

REGISTRY["TOUPPER"] = lambda st: st.push(st.pop().upper())
REGISTRY["TOLOWER"] = lambda st: st.push(st.pop().lower())
REGISTRY["TRIM"] = lambda st: st.push(st.pop().strip())


@register("SPLIT")
def _split(st):
    sep = st.pop()
    st.push(st.pop().split(sep))


@register("JOIN")
def _join(st):
    sep = st.pop()
    st.push(sep.join(str(x) for x in st.pop()))


@register("SUBSTRING")
def _substring(st):
    """`str start SUBSTRING` or `str start len SUBSTRING` (SUBSTRING.java):
    the two-number form takes (start, length)."""
    b = st.pop()
    a = st.pop()
    if isinstance(a, str):
        st.push(a[b:])
    else:
        s = st.pop()
        st.push(s[a : a + b])


@register("REPLACE")
def _replace(st):
    import re

    repl = st.pop()
    pat = st.pop()
    st.push(re.sub(pat, repl, st.pop(), count=1))


@register("REPLACEALL")
def _replaceall(st):
    import re

    repl = st.pop()
    pat = st.pop()
    st.push(re.sub(pat, repl, st.pop()))


@register("MATCHER")
def _matcher(st):
    import re

    st.push(re.compile(st.pop()))


@register("MATCH")
def _match(st):
    """str pattern MATCH → list of match groups (group 0 first) on a full
    match, else an empty list (MATCH.java: Matcher.matches())."""
    import re

    pat = st.pop()
    if isinstance(pat, str):
        pat = re.compile(pat)
    m = pat.fullmatch(st.pop())
    st.push([m.group(0), *[g for g in m.groups()]] if m else [])


# ---------- lists / maps ----------

@register("APPEND")
def _append(st):
    b = st.pop()
    a = st.pop()
    if isinstance(a, dict) and isinstance(b, dict):
        st.push({**a, **b})
    else:
        st.push(list(a) + list(b))


@register("FLATTEN")
def _flatten(st):
    def flat(xs):
        out = []
        for x in xs:
            out.extend(flat(x) if isinstance(x, list) else [x])
        return out

    st.push(flat(st.pop()))


@register("REVERSE")
def _reverse(st):
    v = st.pop()
    st.push(v[::-1])


@register("SUBLIST")
def _sublist(st):
    """`list [ i j ] SUBLIST` (indices list) or `list start end (step)?
    SUBLIST` — inclusive range with negative-index wrap (SUBLIST.java)."""
    top = st.pop()
    if isinstance(top, list):
        lst = st.pop()
        n = len(lst)
        if len(top) == 2:
            a, b = (x + n if x < 0 else x for x in top)
            st.push(lst[a : b + 1] if a <= b else lst[b : a + 1][::-1])
        else:
            st.push([lst[i] for i in top])
        return
    # numeric form: collected (start end step?) below the top
    nums = [top]
    while isinstance(st.peek(), (int, float)) and len(nums) < 3:
        nums.insert(0, st.pop())
    lst = st.pop()
    n = len(lst)
    start = nums[0] + n if nums[0] < 0 else nums[0]
    end = (nums[1] + n if nums[1] < 0 else nums[1]) if len(nums) > 1 else n - 1
    step = nums[2] if len(nums) > 2 else (1 if start <= end else -1)
    stop = end + (1 if step > 0 else -1)
    st.push(lst[start : (stop if stop >= 0 else None) : step])


@register("LSORT")
def _lsort(st):
    st.push(sorted(st.pop()))


@register("MSORT")
def _msort(st):
    st.push(dict(sorted(st.pop().items())))


@register("KEYLIST")
def _keylist(st):
    st.push(list(st.pop().keys()))


@register("VALUELIST")
def _valuelist(st):
    st.push(list(st.pop().values()))


@register("PUT")
def _put(st):
    """`map value key PUT` (PUT.java: pops key then value, peeks the map)."""
    key = st.pop()
    value = st.pop()
    coll = st.peek()
    if isinstance(coll, dict):
        coll[key] = value
    else:
        coll[int(key)] = value


@register("REMOVE")
def _remove(st):
    """map key / list idx REMOVE → modified collection + removed element
    (REMOVE.java pushes both)."""
    key = st.pop()
    coll = st.pop()
    if isinstance(coll, dict):
        out = dict(coll)
        st.push(out)
        st.push(out.pop(key, None))
    else:
        out = list(coll)
        removed = out.pop(key + len(out) if key < 0 else key) if -len(out) <= key < len(out) else None
        st.push(out)
        st.push(removed)


@register("CONTAINS")
def _contains(st):
    """list elem CONTAINS → list bool; str substr CONTAINS → bool
    (CONTAINS.java peeks collections, pops strings)."""
    elt = st.pop()
    coll = st.peek()
    if isinstance(coll, str):
        st.pop()
        st.push(elt in coll)
    else:
        st.push(elt in coll)


@register("CONTAINSKEY")
def _containskey(st):
    key = st.pop()
    st.push(key in st.peek())


@register("CONTAINSVALUE")
def _containsvalue(st):
    val = st.pop()
    st.push(val in st.peek().values())


@register("ZIP")
def _zip(st):
    st.push([list(t) for t in zip(*st.pop())])


@register("UNLIST")
def _unlist(st):
    """Push a MARK then every element (UNLIST.java) — pairs with ] or
    COUNTTOMARK/CLEARTOMARK."""
    lst = st.pop()
    st.push(_Mark())
    for v in lst:
        st.push(v)


@register("UNMAP")
def _unmap(st):
    d = st.pop()
    st.push(_MapMark())
    for k, v in d.items():
        st.push(k)
        st.push(v)


def _push_index_variant(st):
    """LMAP/LFILTER share the optional trailing-boolean 'push index' arg
    (default true in the reference)."""
    top = st.pop()
    push_index = True
    if isinstance(top, bool):
        push_index = top
        top = st.pop()
    return top, push_index


@register("LMAP")
def _lmap(st):
    """list macro (bool)? LMAP (LMAP.java: macro sees element then index,
    unless the boolean disables the index push)."""
    macro, push_index = _push_index_variant(st)
    lst = st.pop()
    out = []
    for i, v in enumerate(lst):
        st.push(v)
        if push_index:
            st.push(i)
        st.exec_macro(macro)
        out.append(st.pop())
    st.push(out)


@register("LFILTER")
def _lfilter(st):
    macro, push_index = _push_index_variant(st)
    lst = st.pop()
    out = []
    for i, v in enumerate(lst):
        st.push(v)
        if push_index:
            st.push(i)
        st.exec_macro(macro)
        if st.pop():
            out.append(v)
    st.push(out)


@register("LFLATMAP")
def _lflatmap(st):
    macro, push_index = _push_index_variant(st)
    lst = st.pop()
    out = []
    for i, v in enumerate(lst):
        st.push(v)
        if push_index:
            st.push(i)
        st.exec_macro(macro)
        r = st.pop()
        out.extend(r if isinstance(r, list) else [r])
    st.push(out)


# ---------- time scalars (functions/timeutil.py backs these) ----------

@register("ISO8601")
def _iso8601(st):
    """µs timestamp → ISO-8601 UTC string (ISO8601.java)."""
    from datetime import datetime, timezone

    ticks = st.pop()
    dt = datetime.fromtimestamp(ticks // _tuc.UNITS_PER_S, tz=timezone.utc)
    sub = ticks % _tuc.UNITS_PER_S
    st.push(dt.strftime("%Y-%m-%dT%H:%M:%S") + f".{sub:0{_tuc.SUBSEC_DIGITS}d}Z")


@register("DURATION")
def _duration(st):
    """ISO-8601 duration string → µs (DURATION.java via timeutil)."""
    from warp10_platform_spark.functions.timeutil import parse_duration

    st.push(parse_duration(st.pop()))


@register("HUMANDURATION")
def _humanduration(st):
    from warp10_platform_spark.functions.timeutil import humanduration

    st.push(humanduration(st.pop()))


@register("TSELEMENTS", "->TSELEMENTS")
def _tselements(st):
    """ts (tz)? → [year month day hour minute second us] (TSELEMENTS.java).
    Driver-side scalar twin of functions.timeutil.tselements."""
    from datetime import datetime, timezone
    from zoneinfo import ZoneInfo

    top = st.pop()
    if isinstance(top, str):
        tz, ticks = ZoneInfo(top), st.pop()
    else:
        tz, ticks = timezone.utc, top
    dt = datetime.fromtimestamp(ticks // _tuc.UNITS_PER_S, tz=tz)
    st.push([dt.year, dt.month, dt.day, dt.hour, dt.minute, dt.second, ticks % _tuc.UNITS_PER_S])


# ---------- additional GTS bindings (engine operators already built) ----------

_frame_method("ATINDEX", "atindex", n_params=1)
_frame_method("ATTICK", "attick", n_params=1)
_frame_method("CROP", "crop")
_frame_method("UNBUCKETIZE", "unbucketize")
_frame_method("ONLYBUCKETS", "onlybuckets")
_frame_method("FILLTICKS", "fillticks", n_params=1)
_frame_method("RANGECOMPACT", "rangecompact")
_frame_method("UNIQUE", "unique")


# NEWGTS/MAKEGTS track a construct frame's (class, labels) identity
# driver-side (`ident`) so ADDVALUE works on zero-row frames; RENAME and
# RELABEL carry that identity through, as RENAME.java / RELABEL.java
# rewrite the Metadata in place in the reference.

@register("RENAME")
def _rename(st):
    """gts 'name' RENAME (RENAME.java: a leading '+' appends, :52)."""
    name = st.pop()
    src = st.pop()
    out = _as_frame(src).rename(name)
    si = getattr(src, "ident", None)
    if isinstance(out, GTSFrame) and si is not None and isinstance(name, str):
        out.ident = (si[0] + name[1:] if name.startswith("+") else name, si[1])
    st.push(out)


@register("RELABEL")
def _relabel(st):
    """gts { changes } RELABEL (RELABEL.java: empty-string value removes a
    label; the engine method recomputes gts_id)."""
    changes = st.pop()
    src = st.pop()
    out = _as_frame(src).relabel(changes)
    si = getattr(src, "ident", None)
    if isinstance(out, GTSFrame) and si is not None and isinstance(changes, dict):
        labels = dict(si[1])
        for k, v in changes.items():
            if v == "" or v is None:
                labels.pop(k, None)
            else:
                labels[k] = str(v)
        out.ident = (si[0], labels)
    st.push(out)


@register("NAME")
def _name(st):
    st.push(_as_frame(st.pop()).names())


@register("LABELS")
def _labels(st):
    st.push(_as_frame(st.pop()).labels())


@register("TICKS")
def _ticks(st):
    st.push(_as_frame(st.pop()).ticks())


@register("VALUESORT")
def _valuesort(st):
    from warp10_platform_spark.operators.sort import valuesort as _vs

    gf = _as_frame(st.pop())
    st.push(gf._wrap(_vs(gf.df, gf.value_col)))


@register("LASTSORT")
def _lastsort(st):
    st.push(_as_frame(st.pop()).lastsort())


@register("BUCKETSPAN")
def _bucketspan(st):
    st.push(_as_frame(st.pop()).bucketspan())


@register("BUCKETCOUNT")
def _bucketcount(st):
    st.push(_as_frame(st.pop()).bucketcount())


@register("LASTBUCKET")
def _lastbucket(st):
    st.push(_as_frame(st.pop()).lastbucket())


@register("LASTTICK")
def _lasttick(st):
    """Scalar max tick over the frame (LASTTICK.java) — a driver-side
    action by definition (it returns a number to the script)."""
    gf = _as_frame(st.pop())
    row = gf.df.agg(F.max("ts").alias("t")).first()
    st.push(row["t"])


@register("FIRSTTICK")
def _firsttick(st):
    gf = _as_frame(st.pop())
    row = gf.df.agg(F.min("ts").alias("t")).first()
    st.push(row["t"])


# =====================================================================
# Registry extension — next ~110 most-registered reference names
# (WarpScriptLib.java:1966-3570 order): math, bitwise, encodings, JSON,
# digests, sets/maps, calendar arithmetic, SNAPSHOT, scalar-mapper
# tokens, extra filters, GTS metadata.
# =====================================================================

import base64 as _b64
import hashlib as _hashlib
import json as _json
import math as _math
import urllib.parse as _url
import uuid as _uuid


# ---------- math (WarpScriptLib math section) ----------

for _n, _f in {
    "SIN": _math.sin, "COS": _math.cos, "TAN": _math.tan,
    "ASIN": _math.asin, "ACOS": _math.acos, "ATAN": _math.atan,
    "SINH": _math.sinh, "COSH": _math.cosh, "TANH": _math.tanh,
    "TODEGREES": _math.degrees, "TORADIANS": _math.radians,
    "EXPM1": _math.expm1, "ULP": lambda x: _math.ulp(float(x)),
}.items():
    REGISTRY[_n] = (lambda f: lambda st: st.push(f(st.pop())))(_f)

REGISTRY["E"] = lambda st: st.push(_math.e)

for _n, _f in {
    "ATAN2": _math.atan2,  # pops y then x per stack order: x y ATAN2
    "HYPOT": _math.hypot,
    "COPYSIGN": _math.copysign,
    "NEXTAFTER": _math.nextafter,
    "IEEEREMAINDER": _math.remainder,
}.items():
    def _bin(f=_f):
        def inner(st):
            b = st.pop()
            a = st.pop()
            st.push(f(a, b))
        return inner
    REGISTRY[_n] = _bin()


# ---------- bitwise (on LONGs) ----------

def _bitop(f):
    def inner(st):
        b = st.pop()
        a = st.pop()
        st.push(f(int(a), int(b)))
    return inner

REGISTRY[">>"] = _bitop(lambda a, b: a >> b)
REGISTRY["<<"] = _bitop(lambda a, b: a << b)
REGISTRY[">>>"] = _bitop(lambda a, b: (a & 0xFFFFFFFFFFFFFFFF) >> b)
REGISTRY["&"] = _bitop(lambda a, b: a & b)
REGISTRY["|"] = _bitop(lambda a, b: a | b)
REGISTRY["^"] = _bitop(lambda a, b: a ^ b)
REGISTRY["~"] = lambda st: st.push(~int(st.pop()))
REGISTRY["BITGET"] = _bitop(lambda a, b: (a >> b) & 1)
REGISTRY["BITCOUNT"] = lambda st: st.push(bin(int(st.pop()) & 0xFFFFFFFFFFFFFFFF).count("1"))

# Java long bounds (exact math and the codecs' unsigned → signed folds).
_I64_MIN, _I64_MAX = -(2**63), 2**63 - 1


# ---------- string encodings / URL / UUID ----------

def _to_bytes(v) -> bytes:
    return v if isinstance(v, (bytes, bytearray)) else str(v).encode("utf-8")

REGISTRY["URLENCODE"] = lambda st: st.push(_url.quote(str(st.pop()), safe=""))
REGISTRY["URLDECODE"] = lambda st: st.push(_url.unquote(str(st.pop())))
REGISTRY["->HEX"] = lambda st: st.push(_to_bytes(st.pop()).hex())
REGISTRY["HEX->"] = lambda st: st.push(bytes.fromhex(str(st.pop())).decode("utf-8", "replace"))
REGISTRY["->B64"] = lambda st: st.push(_b64.b64encode(_to_bytes(st.pop())).decode("ascii"))
REGISTRY["B64->"] = lambda st: st.push(_b64.b64decode(str(st.pop())).decode("utf-8", "replace"))
REGISTRY["->B64URL"] = lambda st: st.push(_b64.urlsafe_b64encode(_to_bytes(st.pop())).decode("ascii").rstrip("="))
def _b64url_decode(st):
    s = str(st.pop())
    st.push(_b64.urlsafe_b64decode(s + "=" * (-len(s) % 4)).decode("utf-8", "replace"))

REGISTRY["B64URL->"] = _b64url_decode
REGISTRY["->BIN"] = lambda st: st.push("".join(f"{b:08b}" for b in _to_bytes(st.pop())))
REGISTRY["BIN->"] = lambda st: st.push(
    bytes(int(s, 2) for s in map("".join, zip(*[iter(str(st.pop()))] * 8))).decode("utf-8", "replace")
)
REGISTRY["->BYTES"] = lambda st: st.push(str(st.pop()).encode("utf-8"))
REGISTRY["BYTES->"] = lambda st: st.push(bytes(st.pop()).decode("utf-8"))
REGISTRY["UUID"] = lambda st: st.push(str(_uuid.uuid4()))


# ---------- JSON ----------

REGISTRY["->JSON"] = lambda st: st.push(_json.dumps(st.pop(), sort_keys=True, separators=(",", ":")))
REGISTRY["JSON->"] = lambda st: st.push(_json.loads(str(st.pop())))


# ---------- digests (DIGEST registrations; byte[] result like the ref) ----------

REGISTRY["MD5"] = lambda st: st.push(_hashlib.md5(_to_bytes(st.pop())).digest())
REGISTRY["SHA1"] = lambda st: st.push(_hashlib.sha1(_to_bytes(st.pop())).digest())
REGISTRY["SHA256"] = lambda st: st.push(_hashlib.sha256(_to_bytes(st.pop())).digest())

# Remaining DIGEST registrations (WarpScriptLib.java:2283-2305): pure-Python
# cores in functions/digests.py, vector/cross-validated in tests.
from ..functions import digests as _digests

REGISTRY["MD2"] = lambda st: st.push(_digests.md2(_to_bytes(st.pop())))
REGISTRY["MD4"] = lambda st: st.push(_digests.md4(_to_bytes(st.pop())))
REGISTRY["RIPEMD128"] = lambda st: st.push(_digests.ripemd128(_to_bytes(st.pop())))
REGISTRY["RIPEMD160"] = lambda st: st.push(_digests.ripemd160(_to_bytes(st.pop())))
REGISTRY["RIPEMD256"] = lambda st: st.push(_digests.ripemd256(_to_bytes(st.pop())))
REGISTRY["RIPEMD320"] = lambda st: st.push(_digests.ripemd320(_to_bytes(st.pop())))
REGISTRY["WHIRLPOOL"] = lambda st: st.push(_digests.whirlpool(_to_bytes(st.pop())))
for _bits in (128, 224, 256, 288, 384, 512):
    REGISTRY["KECCAK.%d" % _bits] = (
        lambda st, _b=_bits: st.push(_digests.keccak(_to_bytes(st.pop()), _b))
    )


# ---------- column bindings (vectorized scalar surface) ----------
# For scalar WS names whose semantics map 1:1 onto a pyspark.sql.functions
# Column transform, this table is the distributed fast path: queries compose
# the same token chain columnar-side (JVM codegen) instead of collecting
# rows through the per-row evaluator. Each binding matches the REGISTRY
# scalar semantics exactly (unit-tested side by side).

COLUMN_BINDINGS = {
    "MD5": lambda c: F.unhex(F.md5(c)),            # byte[] digest like the ref
    "SHA1": lambda c: F.unhex(F.sha1(c)),
    "SHA256": lambda c: F.unhex(F.sha2(c, 256)),
    "->HEX": lambda c: F.lower(F.hex(c)),
    # string→binary cast is UTF-8, mirroring _to_bytes; Spark's base64
    # MIME-wraps at 76 chars — strip the line breaks for RFC 4648 parity
    "->B64": lambda c: F.regexp_replace(F.base64(c.cast("binary")), "[\\r\\n]", ""),
    "SIZE": lambda c: F.length(c).cast("long"),
    "TOUPPER": F.upper,
    "TOLOWER": F.lower,
    "TRIM": F.trim,
    "REVERSE": F.reverse,
    "ABS": F.abs,
    "SQRT": F.sqrt,
    "EXP": F.exp,
    "LN": F.log,
}


# ---------- sets / maps ----------

def _setop(f):
    def inner(st):
        b = st.pop()
        a = st.pop()
        sa = a if isinstance(a, set) else set(a)
        sb = b if isinstance(b, set) else set(b)
        st.push(f(sa, sb))
    return inner

REGISTRY["UNION"] = _setop(lambda a, b: a | b)
REGISTRY["INTERSECTION"] = _setop(lambda a, b: a & b)
REGISTRY["DIFFERENCE"] = _setop(lambda a, b: a - b)


@register("SUBMAP")
def _submap(st):
    keys = st.pop()
    m = st.pop()
    st.push({k: m[k] for k in keys if k in m})


@register("CLONEREVERSE")
def _clonereverse(st):
    v = st.pop()
    if isinstance(v, str):
        st.push(v[::-1])
    else:
        st.push(list(reversed(v)))


# ---------- calendar arithmetic (UTC, platform µs) ----------

REGISTRY["MSTU"] = lambda st: st.push(_tuc.UNITS_PER_MS)  # ticks per ms (Constants.java:51)
REGISTRY["STU"] = lambda st: st.push(_tuc.UNITS_PER_S)     # ticks per s (Constants.java:56)


@register("ADDDURATION")
def _addduration(st):
    """ts iso8601 ADDDURATION (ADDDURATION.java:35)."""
    from warp10_platform_spark.functions.timeutil import parse_duration

    iso = st.pop()
    st.push(st.pop() + parse_duration(iso))


def _calendar_add(field: str):
    import datetime as _dt

    def inner(st):
        n = st.pop()
        ts = st.pop()
        subsec = ts % _tuc.UNITS_PER_S
        d = _dt.datetime.fromtimestamp(ts // _tuc.UNITS_PER_S, _dt.timezone.utc)
        if field == "days":
            d = d + _dt.timedelta(days=n)
        elif field == "months":
            mo = d.month - 1 + n
            year, mo = d.year + mo // 12, mo % 12 + 1
            import calendar as _cal

            day = min(d.day, _cal.monthrange(year, mo)[1])
            d = d.replace(year=year, month=mo, day=day)
        else:
            d = d.replace(year=d.year + n)
        st.push(int(d.timestamp()) * _tuc.UNITS_PER_S + subsec)

    return inner

REGISTRY["ADDDAYS"] = _calendar_add("days")
REGISTRY["ADDMONTHS"] = _calendar_add("months")
REGISTRY["ADDYEARS"] = _calendar_add("years")


@register("TSELEMENTS->")
def _tselements_build(st):
    """[ Y M D h m s us ] TSELEMENTS-> → µs timestamp (UTC)."""
    import datetime as _dt

    el = st.pop()
    y, mo, d = el[0], el[1] if len(el) > 1 else 1, el[2] if len(el) > 2 else 1
    h = el[3] if len(el) > 3 else 0
    mi = el[4] if len(el) > 4 else 0
    s = el[5] if len(el) > 5 else 0
    sub = el[6] if len(el) > 6 else 0
    dt = _dt.datetime(y, mo, d, h, mi, s, tzinfo=_dt.timezone.utc)
    st.push(int(dt.timestamp()) * _tuc.UNITS_PER_S + sub)


# ---------- symbols / SNAPSHOT ----------

REGISTRY["CLEARSYMBOLS"] = lambda st: st.symbols.clear()


@register("FORGET")
def _forget(st):
    st.symbols.pop(st.pop(), None)


def _snap_value(v) -> str:
    """WarpScript literal that rebuilds `v` (SNAPSHOT.java value cases)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float)):
        return repr(v)
    if isinstance(v, str):
        return "'" + v.replace("%", "%25").replace("'", "%27") + "'"
    if isinstance(v, bytes):
        return "'" + _b64.b64encode(v).decode("ascii") + "' B64->"
    if isinstance(v, list):
        return "[ " + " ".join(_snap_value(x) for x in v) + " ]"
    if isinstance(v, set):
        return "[ " + " ".join(_snap_value(x) for x in sorted(v, key=repr)) + " ] ->SET"
    if isinstance(v, dict):
        return "{ " + " ".join(f"{_snap_value(k)} {_snap_value(x)}" for k, x in v.items()) + " }"
    from warp10_platform_spark.core.encoders import Encoder as _Encoder

    if isinstance(v, _Encoder):
        # SNAPSHOT.java:290-308: encoders snapshot as their wrapped blob
        # followed by UNWRAPENCODER (GTS would use UNWRAP; a distributed
        # GTSFrame still refuses — collecting a frame to the driver for a
        # snapshot is the anti-pattern, WRAP it explicitly instead)
        return "'" + v.wrap() + "' UNWRAPENCODER"
    raise TypeError(f"SNAPSHOT of {type(v).__name__} not supported (GTS frames need WRAP)")


@register("SNAPSHOT")
def _snapshot(st):
    """SNAPSHOT (SNAPSHOT.java): replace the stack content with a script
    string that rebuilds it (deepest element first)."""
    text = " ".join(_snap_value(v) for v in st.stack)
    st.stack.clear()
    st.push(text)


# ---------- TYPEOF ----------

@register("TYPEOF")
def _typeof(st):
    v = st.pop()
    if v is None:
        t = "NULL"
    elif isinstance(v, bool):
        t = "BOOLEAN"
    elif isinstance(v, int):
        t = "LONG"
    elif isinstance(v, float):
        t = "DOUBLE"
    elif isinstance(v, str):
        t = "STRING"
    elif isinstance(v, bytes):
        t = "BYTES"
    elif isinstance(v, list):
        t = "LIST"
    elif isinstance(v, dict):
        t = "MAP"
    elif isinstance(v, set):
        t = "SET"
    elif isinstance(v, GTSFrame):
        t = "GTS"
    else:
        t = type(v).__name__.upper()
    st.push(t)


# ---------- scalar-mapper tokens (operators/mapper._UNARY/_BINARY) ----------

from warp10_platform_spark.operators.mapper import _BINARY as _SC_BINARY
from warp10_platform_spark.operators.mapper import _UNARY as _SC_UNARY

for _mn in _SC_UNARY:
    if _mn not in REGISTRY:
        REGISTRY[_mn] = (lambda name: lambda st: st.push(name))(_mn)
for _mn in _SC_BINARY:
    if _mn not in REGISTRY:
        # parameterized: pop the scalar NOW (factory style, like filter.*)
        REGISTRY[_mn] = (lambda name: lambda st: st.push((name, st.pop())))(_mn)


# ---------- extra filters ----------

REGISTRY["filter.last.eq"] = _param_filter("filter.last.eq")
REGISTRY["filter.last.ge"] = _param_filter("filter.last.ge")
REGISTRY["filter.last.le"] = _param_filter("filter.last.le")
REGISTRY["filter.last.ne"] = _param_filter("filter.last.ne")
def _filter_bysize_factory(st):
    """min max filter.bysize (FilterBySize.Builder pops TWO longs: max then
    min) — pushes a filter spec carrying the (min, max) pair."""
    mx = st.pop()
    mn = st.pop()
    st.push(("filter.bysize", (int(mn), int(mx))))


REGISTRY["filter.bysize"] = _filter_bysize_factory


# ---------- GTS metadata ----------

@register("SETATTRIBUTES")
def _setattributes(st):
    """gts { attrs } SETATTRIBUTES (SETATTRIBUTES.java) — attributes are
    mutable metadata outside series identity (sources/write.meta)."""
    from warp10_platform_spark.sources.write import meta as _meta

    attrs = st.pop()
    gf = _as_frame(st.pop())
    st.push(GTSFrame(_meta(gf.df, "~.*{}", attrs), gf.bucketspec, gf.value_col))


@register("PARSESELECTOR")
def _parseselector(st):
    from warp10_platform_spark.core.selector import parse_selector

    sel = parse_selector(st.pop())
    labels = {k: (("~" + v) if op == "~" else v) for k, op, v in sel.labels}
    cls = sel.class_exact if sel.class_exact is not None else "~" + (sel.class_regex or ".*")
    st.push(cls)
    st.push(labels)


@register("TOSELECTOR")
def _toselector(st):
    from warp10_platform_spark.core.selector import to_selector

    labels = st.pop()
    cls = st.pop()
    st.push(to_selector(cls, labels))


@register("CLONE")
def _clone(st):
    """CLONE: frames are immutable lazy plans — identity is faithful."""
    v = st.peek()
    if isinstance(v, (list, dict, set)):
        import copy as _copy

        st.push(_copy.deepcopy(v))
    else:
        st.push(v)


# ---------- analytics / TS-ML GTS functions (§2.10 surface in-script) ----------
# Each binds the reference script name to the engine operator; results are
# GTSFrames (lazy plans) or plain DataFrames for terminal shapes, exactly
# like the rest of the GTS surface.

@register("LTTB")
def _lttb(st):
    """gts threshold LTTB (LTTB.java): largest-triangle-three-buckets."""
    from warp10_platform_spark.operators.sort import lttb as _lttb_op

    threshold = st.pop()
    gf = _as_frame(st.pop())
    st.push(GTSFrame(_lttb_op(gf.df, threshold, gf.value_col), gf.bucketspec, gf.value_col))


@register("LOWESS")
def _lowess(st):
    """gts bandwidth LOWESS (LOWESS.java:36): tricube local regression
    (bandwidth = the smoothing fraction)."""
    from warp10_platform_spark.analytics.fit import lowess_smooth

    frac = st.pop()
    gf = _as_frame(st.pop())
    st.push(GTSFrame(lowess_smooth(gf.df, frac=frac, value_col=gf.value_col), gf.bucketspec, "v_smooth"))


@register("STL")
def _stl(st):
    """gts period STL (STL.java:36): seasonal-trend decomposition; the
    result frame carries trend/seasonal/resid columns."""
    from warp10_platform_spark.analytics.fit import stl_decompose

    period = st.pop()
    gf = _as_frame(st.pop())
    st.push(stl_decompose(gf.df, period=period, value_col=gf.value_col))


@register("GRUBBSTEST")
def _grubbstest(st):
    """gts GRUBBSTEST (GTSOutliersHelper.grubbsTest:260)."""
    from warp10_platform_spark.analytics.stats import grubbs_test

    gf = _as_frame(st.pop())
    st.push(grubbs_test(gf.df, value_col=gf.value_col))


@register("ESDTEST")
def _esdtest(st):
    """gts k ESDTEST (GTSOutliersHelper.ESDTest:329)."""
    from warp10_platform_spark.analytics.stats import esd_test

    k = st.pop()
    gf = _as_frame(st.pop())
    st.push(esd_test(gf.df, k=k, value_col=gf.value_col))


@register("ZSCORETEST")
def _zscoretest(st):
    """gts useMad threshold ZSCORETEST (GTSOutliersHelper.zScoreTest:228)."""
    from warp10_platform_spark.operators.outliers import zscoretest

    threshold = st.pop()
    use_mad = st.pop()
    gf = _as_frame(st.pop())
    st.push(GTSFrame(zscoretest(gf.df, threshold, value_col=gf.value_col, use_mad=bool(use_mad)), gf.bucketspec, gf.value_col))


@register("ZSCORE")
def _zscore(st):
    """gts useMad ZSCORE: per-series studentized values."""
    from warp10_platform_spark.operators.outliers import zscore

    use_mad = st.pop()
    gf = _as_frame(st.pop())
    st.push(GTSFrame(zscore(gf.df, value_col=gf.value_col, use_mad=bool(use_mad)), gf.bucketspec, "zscore"))


@register("SINGLEEXPONENTIALSMOOTHING")
def _ses(st):
    """gts alpha SINGLEEXPONENTIALSMOOTHING: final smoothed state per
    series (SingleExponentialSmoothing.java)."""
    from warp10_platform_spark.analytics.fit import exp_smooth_last

    alpha = st.pop()
    gf = _as_frame(st.pop())
    st.push(exp_smooth_last(gf.df, alpha=alpha, value_col=gf.value_col))


@register("FDWT")
def _fdwt(st):
    """gts levels FDWT (FDWT.java): multi-level Haar forward transform."""
    from warp10_platform_spark.analytics.fit import haar_dwt

    levels = st.pop()
    gf = _as_frame(st.pop())
    st.push(haar_dwt(gf.df, levels=levels, value_col=gf.value_col))


@register("PATTERNS")
def _patterns(st):
    """gts wordlen alphabet PATTERNS (PATTERNS.java:32): SAX words."""
    from warp10_platform_spark.analytics.sax import sax_words

    alphabet = st.pop()
    wordlen = st.pop()
    gf = _as_frame(st.pop())
    st.push(sax_words(gf.df, w=wordlen, alphabet=alphabet, value_col=gf.value_col))


@register("BUCKETIZE.CALENDAR", "BUCKETIZECALENDAR")
def _bucketize_calendar(st):
    """[ gts… bucketizer unit tz ] BUCKETIZE.CALENDAR
    (BUCKETIZECALENDAR.java): DST-aware calendar buckets."""
    args = st.pop()
    gts, bucketizer, unit, tz = args[:-3], args[-3], args[-2], args[-1]
    gf = _as_frame(gts if len(gts) != 1 else gts[0])
    if isinstance(bucketizer, tuple) and bucketizer[0] == "param_agg":
        st.push(gf.bucketize_calendar(bucketizer[1], unit, tz, p=bucketizer[2]))
        return
    st.push(gf.bucketize_calendar(bucketizer, unit, tz))


# ---------- remaining WarpScriptLib direct registrations ----------

REGISTRY["&&"] = REGISTRY["AND"]
REGISTRY["||"] = REGISTRY["OR"]


@register("~=")
def _regexmatch(st):
    """a pattern ~= : regex full-match (the reference's ~= operator)."""
    import re as _re

    pattern = st.pop()
    v = st.pop()
    st.push(bool(_re.fullmatch(pattern, str(v))))


@register("SNAPSHOTREADABLE")
def _snapshotreadable(st):
    """SNAPSHOT without %-escaping (human-readable form)."""
    def readable(v):
        if isinstance(v, str):
            return "'" + v + "'"
        return _snap_value(v)

    text = " ".join(readable(v) for v in st.stack)
    st.stack.clear()
    st.push(text)


# geo / location scalar mappers → MAP dispatch (operators/geo.py)
for _geo_name in ("mapper.lat", "mapper.lon", "mapper.elev",
                  "mapper.hspeed", "mapper.hdist", "mapper.truecourse",
                  "mapper.vspeed", "mapper.vdist"):
    REGISTRY[_geo_name] = (lambda name: lambda st: st.push(name))(_geo_name)

# kernel smoothers: factory pops the bandwidth (µs) now
for _kn in ("cosine", "epanechnikov", "gaussian", "logistic", "quartic",
            "silverman", "triangular", "tricube", "triweight", "uniform"):
    _full = f"mapper.kernel.{_kn}"
    REGISTRY[_full] = (lambda name: lambda st: st.push((name, st.pop())))(_full)

# product aggregators (bucketizer.product exists engine-side)
for _fam in ("bucketizer", "mapper", "reducer"):
    _pn = f"{_fam}.product"
    REGISTRY[_pn] = (lambda name: lambda st: st.push(name))(_pn)

REGISTRY["reducer.shannonentropy.1"] = lambda st: st.push("reducer.shannonentropy.1")

# Null-policy reducer/op variants: the points model drops null VALUES at
# ingest (typed value columns, one non-null per point), so the
# exclude-nulls / nonnull / forbid-nulls variants reduce to their base
# aggregator here; registered so reference scripts run unchanged.
for _var in ("and.exclude-nulls", "min.forbid-nulls", "min.nonnull",
             "max.forbid-nulls", "max.nonnull", "mean.exclude-nulls",
             "median.forbid-nulls", "or.exclude-nulls", "sum.forbid-nulls",
             "sum.nonnull", "count.include-nulls", "count.exclude-nulls",
             "count.nonnull", "rms.exclude-nulls"):
    _base = "reducer." + _var.split(".")[0]
    REGISTRY[f"reducer.{_var}"] = (lambda name: lambda st: st.push(name))(_base)
for _var in ("add.ignore-nulls", "mul.ignore-nulls", "and.ignore-nulls", "or.ignore-nulls"):
    _base = "op." + _var.split(".")[0]
    REGISTRY[f"op.{_var}"] = (lambda name: lambda st: st.push(name))(_base)

# Welford / null-policy aggregator aliases. Welford's streaming update
# yields the identical sample variance/sd as the two-pass formula, so the
# alias shares the batch Catalyst expression (Welford matters for the
# reference's single-pass engine, not for Spark's agg).
for _alias, _base in (
    ("bucketizer.sd.welford", "bucketizer.sd"),
    ("bucketizer.var.welford", "bucketizer.var"),
    ("reducer.sd.welford", "reducer.sd"),
    ("reducer.var.welford", "reducer.var"),
    ("reducer.sd.welford.forbid-nulls", "reducer.sd"),
    ("reducer.var.welford.forbid-nulls", "reducer.var"),
    ("reducer.sd.forbid-nulls", "reducer.sd"),
    ("reducer.var.forbid-nulls", "reducer.var"),
    ("reducer.percentile.forbid-nulls", "reducer.percentile"),
    ("reducer.mean.circular.exclude-nulls", "reducer.mean.circular"),
    ("reducer.join.forbid-nulls", "reducer.join"),
    ("reducer.join.nonnull", "reducer.join"),
):
    REGISTRY[_alias] = (lambda b: lambda st: st.push(b))(_base)

# reducer.join.urlencoded URL-encodes each value before joining
# (Join.java with urlencode=true) — own expression in bucketize.py.
REGISTRY["reducer.join.urlencoded"] = lambda st: st.push("reducer.join.urlencoded")

# filler tokens + the generic FILL dispatcher
for _fn in ("next", "previous", "trend", "interpolate", "linear", "akima",
            "spline", "newton", "lowess", "rlowess"):
    _full = f"filler.{_fn}"
    REGISTRY[_full] = (lambda name: lambda st: st.push(name))(_full)
# filler.value: FILLVALUE's FILL-framework form (FillerValue builder)
REGISTRY["filler.value"] = lambda st: st.push(("filler.value", st.pop()))


@register("FILL")
def _fill(st):
    """[ gts filler ] FILL (FILL.java:34): fill missing buckets with the
    given filler model."""
    args = st.pop()
    gf = _as_frame(args[0] if isinstance(args, list) else args)
    filler = args[-1] if isinstance(args, list) else st.pop()
    if isinstance(filler, tuple) and filler[0] == "filler.value":
        st.push(gf.fillvalue(filler[1]))
        return
    name = filler.replace("filler.", "")
    if name == "previous":
        st.push(gf.fillprevious())
    elif name == "next":
        st.push(gf.fillnext())
    elif name in ("interpolate", "linear"):
        st.push(gf.filllinear())
    else:
        from warp10_platform_spark.operators import fill as _fill_mod

        fn = getattr(_fill_mod, f"fill_{name}")
        st.push(GTSFrame(fn(gf._scaffolded(), value_col=gf.value_col), gf.bucketspec, gf.value_col))


@register("WRAP")
def _wrap(st):
    """gts|encoder WRAP (WRAP.java): reference wire-format wrapped
    strings — one row per series for frames, one string for a
    driver-side encoder (core/gtscodec.py)."""
    from warp10_platform_spark.core.encoders import Encoder, EncoderFrame
    from warp10_platform_spark.core.wrap import wrap_thrift

    v = st.pop()
    if isinstance(v, Encoder):
        st.push(v.wrap())
        return
    if isinstance(v, EncoderFrame):
        st.push(v.df)
        return
    gf = _as_frame(v)
    st.push(wrap_thrift(gf.df, value_col=gf.value_col))


@register("UNWRAP")
def _unwrap(st):
    """wrapped UNWRAP (UNWRAP.java): accepts a wrapped string, a list of
    them, or the DataFrame WRAP produced; pushes the points frame."""
    from pyspark.sql import DataFrame as _DF

    from warp10_platform_spark.core.schema import with_gts_id
    from warp10_platform_spark.core.wrap import unwrap_thrift

    v = st.pop()
    if isinstance(v, _DF):
        st.push(GTSFrame(with_gts_id_from_unwrap(unwrap_thrift(v)), None, "v_double"))
        return
    texts = v if isinstance(v, list) else [v]
    from warp10_platform_spark.core.gtscodec import unwrap_series

    rows = []
    for t in texts:
        u = unwrap_series(t)
        for ts, val, _e in u["points"]:
            rows.append((u["name"], u["labels"], int(ts), float(val)))
    df = st.spark.createDataFrame(rows, "class string, labels map<string,string>, ts long, v_double double")
    st.push(GTSFrame(with_gts_id(df.selectExpr(
        "class", "labels", "cast(map() as map<string,string>) AS attributes", "ts",
        "cast(null as double) AS lat", "cast(null as double) AS lon", "cast(null as long) AS elev",
        "cast(null as long) AS v_long", "v_double", "cast(null as boolean) AS v_bool",
        "cast(null as string) AS v_string",
    )), None, "v_double"))


def with_gts_id_from_unwrap(df):
    """unwrap_thrift output (class, labels_key, ts, v_double) → canonical
    points columns with identity recomputed."""
    return df.selectExpr(
        "class", "labels_key", "xxhash64(class, labels_key) AS gts_id", "ts", "v_double"
    )


# ---------- the other name families ----------
# Each module binds its names into REGISTRY when imported; they import
# REGISTRY, register and the helpers above, so they load after them.
from warp10_platform_spark.warpscript import (  # noqa: E402,F401
    functions_canvas,
    functions_codecs,
    functions_concurrent,
    functions_geo,
    functions_http,
    functions_math,
    functions_pgp,
    functions_secure,
    functions_sensision,
    functions_series,
    functions_stack,
)
