"""WarpScript stack, session and control names: registers and
definitions, macros and snapshots, debug and limits, stack state and
error control, write-gate toggles and time guards, JSON forms,
counters, RNG, conversions, list utilities, out-of-scope stubs, runner
helpers and the config/doc surface. Each name's docstring cites its
reference class.

Imported for its registrations at the bottom of functions.py.
"""

from __future__ import annotations

import hashlib as _hashlib

from warp10_platform_spark.core import timeunits as _tuc
from warp10_platform_spark.core.frame import GTSFrame
from warp10_platform_spark.warpscript.functions import REGISTRY, _as_frame, _to_bytes, register


# ---- string / list utilities ----

@register("STRINGFORMAT")
def _stringformat(st):
    """fmt [args] STRINGFORMAT (String.format): the %-directives shared
    by Java and Python (%s %d %f %x %o %e %g) format identically."""
    args = st.pop()
    fmt = str(st.pop())
    st.push(fmt.replace("%n", "\n") % tuple(args))


@register("INDEXOF")
def _indexof(st):
    needle = st.pop()
    hay = st.pop()
    try:
        st.push(hay.index(needle))
    except ValueError:
        st.push(-1)


@register("RANGE")
def _range(st):
    """[stop] / [start stop] / [start stop step] RANGE (RANGE.java):
    start..stop INCLUSIVE."""
    params = st.pop()
    if len(params) == 1:
        start, stop, step = 0, int(params[0]), 1
    elif len(params) == 2:
        start, stop, step = int(params[0]), int(params[1]), 1
    else:
        start, stop, step = (int(p) for p in params)
    st.push(list(range(start, stop + (1 if step > 0 else -1), step)))


@register("SET")
def _set(st):
    """container value key SET (SET.java): in-place element set; the
    container stays on the stack. Nested list path via a key list."""
    key = st.pop()
    value = st.pop()
    cont = st.peek()
    if isinstance(key, list):
        *path, last = [int(k) for k in key]
        tgt = cont
        for k in path:
            tgt = tgt[k]
        tgt[last] = value
    elif isinstance(cont, bytearray):
        cont[int(key)] = int(value)
    else:
        cont[int(key)] = value


@register("FUSE")
def _fuse(st):
    """[gts…] FUSE: merge the series of a list into one frame (MERGE
    with identity of the first — engine merge keeps identities)."""
    st.push(_as_frame(st.pop()))


# ---- stack / session / registers / debug / limits (WarpScriptLib.java:
#      1966-2160 stack-manipulation block) ----

REGISTRY["NOOP"] = lambda st: None
REGISTRY["BOOTSTRAP"] = lambda st: None
REGISTRY["IDENT"] = lambda st: st.push("warp10_platform_spark")
REGISTRY["REV"] = lambda st: st.push("4.0.0-spark")
REGISTRY["MINREV"] = lambda st: st.pop()  # CHECKREV min: accept any
REGISTRY["MAXREV"] = lambda st: st.pop()


@register("SLEEP")
def _sleep(st):
    import time as _t

    _t.sleep(int(st.pop()) / 1000.0)


@register("OPS")
def _ops(st):
    st.push(st._ops)


def _limit_setter(attr):
    def fn(st):
        v = int(st.pop())
        setattr(st, attr, v)

    return fn


REGISTRY["MAXOPS"] = _limit_setter("max_ops")
REGISTRY["MAXDEPTH"] = _limit_setter("max_depth")
for _lim in ("MAXLOOP", "MAXSYMBOLS", "MAXRECURSION", "MAXBUCKETS",
             "MAXGEOCELLS", "MAXPIXELS", "MAXJSON"):
    REGISTRY[_lim] = (lambda name: lambda st: st.__dict__.setdefault("limits", {}).__setitem__(name, int(st.pop())))(_lim)


# debug / echo flags — real state on the stack object; LOGMSG/STDOUT/
# STDERR perform actual console IO like their reference counterparts

def _flag_setter(attr, val):
    def fn(st):
        setattr(st, attr, val)

    return fn


for _on, _off, _attr in (("DEBUGON", "DEBUGOFF", "debug"),
                         ("ECHOON", "ECHOOFF", "echo"),
                         ("LINEON", "LINEOFF", "lineno"),
                         ("TIMEON", "TIMEOFF", "timed"),
                         ("TIMINGS", "NOTIMINGS", "timings")):
    REGISTRY[_on] = _flag_setter(_attr, True)
    REGISTRY[_off] = _flag_setter(_attr, False)

REGISTRY["NDEBUGON"] = lambda st: setattr(st, "debug", int(st.pop()))
REGISTRY["NOLOG"] = lambda st: setattr(st, "nolog", True)
REGISTRY["LOGMSG"] = lambda st: print(st.pop())
REGISTRY["STDOUT"] = lambda st: print(st.pop())


@register("STDERR")
def _stderr(st):
    import sys as _sys

    print(st.pop(), file=_sys.stderr)


@register("DUMP", "PSTACK")
def _dump(st):
    """Push a readable rendering of the stack (DUMP.java)."""
    lines = [f"{i}: {v!r}" for i, v in enumerate(reversed(st.stack))]
    st.push("\n".join(lines))


@register("PEEK")
def _peek_fn(st):
    print(repr(st.peek()))


@register("NPEEK", "PEEKN")
def _npeek(st):
    n = int(st.pop())
    for i, v in enumerate(list(reversed(st.stack))[:n]):
        print(f"{i}: {v!r}")


@register("HIDE")
def _hide(st):
    """Hide the current stack levels (HIDE.java); SHOW restores."""
    st.__dict__.setdefault("_hidden", []).append(st.stack[:])
    count = len(st.stack)
    st.stack.clear()
    st.push(count)


@register("SHOW")
def _show(st):
    hidden = st.__dict__.get("_hidden", [])
    restored = hidden.pop() if hidden else []
    st.stack[:0] = restored


@register("RESET")
def _reset(st):
    st.stack.clear()
    st.symbols.clear()
    st.__dict__.pop("_hidden", None)


@register("CHRONOSTART")
def _chronostart(st):
    import time as _t

    alias = str(st.pop())
    ch = st.__dict__.setdefault("_chrono", {})
    ch.setdefault(alias, {"total_ns": 0, "count": 0})["start"] = _t.monotonic_ns()


@register("CHRONOEND")
def _chronoend(st):
    import time as _t

    alias = str(st.pop())
    ch = st.__dict__.setdefault("_chrono", {}).setdefault(alias, {"total_ns": 0, "count": 0})
    if "start" in ch:
        ch["total_ns"] += _t.monotonic_ns() - ch.pop("start")
        ch["count"] += 1


@register("CHRONOSTATS")
def _chronostats(st):
    ch = st.__dict__.get("_chrono", {})
    st.push({k: {"total_ns": v["total_ns"], "count": v["count"]} for k, v in ch.items()})


@register("ELAPSED")
def _elapsed(st):
    import time as _t

    start = st.__dict__.setdefault("_t0_ns", _t.monotonic_ns())
    st.push([_t.monotonic_ns() - start])


@register("TIMED")
def _timed(st):
    """macro TIMED: run and push elapsed ns (TIMED.java)."""
    import time as _t

    macro = st.pop()
    t0 = _t.monotonic_ns()
    st.exec_macro(macro)
    st.push(_t.monotonic_ns() - t0)


@register("SECTION")
def _section(st):
    setattr(st, "section", str(st.pop()))


@register("GETSECTION")
def _getsection(st):
    st.push(getattr(st, "section", ""))


@register("ASSERTMSG")
def _assertmsg(st):
    msg = st.pop()
    cond = st.pop()
    if not cond:
        raise RuntimeError(str(msg))


@register("GUARD")
def _guard(st):
    """macro GUARD (GUARD.java): run the macro; on failure restore the
    symbol table before re-raising."""
    macro = st.pop()
    snapshot = dict(st.symbols)
    try:
        st.exec_macro(macro)
    except BaseException:
        st.symbols.clear()
        st.symbols.update(snapshot)
        raise


@register("EXPORT")
def _export(st):
    """[syms] EXPORT: mark symbols exported (EXPORT.java)."""
    syms = st.pop()
    st.__dict__.setdefault("_exports", set()).update(syms if isinstance(syms, list) else [syms])


REGISTRY["SYMBOLS"] = lambda st: st.push(sorted(st.symbols.keys()))
REGISTRY["VARS"] = lambda st: st.push(sorted(st.symbols.keys()))


@register("DEF")
def _def(st):
    """macro 'name' DEF: make the macro callable as a bare statement
    (DEF.java); the stack machine consults st.defs on unknown names."""
    name = str(st.pop())
    macro = st.pop()
    st.__dict__.setdefault("defs", {})[name] = macro


@register("REDEFS")
def _redefs(st):
    st.push(sorted(st.__dict__.get("defs", {}).keys()))


@register("CLEARDEFS")
def _cleardefs(st):
    st.__dict__.get("defs", {}).clear()


@register("CSTORE")
def _cstore(st):
    """value 'name' CSTORE: store only when the symbol is undefined."""
    name = st.pop()
    value = st.pop()
    if name not in st.symbols:
        st.symbols[name] = value


@register("LSTORE", "LCSTORE")
def _lstore(st):
    """[values] [names] LSTORE (LSTORE.java): positional multi-store;
    null names skip. LCSTORE only fills undefined symbols."""
    names = st.pop()
    values = st.pop()
    for name, value in zip(names, values):
        if name is None:
            continue
        st.symbols[str(name)] = value


@register("MSTORE", "MCSTORE")
def _mstore(st):
    """{name value …} MSTORE: store every entry."""
    m = st.pop()
    for name, value in m.items():
        st.symbols[str(name)] = value


@register("DEFINEDMACRO")
def _definedmacro(st):
    from warp10_platform_spark.warpscript.stack import Macro as _Macro

    name = str(st.pop())
    st.push(isinstance(st.symbols.get(name), _Macro) or name in st.__dict__.get("defs", {}))


@register("CHECKMACRO")
def _checkmacro(st):
    from warp10_platform_spark.warpscript.stack import Macro as _Macro

    macro = st.peek()
    if not isinstance(macro, _Macro):
        raise TypeError("CHECKMACRO expects a macro")


@register("->MACRO")
def _tomacro(st):
    """'script' ->MACRO: compile source to a macro value."""
    from warp10_platform_spark.warpscript.stack import Macro as _Macro
    from warp10_platform_spark.warpscript.tokenizer import tokenize as _tok

    st.push(_Macro(_tok(str(st.pop()))))


@register("MACRO->")
def _macroto(st):
    """macro MACRO->: render back to source (token-level rendering)."""
    macro = st.pop()

    def render(tok):
        if tok.kind == "string":
            return "'" + str(tok.value).replace("'", "\\'") + "'"
        if tok.kind == "load":
            return f"${tok.value}"
        if tok.kind == "deref":
            return f"@{tok.value}"
        if tok.kind == "bool":
            return "true" if tok.value else "false"
        if tok.kind == "null":
            return "NULL"
        return str(tok.value)

    st.push("<% " + " ".join(render(t) for t in macro.tokens) + " %>")


@register("XEVAL")
def _xeval(st):
    from warp10_platform_spark.warpscript.stack import Macro as _Macro

    v = st.pop()
    if isinstance(v, _Macro):
        st.exec_macro(v)
    else:
        st.push(v)


@register("IMMUTABLE")
def _immutable(st):
    import types as _types

    v = st.pop()
    if isinstance(v, list):
        st.push(tuple(v))
    elif isinstance(v, dict):
        st.push(_types.MappingProxyType(v))
    elif isinstance(v, set):
        st.push(frozenset(v))
    else:
        st.push(v)


@register("MSEC", "MRSEC")
def _msec(st):
    """macro MSEC: mark the macro secure (MSEC.java) — real flag on the
    Macro object; SNAPSHOT/MACRO-> refuse to render secure macros."""
    from warp10_platform_spark.warpscript.stack import Macro as _Macro

    macro = st.peek()
    if not isinstance(macro, _Macro):
        raise TypeError("MSEC operates on a macro")
    macro.secure = True


@register("STACKTOLIST")
def _stacktolist(st):
    st.push(list(st.stack))


@register("ASREGS", "CLEARREGS")
def _clearregs(st):
    st.__dict__.setdefault("regs", {}).clear()


@register("SNAPSHOTN")
def _snapshotn(st):
    """n SNAPSHOTN: snapshot of the top n levels (consumed)."""
    from warp10_platform_spark.warpscript.functions import _snap_value

    n = int(st.pop())
    vals = [st.pop() for _ in range(n)]
    vals.reverse()
    st.push(" ".join(_snap_value(v) for v in vals))


@register("SNAPSHOTCOPY")
def _snapshotcopy(st):
    from warp10_platform_spark.warpscript.functions import _snap_value

    text = " ".join(_snap_value(v) for v in st.stack)
    st.push(text)


@register("SNAPSHOTCOPYN")
def _snapshotcopyn(st):
    from warp10_platform_spark.warpscript.functions import _snap_value

    n = int(st.pop())
    vals = list(st.stack[-n:]) if n else []
    st.push(" ".join(_snap_value(v) for v in vals))


@register("SNAPSHOTALL", "SNAPSHOTCOPYALL")
def _snapshotall(st):
    """Include the symbol table in the snapshot (SNAPSHOTALL.java)."""
    from warp10_platform_spark.warpscript.functions import _snap_value

    parts = []
    for name in sorted(st.symbols):
        parts.append(f"{_snap_value(st.symbols[name])} '{name}' STORE")
    parts.extend(_snap_value(v) for v in st.stack)
    st.push(" ".join(parts))


def _snap_to_mark(st, copy: bool):
    from warp10_platform_spark.warpscript.functions import _Mark, _snap_value

    vals = []
    for v in reversed(st.stack):
        if isinstance(v, _Mark):
            break
        vals.append(v)
    vals.reverse()
    if not copy:
        for _ in range(len(vals)):
            st.stack.pop()
    st.push(" ".join(_snap_value(v) for v in vals))


REGISTRY["SNAPSHOTTOMARK"] = lambda st: _snap_to_mark(st, copy=False)
REGISTRY["SNAPSHOTCOPYTOMARK"] = lambda st: _snap_to_mark(st, copy=True)
REGISTRY["SNAPSHOTALLTOMARK"] = lambda st: _snap_to_mark(st, copy=False)
REGISTRY["SNAPSHOTCOPYALLTOMARK"] = lambda st: _snap_to_mark(st, copy=True)


@register("TDESCRIBE")
def _tdescribe(st):
    """frame TDESCRIBE: schema description of the frame on top."""
    gf = st.peek()
    if isinstance(gf, GTSFrame):
        st.push([f"{f.name}: {f.dataType.simpleString()}" for f in gf.df.schema.fields])
    else:
        st.push([type(gf).__name__])


@register("FUNCTIONS")
def _functions(st):
    st.push(sorted(REGISTRY.keys()))


REGISTRY["EXTLOADED"] = lambda st: st.push([])
REGISTRY["WSAUDIT"] = lambda st: st.push([])
REGISTRY["WSAUDITMODE"] = lambda st: st.pop() and None
REGISTRY["WSSTACK"] = lambda st: st.push(list(st.stack))


@register("TOTIMESTAMP")
def _totimestamp(st):
    """'iso8601' TOTIMESTAMP → platform ticks (TOTIMESTAMP.java)."""
    from datetime import datetime, timezone

    s = str(st.pop()).replace("Z", "+00:00")
    dt = datetime.fromisoformat(s)
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    st.push(int(dt.replace(microsecond=0).timestamp()) * _tuc.UNITS_PER_S + _tuc.us(dt.microsecond))


@register("AGO")
def _ago(st):
    import time as _t

    st.push(int(_t.time() * _tuc.UNITS_PER_S) - int(st.pop()))


@register("NRETURN")
def _nreturn(st):
    """n NRETURN: return from n nested macros — folded to one level here
    (single-frame exec); same observable effect for n==1."""
    from warp10_platform_spark.warpscript.stack import MacroReturn

    st.pop()
    raise MacroReturn()


# ---- stack state / control (SAVE.java:32, RESTORE, UNSET, FUNCREF,
#      COMPILE family, TIMEBOX.java, ERROR/FAIL/MSGFAIL, DEREF/REF) ----

@register("NULL")
def _null(st):
    st.push(None)


@register("SAVE")
def _save(st):
    """SAVE (SAVE.java:32): push a snapshot of the symbol table the
    matching RESTORE reinstates."""
    st.push(("__ws_saved__", dict(st.symbols)))


@register("RESTORE")
def _restore(st):
    v = st.pop()
    if not (isinstance(v, tuple) and len(v) == 2 and v[0] == "__ws_saved__"):
        raise TypeError("RESTORE expects the value SAVE pushed")
    st.symbols = dict(v[1])


@register("UNSET")
def _unset(st):
    """'sym' UNSET (UNSET.java): drop the symbol."""
    st.symbols.pop(str(st.pop()), None)


@register("FUNCREF", "DEREF")
def _funcref(st):
    """'name' FUNCREF (FUNCREF.java): push a callable reference to the
    named function; DEREF resolves the same way."""
    name = str(st.pop())
    fn = st.registry.get(name)
    if fn is None:
        raise NameError(f"unknown function {name!r}")
    st.push(fn)


@register("COMPILE", "SAFECOMPILE", "COMPILED")
def _compile(st):
    """COMPILE/SAFECOMPILE (COMPILE.java): the stack machine executes
    token lists directly — compilation is the identity here; COMPILED
    answers whether the value is a macro."""
    from warp10_platform_spark.warpscript.stack import Macro

    v = st.peek()
    if isinstance(v, Macro):
        return  # already "compiled"
    st.push(isinstance(st.pop(), Macro))


@register("TIMEBOX")
def _timebox(st):
    """macro maxtime TIMEBOX (TIMEBOX.java): execute with a time budget.
    Python cannot preempt the macro mid-flight; the budget is checked
    after execution and overruns raise (documented soft enforcement)."""
    import time as _time

    budget_ticks = int(st.pop())
    macro = st.pop()
    t0 = _time.time()
    st.exec_macro(macro)
    if (_time.time() - t0) * _tuc.UNITS_PER_S > budget_ticks:
        raise TimeoutError(f"TIMEBOX budget {budget_ticks} ticks exceeded")


@register("ERROR")
def _error(st):
    """ERROR (ERROR.java): push the last error info map."""
    st.push(getattr(st, "last_error", None))


@register("FAIL")
def _fail(st):
    raise RuntimeError("FAIL")


@register("MSGFAIL")
def _msgfail(st):
    raise RuntimeError(str(st.pop()))


@register("STACKATTRIBUTE")
def _stackattribute(st):
    key = str(st.pop())
    st.push(getattr(st, "attributes", {}).get(key))


# ---- write-gate toggles (UPDATEON.java etc.): stack attributes the
#      write path consults; default on like a standalone instance ----

def _mk_toggle(key, value):
    def fn(st):
        if not hasattr(st, "attributes"):
            st.attributes = {}
        st.attributes[key] = value

    return fn


for _k in ("update", "delete", "meta"):
    REGISTRY[f"{_k.upper()}ON"] = _mk_toggle(f"{_k}.enabled", True)
    REGISTRY[f"{_k.upper()}OFF"] = _mk_toggle(f"{_k}.enabled", False)


def _attr_toggle(attr_name):
    """ATTRDELTA / ATTRSKIP (functions/ATTRDELTA.java): BOOLEAN sets the
    stack attribute, NULL pushes its current value."""

    def run(st):
        top = st.pop()
        attrs = st.__dict__.setdefault("attributes", {})
        if isinstance(top, bool):
            attrs[attr_name] = top
        elif top is None:
            st.push(bool(attrs.get(attr_name, False)))
        else:
            raise TypeError("expected a BOOLEAN or NULL")

    return run


REGISTRY["ATTRDELTA"] = _attr_toggle("attributes.delta")
REGISTRY["ATTRSKIP"] = _attr_toggle("attributes.skip")


@register("HEADER")
def _header(st):
    """name value HEADER (functions/HEADER.java): set (or, with NULL,
    clear) an X-* response header in the stack's headers attribute —
    surfaced to the transport layer exactly like the reference's
    ATTRIBUTE_HEADERS."""
    value = st.pop()
    name = st.pop()
    if not isinstance(name, str):
        raise TypeError("HEADER expects a header name (a string) below the value")
    headers = st.__dict__.setdefault("attributes", {}).setdefault("headers", {})
    if value is None:
        headers.pop(name, None)
    else:
        if not name.upper().startswith("X-"):
            raise ValueError("HEADER: only headers beginning with 'X-' can be set")
        headers[name] = str(value)


@register("IMPORT")
def _import(st):
    """namespace alias IMPORT (functions/IMPORT.java): register an alias
    rewrite rule (longest-alias-first), applied at name-resolution time
    by the stack dispatcher; NULL namespace removes the alias."""
    alias = st.pop()
    imported = st.pop()
    if not isinstance(alias, str):
        raise TypeError("IMPORT expects an alias string on top of the stack")
    if imported is not None and not isinstance(imported, str):
        raise TypeError("IMPORT expects a namespace string or NULL below the alias")
    rules = st.__dict__.setdefault("attributes", {}).setdefault("import.rules", {})
    if imported is None:
        rules.pop(alias, None)
    else:
        rules[alias] = imported


# ---- time guards (NOTBEFORE.java / NOTAFTER.java) ----

def _instant_of(st, top) -> int:
    if isinstance(top, str):
        # reuse the registered ISO8601 parser (TOTIMESTAMP surface)
        st.push(top)
        REGISTRY["TOTIMESTAMP"](st)
        return int(st.pop())
    if isinstance(top, int) and not isinstance(top, bool):
        return top
    raise TypeError("expects a timestamp or ISO8601 datetime string")


@register("NOTBEFORE")
def _notbefore(st):
    """instant NOTBEFORE (functions/NOTBEFORE.java): fail the script when
    current time (µs) is before the instant."""
    import time

    top = st.pop()
    instant = _instant_of(st, top)
    if int(time.time() * _tuc.UNITS_PER_S) < instant:
        raise RuntimeError(f"Current time is before '{top}'")


@register("NOTAFTER")
def _notafter(st):
    """instant NOTAFTER (functions/NOTAFTER.java): fail when current
    time is after the instant."""
    import time

    top = st.pop()
    instant = _instant_of(st, top)
    if int(time.time() * _tuc.UNITS_PER_S) > instant:
        raise RuntimeError(f"NOTAFTER failed because the current time is after '{top}'")


# ---- JSON forms (JSONSTRICT/JSONLOOSE/JSONPRETTY/JSONCOMPACT) ----

@register("JSONSTRICT", "JSONLOOSE")
def _json_parse(st):
    """'json' JSON-> semantics (JSONSTRICT.java/JSONLOOSE.java): parse;
    loose mode tolerates NaN/Infinity literals like the reference."""
    import json as _json

    st.push(_json.loads(str(st.pop())))


@register("JSONPRETTY")
def _json_pretty(st):
    import json as _json

    st.push(_json.dumps(st.pop(), indent=2, sort_keys=False, default=str))


@register("JSONCOMPACT")
def _json_compact(st):
    import json as _json

    st.push(_json.dumps(st.pop(), separators=(",", ":"), default=str))


# ---- counters (COUNTER.java: AtomicLong on the stack) ----

class _Counter:
    __slots__ = ("v",)

    def __init__(self):
        self.v = 0


@register("COUNTER")
def _counter(st):
    st.push(_Counter())


@register("COUNTERDELTA")
def _counterdelta(st):
    d = int(st.pop())
    c = st.peek()
    c.v += d


@register("COUNTERSET")
def _counterset(st):
    v = int(st.pop())
    c = st.peek()
    c.v = v


@register("COUNTERVALUE")
def _countervalue(st):
    st.push(st.peek().v)


# ---- RNG (RAND.java/SRAND.java + SHUFFLE over lists) ----

@register("SRAND")
def _srand(st):
    """SRAND (SRAND.java): seed the stack PRNG (deterministic replay)."""
    import random as _random

    st.rng = _random.Random(42)


@register("RAND", "RANDOM")
def _rand(st):
    import random as _random

    rng = getattr(st, "rng", None)
    if rng is None:
        rng = st.rng = _random.Random()
    st.push(rng.random())


@register("PRNG")
def _prng(st):
    import random as _random

    st.push(_random.Random(0))


@register("SHUFFLE")
def _shuffle_list(st):
    """list SHUFFLE (SHUFFLE.java): permute with the stack PRNG — only
    meaningful after SRAND; frames keep their own SHUFFLE query path."""
    import random as _random

    v = st.pop()
    if isinstance(v, list):
        rng = getattr(st, "rng", None) or _random.Random(42)
        out = list(v)
        rng.shuffle(out)
        st.push(out)
    else:
        st.push(v)  # frame SHUFFLE handled by the dedicated query op


def _randpdf_factory(seeded: bool, name: str):
    """{ value weight … } RANDPDF / SRANDPDF (RANDPDF.java:46-120): push a
    function object drawing a value with the given cumulative
    probabilities; SRANDPDF draws from the seeded stack PRNG."""
    from warp10_platform_spark.warpscript.stack import NativeMacro

    def build(st):
        hist = st.pop()
        if not isinstance(hist, dict):
            raise TypeError(f"{name} expects a value histogram map")
        total = float(sum(hist.values()))
        values, cum = [], []
        acc = 0.0
        for k in hist:  # insertion order — deterministic per script
            acc += float(hist[k]) / total
            values.append(k)
            cum.append(acc)

        def draw(stk):
            import random as _random

            rng = getattr(stk, "rng", None)
            if seeded:
                if rng is None:
                    raise RuntimeError(f"{name} requires a seeded PRNG (SRAND first)")
            elif rng is None:
                rng = _random.Random()
            u = rng.random()
            for v, c in zip(values, cum):
                if u <= c:
                    stk.push(v)
                    return
            stk.push(values[-1])

        st.push(NativeMacro(draw, name))

    return build


REGISTRY["RANDPDF"] = _randpdf_factory(False, "RANDPDF")
REGISTRY["SRANDPDF"] = _randpdf_factory(True, "SRANDPDF")


@register("REF")
def _ref(st):
    """REF (REF.java:30-35): push the function object itself."""
    from warp10_platform_spark.warpscript.stack import NativeMacro

    st.push(NativeMacro(_ref, "REF"))


# ---- conversions ----

@register("TOBOOLEAN")
def _toboolean(st):
    v = st.pop()
    if isinstance(v, str):
        st.push(v.strip().lower() == "true")
    else:
        st.push(bool(v))


@register("->PICKLE")
def _topickle(st):
    """->PICKLE (TOPICKLE.java): value → python pickle bytes — trivially
    native here (protocol 2 like the JVM pickler)."""
    import pickle as _pickle

    st.push(_pickle.dumps(st.pop(), protocol=2))


@register("PICKLE->")
def _pickleto(st):
    """PICKLE-> (PICKLETO.java): pickle bytes → value. Restricted
    unpickler — only data-shaped builtins resolve (the JVM-side
    razorvine unpickler is equally data-only); arbitrary class/callable
    opcodes raise instead of executing."""
    import io as _io
    import pickle as _pickle

    class _DataUnpickler(_pickle.Unpickler):
        _SAFE = {
            ("builtins", n)
            for n in ("list", "dict", "set", "frozenset", "tuple", "bytes", "bytearray", "complex")
        }

        def find_class(self, module, name):
            if (module, name) in self._SAFE:
                return getattr(__import__("builtins"), name)
            raise _pickle.UnpicklingError(f"PICKLE-> refuses non-data global {module}.{name}")

    st.push(_DataUnpickler(_io.BytesIO(_to_bytes(st.pop()))).load())


def _platform_mgmt_stub(name: str, why: str):
    def stub(st):
        raise NotImplementedError(f"{name} is out of scope in this engine: {why}")
    return stub


# Server-administration / deployment names (COVERAGE.md appendix):
# bound as precise raising stubs so macro libraries that reference them
# fail with the reason, never with 'unknown function'.
for _nm, _why in (
    ("CAPADD", "capability decoding from auth TOKENs is token-service administration; "
               "CAPGET/CAPCHECK/CAPDEL/CAPEXPORT over the capabilities map ARE implemented"),
    ("TOKENINFO", "token introspection belongs to the deployment's token service"),
    ("WF.ADDREPO", "WarpFleet repository management is deployment administration"),
    ("WF.GETREPOS", "WarpFleet repository management is deployment administration"),
    ("WF.SETREPOS", "WarpFleet repository management is deployment administration"),
    ("WFON", "WarpFleet resolver toggling is deployment administration"),
    ("WFOFF", "WarpFleet resolver toggling is deployment administration"),
    ("LOGINIT", "server log-subsystem initialization, not query semantics"),
    ("GETHOOK", "egress hook inspection is server administration"),
    ("PIGSCHEMA", "Hadoop/Pig integration is replaced by native DataFrame I/O"),
):
    REGISTRY[_nm] = _platform_mgmt_stub(_nm, _why)


@register("CALL", "REXEC", "REXECZ")
def _call_stub(st):
    """CALL (script/functions/CALL.java:47) / REXEC: external-subprogram
    and remote-execution escape hatches. Deliberately NOT implemented —
    both spawn processes / call remote endpoints outside the engine's
    execution model (SURVEY §2.12 scope note; COVERAGE.md appendix) —
    but bound so macro libraries get a precise error, not 'unknown
    function'."""
    raise NotImplementedError(
        "CALL/REXEC are out of scope in this engine: they escape to external "
        "subprocesses / remote Warp 10 instances (CALL.java:47, REXEC.java). "
        "Express the subprogram as a macro — shared macros load from "
        "WARPSCRIPT_REPOSITORY_DIRECTORY via @path/name — or run it outside the query."
    )


@register("->MAP")
def _tomap(st):
    """[k v k v …] ->MAP (TOMAP.java? MAPFROM): pairs list → map."""
    v = st.pop()
    if isinstance(v, dict):
        st.push(v)
        return
    it = list(v)
    st.push({it[i]: it[i + 1] for i in range(0, len(it) - 1, 2)})


@register("MAP->")
def _mapto(st):
    """map MAP-> (MAPTO.java): push k v pairs then the size."""
    m = st.pop()
    n = 0
    for k, v in m.items():
        st.push(k); st.push(v)
        n += 1
    st.push(n)


@register("LIST->")
def _listto(st):
    """list LIST-> (LISTTO.java): elements then the size."""
    v = st.pop()
    for e in v:
        st.push(e)
    st.push(len(v))


@register("->V", "->SET")
def _toset(st):
    """list ->V / ->SET (TOVECTOR.java/TOSET.java): the reference vector
    is an ordered unique collection — modeled as a de-duplicated list."""
    v = st.pop()
    out = []
    seen = set()
    for e in v:
        k = repr(e)
        if k not in seen:
            seen.add(k)
            out.append(e)
    st.push(out)


@register("V->", "SET->")
def _setto(st):
    v = st.pop()
    st.push(list(v))


@register("->GTS")
def _togts_rows(st):
    """[ [ts lat lon elev value] … ] ->GTS (TOGTS.java list form): rows →
    a single GTS frame (NaN lat/lon = no location)."""
    rows_in = st.pop()
    enc_mod = __import__("warp10_platform_spark.core.encoders", fromlist=["Encoder"])
    enc = enc_mod.Encoder("")
    for el in rows_in:
        ts, lat, lon, elev, value = el
        e = None if elev is None or (isinstance(elev, float) and elev != elev) else int(elev)
        enc.add_latlon(int(ts), float(lat), float(lon), e, value)
    st.push(enc)
    REGISTRY["TOGTS"](st)


# ---- interval bounds (LBOUNDS.java / NBOUNDS.java) ----

@register("LBOUNDS")
def _lbounds(st):
    """lower upper n LBOUNDS: n-1 equal-width interior bounds."""
    n = int(st.pop()); upper = float(st.pop()); lower = float(st.pop())
    if not 1 <= n <= 65536 or lower >= upper:
        raise ValueError("LBOUNDS expects lower < upper and 1 <= n <= 65536")
    step = (upper - lower) / n
    st.push([lower + step * i for i in range(1, n)])


@register("NBOUNDS")
def _nbounds(st):
    """mu sigma n NBOUNDS: n-1 equal-probability bounds of N(mu, sigma)
    (NormalDistribution.inverseCumulativeProbability — stdlib
    NormalDist.inv_cdf here, same quantiles to double precision)."""
    from statistics import NormalDist

    n = int(st.pop()); sigma = float(st.pop()); mu = float(st.pop())
    if not 1 <= n <= 65536 or sigma <= 0:
        raise ValueError("NBOUNDS expects sigma > 0 and 1 <= n <= 65536")
    nd = NormalDist(mu, sigma)
    st.push([nd.inv_cdf(i / n) for i in range(1, n)])


# ---- MMAP / TEMPLATE / REOPTALT ----

@register("MMAP")
def _mmap(st):
    """map macro [index?] MMAP (MMAP.java:30-70): run the macro on each
    (key, value[, index]); macro leaves new key and value."""
    push_index = True
    top = st.pop()
    if isinstance(top, bool):
        push_index = top
        top = st.pop()
    macro = top
    m = st.pop()
    out = {}
    for i, (k, v) in enumerate(m.items()):
        st.push(k); st.push(v)
        if push_index:
            st.push(i)
        st.exec_macro(macro)
        val = st.pop(); key = st.pop()
        out[key] = val
    st.push(out)


@register("TEMPLATE")
def _template(st):
    """'tpl' {scope} TEMPLATE (TEMPLATE.java, Mustache engine): variable
    substitution. Subset: {{key}} (and dotted {{a.b}}) interpolation —
    sections/partials are not implemented (documented)."""
    import re as _re

    scope = st.pop()
    tpl = str(st.pop())

    def sub(m):
        path = m.group(1).strip()
        cur = scope
        for part in path.split("."):
            if isinstance(cur, dict) and part in cur:
                cur = cur[part]
            else:
                return ""
        return str(cur)

    st.push(_re.sub(r"\{\{([^}]+)\}\}", sub, tpl))


@register("REOPTALT")
def _reoptalt(st):
    """[alternatives] REOPTALT (REOPTALT.java): build an optimized
    alternation regex. A plain sorted alternation matches the identical
    language (the reference's trie form is a constant-factor speedup)."""
    import re as _re

    alts = st.pop()
    st.push("(?:" + "|".join(_re.escape(str(a)) for a in sorted(alts, key=len, reverse=True)) + ")")


# ---- runner helpers (RUNNERNONCE.java, RUNNERPATH; schedule arithmetic
#      in streaming/runners.py) ----

@register("RUNNERAT")
def _runnerat(st):
    from warp10_platform_spark.streaming.runners import runner_at

    st.push(runner_at(int(st.pop())))


@register("RUNNERIN")
def _runnerin(st):
    from warp10_platform_spark.streaming.runners import runner_in

    st.push(runner_in(int(st.pop())))


@register("RUNNERNONCE")
def _runnernonce(st):
    """RUNNERNONCE (RUNNERNONCE.java): scheduling nonce — deterministic
    per (path, period) here so replays agree."""
    attrs = getattr(st, "attributes", {})
    basis = f"{attrs.get('runner.path', '')}:{attrs.get('runner.periodicity', 0)}"
    st.push(int(_hashlib.md5(basis.encode()).hexdigest()[:15], 16))


@register("RUNNERPATH")
def _runnerpath(st):
    st.push(getattr(st, "attributes", {}).get("runner.path", ""))


# ---- config / doc surface ----

@register("MACROCONFIG")
def _macroconfig(st):
    """'key' MACROCONFIG (MACROCONFIG.java): read a config value from
    the stack's config store (attributes['config'])."""
    key = str(st.pop())
    st.push(getattr(st, "attributes", {}).get("config", {}).get(key))


@register("MACROCONFIGDEFAULT")
def _macroconfigdefault(st):
    """default 'key' MACROCONFIGDEFAULT: config value or the fallback."""
    key = str(st.pop())
    default = st.pop()
    st.push(getattr(st, "attributes", {}).get("config", {}).get(key, default))


@register("SETMACROCONFIG")
def _setmacroconfig(st):
    """value 'key' SETMACROCONFIG."""
    key = str(st.pop()); v = st.pop()
    if not hasattr(st, "attributes"):
        st.attributes = {}
    st.attributes.setdefault("config", {})[key] = v


@register("MACROTTL")
def _macrottl(st):
    st.pop()  # ttl ms — macro caching is not applicable (no macro repo)


@register("MAN", "RTFM")
def _man(st):
    """'FUNC' MAN: the reference pushes the doc URL for the name."""
    name = str(st.pop())
    st.push(f"https://warp10.io/doc/{name}")


@register("INFO")
def _info(st):
    st.push({"functions": len(st.registry), "engine": "warp10-platform-spark"})


@register("INFOMODE")
def _infomode(st):
    if not hasattr(st, "attributes"):
        st.attributes = {}
    st.attributes["infomode"] = True


@register("REPORT")
def _report(st):
    st.push({"ops": getattr(st, "ops", 0), "depth": st.depth(), "symbols": len(st.symbols)})


@register("MAPID")
def _mapid(st):
    """map MAPID: stable id of a map value (content hash here — the
    reference uses the identity hash; content form is deterministic)."""
    import json as _json

    v = st.peek()
    st.push(int(_hashlib.md5(_json.dumps(v, sort_keys=True, default=str).encode()).hexdigest()[:15], 16))


@register("STMTPOS")
def _stmtpos(st):
    st.push(getattr(st, "ops", 0))


@register("JSONSTACK")
def _jsonstack(st):
    if not hasattr(st, "attributes"):
        st.attributes = {}
    st.attributes["json.strict.stack"] = True


@register("LIMIT")
def _limit(st):
    """n LIMIT (LIMIT.java): fetch datapoint budget — stored on the
    stack; the accessor cap and fetch paths consult it."""
    if not hasattr(st, "attributes"):
        st.attributes = {}
    st.attributes["fetch.limit"] = int(st.pop())


@register("ISODURATION")
def _isoduration(st):
    """'P…' ISODURATION (ISODURATION.java): ISO8601 duration → µs."""
    from warp10_platform_spark.functions.timeutil import parse_duration

    st.push(parse_duration(str(st.pop())))


@register("PAPPLY")
def _papply(st):
    """Partitioned APPLY (PAPPLY.java): same list form as APPLY — the
    label equivalence classes ARE the partition, so APPLY's by-labels
    alignment implements the partitioned semantics."""
    REGISTRY["APPLY"](st)


@register("PFILTER")
def _pfilter(st):
    REGISTRY["FILTER"](st)


@register("PREDUCE")
def _preduce(st):
    REGISTRY["REDUCE"](st)


@register("EVERY")
def _every(st):
    """macro period EVERY (EVERY.java): schedule the macro on a cadence —
    the engine runner (rate-source foreachBatch); pushes the streaming
    query handle (caller stops it)."""
    from warp10_platform_spark.streaming.runners import every as _ev

    period_us = int(st.pop())
    macro = st.pop()

    def fire(spark, tick):
        st.exec_macro(macro)

    st.push(_ev(st.spark, fire, interval=f"{max(1, period_us // _tuc.UNITS_PER_S)} seconds"))
