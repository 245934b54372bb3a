"""Concurrent + shared-memory extension tier.

Reference: the standard-distribution extensions
  ext/concurrent/{CEVAL,SYNC}.java — run a list of macros on a thread
  pool over sub-stacks sharing the parent's context; SYNC serializes a
  critical section on the CEVAL lock.
  ext/shm/{MUTEX,SHMSTORE,SHMLOAD,SHMDEFINED}.java — named re-entrant
  locks and a process-wide symbol store, writable only inside the
  owning MUTEX section.

Semantics mirrored: CEVAL pushes a list of per-macro result lists
(each sub-stack's remaining values in pop order), each sub-stack
receives its 1-based index before the macro runs, a failing macro
aborts the whole call, and nested CEVAL raises. The token-capability
gates of the shm extension are out of scope (no token system here) —
documented deviation; the mutex-held write discipline IS enforced.
"""

from __future__ import annotations

from warp10_platform_spark.core import timeunits as _tuc

import threading
from concurrent.futures import ThreadPoolExecutor

from warp10_platform_spark.warpscript.functions import register

_SHM: dict[str, tuple[object, str]] = {}  # symbol -> (value, owning mutex)
_LOCKS: dict[str, threading.RLock] = {}
_LOCKS_GUARD = threading.Lock()


def _named_lock(name: str) -> threading.RLock:
    with _LOCKS_GUARD:
        return _LOCKS.setdefault(name, threading.RLock())


def _attrs(st) -> dict:
    return st.__dict__.setdefault("attributes", {})


@register("CEVAL")
def _ceval(st):
    """[macros] parallelism CEVAL (ext/concurrent/CEVAL.java): run the
    macros concurrently on sub-stacks seeded with the parent's symbols;
    push the list of per-macro result lists (pop order, like the
    reference's drain loop)."""
    from warp10_platform_spark.warpscript.stack import Macro, WarpScriptStack

    if _attrs(st).get("concurrent.execution"):
        raise RuntimeError("CEVAL cannot be called from within a concurrent execution")
    parallelism = st.pop()
    if isinstance(parallelism, bool) or not isinstance(parallelism, int):
        raise TypeError("CEVAL expects a parallelism level on top of the stack")
    if parallelism < 1:
        raise ValueError("CEVAL parallelism level cannot be less than 1")
    macros = st.pop()
    if not isinstance(macros, list) or not all(isinstance(m, Macro) for m in macros):
        raise TypeError("CEVAL expects a list of macros below the parallelism level")
    parallelism = min(parallelism, max(1, len(macros)))
    lock = threading.RLock()
    aborted = threading.Event()

    def run_one(idx_macro):
        idx, macro = idx_macro
        if aborted.is_set():
            raise RuntimeError("Early abort.")
        # bootstrap=False: the parent stack already ran it, and its
        # context copy below is the worker's whole inheritance — a
        # re-run would waste ops and could leave values on the stack
        sub = WarpScriptStack(st.spark, st.sf_dir, bootstrap=False)
        sub.symbols = dict(st.symbols)  # context copy (stack.save/restore)
        if "defs" in st.__dict__:
            sub.defs = dict(st.defs)
        sub.__dict__["attributes"] = {
            **_attrs(st),
            "concurrent.execution": True,
            "concurrent.lock": lock,
        }
        try:
            sub.push(idx)
            sub.exec_macro(macro)
        except Exception:
            aborted.set()
            raise
        out = []
        while sub.depth() > 0:
            out.append(sub.pop())
        return out

    _attrs(st)["concurrent.execution"] = True
    _attrs(st)["concurrent.lock"] = lock
    try:
        with ThreadPoolExecutor(max_workers=parallelism) as ex:
            futures = [ex.submit(run_one, (i + 1, m)) for i, m in enumerate(macros)]
            results = []
            first_error = None
            for f in futures:
                try:
                    results.append(f.result())
                except Exception as e:  # noqa: BLE001 — propagate after drain
                    if first_error is None:
                        first_error = e
                    results.append(None)
            if first_error is not None:
                raise first_error
        st.push(results)
    finally:
        _attrs(st)["concurrent.execution"] = False
        _attrs(st).pop("concurrent.lock", None)


@register("SYNC")
def _sync(st):
    """macro SYNC (ext/concurrent/SYNC.java): run the macro under the
    CEVAL lock (no-op serialization outside a concurrent section)."""
    from warp10_platform_spark.warpscript.stack import Macro

    macro = st.pop()
    if not isinstance(macro, Macro):
        raise TypeError("SYNC expects a macro on top of the stack")
    lock = _attrs(st).get("concurrent.lock")
    if lock is not None:
        with lock:
            st.exec_macro(macro)
    else:
        st.exec_macro(macro)


@register("MUTEX")
def _mutex(st):
    """macro 'name' [timeout_us] MUTEX (ext/shm/MUTEX.java): run the
    macro holding the named process-wide re-entrant lock; the mutex name
    is exposed to SHMSTORE via the stack attribute while held."""
    from warp10_platform_spark.warpscript.stack import Macro

    top = st.pop()
    timeout_s = None
    if isinstance(top, int) and not isinstance(top, bool):
        timeout_s = top / float(_tuc.UNITS_PER_S)
        top = st.pop()
    if not isinstance(top, str):
        raise TypeError("MUTEX expects a mutex name")
    name = top
    macro = st.pop()
    if not isinstance(macro, Macro):
        raise TypeError("MUTEX expects a macro below the mutex name")
    lock = _named_lock(name)
    acquired = lock.acquire(timeout=timeout_s) if timeout_s is not None else lock.acquire()
    if not acquired:
        raise TimeoutError(f"MUTEX could not acquire '{name}' within the timeout")
    prev = _attrs(st).get("shm.mutex")
    _attrs(st)["shm.mutex"] = name
    try:
        st.exec_macro(macro)
    finally:
        _attrs(st)["shm.mutex"] = prev
        lock.release()


@register("SHMSTORE")
def _shmstore(st):
    """value 'symbol' SHMSTORE (ext/shm/SHMSTORE.java): store into the
    process-wide shared map — only inside a MUTEX section, which then
    owns the symbol."""
    symbol = st.pop()
    if not isinstance(symbol, str):
        raise TypeError("SHMSTORE expects a symbol name")
    value = st.pop()
    mutex = _attrs(st).get("shm.mutex")
    if mutex is None:
        raise RuntimeError("SHMSTORE can only be called when in a MUTEX section")
    existing = _SHM.get(symbol)
    if existing is not None and existing[1] != mutex:
        raise RuntimeError(
            f"SHMSTORE symbol '{symbol}' is owned by mutex '{existing[1]}'"
        )
    if value is None:
        _SHM.pop(symbol, None)
    else:
        _SHM[symbol] = (value, mutex)


@register("SHMLOAD")
def _shmload(st):
    """'symbol' SHMLOAD (ext/shm/SHMLOAD.java): push the shared value."""
    symbol = st.pop()
    if not isinstance(symbol, str):
        raise TypeError("SHMLOAD expects a symbol name")
    if symbol not in _SHM:
        raise KeyError(f"SHMLOAD unknown shared symbol '{symbol}'")
    st.push(_SHM[symbol][0])


@register("SHMDEFINED")
def _shmdefined(st):
    """'symbol' SHMDEFINED: TRUE when the shared symbol exists."""
    symbol = st.pop()
    st.push(str(symbol) in _SHM)


# ---- stackps extension (ext/stackps) --------------------------------
from warp10_platform_spark.warpscript import stackps as _stackps  # noqa: E402

_stackps.install(register)
