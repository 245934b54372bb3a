"""The WarpScript value stack (MemoryWarpScriptStack.java), Spark-backed.

Execution contract (reference `exec`, :1060-1075): literals push
themselves; `<% %>` captures a Macro (a token list, :862-893); `$var`
loads from the symbol table (:1030-1043); any other token resolves in the
function registry and is applied immediately against the stack. GTS lists
on this stack are lazy DataFrames in the canonical points schema — macro
and control-flow execution happen in the driver, data work stays in
Catalyst plans.

Limits: like the reference seeds max-ops/max-depth from config
(MemoryWarpScriptStack.java:220-247), we enforce a statement budget and a
stack-depth cap so a runaway script fails fast in the driver rather than
submitting unbounded Spark jobs.
"""

from __future__ import annotations

import re
from typing import Any, Callable

from warp10_platform_spark.warpscript.tokenizer import Token, tokenize


class Macro:
    __slots__ = ("tokens",)

    def __init__(self, tokens: list[Token]):
        self.tokens = tokens

    def __repr__(self) -> str:  # pragma: no cover
        return f"<Macro {len(self.tokens)} stmts>"


class NativeMacro:
    """A driver-side callable usable where the stack expects a Macro —
    the reference pushes WarpScriptStackFunction instances the same way
    (RANDPDF pushes a function object EVAL then applies)."""

    __slots__ = ("fn", "name")

    def __init__(self, fn, name: str):
        self.fn = fn
        self.name = name

    def __repr__(self):  # pragma: no cover
        return f"<NativeMacro {self.name}>"


class BreakLoop(Exception):
    """BREAK (BREAK.java): exit the nearest enclosing loop."""


class ContinueLoop(Exception):
    """CONTINUE (CONTINUE.java): next iteration of the nearest loop."""


class MacroReturn(Exception):
    """RETURN (RETURN.java): exit the currently-executing macro."""


class ScriptStop(Exception):
    """STOP (STOP.java): end script execution without error."""


class WarpScriptStack:
    def __init__(self, spark, sf_dir: str, max_ops: int = 100_000, max_depth: int = 1000,
                 bootstrap: bool = True):
        import uuid as _uuid

        from warp10_platform_spark.warpscript.functions import REGISTRY

        self.spark = spark
        self.sf_dir = sf_dir
        self.stack: list[Any] = []
        self.symbols: dict[str, Any] = {}
        self.registry: dict[str, Callable[[WarpScriptStack], None]] = REGISTRY
        self.max_ops = max_ops
        self.max_depth = max_depth
        self._ops = 0
        # names dropped when a macro shipped to executors (unpicklable
        # driver-bound values) — consulted to turn a generic undefined-
        # variable NameError into an actionable shipping diagnostic
        self.dropped_symbols: set[str] = set()
        # stackps surface (ext/stackps): process-wide visibility + signal
        self.uuid = str(_uuid.uuid4())
        self.name: str | None = None
        self.session: str | None = None
        self.aborted: str | None = None  # set to the signal name by WSKILL/WSSTOP
        from warp10_platform_spark.warpscript import stackps as _sp

        _sp.register_stack(self)
        if bootstrap:
            self._run_bootstrap()

    # ---- bootstrap script (EgressExecHandler.java:231 stack.exec(
    # BOOTSTRAP); Configuration.java warpscript.bootstrap.path) -------
    # The configured script runs on every fresh stack before user code,
    # seeding symbols/DEF'd macros; source is cached per (path, mtime)
    # like the reference's BOOTSTRAP_PERIOD reload. Sub-stacks (macro
    # repository loads, the bootstrap run itself) skip it.
    _bootstrap_cache: tuple | None = None

    def _run_bootstrap(self) -> None:
        import os

        path = os.environ.get("WARPSCRIPT_BOOTSTRAP_PATH")
        if not path or not os.path.isfile(path):
            return
        mtime = os.stat(path).st_mtime_ns
        hit = WarpScriptStack._bootstrap_cache
        if hit is None or hit[0] != (path, mtime):
            with open(path) as f:
                WarpScriptStack._bootstrap_cache = ((path, mtime), f.read())
        self.exec(WarpScriptStack._bootstrap_cache[1])
        # bootstrap cost does not count against the user's ops budget
        self._ops = 0

    # -- stack primitives -------------------------------------------------
    def push(self, v: Any) -> None:
        self.stack.append(v)
        if len(self.stack) > self.max_depth:
            raise RuntimeError("stack depth limit exceeded")

    def pop(self) -> Any:
        if not self.stack:
            raise RuntimeError("pop on empty stack")
        return self.stack.pop()

    def peek(self) -> Any:
        if not self.stack:
            raise RuntimeError("peek on empty stack")
        return self.stack[-1]

    def depth(self) -> int:
        return len(self.stack)

    # -- execution --------------------------------------------------------
    def exec(self, script: str) -> None:
        try:
            self._run(tokenize(script))
        except ScriptStop:
            pass

    def _dropped_hint(self, name: str) -> str:
        if name in self.dropped_symbols:
            return (
                f" — symbol {name!r} was bound on the driver but could not be"
                " pickled to the executors (lazy frame or other driver-bound"
                " value); rebind it to a shippable value before MACROFILTER"
            )
        return ""

    def exec_macro(self, macro: Macro) -> None:
        try:
            self._run(macro.tokens)
        except MacroReturn:
            pass

    def _run(self, tokens: list[Token]) -> None:
        i = 0
        n = len(tokens)
        while i < n:
            t = tokens[i]
            self._ops += 1
            if self._ops > self.max_ops:
                raise RuntimeError("ops limit exceeded")
            if self.aborted is not None:
                raise RuntimeError(f"stack {self.uuid} signaled: {self.aborted}")
            if t.kind in ("number", "string", "bool", "null"):
                self.push(t.value)
            elif t.kind == "load":
                if t.value not in self.symbols:
                    raise NameError(f"line {t.lineno}: undefined variable ${t.value}{self._dropped_hint(t.value)}")
                self.push(self.symbols[t.value])
            elif t.kind == "deref":
                macro = self.symbols.get(t.value)
                if macro is None:
                    macro = self._repository_macro(t.value)
                if not isinstance(macro, Macro):
                    raise NameError(f"line {t.lineno}: @{t.value} is not a macro")
                self.exec_macro(macro)
            elif t.kind == "stmt" and t.value == "<%":
                # capture to matching %> (nesting allowed), reference :862-893
                depth = 1
                j = i + 1
                while j < n and depth:
                    if tokens[j].kind == "stmt" and tokens[j].value == "<%":
                        depth += 1
                    elif tokens[j].kind == "stmt" and tokens[j].value == "%>":
                        depth -= 1
                    j += 1
                if depth:
                    raise SyntaxError(f"line {t.lineno}: unterminated macro")
                self.push(Macro(tokens[i + 1 : j - 1]))
                i = j
                continue
            else:
                fn = self.registry.get(t.value)
                if fn is None and not self._dispatch_dynamic(t):
                    raise NameError(f"line {t.lineno}: unknown function {t.value!r}")
                if fn is not None:
                    fn(self)
            i += 1

    # ---- file-based macro repository -------------------------------
    # The reference resolves @name derefs not found on the stack from a
    # configured macro directory (WarpScriptMacroRepository.java:
    # `warpscript.repository.directory`; name = relative path without
    # the .mc2 extension, the file leaves a <% %> macro on the stack).
    # Cached per (path, mtime) so edits reload, like the reference's
    # refresh loop.
    _repo_cache: dict = {}

    def _repository_macro(self, name: str):
        import os

        root = os.environ.get("WARPSCRIPT_REPOSITORY_DIRECTORY")
        if not root:
            return None
        path = os.path.normpath(os.path.join(root, name + ".mc2"))
        # refuse traversal outside the repository root
        if not path.startswith(os.path.normpath(root) + os.sep):
            return None
        if not os.path.isfile(path):
            return None
        mtime = os.stat(path).st_mtime_ns
        hit = WarpScriptStack._repo_cache.get(path)
        if hit is not None and hit[0] == mtime:
            return hit[1]
        sub = WarpScriptStack(self.spark, self.sf_dir, max_ops=self.max_ops, bootstrap=False)
        sub.exec(open(path).read())
        macro = sub.pop()
        if not isinstance(macro, Macro):
            raise TypeError(f"macro file {name}.mc2 did not leave a macro on the stack")
        WarpScriptStack._repo_cache[path] = (mtime, macro)
        return macro

    _REG_RE = re.compile(r"^(POPR|CPOPR|PUSHR|RUNR)(\d+)$")

    def _dispatch_dynamic(self, t: Token) -> bool:
        """Names the reference registers in loops, not one-by-one:
        POPRn/CPOPRn/PUSHRn/RUNRn for each of the 256 default registers
        (WarpScriptLib.java:3384-3394, POPR.java/RUNR.java), plus DEF'd
        macros callable as bare statements (DEF.java)."""
        defs = self.__dict__.get("defs")
        if defs and t.value in defs:
            self.exec_macro(defs[t.value])
            return True
        # IMPORT alias rewrite (IMPORT.java rules, longest alias first)
        rules = self.__dict__.get("attributes", {}).get("import.rules")
        if rules:
            for alias in sorted(rules, key=len, reverse=True):
                if t.value == alias or t.value.startswith(alias + "."):
                    full = rules[alias] + t.value[len(alias):]
                    fn = self.registry.get(full)
                    if fn is not None:
                        fn(self)
                        return True
                    if defs and full in defs:
                        self.exec_macro(defs[full])
                        return True
        m = self._REG_RE.match(t.value)
        if not m:
            return False
        op, regno = m.group(1), int(m.group(2))
        if regno >= 256:
            return False
        regs = self.__dict__.setdefault("regs", {})
        if op == "POPR":
            regs[regno] = self.pop()
        elif op == "CPOPR":
            top = self.pop()
            if regs.get(regno) is None:
                regs[regno] = top
        elif op == "PUSHR":
            self.push(regs.get(regno))
        else:  # RUNR
            macro = regs.get(regno)
            if not isinstance(macro, Macro):
                raise TypeError(f"{t.value} expects register {regno} to contain a macro")
            self.exec_macro(macro)
        return True


def exec_script(spark, sf_dir: str, script: str):
    """Run a script on a fresh stack and return the top of stack — the
    /exec analog (response = final stack, EgressExecHandler.java tail)."""
    st = WarpScriptStack(spark, sf_dir)
    st.exec(script)
    return st.peek() if st.depth() else None
