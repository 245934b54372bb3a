"""Selector → Catalyst predicate compiler.

The reference selects series with `class{label=v,label~regex}` selectors:
`=` exact / `~` regex on both class and labels, extended form
`class{labels}{attributes}` (MetadataSelectorMatcher.java:41-55, regex
EXPR_RE at :55; PARSESELECTOR/TOSELECTOR functions).

The reference's FETCH looks the selector up in its Directory first and
then reads the matched series only (FETCH.java:238 →
StandaloneDirectoryClient).  FETCH has two routes here:

- Spark: a selector compiles to a pure Spark Column predicate — Catalyst
  can push the class equality into the Parquet scan and prune
  partitions; regex label clauses become rlike on element_at(labels, k).
  A directory-table pre-filter is optional (sources/directory.py).
- the driver (small requests): the selector is looked up in the points
  layout's SeriesDirectory (sources/directory.py) — `class_matches` once
  per class, `clause_test` once per distinct label value that starts
  with the clause's `literal_prefix` plus once for an absent label — and
  only the row groups that hold the matched series are scanned.  The FIND
  family takes the same lookup; its Java-only regexes read the directory table.

`clause_test` is the one driver-side definition of a label clause; the
Column compiler below mirrors it.
"""

from __future__ import annotations

import functools
import re
import urllib.parse
import warnings
from dataclasses import dataclass, field

from pyspark.sql import Column
from pyspark.sql import functions as F

_SELECTOR_RE = re.compile(
    r"^(?P<cls>[^{}]*)"
    r"(?:\{(?P<labels>[^{}]*)\})?"
    r"(?:\{(?P<attrs>[^{}]*)\})?$"
)


@dataclass
class Selector:
    """Parsed form of `class{label=v,label~re}{attr=v}`."""

    class_exact: str | None = None  # None → regex
    class_regex: str | None = None
    labels: list[tuple[str, str, str]] = field(default_factory=list)  # (key, op, value) op ∈ {'=','~'}
    attributes: list[tuple[str, str, str]] = field(default_factory=list)
    # True when the selector spelled a second {...} group (even empty):
    # `cls{lab}{attr}` checks labels and attributes SEPARATELY, while the
    # standard `cls{k=v}` form falls back label → attribute per key
    # (MetadataSelectorMatcher.java:41-55 doc comment).
    extended: bool = False


def _parse_clauses(body: str) -> list[tuple[str, str, str]]:
    out = []
    if not body:
        return out
    for part in body.split(","):
        part = part.strip()
        if not part:
            continue
        m = re.match(r"^([^=~]+)(=|~)(.*)$", part)
        if not m:
            raise ValueError(f"bad selector clause: {part!r}")
        key, op, val = m.group(1), m.group(2), m.group(3)
        # label values are URL-encoded in the reference's selector syntax
        out.append((urllib.parse.unquote(key), op, urllib.parse.unquote(val)))
    return out


def parse_selector(selector: str) -> Selector:
    """Parse `class{...}{...}`. A class starting with `~` is a regex;
    `=class` forces exact match (reference's PARSESELECTOR semantics)."""
    m = _SELECTOR_RE.match(selector.strip())
    if not m:
        raise ValueError(f"bad selector: {selector!r}")
    cls = urllib.parse.unquote(m.group("cls") or "")
    sel = Selector()
    if cls.startswith("~"):
        sel.class_regex = cls[1:]
    elif cls.startswith("="):
        sel.class_exact = cls[1:]
    elif cls in ("", "~.*"):
        sel.class_regex = ".*"
    else:
        sel.class_exact = cls
    sel.labels = _parse_clauses(m.group("labels") or "")
    sel.attributes = _parse_clauses(m.group("attrs") or "")
    sel.extended = m.group("attrs") is not None
    return sel


def _anchor(regex: str) -> str:
    """The reference matches label regexes fully anchored
    (MetadataSelectorMatcher compiles with implicit ^...$)."""
    out = regex
    if not out.startswith("^"):
        out = "^" + out
    if not out.endswith("$"):
        out = out + "$"
    return out


def selector_predicate(
    selector: str | Selector,
    class_col: str = "class",
    labels_col: str = "labels",
    attrs_col: str = "attributes",
) -> Column:
    """Compile a selector to a boolean Column over the points schema."""
    sel = parse_selector(selector) if isinstance(selector, str) else selector
    if sel.class_exact is not None:
        pred = F.col(class_col) == sel.class_exact
    elif sel.class_regex in (".*", None):
        pred = F.lit(True)
    else:
        pred = F.col(class_col).rlike(_anchor(sel.class_regex))

    def clause_pred(col_name: str, key: str, op: str, val: str) -> Column:
        entry = F.element_at(F.col(col_name), key)
        if op == "=":
            if val == "":
                # empty exact value matches absent label too (reference behavior)
                return entry.isNull() | (entry == "")
            return entry == val
        if val == ".*":
            return F.lit(True) if key == "" else entry.isNotNull()
        return entry.isNotNull() & entry.rlike(_anchor(val))

    for key, op, val in sel.labels:
        pred = pred & clause_pred(labels_col, key, op, val)
    for key, op, val in sel.attributes:
        pred = pred & clause_pred(attrs_col, key, op, val)
    return pred


def matches(
    selector: "str | Selector",
    cls: str,
    labels: dict[str, str] | None,
    attributes: dict[str, str] | None = None,
) -> bool:
    """Driver-side twin of selector_predicate for ONE metadata row —
    Plasma subscription matching (StandalonePlasmaHandler.java routes
    subscriptions through the same fetch SELECTOR_RE +
    parseLabelsSelectors). Clause semantics mirror the Column compiler
    above exactly; used per ingested line, never in a query plan."""
    sel = parse_selector(selector) if isinstance(selector, str) else selector
    return (class_matches(sel, cls) and _clauses_match(sel.labels, labels or {})
            and _clauses_match(sel.attributes, attributes or {}))


def clause_test(key: str, op: str, val: str):
    """The test one clause applies to a key's value (None where the key
    is absent): the one definition `matches` and the driver-side series
    directory (sources/directory.SeriesDirectory) both use."""
    if op == "=":
        if val == "":
            # empty exact value matches absent label too (reference)
            return lambda v: v is None or v == ""
        return lambda v: v == val
    if val == ".*":
        return (lambda v: True) if key == "" else (lambda v: v is not None)
    match = _pattern(val).match
    return lambda v: v is not None and match(v) is not None


def literal_prefix(op: str, val: str) -> str:
    """A prefix of every value `clause_test(key, op, val)` accepts: the
    value of an exact clause, and the leading literals of a regex.  A
    regex that ignores case or opens with anything but a literal (an
    anchor, a class, a branch, a repeat) has the empty prefix."""
    if op == "=":
        return val
    parsed = re._parser.parse(val)
    if parsed.state.flags & re.IGNORECASE:
        return ""
    out = []
    for code, arg in parsed:
        if code is not re._constants.LITERAL:
            break
        out.append(chr(arg))
    return "".join(out)


def _clauses_match(clauses: list[tuple[str, str, str]], src: dict[str, str]) -> bool:
    return all(clause_test(key, op, val)(src.get(key)) for key, op, val in clauses)


def class_matches(sel: Selector, cls: str) -> bool:
    """The class part of `matches`: exact, anchored regex, or any."""
    if sel.class_exact is not None:
        return cls == sel.class_exact
    if sel.class_regex in (".*", None):
        return True
    return _pattern(sel.class_regex).match(cls) is not None


def python_compiles(sel: Selector) -> bool:
    """Whether Python's re reads every regex of `sel` as written.  Spark
    compiles them as Java regexes, whose syntax Python's only partly
    shares: `\\p{Lower}` and `(?<name>...)` do not compile, and a Java
    class intersection `[a-z&&[^b]]` compiles to another meaning, which
    Python flags with a FutureWarning."""
    rx = [sel.class_regex] if sel.class_exact is None and sel.class_regex not in (".*", None) else []
    rx += [v for _, op, v in sel.labels + sel.attributes if op == "~" and v != ".*"]
    with warnings.catch_warnings():
        warnings.simplefilter("error", FutureWarning)
        try:
            for r in rx:
                _pattern(r)
        except (re.error, FutureWarning):
            return False
    return True


@functools.lru_cache(maxsize=1024)
def _pattern(regex: str) -> re.Pattern:
    return re.compile(_anchor(regex))


def metamatch_predicate(
    selector: str | Selector,
    class_col: str = "class",
    labels_col: str = "labels",
    attrs_col: str = "attributes",
) -> Column:
    """METAMATCH's matcher as a Column (MetadataSelectorMatcher.java:
    145-248). Standard form `cls{k=v}`: k is looked up in labels first,
    falling back to attributes only when the LABEL is absent (a present
    but mismatching label fails even if the attribute would match); an
    empty exact value `k=` requires k absent from both maps. Extended
    form `cls{..}{..}`: label clauses check labels only, attribute
    clauses attributes only, absent checks scoped to their own map."""
    sel = parse_selector(selector) if isinstance(selector, str) else selector
    if sel.class_exact is not None:
        pred = F.col(class_col) == sel.class_exact
    elif sel.class_regex in (".*", None):
        pred = F.lit(True)
    else:
        pred = F.col(class_col).rlike(_anchor(sel.class_regex))

    def one(entry: Column, op: str, val: str) -> Column:
        if op == "=":
            return entry.isNotNull() & (entry == val)
        return entry.isNotNull() & entry.rlike(_anchor(val))

    if sel.extended:
        for col_name, clauses in ((labels_col, sel.labels), (attrs_col, sel.attributes)):
            for key, op, val in clauses:
                e = F.element_at(F.col(col_name), key)
                if op == "=" and val == "":
                    pred = pred & e.isNull()
                else:
                    pred = pred & one(e, op, val)
    else:
        for key, op, val in sel.labels:
            lab = F.element_at(F.col(labels_col), key)
            att = F.element_at(F.col(attrs_col), key)
            if op == "=" and val == "":
                pred = pred & lab.isNull() & att.isNull()
            else:
                pred = pred & one(F.coalesce(lab, att), op, val)
    return pred


def selector_of(cls: str, labels: dict | None) -> str:
    """The selector of a class and a labels map, as FETCH, FIND and
    METASET take them (FETCH.java:101-141): a value with a `~` prefix is
    a regex clause; one with a `=` prefix, or any other value, is exact.
    Names and values are URL-encoded like to_selector, so a `,` or a
    brace inside a value stays part of it; the class is kept as given."""
    enc = functools.partial(urllib.parse.quote, safe="")
    clauses = []
    for k, v in (labels or {}).items():
        v = str(v)
        op = "~" if v.startswith("~") else "="
        clauses.append(f"{enc(str(k))}{op}{enc(v[1:] if v[:1] in ('~', '=') else v)}")
    return f"{cls}{{{','.join(clauses)}}}"


def to_selector(cls: str, labels: dict[str, str] | None = None, exact: bool = True) -> str:
    """TOSELECTOR (TOSELECTOR.java:30): (class, labels) → selector string,
    URL-encoding names/values like the reference (inverse of
    parse_selector for exact matches)."""
    enc = urllib.parse.quote
    body = ",".join(f"{enc(k, safe='')}={enc(v, safe='')}" for k, v in sorted((labels or {}).items()))
    prefix = "=" if exact and (cls.startswith("~") or cls.startswith("=")) else ""
    return f"{prefix}{enc(cls, safe='.~=')}{{{body}}}"
