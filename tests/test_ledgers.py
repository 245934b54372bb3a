"""Ledger self-consistency: the evidence artifacts must cover exactly
the registered query set, so a stale artifact can never silently omit a
query again (round-5 judge finding: PLANAUDIT_r5 was one query short).

The NEWEST PLANAUDIT_r*.md and MIRROR_r*.txt in docs/history/ are the
load-bearing ones — this test fails if either disagrees with
queries(), which forces regeneration whenever the query set changes."""

from __future__ import annotations

import glob
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HISTORY = os.path.join(REPO, "docs", "history")


def _newest(pattern: str) -> str:
    paths = glob.glob(os.path.join(HISTORY, pattern))
    assert paths, f"no ledger matching {pattern}"
    def round_no(p):
        m = re.search(r"_r(\d+)", os.path.basename(p))
        return int(m.group(1)) if m else -1
    return max(paths, key=round_no)


def _registered() -> set:
    from warp10_platform_spark.queries import QUERIES

    return set(QUERIES)


def test_planaudit_covers_registered_queries():
    path = _newest("PLANAUDIT_r*.md")
    text = open(path).read()
    names = set()
    for line in text.splitlines():
        m = re.match(r"\|\s*([a-z0-9_]+)\s*\|", line)
        if m and m.group(1) not in ("query", "none"):
            names.add(m.group(1))
    registered = _registered()
    missing = registered - names
    stale = names - registered
    assert not missing and not stale, (
        f"{os.path.basename(path)} out of sync: missing={sorted(missing)[:5]} "
        f"stale={sorted(stale)[:5]} — regenerate with scripts/plan_audit.py"
    )
    m = re.search(r"Queries audited: (\d+)", text)
    assert m and int(m.group(1)) == len(registered)


def test_mirror_ledger_covers_registered_queries():
    path = _newest("MIRROR_r*.txt")
    names = {
        m.group(1)
        for m in re.finditer(r"^(?:PASS|NO_ORACLE|FAIL|ERR)\s+([a-z0-9_]+)", open(path).read(), re.M)
    }
    registered = _registered()
    missing = registered - names
    stale = names - registered
    assert not missing and not stale, (
        f"{os.path.basename(path)} out of sync: missing={sorted(missing)[:5]} "
        f"stale={sorted(stale)[:5]} — regenerate with scripts/driver_mirror.py"
    )


def test_mirror_ledger_all_pass():
    path = _newest("MIRROR_r*.txt")
    text = open(path).read()
    assert not re.search(r"^(FAIL|ERR)\s", text, re.M), f"{path} has failures"

