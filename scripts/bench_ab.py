"""Interleaved paired A/B benchmark: HEAD vs a pinned prior commit.

The r6 verdict's top ask: cross-round perf claims must come from an
interleaved paired protocol on one box (the box drifts ±10-15 %
run-to-run, so isolated artifacts from different sessions are not
comparable). This script:

1. checks the baseline commit out into a git worktree (reused if present),
2. runs N pairs of full bench.py subprocesses, ALTERNATING order within
   each pair (H,B then B,H ...) so a monotone box drift cancels instead
   of biasing one side,
3. reports per-side totals, per-query medians-of-medians, paired deltas,
   and the measured drift band (spread of same-code totals across pairs),
4. writes the whole thing to docs/history/BENCH_AB_r{ROUND}.json.

Usage: python scripts/bench_ab.py [--pairs 4] [--baseline <commit>]
       (SPARK_GRAFT_SF_DIR selects the fixture; default sf0.1)

Run on an otherwise-idle box: concurrent Spark work inflates either side.

Use an EVEN pair count (default 4). The r7 session measured a consistent
POSITION effect: the first run of each pair is slower than the second
regardless of which code runs (page-cache / JVM-slot state left by the
previous pair) — with an odd pair count the orders don't balance and the
paired median absorbs the position bias instead of cancelling it.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# r9 final commit (pre-r10 state) — the pinned comparison point.
# (each round pins the previous round's close: r9 pinned d8aa260,
# r8 pinned 65aa281, r7 pinned eab8b3f.)
DEFAULT_BASELINE = "4069fe4"


def run_bench(workdir: str) -> dict:
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    r = subprocess.run(
        [sys.executable, "bench.py"], cwd=workdir, env=env,
        capture_output=True, text=True, timeout=1800,
    )
    for line in reversed(r.stdout.strip().splitlines()):
        try:
            return json.loads(line)
        except json.JSONDecodeError:
            continue
    raise RuntimeError(f"no JSON line from bench in {workdir}:\n{r.stderr[-2000:]}")


def main() -> None:
    ap = argparse.ArgumentParser(prog="bench_ab.py")
    ap.add_argument("--pairs", type=int, default=4)
    ap.add_argument("--baseline", default=DEFAULT_BASELINE)
    ap.add_argument("--worktree", default="/tmp/bench_ab_baseline")
    args = ap.parse_args()

    want = subprocess.run(
        ["git", "rev-parse", args.baseline], cwd=REPO,
        capture_output=True, text=True, check=True,
    ).stdout.strip()
    if os.path.exists(os.path.join(args.worktree, "bench.py")):
        have = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=args.worktree,
            capture_output=True, text=True, check=True,
        ).stdout.strip()
        if have != want:
            # A stale worktree would silently measure the WRONG baseline
            # while the artifact records args.baseline — recreate it.
            subprocess.run(
                ["git", "worktree", "remove", "--force", args.worktree],
                cwd=REPO, check=True,
            )
    if not os.path.exists(os.path.join(args.worktree, "bench.py")):
        subprocess.run(
            ["git", "worktree", "add", "--detach", args.worktree, args.baseline],
            cwd=REPO, check=True,
        )
    head_commit = subprocess.run(
        ["git", "rev-parse", "--short", "HEAD"], cwd=REPO,
        capture_output=True, text=True, check=True,
    ).stdout.strip()

    pairs = []
    for i in range(args.pairs):
        order = [("head", REPO), ("base", args.worktree)]
        if i % 2 == 1:
            order.reverse()
        entry = {}
        for side, wd in order:
            print(f"pair {i + 1}/{args.pairs}: running {side} ...", flush=True)
            entry[side] = run_bench(wd)
        entry["order"] = [s for s, _ in order]
        entry["delta_total"] = round(entry["head"]["value"] - entry["base"]["value"], 3)
        pairs.append(entry)
        print(
            f"  head={entry['head']['value']}s base={entry['base']['value']}s "
            f"delta={entry['delta_total']}s", flush=True,
        )

    head_totals = [p["head"]["value"] for p in pairs]
    base_totals = [p["base"]["value"] for p in pairs]
    # Drift band: same-code spread across the session — the noise floor
    # any cross-version delta must clear to mean anything.
    drift = round(
        max(
            max(head_totals) - min(head_totals),
            max(base_totals) - min(base_totals),
        ),
        3,
    )
    qnames = sorted(pairs[0]["head"]["queries"])
    per_query = {
        n: {
            "head_med": round(statistics.median(p["head"]["queries"][n] for p in pairs), 3),
            "base_med": round(
                statistics.median(p["base"]["queries"].get(n, float("nan")) for p in pairs), 3
            ),
            "paired_deltas": [
                round(p["head"]["queries"][n] - p["base"]["queries"].get(n, float("nan")), 3)
                for p in pairs
            ],
        }
        for n in qnames
        if all(n in p["base"].get("queries", {}) for p in pairs)
    }
    out = {
        "protocol": "interleaved paired A/B, alternating order, median-of-3 bench per run",
        "head_commit": head_commit,
        "baseline_commit": args.baseline,
        "pairs": args.pairs,
        "head_totals": head_totals,
        "base_totals": base_totals,
        "median_delta_total": round(
            statistics.median(p["delta_total"] for p in pairs), 3
        ),
        "drift_band_sec": drift,
        "per_query": per_query,
        "runs": pairs,
    }
    round_no = os.environ.get("ROUND", "9")
    path = os.path.join(REPO, "docs", "history", f"BENCH_AB_r{round_no}.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(
        f"\nwrote {path}\nhead {head_totals} vs base {base_totals} "
        f"(median paired delta {out['median_delta_total']}s, drift band {drift}s)"
    )


if __name__ == "__main__":
    main()
