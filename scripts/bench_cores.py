"""Core-scaling probe (r7 verdict #2): the decade probe (SCALE.md)
scaled ROWS at fixed cores; this scales CORES at fixed rows.

Runs the bench HEADLINE tier (--tier headline: the extended tier's
deliberately-degenerate configurations, e.g. emb_semantic_dedup's
random one-cell centroids, would dominate a low-core run — measured:
~40 min of interpreted dot products at local[4]/sf1) at a fixed scale
factor (default .cache/sf1, ~6M-row lineitem) on local[4/8/16/32] —
each core count in a FRESH subprocess (a SparkSession's master is
fixed for the JVM's lifetime) using bench.py's own timing discipline
(warm-up pass, then --runs steady passes, per-query medians,
build/exec split). Reports
per-query parallel efficiency E(c) = (T_exec(4) * 4) / (T_exec(c) * c)
relative to the 4-core run — EXEC time only, because plan build is
driver-side and constant by construction (the decade probe quantified
it; a core-scaling number polluted by it would understate every query).

Writes docs/history/BENCH_CORES_r{N}.json and prints a markdown table for SCALE.md.

Usage: python scripts/bench_cores.py [--sf-dir DIR] [--cores 4,8,16,32]
       [--runs 3] [--out docs/history/BENCH_CORES_r8.json]
Run on an idle box (same rule as bench.py — concurrent load reads as
fake serial fractions).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _steal():
    """(steal_jiffies, total_jiffies) from /proc/stat — this probe's box
    shows bursty hypervisor CPU steal (3-13% under load, r10), and a
    per-point steal fraction in the artifact is what separates a real
    scaling penalty from a contention storm."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except Exception:
        return 0, 0


def run_one(cores: int, sf_dir: str, runs: int) -> dict:
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=sf_dir,
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_DRIVER_MEMORY="24g",
    )
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), "--runs", str(runs), "--tier", "headline"],
        capture_output=True,
        text=True,
        env=env,
        cwd=REPO,
    )
    if r.returncode != 0:
        raise RuntimeError(f"bench.py at local[{cores}] failed:\n{r.stderr[-3000:]}")
    return json.loads(r.stdout.strip().splitlines()[-1])


def run_one_steal_tracked(cores: int, sf_dir: str, runs: int) -> dict:
    s0, c0 = _steal()
    res = run_one(cores, sf_dir, runs)
    s1, c1 = _steal()
    res["steal_frac"] = round((s1 - s0) / max(1, c1 - c0), 4)
    return res


def main() -> None:
    ap = argparse.ArgumentParser(prog="bench_cores.py")
    ap.add_argument("--sf-dir", default=os.path.join(REPO, ".cache", "sf1"))
    ap.add_argument("--cores", default="4,8,16,32")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--out", default=os.path.join(REPO, "docs", "history", "BENCH_CORES_r8.json"))
    args = ap.parse_args()
    cores = [int(c) for c in args.cores.split(",")]

    results: dict[int, dict] = {}
    for c in cores:
        print(f"== local[{c}] @ {args.sf_dir} ...", file=sys.stderr, flush=True)
        results[c] = run_one_steal_tracked(c, args.sf_dir, args.runs)
        print(
            f"   total {results[c]['value']}s (exec {results[c]['exec_value']}s, "
            f"steal {results[c]['steal_frac']:.1%})",
            file=sys.stderr,
            flush=True,
        )

    base = cores[0]
    names = list(results[base]["exec"])
    table = {}
    for n in names:
        row = {}
        for c in cores:
            t = results[c]["exec"].get(n)
            # only set present cells so the markdown formatter's .get
            # default applies to a missing query (a stored None under
            # exec_{c} made f"{None:.2f}" raise AFTER the full run)
            if t is not None:
                row[f"exec_{c}"] = t
            if t and c != base and n in results[base]["exec"]:
                row[f"eff_{c}"] = round(results[base]["exec"][n] * base / (t * c), 2)
        table[n] = row
    out = {
        "sf_dir": args.sf_dir,
        "cores": cores,
        "runs": args.runs,
        "totals": {c: results[c]["value"] for c in cores},
        "exec_totals": {c: results[c]["exec_value"] for c in cores},
        "steal_frac": {c: results[c].get("steal_frac") for c in cores},
        "build_totals": {c: results[c]["build_value"] for c in cores},
        "per_query": table,
        "raw": {c: results[c] for c in cores},
    }
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
    print(f"wrote {args.out}", file=sys.stderr)

    # markdown table for SCALE.md
    hdr = "| query | " + " | ".join(f"exec@{c}" for c in cores) + " | " + " | ".join(
        f"eff@{c}" for c in cores[1:]
    ) + " |"
    print(hdr)
    print("|" + "---|" * (1 + len(cores) + len(cores) - 1))
    for n in names:
        row = table[n]
        cells = [f"{row.get(f'exec_{c}', float('nan')):.2f}" for c in cores]
        effs = [f"{row.get(f'eff_{c}', float('nan')):.2f}" for c in cores[1:]]
        print(f"| {n} | " + " | ".join(cells) + " | " + " | ".join(effs) + " |")
    tot = [out["exec_totals"][c] for c in cores]
    print(
        f"| **exec total** | " + " | ".join(f"{t:.2f}" for t in tot) + " | "
        + " | ".join(f"{tot[0] * base / (tot[i + 1] * c):.2f}" for i, c in enumerate(cores[1:]))
        + " |"
    )


if __name__ == "__main__":
    main()
