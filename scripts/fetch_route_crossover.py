"""Where FETCH's driver route stops beating Spark: the measurement behind
warpscript/functions.py's _LOCAL_MAX_BYTES.

    python scripts/fetch_route_crossover.py [--sf DIR ...] [--scripts N]
        [--selections one two all]

For each fixture and class selection (one class, two, all five) it runs
the same N seeded dashboard scripts (perfbench.gen, seed 7), rewritten to
that selection, on both routes in one process (patching the gate), the
order alternating per script, after 5 warm-up scripts per route.  Each
sample is one /exec answer: WarpScriptStack.exec plus the JSON render.
It prints one JSON line per (fixture, selection): the median compressed
bytes of the row groups the series directory picks, which the gate
compares with _LOCAL_MAX_BYTES, the seconds a fresh build of the
fixture's series directory takes (the one-time cost the driver route adds
when a layout is first opened), the median row groups and rows the driver
route's scan decodes (medians over every script of the selection,
warm-up included) and each route's median and quartiles in ms.  Run it on
an idle box.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SELECTIONS = {"one": "events.click", "two": "~events\\.(click|view)", "all": "~events\\..*"}
WARMUP = 5


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", nargs="+", default=["/root/testdata/sf0.1", os.path.join(ROOT, ".cache", "sf1")])
    ap.add_argument("--scripts", type=int, default=30)
    ap.add_argument("--selections", nargs="+", choices=list(SELECTIONS), default=list(SELECTIONS))
    args = ap.parse_args(argv)

    from perfbench import gen

    from warp10_platform_spark.__main__ import _jsonable
    from warp10_platform_spark.session import get_spark
    from warp10_platform_spark.sources.directory import SeriesDirectory
    from warp10_platform_spark.sources.tables import PointsLayout, points_layout
    from warp10_platform_spark.warpscript import WarpScriptStack
    from warp10_platform_spark.warpscript import functions as WF

    read, decoded = PointsLayout._read, []
    pick, picked = SeriesDirectory.pick, []

    def counting(self, groups, columns):
        t = read(self, groups, columns)
        decoded.append((sum(len(g) for g in groups.values()), t.num_rows))
        return t

    def weighing(self, selectors):
        p = pick(self, selectors)
        picked.append(p.nbytes)
        return p

    PointsLayout._read = counting
    SeriesDirectory.pick = weighing
    spark = get_spark("fetch-route-crossover")
    spark.sparkContext.setLogLevel("ERROR")
    stream = gen.script_stream(7, 0)
    scripts = [next(stream) for _ in range(WARMUP + args.scripts)]

    def answer(sf, script, gate) -> float:
        WF._LOCAL_MAX_BYTES = gate
        t0 = time.perf_counter()
        st = WarpScriptStack(spark, sf)
        st.exec(script.text())
        json.dumps([_jsonable(v, None, False) for v in reversed(st.stack)])
        return (time.perf_counter() - t0) * 1e3

    for sf in args.sf:
        layout = points_layout(spark, sf)
        t0 = time.perf_counter()
        SeriesDirectory(layout.fragments)
        build_s = time.perf_counter() - t0
        for name in args.selections:
            cls = SELECTIONS[name]
            ms = {"arrow": [], "spark": []}
            decoded.clear()
            picked.clear()
            for i, script in enumerate(scripts):
                script = dataclasses.replace(script, cls=cls)
                routes = [("arrow", 1 << 62), ("spark", 0)]
                for route, gate in routes if i % 2 else routes[::-1]:
                    t = answer(sf, script, gate)
                    if i >= WARMUP:
                        ms[route].append(t)
            q = {r: statistics.quantiles(v, n=4) for r, v in ms.items()}
            print(json.dumps({
                "sf": os.path.basename(sf), "selection": name,
                "picked_bytes": statistics.median(picked),
                "directory_build_s": round(build_s, 3),
                "row_groups_per_scan": statistics.median(g for g, _ in decoded),
                "rows_per_scan": statistics.median(n for _, n in decoded),
                **{f"{r}_ms": {"q1": round(x[0], 1), "median": round(x[1], 1), "q3": round(x[2], 1)}
                   for r, x in q.items()},
            }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
