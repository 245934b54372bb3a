"""Where an in-process /exec request spends its time, without the server.

    python scripts/exec_profile.py [--sf DIR] [--seed 7] [--requests 300]
        [--threads 1 2] [--profile N]

Runs the first N seeded dashboard scripts (perfbench.gen.script_stream)
in this process, each as the server answers one: WarpScriptStack.exec,
then the JSON render of the stack.  It prints one JSON line per thread
count with the requests per second when that many threads share the
scripts, then one line with the mean ms per request spent in FETCH's
driver lookup and scan (SeriesDirectory.pick, which FETCH runs to choose
its route, and PointsLayout.scan), in the numpy kernels (gts_kernels
bucketize, map_window and reduce), in the render (__main__._jsonable
plus json.dumps) and in all (one thread, each layer timed by wrapping
it).  With --profile N it also prints the N functions of most own time
in a cProfile of one more single-threaded pass.  Warm-up: the layout
build and 10 scripts of another stream.  Run it on an idle box.
"""

from __future__ import annotations

import argparse
import cProfile
import functools
import json
import os
import pstats
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main(argv=None) -> int:
    from bench import SF_DIR

    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=SF_DIR, help="data directory (default: bench.py's, $SPARK_GRAFT_SF_DIR)")
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--requests", type=int, default=300)
    ap.add_argument("--threads", type=int, nargs="+", default=[1, 2])
    ap.add_argument("--profile", type=int, default=0, metavar="N")
    args = ap.parse_args(argv)

    from perfbench import gen

    from warp10_platform_spark import __main__ as cli
    from warp10_platform_spark.operators import gts_kernels
    from warp10_platform_spark.session import get_spark
    from warp10_platform_spark.sources.directory import SeriesDirectory
    from warp10_platform_spark.sources.tables import PointsLayout, points_layout
    from warp10_platform_spark.warpscript import WarpScriptStack

    spark = get_spark("exec-profile")
    spark.sparkContext.setLogLevel("ERROR")
    points_layout(spark, args.sf)
    stream = gen.script_stream(args.seed, 0)
    texts = [next(stream).text() for _ in range(args.requests)]

    def request(text: str) -> None:
        st = WarpScriptStack(spark, args.sf)
        st.exec(text)
        json.dumps([cli._jsonable(v, None, False) for v in reversed(st.stack)])

    def run(threads: int) -> float:
        """Seconds to answer every script with `threads` threads."""
        todo, lock = iter(texts), threading.Lock()

        def worker():
            while True:
                with lock:
                    text = next(todo, None)
                if text is None:
                    return
                request(text)

        pool = [threading.Thread(target=worker) for _ in range(threads)]
        t0 = time.perf_counter()
        for t in pool:
            t.start()
        for t in pool:
            t.join()
        return time.perf_counter() - t0

    warm = gen.script_stream(-1, 0)
    for _ in range(10):
        request(next(warm).text())
    for n in args.threads:
        print(json.dumps({"threads": n, "requests": len(texts),
                          "requests_per_s": round(len(texts) / run(n), 1)}), flush=True)

    spent = {"scan": 0.0, "kernels": 0.0, "render": 0.0}

    def timed(layer, fn):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                spent[layer] += time.perf_counter() - t0
        return wrapper

    patches = [(SeriesDirectory, "pick", "scan"), (PointsLayout, "scan", "scan"), (cli, "_jsonable", "render"),
               *((gts_kernels, k, "kernels") for k in ("bucketize", "map_window", "reduce"))]
    saved = [(owner, name, getattr(owner, name)) for owner, name, _ in patches]
    for owner, name, layer in patches:
        setattr(owner, name, timed(layer, getattr(owner, name)))
    dumps = json.dumps
    json.dumps = timed("render", dumps)
    try:
        total = run(1)
    finally:
        json.dumps = dumps
        for owner, name, fn in saved:
            setattr(owner, name, fn)
    ms = {f"{k}_ms": round(v * 1e3 / len(texts), 3) for k, v in spent.items()}
    print(json.dumps({"threads": 1, **ms, "all_ms": round(total * 1e3 / len(texts), 3)}), flush=True)

    if args.profile:
        prof = cProfile.Profile()
        prof.enable()  # on this thread only, as cProfile profiles
        for text in texts:
            request(text)
        prof.disable()
        pstats.Stats(prof, stream=sys.stdout).sort_stats("tottime").print_stats(args.profile)
    return 0


if __name__ == "__main__":
    sys.exit(main())
