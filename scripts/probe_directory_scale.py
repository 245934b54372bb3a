"""Directory-cardinality probe at 10^6 distinct series (r8 verdict #2).

Every other fixture is point-heavy/series-light; this probe runs the
metadata-axis surface — FIND / FINDSTATS (exact + HLL, and WarpScript
FIND / FINDSTATS on the driver's series directory) / directory-
filtered FETCH / gskip-gcount / METASET's gts.limit / the series
accessors' driver cap — against .cache/series1m (scripts/
make_scale_fixtures.py series1m: 10^6 series, 3 points each) and
records wall-clock + plan shape + cap behavior. This is the axis
`continuum/store/Directory.java` (HLL stats, streaming metadata
iterators) exists for in the reference.

Usage: python scripts/probe_directory_scale.py [--out docs/history/DIRSCALE_r9.json]
Prints a markdown table for SCALE.md, writes the JSON artifact.
"""

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

FIXTURE = os.path.join(REPO, ".cache", "series1m")


def timed(fn, *a, **kw):
    t0 = time.perf_counter()
    out = fn(*a, **kw)
    return out, round(time.perf_counter() - t0, 3)


def main():
    out_path = os.path.join(REPO, "docs", "history", "DIRSCALE_r9.json")
    if "--out" in sys.argv:
        out_path = sys.argv[sys.argv.index("--out") + 1]
    if not os.path.exists(os.path.join(FIXTURE, "events.parquet")):
        sys.exit("fixture missing — run: python scripts/make_scale_fixtures.py series1m")

    from warp10_platform_spark.session import get_spark
    from warp10_platform_spark.sources.directory import (
        build_directory,
        directory_table,
        fetch_filtered,
        fetch_gskip_gcount,
        find,
        findstats,
    )
    from warp10_platform_spark.sources.tables import events_points

    spark = get_spark("directory-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    res: dict = {"fixture": FIXTURE, "n_series_expected": 1_000_000}

    # one-time directory build (ingest-time cost in a real deployment)
    _, res["directory_build_secs"] = timed(
        lambda: build_directory(events_points(spark, FIXTURE)).write.mode("overwrite").format("noop").save()
    )
    directory = directory_table(spark, FIXTURE)  # materialized parquet
    res["directory_rows"] = directory.count()

    # FIND: regex selector over 10^6 series, directory scan only
    f = find(directory, "~events\\.p.*{}")
    res["find_matches"], res["find_secs"] = timed(f.count)
    plan = f._jdf.queryExecution().executedPlan().toString()
    res["find_plan_reads_directory_only"] = (
        "directory_" in plan and "events.parquet" not in plan
    )

    # FINDSTATS exact vs HLL on the full directory
    (_, res["findstats_exact_secs"]) = timed(lambda: findstats(directory).collect())
    hll_rows, res["findstats_hll_secs"] = timed(lambda: findstats(directory, approx=True).collect())
    res["findstats_hll_n_series"] = hll_rows[0]["n_series"]
    res["findstats_hll_rel_err"] = round(abs(hll_rows[0]["n_series"] - res["directory_rows"]) / res["directory_rows"], 4)

    # FIND and FINDSTATS through WarpScript, the route /exec takes: a
    # lookup in the points layout's series directory, built once first
    from warp10_platform_spark.sources.tables import points_layout
    from warp10_platform_spark.warpscript.functions import REGISTRY
    from warp10_platform_spark.warpscript.stack import WarpScriptStack

    def warpscript(op, arg):
        st = WarpScriptStack(spark, FIXTURE)
        st.push(arg)
        REGISTRY[op](st)
        return st.pop().collect()

    _, res["series_directory_build_secs"] = timed(points_layout, spark, FIXTURE)
    rows, res["ws_find_secs"] = timed(warpscript, "FIND", ["~events\\.p.*", {}])
    res["ws_find_matches"] = len(rows)
    rows, res["ws_findstats_secs"] = timed(warpscript, "FINDSTATS", "~events\\.p.*{}")
    res["ws_findstats_n_series"] = rows[0]["n_series"]

    # directory-filtered FETCH: broadcast semi-join in front of the scan
    pts = events_points(spark, FIXTURE)
    ff = fetch_filtered(pts, directory, "events.purchase{}")
    res["fetch_filtered_rows"], res["fetch_filtered_secs"] = timed(ff.count)
    fplan = ff._jdf.queryExecution().executedPlan().toString()
    res["fetch_filtered_broadcast_semijoin"] = "BroadcastHashJoin" in fplan and "LeftSemi" in fplan

    # gskip/gcount: series-budget window stays directory-sized
    gg = fetch_gskip_gcount(pts, directory, "~events\\..*{}", gskip=500_000, gcount=100)
    res["gskip_rows"], res["gskip_secs"] = timed(gg.count)

    # METASET gts.limit at DEFAULT cap (100k) — a 200k-series selector
    # (events.click{}) must fail with the reference's message; the same
    # selector under a raised cap succeeds (the boundary is the cap, not
    # the selector)
    st = WarpScriptStack(spark, FIXTURE)
    st.push(["t", "events.click", {}, float("nan"), float("nan"), 3600000000, 60000000])
    t0 = time.perf_counter()
    try:
        REGISTRY["METASET"](st)
        res["metaset_default_cap_fired"] = False
    except ValueError as e:
        res["metaset_default_cap_fired"] = "exceeded limit of 100000 Geo Time Series" in str(e)
    res["metaset_cap_check_secs"] = round(time.perf_counter() - t0, 3)

    st2 = WarpScriptStack(spark, FIXTURE)
    st2.attributes = {"maxgts": 1_000_000}
    st2.push(["t", "events.click", {}, float("nan"), float("nan"), 3600000000, 60000000])
    blob, res["metaset_200k_raised_cap_secs"] = timed(lambda: (REGISTRY["METASET"](st2), st2.pop())[1])
    res["metaset_200k_raised_cap_ok"] = isinstance(blob, str) and len(blob) > 0

    # series accessor driver cap: VALUES over the 3M-point frame must
    # refuse (cap 1M) instead of collecting
    from warp10_platform_spark.core.frame import GTSFrame

    st3 = WarpScriptStack(spark, FIXTURE)
    st3.push(GTSFrame.fetch(pts))
    t0 = time.perf_counter()
    try:
        REGISTRY["VALUES"](st3)
        res["accessor_cap_fired"] = False
    except MemoryError:
        res["accessor_cap_fired"] = True
    res["accessor_cap_check_secs"] = round(time.perf_counter() - t0, 3)

    with open(out_path, "w") as fh:
        json.dump(res, fh, indent=1)
    print(f"wrote {out_path}", file=sys.stderr)

    print("| probe | result | secs |")
    print("|---|---|---|")
    for k in (
        "directory_build_secs directory_rows find_matches find_secs "
        "find_plan_reads_directory_only findstats_exact_secs findstats_hll_secs "
        "findstats_hll_rel_err series_directory_build_secs ws_find_matches ws_find_secs "
        "ws_findstats_n_series ws_findstats_secs fetch_filtered_rows fetch_filtered_secs "
        "fetch_filtered_broadcast_semijoin gskip_rows gskip_secs "
        "metaset_default_cap_fired metaset_cap_check_secs "
        "metaset_200k_raised_cap_ok metaset_200k_raised_cap_secs "
        "accessor_cap_fired accessor_cap_check_secs"
    ).split():
        print(f"| {k} | {res[k]} | |")


if __name__ == "__main__":
    main()
