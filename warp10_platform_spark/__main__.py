"""CLI: execute a WarpScript file against the parquet lake — the
reference's `POST /api/v0/exec` surface (EgressExecHandler.java:214) as a
command line.

    python -m warp10_platform_spark script.mc2 [--sf-dir DIR]
    echo "1 2 +" | python -m warp10_platform_spark -

Prints the final stack as a JSON array, top of stack first — the exact
response shape of /exec. GTS stack values (lazy DataFrames) are only
materialized HERE, at the response boundary, mirroring how the reference
streams the stack after the script completes; `--explain` prints their
physical plans instead of collecting (the scale-friendly dry run).
Every GTS renders through one function, `_render_arrow`: an Arrow-backed
frame from its points, a Spark frame from its render columns collected
with `toArrow()`.
"""

from __future__ import annotations

import argparse
import json
import sys


def _series_json(gf, limit: int | None):
    """GTSFrame → reference /exec GTS JSON (_render_arrow), from its Arrow
    points or from the Spark frame's render columns collected as Arrow."""
    if gf.local:
        return _render_arrow(gf.arrow, gf.value_col, limit)
    from warp10_platform_spark.operators.gts_kernels import ArrowGTS

    df = gf.df
    cols = ("class", "labels_key", "labels", "attributes", "ts", "lat", "lon", "elev", "v_string",
            *_value_columns(df.columns, gf.value_col))
    df = df.select(*(c for c in dict.fromkeys(cols) if c in df.columns))
    if limit:
        # orderBy + limit plans as a one-stage top-N
        df = df.orderBy("class", "labels_key", "ts").limit(limit)
    # without a limit every row reaches the driver anyway: sorting it there
    # saves the range exchange (and its sampling job) a global orderBy plans
    return _render_arrow(ArrowGTS.from_table(df.toArrow()), gf.value_col, limit)


def _value_columns(names, value_col: str | None) -> tuple:
    """The columns of `names` a point's number comes from, the first
    non-null winning: the value column, or by default v_double, v_long,
    v_bool."""
    if value_col not in (None, "v_double") and value_col in names:
        return (value_col,)
    return tuple(c for c in ("v_double", "v_long", "v_bool") if c in names)


def _render_arrow(points, value_col: str | None, limit: int | None) -> list[dict]:
    """An ArrowGTS's first `limit` points in (series, ts) order as one
    object per series, {"c", "l", "a", "v": [[tick, (lat, lon,) (elev,)
    value], ...]} (GTSHelper JSON serialization order), rendered one
    series at a time from slices of its rows, each series' maps converted
    once.  A string value wins, else the _value_columns' number as a
    double."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    points = points.ordered()
    rows, sid, names = points.rows, points.sid, points.schema.names
    if limit:
        rows, sid = rows.slice(0, limit), sid[:limit]
    # unsafe casts: a long above 2^53 rounds, as Spark's cast does, not raises
    typed = [pc.cast(rows[c], pa.float64(), safe=False) for c in _value_columns(names, value_col)]
    vnum = pc.coalesce(*typed) if typed else pa.nulls(len(rows), pa.float64())
    none = [None] * len(rows)
    lat, lon, elev, vstr = (rows[c].to_pylist() if c in names and rows[c].null_count < len(rows) else none
                            for c in ("lat", "lon", "elev", "v_string"))
    pts = []
    for t, la, lo, e, s, x in zip(rows["ts"].to_pylist(), lat, lon, elev, vstr, vnum.to_pylist()):
        point = [t, la, lo] if la is not None and lo is not None else [t]
        if e is not None:
            point.append(e)
        point.append(s if s is not None else x)
        pts.append(point)
    series = points.series
    n = np.bincount(sid, minlength=series.num_rows)
    ends = np.cumsum(n)
    cls = series["class"].to_pylist()
    labels, attributes = (_dicts(series[c]) if c in names else [{}] * series.num_rows
                          for c in ("labels", "attributes"))
    return [{"c": cls[i], "l": labels[i], "a": attributes[i], "v": pts[ends[i] - n[i]:ends[i]]}
            for i in np.flatnonzero(n)]


def _dicts(maps) -> list[dict]:
    """A map column as dicts, a null map as {}, from its flat keys and
    items (MapArray.to_pylist builds a tuple per entry, 3x slower)."""
    m = maps.combine_chunks()
    at, keys, items = m.offsets.to_pylist(), m.keys.to_pylist(), m.items.to_pylist()
    out = [dict(zip(keys[a:b], items[a:b])) for a, b in zip(at, at[1:])]
    return [d if ok else {} for d, ok in zip(out, m.is_valid().to_pylist())] if m.null_count else out


def _jsonable(v, limit: int | None, explain: bool):
    from pyspark.sql import DataFrame

    from warp10_platform_spark.core.frame import GTSFrame

    if isinstance(v, GTSFrame):
        if explain and v.local:
            # answered on the driver: no Spark plan exists to show
            return {"gts_route": "arrow", "rows": v.arrow.num_rows}
        if explain:
            return {"gts_plan": v.df._jdf.queryExecution().executedPlan().toString()}
        return _series_json(v, limit)
    if isinstance(v, DataFrame):
        # analytics results that are tabular rather than GTS-shaped
        # (DTW pair matrices, outlier tables...) serialize as rows —
        # materialized only HERE, at the response boundary
        if explain:
            return {"plan": v._jdf.queryExecution().executedPlan().toString()}
        rows = v.limit(limit).collect() if limit else v.collect()
        return [
            {k: _jsonable(x, limit, explain) for k, x in r.asDict(recursive=True).items()}
            for r in rows
        ]
    if isinstance(v, (bytes, bytearray)):
        import base64

        return {"bytes": base64.b64encode(bytes(v)).decode()}
    if isinstance(v, set):
        return sorted(_jsonable(x, limit, explain) for x in v)
    if isinstance(v, list):
        return [_jsonable(x, limit, explain) for x in v]
    if isinstance(v, dict):
        return {str(k): _jsonable(x, limit, explain) for k, x in v.items()}
    if isinstance(v, (str, int, float, bool)) or v is None:
        return v
    return repr(v)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="python -m warp10_platform_spark",
        description="Run a WarpScript file against the parquet lake (the /exec surface).",
    )
    ap.add_argument("script", nargs="?", default=None,
                    help="WarpScript file, or '-' for stdin (omit with -i)")
    ap.add_argument(
        "--interactive", "-i", action="store_true",
        help="line-by-line REPL on one persistent stack (the reference's "
             "interactive mode, continuum/egress/EgressInteractiveHandler"
             ".java); on EOF the final stack prints as JSON",
    )
    ap.add_argument(
        "--sf-dir",
        default=None,
        help="data directory (default: $SPARK_GRAFT_SF_DIR or /root/testdata/sf0.001)",
    )
    ap.add_argument("--limit", type=int, default=None, help="max points collected per GTS stack value")
    ap.add_argument("--explain", action="store_true", help="print physical plans of GTS results instead of collecting")
    ap.add_argument("--pretty", action="store_true", help="indent the JSON response")
    args = ap.parse_args(argv)

    import os

    sf_dir = args.sf_dir or os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    if args.script is None and not args.interactive:
        ap.error("a script is required unless --interactive is given")

    from warp10_platform_spark.session import get_spark
    from warp10_platform_spark.warpscript import WarpScriptStack

    spark = get_spark("warp10-platform-spark-exec")
    spark.sparkContext.setLogLevel("ERROR")
    st = WarpScriptStack(spark, sf_dir)

    if args.interactive:
        # Reference interactive mode (EgressInteractiveHandler.java —
        # telnet REPL over one MemoryWarpScriptStack, BootstrapManager
        # seeding): each line execs on the SAME stack (errors report and
        # the session continues); EOF prints the final stack as the
        # /exec JSON payload. A script argument execs first, then the
        # REPL opens on the resulting stack (like `python -i script.py`).
        from warp10_platform_spark.warpscript.tokenizer import incomplete

        if args.script is not None:
            if args.script == "-":
                ap.error("cannot combine --interactive with a stdin script ('-')")
            with open(args.script) as f:
                seed = f.read()
            try:
                st.exec(seed)
            except Exception as e:  # noqa: BLE001
                # like `python -i script.py`: report, then still open the
                # REPL on whatever stack state the script left behind
                print(
                    json.dumps({"error": f"{type(e).__name__}: {e}", "stack_depth": len(st.stack)}),
                    file=sys.stderr,
                )
        tty = sys.stdin.isatty()
        buf: list[str] = []
        while True:
            # Multi-line constructs buffer until lexically complete —
            # the reference REPL keeps parser state across lines and its
            # prompt reports isInMultiline/macroDepth the same way.
            if tty:
                if buf:
                    pending, depth, in_ml = incomplete("\n".join(buf))
                    prompt = f"ws{'*' if in_ml else '|'}{depth or ''}> "
                else:
                    prompt = "ws> "
            else:
                prompt = ""
            try:
                line = input(prompt)
            except EOFError:
                break
            if not line.strip() and not buf:
                continue
            buf.append(line)
            fragment = "\n".join(buf)
            try:
                pending, _depth, _ml = incomplete(fragment)
            except SyntaxError as e:
                buf.clear()
                print(json.dumps({"error": f"SyntaxError: {e}", "stack_depth": len(st.stack)}),
                      file=sys.stderr)
                continue
            if pending:
                continue
            buf.clear()
            try:
                st.exec(fragment)
                if tty:
                    print(f"[depth {len(st.stack)}]")
            except Exception as e:  # noqa: BLE001
                print(
                    json.dumps({"error": f"{type(e).__name__}: {e}", "stack_depth": len(st.stack)}),
                    file=sys.stderr,
                )
        if buf:
            print(json.dumps({"error": "SyntaxError: EOF inside open macro/multiline construct",
                              "stack_depth": len(st.stack)}), file=sys.stderr)
        response = [_jsonable(v, args.limit, args.explain) for v in reversed(st.stack)]
        print(json.dumps(response, indent=2 if args.pretty else None))
        return 0

    text = sys.stdin.read() if args.script == "-" else open(args.script).read()
    try:
        st.exec(text)
    except Exception as e:  # noqa: BLE001
        # the /exec contract: errors come back as a structured payload
        # (X-Warp10-Error-Message header in the reference), not a traceback
        print(
            json.dumps({"error": f"{type(e).__name__}: {e}", "stack_depth": len(st.stack)}),
            file=sys.stderr,
        )
        return 1
    # /exec responds with the stack serialized top-first
    response = [_jsonable(v, args.limit, args.explain) for v in reversed(st.stack)]
    print(json.dumps(response, indent=2 if args.pretty else None))
    return 0


if __name__ == "__main__":
    sys.exit(main())
