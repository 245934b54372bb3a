"""Mirror the driver's correctness harness as closely as possible:

- a PLAIN SparkSession (builder with master + shuffle partitions ONLY —
  none of session.py's configs), like the driver uses;
- sf0.01 data (driver gate scale);
- every queries() entry run, oracled entries compared to DuckDB
  (sorted columns, sorted rows, value compare with float tolerance).

Usage: python scripts/driver_mirror.py [--json FILE] [sf_dir] [query ...]
Prints one line per query: PASS / NO_ORACLE / FAIL(reason) / ERR(exc).
Ledgers are kept as docs/history/MIRROR_*_r<N>.txt (stdout) and
docs/history/CORRECTNESS_*.json (--json); tests/test_ledgers.py reads
the newest MIRROR_r<N>.txt there.
--json additionally writes a CORRECTNESS-style machine-diffable record:
{"meta": {sf_dir, mode, tz, ansi, parts, full_run, when},
 "results": {name: {"status": ..., "secs": ..., "reason": ...}}}
so ledger top-ups carry their provenance in a diffable form instead of
hand-edited PASS lines (r7 verdict #8).
"""

import math
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def compare(sp, du, float_tol=1e-6, rel_tol=1e-6):
    if sorted(sp.columns) != sorted(du.columns):
        return f"schema {sorted(sp.columns)} vs {sorted(du.columns)}"
    cols = sorted(sp.columns)
    sp = sp[cols].sort_values(cols).reset_index(drop=True)
    du = du[cols].sort_values(cols).reset_index(drop=True)
    if len(sp) != len(du):
        return f"rows spark={len(sp)} duck={len(du)}"
    for c in cols:
        for i, (x, y) in enumerate(zip(sp[c].tolist(), du[c].tolist())):
            if x is None and y is None:
                continue
            if isinstance(x, float) or isinstance(y, float):
                fx = float(x) if x is not None else float("nan")
                fy = float(y) if y is not None else float("nan")
                if math.isnan(fx) and math.isnan(fy):
                    continue
                if not math.isclose(fx, fy, rel_tol=rel_tol, abs_tol=float_tol):
                    return f"{c}[{i}]: {x} != {y}"
            elif x != y:
                return f"{c}[{i}]: {x!r} != {y!r}"
    return None


def main():
    argv = list(sys.argv[1:])
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        if i + 1 >= len(argv) or argv[i + 1].startswith("-") or os.path.isdir(argv[i + 1]):
            sys.exit("usage: driver_mirror.py [--json FILE] [sf_dir] [query ...] — --json needs an output FILE")
        json_out = argv[i + 1]
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    from pyspark.sql import SparkSession

    # Adversarial-session knobs (r4/r5 sweep): MIRROR_TZ (session
    # timezone), MIRROR_ANSI (true/false), MIRROR_PARTS (shuffle
    # partitions, e.g. the prime 7) — results must be invariant to all.
    parts = os.environ.get("MIRROR_PARTS", "16")
    builder = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '16')}]")
        .appName("driver-mirror")
        .config("spark.sql.shuffle.partitions", parts)
        .config("spark.driver.memory", "8g")
    )
    if os.environ.get("MIRROR_TZ"):
        builder = builder.config("spark.sql.session.timeZone", os.environ["MIRROR_TZ"])
    if os.environ.get("MIRROR_ANSI"):
        builder = builder.config("spark.sql.ansi.enabled", os.environ["MIRROR_ANSI"])
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    import duckdb

    con = duckdb.connect()
    # At sf>=1 DuckDB's default memory limit (80% of RAM) lets the oracle
    # buffers grow into the Spark driver's headroom; cap it so the mirror
    # can't OOM the box mid-sweep (MIRROR_MEM to override).
    con.execute(f"SET memory_limit='{os.environ.get('MIRROR_MEM', '24GB')}'")
    for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    import __spark_entry__ as entry

    queries = entry.queries()
    oracles = entry.oracle_sql()

    n_pass = n_fail = n_err = n_noora = 0
    results: dict[str, dict] = {}
    for name in sorted(queries):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = queries[name](spark, sf_dir)
            if name in oracles:
                sp = df.toPandas()
                du = con.sql(oracles[name]).df()
                reason = compare(sp, du)
                if reason is None:
                    n_pass += 1
                    results[name] = {"status": "PASS", "secs": round(time.time() - t0, 1)}
                    print(f"PASS      {name} ({time.time()-t0:.1f}s)")
                else:
                    n_fail += 1
                    results[name] = {"status": "FAIL", "reason": reason}
                    print(f"FAIL      {name}: {reason}")
            else:
                df.limit(5).collect()
                n_noora += 1
                results[name] = {"status": "NO_ORACLE", "secs": round(time.time() - t0, 1)}
                print(f"NO_ORACLE {name} ({time.time()-t0:.1f}s)")
        except Exception as e:  # noqa: BLE001
            n_err += 1
            results[name] = {
                "status": "ERR",
                "reason": f"{type(e).__name__}: {str(e).splitlines()[0][:200]}",
            }
            print(f"ERR       {name}: {type(e).__name__}: {str(e).splitlines()[0][:200]}")
            if only:
                traceback.print_exc()
        sys.stdout.flush()
    print(f"\nTOTAL pass={n_pass} fail={n_fail} err={n_err} no_oracle={n_noora}")
    if json_out:
        import datetime
        import json as _json

        rec = {
            "meta": {
                "sf_dir": sf_dir,
                "time_units": os.environ.get("WARP10_TIME_UNITS", "us"),
                "tz": os.environ.get("MIRROR_TZ") or "UTC(default)",
                "ansi": os.environ.get("MIRROR_ANSI") or "(default)",
                "shuffle_partitions": parts,
                "full_run": not only,
                "queries_requested": sorted(only) if only else "ALL",
                "when": datetime.datetime.now(datetime.timezone.utc).isoformat(timespec="seconds"),
                "totals": {"pass": n_pass, "fail": n_fail, "err": n_err, "no_oracle": n_noora},
            },
            "results": results,
        }
        with open(json_out, "w") as f:
            _json.dump(rec, f, indent=1)
        print(f"wrote {json_out}")


if __name__ == "__main__":
    main()
