"""Engine benchmark: one seeded workload per run, checked and measured.

    python3 perfbench/run.py --workload catalog|dashboard|ingest_fetch \\
        --seed N --seconds S --trace 0|1

Run it from the repository root.  Workloads (Spark runs local[4], all
load comes from this one process; BENCHMARK.json lists the first two):

- catalog: the 19 bench.py headline queries at sf0.1, one client, closed
  loop; each query is built, then forced through the noop sink; only
  whole passes in a fixed order are measured.
- dashboard: POST /api/v0/exec against an in-process server, two clients
  in a closed loop, FETCH → BUCKETIZE → (MAP | REDUCE | both) scripts whose
  parameters the seed draws from continuous ranges.
- ingest_fetch: one writer in a closed loop; each cycle POSTs /update
  with 2,000 seeded GTS lines and GETs /fetch for one written series;
  every 4th cycle compacts the store (Store.checkpoint) before its fetch.
  Only whole compaction cycles are measured.  Its run-to-run spread on a
  shared 4-core box is too wide to gate on, so it is not a benchmark
  workload; a traced dashboard run measures its layers with one untimed
  compaction cycle.

Every run checks the program's outputs (DuckDB twins, replays and the
generator's own record of what it wrote); a wrong output counts as a
failed operation.  With --trace 0 the last stdout line carries the
end-to-end metrics, measured untraced; with --trace 1 it carries the
per-layer metrics from spans around the engine's entry points and the
Spark status store, and the spans are written to .perfbench/.  Untraced
runs measured next to the traced ones, in the same process, give the
tracing overhead.  The line before the result is a detail record:
workload-specific figures, the environment (cores, CPU steal, load,
versions, fixture) and route coverage.

Set PERFBENCH_CORRUPT=<workload> to corrupt one expected answer; the run
must then report it as failed.  Exit status 2 means the checkout cannot
run the benchmark (no engine or no fixture); nothing is printed then.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

T_PROCESS = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="perfbench/run.py")
    ap.add_argument("--workload", required=True, choices=("catalog", "dashboard", "ingest_fetch"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    from perfbench import harness

    try:
        sf = harness.fixture_dir()
        import warp10_platform_spark  # noqa: F401 — the engine under test
    except (ImportError, harness.Unusable) as e:
        print(f"perfbench: cannot run here: {e}", file=sys.stderr)
        return 2

    import importlib

    from perfbench.trace import Tracer

    cls = importlib.import_module(f"perfbench.{args.workload}").WORKLOAD
    run_dir = harness.prepare_run(args.workload)
    wl = cls(sf=sf, seed=args.seed, run_dir=run_dir,
             corrupt=os.environ.get("PERFBENCH_CORRUPT") == args.workload)
    phases = {"start": time.perf_counter() - T_PROCESS}
    try:
        wl.setup()
        setup_s = time.perf_counter() - T_PROCESS - wl.excluded_s
        phases["setup"] = setup_s - phases["start"]
        ticks0 = harness.cpu_ticks()
        t0 = time.perf_counter()
        if args.trace:
            tracer = Tracer()
            m, untraced = wl.measure_traced(args.seconds, tracer)
        else:
            m = wl.measure(args.seconds, None)
        phases["measure"] = time.perf_counter() - t0
        ticks1 = harness.cpu_ticks()
        if args.trace:
            t0 = time.perf_counter()
            m["layers"].update(wl.side_layers(tracer))
            phases["side_layers"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        attempted, failed = wl.check()
        env = harness.environment(wl.spark, sf, (ticks0, ticks1))
        routes = wl.routes()
        phases["check"] = time.perf_counter() - t0
    finally:
        t0 = time.perf_counter()
        wl.teardown()
        shutil.rmtree(run_dir, ignore_errors=True)
        phases["teardown"] = time.perf_counter() - t0
    phases["excluded"] = wl.excluded_s
    e2e = {"setup_s": setup_s, "ops_per_s": m["ops_per_s"], "latency_ms": m["latency_ms"]}
    detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "attempted": attempted, "failed": failed, "error_rate": failed / max(1, attempted),
              "failures": wl.failures, **m.get("detail", {}), "environment": env,
              "routes": routes, "phases_s": phases}
    if args.trace:
        layers = dict.fromkeys(harness.PER_LAYER, 0.0)
        layers.update(m["layers"])
        layers["session.start_s"] = wl.session_s
        layers["trace.overhead_share"] = untraced / m["ops_per_s"] - 1.0
        metrics = {k: {"value": v, "unit": harness.PER_LAYER[k]} for k, v in layers.items()}
        detail["end_to_end_traced"] = e2e
        os.makedirs(harness.STATE, exist_ok=True)
        tracer.write(os.path.join(harness.STATE, f"trace-{args.workload}-{args.seed}.json"),
                     {"detail": detail, "per_layer": layers})
    else:
        metrics = {k: {"value": v, "unit": harness.E2E[k]} for k, v in e2e.items()}
    detail["metrics"] = {k: f"{v['value']:.6g} {v['unit']}" for k, v in metrics.items()}
    print(json.dumps(detail, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
