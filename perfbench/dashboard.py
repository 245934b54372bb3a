"""dashboard: POST /api/v0/exec, two clients in a closed loop."""

from __future__ import annotations

import json
import os
import random
import threading
import time

from perfbench import gen, harness, oracle
from perfbench.harness import median
from perfbench.server import REQUEST_HEADER, InProcessServer

CLIENTS = 2
# Warm-up: the same blocks for every seed, so each run starts its
# timed phase with the same JIT and codegen state.
WARMUP_SEED, WARMUP_BLOCKS = -1, 3
# Requests replayed alone after the timed phase: ORACLED count/sum ones,
# also checked against DuckDB, and OTHERS of any kind.
ORACLED, OTHERS = 2, 2
EXEC = "/api/v0/exec"


class Dashboard(harness.Workload):
    name = "dashboard"

    def setup(self) -> None:
        self.start()
        self.load_points()  # the store's base
        self.server = InProcessServer(self.spark, self.sf, os.path.join(self.run_dir, "store"))
        # Both clients draw from one stream, so whatever the interleaving
        # the timed scripts are the stream's first n: whole balanced blocks.
        self.stream = gen.script_stream(self.seed, 0)
        warm = gen.script_stream(WARMUP_SEED, 0)
        self._loop(warm, lambda: False, WARMUP_BLOCKS * gen.BLOCK // CLIENTS)
        self.done = []

    def _loop(self, stream, stop, limit=None) -> list:
        """Run CLIENTS closed-loop clients over one script stream; returns
        the records (client, k, script, seconds, status, body)."""
        out, lock = [], threading.Lock()

        def client(c):
            k = 0
            while (limit is None or k < limit) and not stop():
                with lock:
                    script = next(stream)
                rid = f"{c}:{k}"
                dt, status, _, body = self.server.request(
                    "POST", EXEC, script.text().encode(), {REQUEST_HEADER: rid})
                with lock:
                    out.append((c, k, script, dt, status, body))
                k += 1

        threads = [threading.Thread(target=client, args=(c,)) for c in range(CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return out

    def _install(self, tracer) -> None:
        from warp10_platform_spark import __main__ as cli
        from warp10_platform_spark import server
        from warp10_platform_spark.warpscript import WarpScriptStack

        tracer.wrap(server._Handler, "do_POST", "server.handle",
                    request_of=lambda a: a[0].headers.get(REQUEST_HEADER))
        tracer.wrap(WarpScriptStack, "exec", "warpscript.exec")
        tracer.wrap(cli, "_jsonable", "server.render")

    def measure(self, seconds: float, tracer) -> dict:
        if tracer is not None:
            self._install(tracer)
        j0 = self.counters.mark()
        t0 = time.perf_counter()
        deadline = t0 + seconds
        recs = self._loop(self.stream, lambda: time.perf_counter() >= deadline)
        wall = time.perf_counter() - t0
        j1 = self.counters.mark()
        if tracer is not None:
            tracer.unwrap_all()
        self.done += recs
        lat = [r[3] for r in recs]
        p90 = harness.tail(lat, 0.9)
        m = {
            "ops_per_s": len(recs) / wall,
            "latency_ms": median(lat) * 1e3,
            "detail": {"requests": len(recs), "clients": CLIENTS,
                       "latency_p90_ms": p90 * 1e3 if p90 is not None else None},
        }
        if tracer is not None:
            handle = tracer.by_request("server.handle")
            queue = [r[3] - handle[f"{r[0]}:{r[1]}"] for r in recs if f"{r[0]}:{r[1]}" in handle]
            layers = {
                "warpscript.exec_ms": median(tracer.durations("warpscript.exec")) * 1e3,
                "server.render_ms": median(list(tracer.by_request("server.render").values())) * 1e3,
                "server.response_bytes": sum(len(r[5]) for r in recs) / max(1, len(recs)),
                "server.queue_ms": median(queue) * 1e3,
            }
            layers.update(harness.spark_layers(self.counters.stats([(j0, j1)]), len(recs), wall))
            m["layers"] = layers
        return m

    def side_layers(self, tracer) -> dict:
        """One ingest_fetch compaction cycle against this server, for the
        layers only that path exercises (GTS parsing, parquet appends,
        merge-on-read).  Its outputs are checked with the rest."""
        from perfbench.ingest_fetch import IngestFetch

        self.probe = IngestFetch(self.sf, self.seed, self.run_dir)
        self.probe.spark, self.probe.counters = self.spark, self.counters
        self.probe.attach(self.server)
        layers = self.probe.measure(0, tracer)["layers"]
        return {k: v for k, v in layers.items() if k.startswith(("sources.", "store."))}

    def check(self) -> tuple[int, int]:
        """Outside the timed phase.  Every response is a 200 JSON stack; a
        seeded sample replayed alone answers the same; the sample's count
        and sum buckets equal DuckDB's over the events table."""
        import duckdb

        parsed = {}
        for c, k, script, _, status, body in self.done:
            try:
                doc = json.loads(body) if status == 200 else None
            except ValueError:
                doc = None
            if not isinstance(doc, list):
                self.failures.append(f"{c}:{k} status {status}")
            else:
                parsed[(c, k)] = (script, doc)
        self.attempted, self.failed = len(self.done), len(self.failures)
        checked, rest = pick_sample({key: s for key, (s, _) in parsed.items()}, self.seed)
        if not checked:
            self.failed += 1
            self.failures.append("no count or sum request to check against DuckDB")
        con = duckdb.connect()
        con.execute("SET enable_progress_bar=false")
        for key in checked + rest:
            script, doc = parsed[key]
            _, status, _, body = self.server.request("POST", EXEC, script.text().encode())
            alone = json.loads(body) if status == 200 else None
            got = oracle.series_values(doc, script)
            ok = alone is not None and oracle.same_values(got, oracle.series_values(alone, script))
            if ok and key in checked:
                want = oracle.expected_values(con.sql(oracle.dashboard_sql(script, self.sf)).fetchall())
                if self.corrupt and key == checked[0]:
                    want[("corrupt", None)] = {0: 1.0}
                ok = oracle.same_values(got, want)
            if not ok:
                self.failed += 1
                self.failures.append(f"{key[0]}:{key[1]} differs: {script.text()!r}")
        con.close()
        if getattr(self, "probe", None) is not None:
            attempted, failed = self.probe.check()
            self.attempted += attempted
            self.failed += failed
            self.failures += self.probe.failures
        return self.attempted, self.failed

    def teardown(self) -> None:
        if getattr(self, "server", None) is not None:
            self.server.close()
        super().teardown()


def pick_sample(scripts: dict, seed: int) -> tuple[list, list]:
    """Seeded sample of request keys from {key: script}: up to ORACLED
    whose bucketizer DuckDB checks exactly (count, sum) and up to OTHERS
    from the remaining requests."""
    rng = random.Random(f"dashboard-sample:{seed}")
    keys = sorted(scripts)
    oracled = [k for k in keys if oracle.dashboard_sql(scripts[k], "") is not None]
    checked = rng.sample(oracled, min(ORACLED, len(oracled)))
    rest = [k for k in keys if k not in checked]
    return checked, rng.sample(rest, min(OTHERS, len(rest)))


WORKLOAD = Dashboard
