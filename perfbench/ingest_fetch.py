"""ingest_fetch: one writer in a closed loop, /update then /fetch."""

from __future__ import annotations

import os
import random
import statistics
import time
import urllib.parse

from perfbench import gen, harness
from perfbench.harness import median
from perfbench.server import REQUEST_HEADER, InProcessServer

LINES = 2000
COMPACT_EVERY = 4  # cycles per compaction cycle; the last one checkpoints
CYCLE_S = 10  # nominal seconds per compaction cycle at sf0.1 on 4 cores


def plan_nodes(df) -> int:
    """Exact node count of a DataFrame's logical plan, as parsed (shared
    subtrees counted once per occurrence)."""
    stack, n = [df._jdf.queryExecution().logical()], 0
    while stack:
        node = stack.pop()
        n += 1
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return n


def parse_fetch(text: str) -> dict:
    """/fetch text body → {(sid, tick): value}."""
    out = {}
    for line in text.splitlines():
        if not line.strip():
            continue
        head, sel, value = line.split(" ", 2)
        sid = sel[sel.index("sid=") + 4: sel.index("}")]
        out[(sid, int(head.split("/", 1)[0]))] = int(value)
    return out


class IngestFetch(harness.Workload):
    name = "ingest_fetch"

    def setup(self) -> None:
        self.start()
        self.attach(InProcessServer(self.spark, self.sf, os.path.join(self.run_dir, "store")))

    def attach(self, server) -> None:
        """Prepare the writer against `server` (whose session is already
        started) and warm it up."""
        self.load_points()  # the store's base
        self.server = server
        self.now = int(time.time()) * gen.US
        self.rng = random.Random(f"ingest-fetch:{self.seed}")
        self.state: dict = {}  # (sid, tick) → value after every write so far
        self.cycle = 0
        self.records: list = []  # checked after the timed phase
        self.nodes: dict = {}
        self._compaction_cycle(None, 2)  # warm-up, checked like the rest

    def _update(self):
        text, points = gen.ingest_batch(self.seed, self.cycle, self.now, LINES)
        self.state.update(points)
        rid = f"update:{self.cycle}"
        dt, status, headers, _ = self.server.request(
            "POST", "/api/v0/update", text.encode(), {REQUEST_HEADER: rid})
        ok = status == 200 and headers.get("X-Warp10-Ingested") == str(LINES)
        self.records.append(("update", self.cycle, ok or f"status {status}, ingested "
                             f"{headers.get('X-Warp10-Ingested')} of {LINES}"))
        return dt

    def _fetch(self, depth: int):
        sid = gen.series_name(self.rng.randrange(gen.INGEST_SERIES))[1]
        qs = urllib.parse.urlencode({
            "selector": f"{gen.series_name(0)[0]}{{sid={sid}}}",
            "start": self.now - 3600 * gen.US, "stop": self.now, "format": "text"})
        rid = f"fetch:{self.cycle}"
        dt, status, _, body = self.server.request(
            "GET", f"/api/v0/fetch?{qs}", None, {REQUEST_HEADER: rid})
        want = {k: v for k, v in self.state.items() if k[0] == sid}
        self.records.append(("fetch", self.cycle, (status, body, want, depth)))
        return dt

    def _compaction_cycle(self, tracer, n: int = COMPACT_EVERY) -> list:
        """n cycles; the last checkpoints between its update and its
        fetch, so fetches see buffer depths 1, 2, …, n - 1 and 0."""
        out = []
        for i in range(n):
            j0 = self.counters.mark()
            up = self._update()
            j1 = self.counters.mark()
            ck = 0.0
            if i == n - 1:
                t0 = time.perf_counter()
                self.server.store.checkpoint()
                ck = time.perf_counter() - t0
            depth = (i + 1) % n
            fe = self._fetch(depth)
            excl = 0.0
            if tracer is not None and depth not in self.nodes:
                t0 = time.perf_counter()
                self.nodes[depth] = plan_nodes(self.server.store.points())
                excl = time.perf_counter() - t0
            out.append({"update": up, "fetch": fe, "checkpoint": ck, "depth": depth,
                        "jobs": (j0, j1), "excluded": excl})
            self.cycle += 1
        return out

    def _install(self, tracer) -> None:
        from warp10_platform_spark import server
        from warp10_platform_spark.sources import gts_text

        tag = lambda a: a[0].headers.get(REQUEST_HEADER)  # noqa: E731
        tracer.wrap(server._Handler, "do_POST", "server.update", request_of=tag)
        tracer.wrap(server._Handler, "do_GET", "server.fetch", request_of=tag)
        tracer.wrap(gts_text, "parse", "sources.parse")
        tracer.wrap(server.Store, "append_update", "store.append")
        tracer.wrap(server.Store, "points", "store.points")
        tracer.wrap(server.Store, "checkpoint", "store.checkpoint")

    def measure(self, seconds: float, tracer) -> dict:
        if tracer is not None:
            self._install(tracer)
        cycles = []
        t_start = time.perf_counter()
        for _ in range(harness.units(seconds, CYCLE_S)):
            cycles += self._compaction_cycle(tracer)
        wall = time.perf_counter() - t_start - sum(c["excluded"] for c in cycles)
        if tracer is not None:
            tracer.unwrap_all()
        n = len(cycles)
        fetch_by_depth = {d: median([c["fetch"] for c in cycles if c["depth"] == d]) * 1e3
                          for d in range(COMPACT_EVERY)}
        # Latency is the mean over whole compaction cycles, so every buffer
        # depth weighs in (a median of four would skip the deepest fetch).
        m = {
            "ops_per_s": n / wall,
            "latency_ms": statistics.fmean([c["update"] + c["fetch"] for c in cycles]) * 1e3,
            "detail": {
                "cycles": n,
                "cycle_ms": [round((c["update"] + c["fetch"]) * 1e3, 1) for c in cycles],
                "points_per_s": n * LINES / wall,
                "update_ms": median([c["update"] for c in cycles]) * 1e3,
                "fetch_ms": median([c["fetch"] for c in cycles]) * 1e3,
                "fetch_ms_by_depth": fetch_by_depth,
                "checkpoint_ms": median([c["checkpoint"] for c in cycles if c["checkpoint"]]) * 1e3,
            },
        }
        if tracer is not None:
            fetch_points = [v for k, v in tracer.by_request("store.points").items()
                            if k.startswith("fetch:")]
            layers = {
                "sources.parse_ms": median(tracer.durations("sources.parse")) * 1e3,
                "store.append_ms": median(tracer.durations("store.append")) * 1e3,
                "store.points_ms": median(fetch_points) * 1e3,
                "store.checkpoint_ms": median(tracer.durations("store.checkpoint")) * 1e3,
                "store.update_ms": m["detail"]["update_ms"],
                "store.fetch_ms": m["detail"]["fetch_ms"],
                **{f"store.plan_nodes_d{d}": v for d, v in self.nodes.items()},
            }
            # Spark work per /update: the jobs submitted while each ran.
            updates_s = sum(c["update"] for c in cycles)
            stats = self.counters.stats([c["jobs"] for c in cycles])
            layers.update(harness.spark_layers(stats, n, updates_s))
            m["layers"] = layers
        return m

    def check(self) -> tuple[int, int]:
        """Every /update ingested all its lines; every /fetch returned
        exactly the points written to its series, last write winning."""
        for kind, cycle, rec in self.records:
            if kind == "update":
                ok = rec is True
                why = rec
            else:
                status, body, want, depth = rec
                if self.corrupt and cycle == 0:
                    want = dict(want)
                    want[next(iter(want))] += 1
                got = parse_fetch(body.decode()) if status == 200 else None
                ok = got == want
                why = f"fetch at depth {depth}: status {status}, {len(got or {})} points, " \
                      f"{len(want)} expected"
            self.attempted += 1
            if not ok:
                self.failed += 1
                self.failures.append(f"cycle {cycle} {kind}: {why}")
        return self.attempted, self.failed

    def teardown(self) -> None:
        if getattr(self, "server", None) is not None:
            self.server.close()
        super().teardown()


WORKLOAD = IngestFetch
