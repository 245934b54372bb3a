"""catalog: the headline query tier, one client, closed loop."""

from __future__ import annotations

import statistics
import time

from perfbench import harness, oracle
from perfbench.harness import HEADLINE, median

ROUTE_QUERIES = ("tpch_q3", "doc_minhash_lsh", "doc_simhash")
PASS_S = 10  # nominal seconds per warm pass at sf0.1 on 4 cores


class Catalog(harness.Workload):
    name = "catalog"

    def setup(self) -> None:
        from warp10_platform_spark.queries import QUERIES

        self.queries = QUERIES
        t0 = time.perf_counter()
        self.expected = oracle.catalog_expected(self.sf, HEADLINE, f"{harness.STATE}/cache")
        self.excluded_s += time.perf_counter() - t0
        self.start()
        self.load_points()
        # Warm-up: one cold pass that collects every result; those results
        # are the outputs checked against the DuckDB twins.
        self.results, self.plans = {}, {}
        for name in HEADLINE:
            df = QUERIES[name](self.spark, self.sf)
            self.results[name] = df.toPandas()
            if name in ROUTE_QUERIES:
                self.plans[name] = df._jdf.queryExecution().executedPlan().toString()

    def _run(self, name: str, tracer) -> tuple[float, float]:
        """Build one query, then force it through the noop sink:
        (build_s, exec_s)."""
        if tracer is None:
            t0 = time.perf_counter()
            df = self.queries[name](self.spark, self.sf)
            t1 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            return t1 - t0, time.perf_counter() - t1
        with tracer.request(name):
            t0 = time.perf_counter()
            with tracer.span("queries.build"):
                df = self.queries[name](self.spark, self.sf)
            t1 = time.perf_counter()
            with tracer.span("queries.exec"):
                df.write.mode("overwrite").format("noop").save()
            return t1 - t0, time.perf_counter() - t1

    def _pass(self, tracer, reference=None) -> dict:
        """One whole pass: name → (build_s, exec_s).  Given a `reference`
        list, each query also runs untraced next to its traced run, each
        run from an empty cache (queries persist frames), the order
        alternating from one query and one pass to the next; the untraced
        seconds are appended to `reference`."""
        self.spark.catalog.clearCache()
        out = {}
        for name in HEADLINE:
            if reference is None:
                out[name] = self._run(name, tracer)
                continue
            for t in ((tracer, None) if len(reference) % 2 else (None, tracer)):
                self.spark.catalog.clearCache()
                if t is None:
                    reference.append(sum(self._run(name, None)))
                else:
                    out[name] = self._run(name, t)
        return out

    def measure(self, seconds: float, tracer, reference=None) -> dict:
        passes, walls = [], []
        j0 = self.counters.mark()
        for _ in range(harness.units(seconds, PASS_S)):
            t0 = time.perf_counter()
            passes.append(self._pass(tracer, reference))
            walls.append(time.perf_counter() - t0)
        j1 = self.counters.mark()
        n = len(HEADLINE) * len(passes)
        if reference is None:
            runs, wall = 1, sum(walls)
        else:  # paired: the traced runs' own time; each pass runs twice
            runs, wall = 2, sum(sum(bx) for p in passes for bx in p.values())
        # Per query, the median over passes; across the 19 queries, the
        # geometric mean (their latencies span 0.1–1.5 s, and a median of
        # 19 different queries jumps whenever two of them swap ranks).
        per_query = {q: median([sum(p[q]) for p in passes]) for q in HEADLINE}
        m = {
            "ops_per_s": n / wall,
            "latency_ms": statistics.geometric_mean(per_query.values()) * 1e3,
            "detail": {"passes": len(passes), "queries": n, "pass_s": walls},
        }
        if tracer is not None:
            layers = {
                "queries.build_ms": median([sum(b for b, _ in p.values()) for p in passes]) * 1e3,
                "queries.exec_ms": median([sum(e for _, e in p.values()) for p in passes]) * 1e3,
            }
            layers.update({f"queries.{q}_ms": v * 1e3 for q, v in per_query.items()})
            layers.update(harness.spark_layers(self.counters.stats([(j0, j1)]), runs * len(passes),
                                              sum(walls)))
            m["layers"] = layers
        return m

    def measure_traced(self, seconds: float, tracer) -> tuple[dict, float]:
        """Traced queries paired with untraced runs of the same queries:
        pass times still fall steeply from one pass to the next (JIT
        warm-up), so untraced passes before and after would not cancel
        the drift.  This takes about twice `seconds`: the order within a
        pair flips from one pass to the next, and it takes two passes for
        every query to run in both orders."""
        reference: list = []
        m = self.measure(seconds, tracer, reference)
        return m, len(reference) / sum(reference)

    def check(self) -> tuple[int, int]:
        """Outside the timed phase: every collected result against its twin."""
        for i, name in enumerate(HEADLINE):
            want = self.expected[name]
            if self.corrupt and i == 0:
                want = want.iloc[1:]
            why = oracle.frame_mismatch(self.results[name], want)
            if why:
                self.failures.append(f"{name}: {why}")
        return len(HEADLINE), len(self.failures)

    def routes(self) -> dict:
        """Which side of each size-routed plan this workload took, read
        from the executed plans of the warm-up pass."""
        from warp10_platform_spark.pipeline import dedup
        from warp10_platform_spark.sources.tables import load_table

        docs = load_table(self.spark, self.sf, "documents")
        est = int(docs._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        kernel = {q: "kernel" if "MapInArrow" in self.plans[q] else "hof"
                  for q in ("doc_minhash_lsh", "doc_simhash")}
        return {
            "dedup_kernel": {**kernel, "documents_estimate_bytes": est,
                             "gate_bytes": dedup._KERNEL_MIN_BYTES,
                             "kernel_reached": "kernel" in kernel.values()},
            "tpch_q3_semi_prune": "semi" if "LeftSemi" in self.plans["tpch_q3"] else "no_semi",
            "tpch_q21_keying": "not run (tpch_q21 is not a headline query)",
        }


WORKLOAD = Catalog
