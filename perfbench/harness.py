"""Shared plumbing: run environment, Spark session, statistics, Spark
status-store counters, the environment record and the metric tables."""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")  # caches, per-run scratch, traces
CORES = 4

# The bench.py headline tier, pinned here so the benchmark cannot drift
# when that list changes.
HEADLINE = [
    "tpch_q1", "tpch_q3", "tpch_q5", "tpch_q6", "fetch_range", "fetch_last_n",
    "bucketize_mean", "gts_bucketize_reduce", "map_moving_mean", "map_time_range_sum",
    "apply_div", "fill_previous", "sessionize", "zscoretest", "topk_per_series",
    "doc_exact_dedup", "doc_minhash_lsh", "doc_simhash", "emb_cosine_topk",
]

# End-to-end metrics, reported by every workload (--trace 0).
E2E = {"setup_s": "s", "ops_per_s": "1/s", "latency_ms": "ms"}

# Per-layer metrics (--trace 1).  Every workload reports every name; a
# layer the workload does not exercise reports 0.
PER_LAYER = {
    "session.start_s": "s",
    "queries.build_ms": "ms",
    "queries.exec_ms": "ms",
    **{f"queries.{q}_ms": "ms" for q in HEADLINE},
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.shuffle_write_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.slot_idle_share": "share",
    "warpscript.exec_ms": "ms",
    "server.render_ms": "ms",
    "server.response_bytes": "bytes",
    "server.queue_ms": "ms",
    "sources.parse_ms": "ms",
    "store.append_ms": "ms",
    "store.points_ms": "ms",
    **{f"store.plan_nodes_d{d}": "count" for d in range(4)},
    "store.checkpoint_ms": "ms",
    "store.update_ms": "ms",
    "store.fetch_ms": "ms",
    "trace.overhead_share": "share",
}


class Unusable(Exception):
    """The checkout cannot run the benchmark (engine or fixture missing)."""


def fixture_dir() -> str:
    """The sf0.1 fixture: bench.py's SF_DIR ($SPARK_GRAFT_SF_DIR)."""
    try:
        import bench
    except ImportError as e:
        raise Unusable(f"bench.py not importable: {e}") from e
    if not os.path.isfile(os.path.join(bench.SF_DIR, "events.parquet")):
        raise Unusable(f"fixture not found at {bench.SF_DIR}")
    return bench.SF_DIR


def fixture_bytes(sf: str) -> int:
    return sum(os.path.getsize(os.path.join(sf, f)) for f in os.listdir(sf))


def prepare_run(tag: str) -> str:
    """Per-run scratch directory; Spark, the JVM and Python temp files all
    land inside it so the run writes nothing outside the checkout."""
    run_dir = os.path.join(STATE, f"run-{tag}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(run_dir, sub))
    os.makedirs(os.path.join(STATE, "cache"), exist_ok=True)
    tmp = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} "
        f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')} "
        "pyspark-shell"
    )
    return run_dir


def start_session(app: str):
    from warp10_platform_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{app}")
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM this process launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — still alive: make sure it ends
            proc.kill()
            proc.wait()


class Workload:
    """A workload: setup() (timed as set-up), measure(seconds, tracer),
    measure_traced(seconds, tracer), side_layers(tracer), check() →
    (attempted, failed), routes() and teardown()."""

    name = ""

    def __init__(self, sf: str, seed: int, run_dir: str, corrupt: bool = False):
        self.sf, self.seed, self.run_dir, self.corrupt = sf, seed, run_dir, corrupt
        self.spark = None
        self.session_s = 0.0
        self.excluded_s = 0.0  # one-time builds cached in the checkout
        self.attempted = 0
        self.failed = 0
        self.failures: list = []  # a short description of each failed operation

    def start(self) -> None:
        self.spark, self.session_s = start_session(self.name)
        self.counters = SparkCounters(self.spark)

    def load_points(self) -> None:
        """The engine's canonical points layout, timed as set-up unless
        this call builds it (a one-time build cached in the checkout's
        .cache/, which the first run in a checkout pays)."""
        from warp10_platform_spark.sources import tables

        key = tables._cache_key(self.sf)
        built = os.path.exists(os.path.join(ROOT, ".cache", f"points_{key}", "_SUCCESS"))
        t0 = time.perf_counter()
        tables.canonical_points(self.spark, self.sf)
        if not built:
            self.excluded_s += time.perf_counter() - t0

    def measure_traced(self, seconds: float, tracer) -> tuple[dict, float]:
        """measure() with `tracer`, and the untraced ops/s it is compared
        with, together in about `seconds`: untraced quarters before and
        after the traced half, so steady drift cancels."""
        before = self.measure(seconds / 4, None)["ops_per_s"]
        m = self.measure(seconds / 2, tracer)
        after = self.measure(seconds / 4, None)["ops_per_s"]
        return m, (before + after) / 2

    def side_layers(self, tracer) -> dict:
        """Traced runs only, after every timed phase: per-layer metrics of
        paths the timed phase does not exercise."""
        return {}

    def routes(self) -> dict:
        return {"dedup_kernel": "not run", "tpch_q3_semi_prune": "not run",
                "tpch_q21_keying": "not run"}

    def teardown(self) -> None:
        if self.spark is not None:
            stop_session(self.spark)
            self.spark = None


def units(seconds: float, unit_s: float) -> int:
    """Whole units (passes, compaction cycles) of nominal length `unit_s`
    that fill about `seconds`: a fixed count, never decided by timing, so
    a slow run measures the same units as a fast one."""
    return max(1, round(seconds / unit_s))


# ---- statistics ------------------------------------------------------

def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs, q: float) -> float | None:
    """The q-quantile of xs, or None unless at least ten samples lie
    beyond it (fewer make the tail one or two outliers)."""
    if len(xs) * (1.0 - q) < 10 - 1e-9:
        return None
    s = sorted(xs)
    return s[min(len(s) - 1, math.ceil(q * len(s) - 1e-9) - 1)]


# ---- Spark status store ---------------------------------------------

class SparkCounters:
    """Job and stage metrics read from Spark's in-process status store (works
    with the UI off).  Jobs are numbered in submission order, so the jobs
    run between two `mark()`s are exactly the ids in that range."""

    # StageData accessor → summed field
    STAGE_FIELDS = {
        "numCompleteTasks": "tasks",
        "executorRunTime": "executor_run_ms",
        "executorCpuTime": "executor_cpu_ms",  # ns until divided below
        "shuffleWriteBytes": "shuffle_write_bytes",
        "inputBytes": "input_bytes",
        "memoryBytesSpilled": "spill_bytes",
        "diskBytesSpilled": "spill_bytes",
    }

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()

    def mark(self) -> int:
        return self._sc.dagScheduler().numTotalJobs()

    def stats(self, ranges) -> dict:
        """Summed metrics of the jobs in `ranges` ([(lo, hi), …])."""
        self._sc.listenerBus().waitUntilEmpty(10_000)
        store = self._sc.statusStore()
        tot = dict.fromkeys(["jobs", "stages", *self.STAGE_FIELDS.values()], 0)
        seen = set()
        for lo, hi in ranges:
            for jid in range(lo, hi):
                try:
                    stage_ids = store.job(jid).stageIds()
                except Exception:  # noqa: BLE001 — evicted from the store
                    continue
                tot["jobs"] += 1
                for i in range(stage_ids.size()):
                    sid = stage_ids.apply(i)
                    if sid in seen:
                        continue
                    seen.add(sid)
                    try:
                        st = store.lastStageAttempt(sid)
                    except Exception:  # noqa: BLE001 — skipped, never attempted
                        continue
                    if st.numCompleteTasks() == 0:
                        continue
                    tot["stages"] += 1
                    for accessor, key in self.STAGE_FIELDS.items():
                        tot[key] += getattr(st, accessor)()
        tot["executor_cpu_ms"] /= 1e6
        return tot


def spark_layers(stats: dict, per: float, wall_s: float) -> dict:
    """spark.* per-layer metrics: totals divided by `per` operations, and
    the idle share of the CORES task slots over `wall_s`."""
    out = {f"spark.{k}": v / per for k, v in stats.items()}
    busy = stats["executor_run_ms"] / 1000.0
    out["spark.slot_idle_share"] = 1.0 - busy / (wall_s * CORES) if wall_s > 0 else 0.0
    return out


# ---- environment record ---------------------------------------------

def cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(a: list[int], b: list[int]) -> float:
    d = [y - x for x, y in zip(a, b)]
    total = sum(d[:8])  # guest time is already inside user/nice
    return d[7] / total if total > 0 and len(d) > 7 else 0.0


def environment(spark, sf: str, ticks: tuple) -> dict:
    import pyspark

    java = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark_cores": CORES,
        "cpu_steal_share": round(steal_share(*ticks), 5),
        "loadavg": os.getloadavg(),
        "pyspark": pyspark.__version__,
        "java": java,
        "fixture": sf,
        "fixture_bytes": fixture_bytes(sf),
    }
