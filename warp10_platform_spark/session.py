"""SparkSession factory tuned for this engine.

Local testing uses local[N]; the same configs are what we would ship on
a real cluster (AQE on, skew-join handling on, UTC, Arrow enabled).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cores() -> int:
    """Local cores when SPARK_GRAFT_CPUS is unset: the machine's own."""
    return os.cpu_count() or 1


def get_spark(app_name: str = "warp10-platform-spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    - AQE + skew-join: runtime re-planning, the scale path for skewed
      label/class distributions (SURVEY §4).
    - UTC session timezone: required for oracle comparisons and sane
      time-series semantics.
    - Arrow: every pandas-UDF operator (FILL spline, STL, DTW...) rides
      Arrow batches.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(default_cores())
    cpus_i = int(cpus) if cpus.isdigit() else default_cores()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # TIMESTAMP(NANOS) parquet columns (the events table) surface as
        # LONG nanoseconds instead of erroring — we keep a LONG time axis
        # anyway (reference's configurable time unit, Constants.java:520).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # r9 (measured, guide §2.5): AQE's coalesce floor defaults to 1 MB
        # per partition, which collapses byte-tiny but CPU-dense stages —
        # the dedup guards' cached member frames and the in-cell HOF-cosine
        # join shuffle ~1 MB of arrays that cost seconds of interpreted
        # HOF work — down to 1-2 tasks, serializing them on one core
        # (emb_semantic_dedup median 19.5 s → 3.4 s at sf0.1 when the
        # floor drops to 64k; the 1 MB control reproduced the slow regime,
        # so it is causal, not box drift). Scale-safe: with parallelismFirst
        # the coalesce target is max(stage_bytes/parallelism, this floor),
        # so the floor only binds when a stage's bytes are tiny — at real
        # scale bytes/parallelism dominates and behavior is unchanged.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        # r9 (measured, guide §1.2 order-of-operations step 3): Spark's
        # whole-stage-codegen class cache holds 100 entries by default;
        # this engine's query surface compiles far more distinct codegen
        # units (the 30-query bench alone cycles the cache every pass),
        # so steady-state runs paid continuous janino recompilation on
        # the driver. 2000 entries: full-tier steady pass 31 s → 18.5 s
        # (alternated A/B, two pairs each way; periodic-GC alone was
        # noise). Not a core-count tune: any long-running deployment
        # serving this operator surface cycles >100 generated classes.
        # Cost is metaspace for the cached classes — bounded by the cap.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # r9: PySpark's DataFrame-debugging call-site capture (default on)
        # adds ~3 py4j round trips + a Python stack walk to EVERY
        # DataFrame API call, purely to enrich error messages; off, plan
        # construction (the bench's "build" phase) drops ~15-20 %
        # (doc_minhash_lsh build 1.33 s → 1.05 s measured). Error
        # behavior is unchanged apart from the call-site annotation.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    # Post-shuffle partitions = cores, parallelism-first (r9 measured the
    # byte-targeted alternative and rejected it: this engine's hottest
    # shuffles are CPU-dense but byte-tiny, and byte-sized coalescing
    # serialized them onto 1-2 tasks, +60 % exec at sf0.1 — recorded in
    # OPTIMIZATION_r09.md). An explicit caller choice wins (tests pin 8).
    partitions = shuffle_partitions if shuffle_partitions is not None else cpus_i
    return builder.config("spark.sql.shuffle.partitions", str(partitions)).getOrCreate()
