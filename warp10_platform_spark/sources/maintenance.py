"""Lake maintenance: small-file compaction for the partitioned stores.

Streaming ingest (streaming/ingest.py) and rollup maintenance
(rollup partial appends) both produce many small parquet files per
partition directory — at 100 TB the listing + footer overhead of
thousands of kilobyte files per day-partition dominates scan cost long
before row-group pruning gets a chance.  The reference platform doesn't
have this problem (LevelDB/FoundationDB LSM compaction handles it below
the storage API, `warp10/src/main/java` ingress/egress); a parquet lake
has to do it explicitly, and this module is that job.

Design:
- file sizes come from the filesystem listing (driver-side metadata
  only, no data read);
- each partition directory is rewritten into
  ``ceil(bytes / target_file_bytes)`` output files — ONE shuffle keyed
  on (partition, salt), so every output file is produced by exactly one
  task and no task holds more than ~target bytes;
- rows are sorted by ``sort_cols`` (default: the per-series natural
  order ``gts_id, ts``) inside each output file, so compaction doubles
  as a locality pass: parquet min/max stats on gts_id/ts become tight
  and selector+range fetches skip row groups;
- output goes to a fresh directory, then swaps in atomically
  (rename) — a crashed compaction never corrupts the live store.
"""

from __future__ import annotations

import math
import os
import shutil

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def _partition_sizes(root: str) -> dict[str, int]:
    """Map relative partition dir (e.g. 'class=x/day=19720') → bytes of
    parquet data files under it. Driver-side listing only."""
    sizes: dict[str, int] = {}
    for dirpath, _dirnames, filenames in os.walk(root):
        rel = os.path.relpath(dirpath, root)
        nbytes = sum(
            os.path.getsize(os.path.join(dirpath, f))
            for f in filenames
            if f.endswith(".parquet")
        )
        if nbytes:
            sizes[rel if rel != "." else ""] = sizes.get(rel if rel != "." else "", 0) + nbytes
    return sizes


def parquet_file_count(root: str) -> int:
    return sum(
        1
        for dirpath, _d, filenames in os.walk(root)
        for f in filenames
        if f.endswith(".parquet")
    )


def compact_partitioned(
    spark: SparkSession,
    path: str,
    partition_cols: list[str],
    sort_cols: list[str] = ("gts_id", "ts"),
    target_file_bytes: int = 128 << 20,
    swap: bool = True,
) -> str:
    """Compact a partitioned parquet directory in place (atomic swap).

    Returns the live path after compaction. ``swap=False`` writes to
    ``<path>.compacted`` and leaves the source untouched (dry-run /
    verify mode)."""
    sizes = _partition_sizes(path)
    # splits per partition dir: parquet re-encodes with its own
    # compression, so the file-size estimate is conservative but the
    # ORDER of magnitude is right, which is all bin count needs.
    rel_to_n = {
        rel: max(1, math.ceil(nbytes / target_file_bytes)) for rel, nbytes in sizes.items()
    }
    df = spark.read.parquet(path)

    if partition_cols:
        # Decode partition values out of the relative dir names so the
        # split counts join back onto the data by partition columns.
        rows = []
        for rel, n in rel_to_n.items():
            vals: dict[str, str] = {}
            for seg in rel.split(os.sep):
                if "=" in seg:
                    k, v = seg.split("=", 1)
                    vals[k] = v
            if len(vals) == len(partition_cols):
                rows.append(tuple(vals[c] for c in partition_cols) + (n,))
        schema = ", ".join(f"`_p_{c}` string" for c in partition_cols) + ", `_nsplit` int"
        splits = spark.createDataFrame(rows, schema=schema)
        # join on stringified partition values (directory encoding)
        cond = None
        for c in partition_cols:
            e = df[c].cast("string") == splits[f"_p_{c}"]
            cond = e if cond is None else (cond & e)
        joined = df.join(F.broadcast(splits), cond, "left").drop(
            *[f"_p_{c}" for c in partition_cols]
        )
    else:
        n = max(1, math.ceil(sum(sizes.values()) / target_file_bytes))
        joined = df.withColumn("_nsplit", F.lit(n))

    salted = joined.withColumn(
        "_salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in sort_cols]), F.coalesce(F.col("_nsplit"), F.lit(1))),
    ).drop("_nsplit")

    out = path.rstrip("/") + ".compacted"
    # Partition cols lead the within-task sort so the file writer's own
    # required ordering (partition cols first) is already satisfied and
    # it does NOT insert its (unstable) sort on top — that would scramble
    # the (gts_id, ts) locality order this pass exists to produce.
    # The shuffle width is EXPLICIT (one slot per planned output file):
    # a column-only repartition is subject to AQE partition coalescing,
    # which would funnel everything through a handful of tasks and undo
    # the per-file size budget.
    total_files = max(1, sum(rel_to_n.values())) if rel_to_n else 1
    writer = (
        salted.repartition(total_files, *(list(partition_cols) + ["_salt"]))
        .sortWithinPartitions(*(list(partition_cols) + list(sort_cols)))
        .drop("_salt")
        .write.mode("overwrite")
    )
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(out)

    if not swap:
        return out
    old = path.rstrip("/") + ".pre-compact"
    os.rename(path, old)
    os.rename(out, path)
    shutil.rmtree(old)
    return path
