"""Equivalence tests for the r10 Arrow/numpy kernels (pipeline/kernels.py):
every kernel must be BIT-IDENTICAL to the SQL-expression form it replaces,
on adversarial corpora — the kernels are optimizations, never semantics."""

import pytest
from pyspark.sql import functions as F

from warp10_platform_spark.pipeline import dedup as dd
from warp10_platform_spark.pipeline import similarity as sim


def _collect_set(df):
    return sorted(tuple(r) for r in df.collect())


CENTS = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0]]


def _mixed_corpus(spark, n=300, seed=7):
    """Vectors spanning all cells with exact duplicates, near-ties at the
    0.9 decision boundary, anti-aligned and tiny-magnitude rows."""
    import random

    rnd = random.Random(seed)
    rows = []
    for i in range(n):
        kind = i % 6
        if kind == 0:
            v = [1.0, rnd.uniform(-0.1, 0.4), rnd.uniform(-0.1, 0.1)]
        elif kind == 1:
            v = [1.0, 0.05, 0.0]  # exact duplicate group
        elif kind == 2:
            v = [rnd.uniform(-0.2, 0.2), 1.0, rnd.uniform(-0.5, 0.5)]
        elif kind == 3:
            v = [-1.0, rnd.uniform(-0.2, 0.2), 0.1]
        elif kind == 4:
            v = [1e-154, rnd.uniform(0.5, 1.5) * 1e-154, 0.0]  # tiny magnitude
        else:
            v = [0.0, 0.0, 1.0 + i * 1e-9]  # near-tie ladder in cell 2
        rows.append((i, v))
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_semantic_kernel_matches_join_path(spark):
    """kernel_cell_max routing must not change a single verdict: all-kernel
    (big gate), all-join (None), and mixed (gate splits the cells) agree."""
    emb = _mixed_corpus(spark)
    for thr in (0.4, 0.9, 1.5):
        want = _collect_set(sim.semantic_dedup(emb, CENTS, threshold=thr, kernel_cell_max=None))
        allk = _collect_set(sim.semantic_dedup(emb, CENTS, threshold=thr, kernel_cell_max=4096))
        assert allk == want, f"all-kernel != join at t={thr}"
        # gate between the cell sizes: some cells kernel, some join
        sizes = sorted(
            r["n"]
            for r in sim.semantic_dedup(emb, CENTS, threshold=thr)
            .groupBy("ivf_cell").agg(F.count("*").alias("n")).collect()
        )
        mid = sizes[len(sizes) // 2]
        mixed = _collect_set(sim.semantic_dedup(emb, CENTS, threshold=thr, kernel_cell_max=mid))
        assert mixed == want, f"mixed routing != join at t={thr}"


def test_semantic_kernel_zero_vectors_non_ansi(spark):
    """Non-ANSI: x/0 is NULL on the join path, so zero vectors neither
    dominate nor get dominated — the kernel's denominator mask must
    reproduce that exactly."""
    rows = [(0, [1.0, 0.0, 0.0]), (1, [1.0, 0.0, 0.0]), (2, [0.0, 0.0, 0.0]),
            (3, [0.0, 0.0, 0.0]), (4, [0.0, 1.0, 0.0])]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        want = _collect_set(sim.semantic_dedup(emb, CENTS, threshold=0.9, kernel_cell_max=None))
        got = _collect_set(sim.semantic_dedup(emb, CENTS, threshold=0.9, kernel_cell_max=4096))
        assert got == want
        kept = {t[0]: t[2] for t in got}
        assert kept[2] and kept[3]  # zero vectors all kept on both paths
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_semantic_kernel_zero_vectors_ansi_raise(spark):
    """ANSI: the join path raises DIVIDE_BY_ZERO on a zero-norm pair; the
    kernel must fail the job loudly too, not silently mask."""
    rows = [(0, [1.0, 0.0, 0.0]), (1, [0.0, 0.0, 0.0])]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        with pytest.raises(Exception, match="zero-norm|DIVIDE_BY_ZERO"):
            sim.semantic_dedup(emb, CENTS, threshold=0.9, kernel_cell_max=4096).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_semantic_kernel_boundary_cutoff_ties(spark):
    """Cosines manufactured ONTO the round(.,6) decision boundary at
    t=0.9: kernel and join must agree pair by pair (the cutoff constant
    is shared, but the kernel's division/compare runs in numpy)."""
    import math

    rows = [(0, [1.0, 0.0, 0.0])]
    # vectors at angle acos(c) from e0 for cosines bracketing the cutoff
    for i, c in enumerate([0.8999994, 0.8999995, 0.8999996, 0.9000004, 0.9000005, 0.9000006]):
        s = math.sqrt(1.0 - c * c)
        rows.append((i + 1, [c, s, 0.0]))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    want = _collect_set(sim.semantic_dedup(emb, CENTS, threshold=0.9, kernel_cell_max=None))
    got = _collect_set(sim.semantic_dedup(emb, CENTS, threshold=0.9, kernel_cell_max=4096))
    assert got == want


def _adversarial_docs(spark):
    """Texts that stress the fingerprint folds: empty/whitespace (split
    yields ['']), single token, unicode, heavy duplication, and enough
    length for multi-shingle signatures."""
    rows = [
        (0, ""),                      # -> [''] after split(trim(...))
        (1, "   "),
        (2, "one"),
        (3, "κόσμε ünïcode 漢字 a b c d"),
        (4, "the quick brown fox jumps over the lazy dog again and again"),
        (5, "the quick brown fox jumps over the lazy dog again and again"),
        (6, " ".join(f"w{i % 17}" for i in range(200))),
        (7, " ".join(f"tok{i}" for i in range(64))),
    ] + [(100 + i, f"shared prefix words {'x' * (i % 3)} tail{i % 5}") for i in range(40)]
    return spark.createDataFrame(rows, ["doc_id", "text"])


@pytest.mark.parametrize("portable", [True, False])
def test_simhash_kernel_matches_hof(spark, portable):
    """The numpy majority fold must reproduce the SQL aggregate bit for
    bit — portable (60-bit md5, non-negative) AND xxhash64 (negative
    hashes exercise the arithmetic-shift sign lane and the 1<<63 wrap)."""
    docs = _adversarial_docs(spark)
    want = _collect_set(dd.simhash(docs, portable=portable, vectorized=False))
    got = _collect_set(dd.simhash(docs, portable=portable, vectorized=True))
    assert got == want


@pytest.mark.parametrize("portable", [True, False])
def test_minhash_kernel_matches_hof(spark, portable):
    """The numpy (h*a+b) mod p / 32-lane min fold must reproduce the SQL
    signature exactly (values < 2^31 masked, products < 2^62: no
    overflow divergence between Java and int64 numpy)."""
    docs = _adversarial_docs(spark)
    want = {(r[0], tuple(r[1])) for r in
            dd.minhash_signatures(docs, portable=portable, vectorized=False).collect()}
    got = {(r[0], tuple(r[1])) for r in
           dd.minhash_signatures(docs, portable=portable, vectorized=True).collect()}
    assert got == want


def test_kernel_routing_threshold(spark, sf_dir):
    """Size routing: corpora at the bench/test SFs keep the HOF plan (no
    Python eval); a file-backed corpus whose Catalyst size estimate
    crosses dedup._KERNEL_MIN_BYTES routes to the Arrow kernel;
    unknown-size frames (createDataFrame) stay on the HOF plan."""
    from functools import reduce

    from warp10_platform_spark.sources.tables import load_table

    def plan(df):
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple"))

    small = load_table(spark, sf_dir, "documents")
    assert not dd._kernel_input(small)
    assert "MapInArrow" not in plan(dd.simhash(small))
    # unknown stats (LogicalRDD sentinel) -> HOF
    assert not dd._kernel_input(_adversarial_docs(spark))
    # a union stack of file scans crosses the byte threshold -> kernel
    copies = max(2, dd._KERNEL_MIN_BYTES // max(1, small.count() * 120) + 1)
    big = reduce(lambda a, b: a.unionAll(b), [small] * min(copies, 200))
    if dd._kernel_input(big):
        assert "MapInArrow" in plan(dd.simhash(big))
        got = {tuple(r) for r in dd.simhash(big).collect()}
        want = {tuple(r) for r in dd.simhash(big, vectorized=False).collect()}
        assert got == want
