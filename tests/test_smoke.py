"""Foundation smoke tests: time axis parity with DuckDB, gts_id, selector."""

from pyspark.sql import functions as F

from warp10_platform_spark.core.selector import parse_selector, selector_predicate
from warp10_platform_spark.sources.tables import events_points


def test_ts_micros_matches_duckdb(spark, sf_dir, duck):
    """unix_micros(ts) in Spark must equal epoch_us(ts) in DuckDB —
    foundation for every time-based oracle comparison."""
    pts = events_points(spark, sf_dir)
    got = pts.agg(F.count("*").alias("n"), F.sum("ts").alias("s")).first()
    want = duck.sql("SELECT count(*) n, sum(epoch_us(ts)) s FROM events").fetchone()
    assert got["n"] == want[0]
    assert int(got["s"]) == int(want[1])


def test_points_schema_invariants(spark, sf_dir):
    pts = events_points(spark, sf_dir)
    assert {"class", "labels", "ts", "v_double", "gts_id", "labels_key"} <= set(pts.columns)
    # one value col non-null
    bad = pts.where(F.col("v_double").isNull()).count()
    assert bad == 0


def test_selector_parse():
    s = parse_selector("sensor.temp{site~eu-.*,device=d007}")
    assert s.class_exact == "sensor.temp"
    assert ("site", "~", "eu-.*") in s.labels
    assert ("device", "=", "d007") in s.labels
    s2 = parse_selector("~sensor\\..*{}")
    assert s2.class_regex == "sensor\\..*"
    s3 = parse_selector("m{a=1}{o~x.*}")
    assert s3.attributes == [("o", "~", "x.*")]


def test_selector_predicate(spark, sf_dir):
    pts = events_points(spark, sf_dir)
    total = pts.count()
    all_match = pts.where(selector_predicate("~events\\..*{}")).count()
    assert all_match == total
    none = pts.where(selector_predicate("nope{}")).count()
    assert none == 0
    some = pts.where(selector_predicate("~events\\..*{user~1.*}")).count()
    assert 0 < some < total


def test_connected_components_chain_and_clique(spark):
    from warp10_platform_spark.pipeline.cluster import connected_components

    # chain 1-2-3-4-5 (diameter 4, needs multiple propagation rounds) and
    # a separate triangle 10-11-12
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12)],
        ["id_a", "id_b"],
    )
    got = {r["id"]: r["rep"] for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 12: 10}


def test_connected_components_materializes_edges_once(spark):
    """r10: the edge list is localCheckpoint'ed before the label loop —
    the upstream pair-generation pipeline must run ONCE, not once per
    propagation round (doc_dup_clusters re-ran the quadratic
    ngram-jaccard self-join ~(rounds+1) times before the fix). An
    accumulator-counting UDF on the edge source pins the evaluation
    count: the chain graph below needs ≥4 rounds, so a regression
    multiplies the count well past the assertion bound."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    from warp10_platform_spark.pipeline.cluster import connected_components

    acc = spark.sparkContext.accumulator(0)

    def counted(x):
        acc.add(1)
        return x

    cudf = F.udf(counted, LongType())
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7)], ["raw_a", "id_b"]
    ).select(cudf("raw_a").alias("id_a"), "id_b")
    got = {r["id"]: r["rep"] for r in connected_components(edges).collect()}
    assert got == {i: 1 for i in range(1, 8)}
    # 6 edge rows, materialized once by the eager checkpoint; the
    # unionByName there evaluates the UDF on both branches, 6 × 2 = 12.
    # The bound leaves room for task retries and stays far below the
    # regression signal (pre-fix: ≥ 5 rounds × 6 ≥ 30).
    assert acc.value <= 18, f"edge pipeline evaluated {acc.value} row-times"


def test_events_points_labels_key_matches_canonical(spark):
    """events_points builds labels_key by template concat (perf); it must
    equal the generic canonical_labels()/with_gts_id form bit-for-bit."""
    from pyspark.sql import functions as F

    from warp10_platform_spark.core.schema import canonical_labels
    from warp10_platform_spark.sources.tables import events_points

    df = events_points(spark, "/root/testdata/sf0.001")
    bad = df.where(
        (F.col("labels_key") != canonical_labels())
        | (F.col("gts_id") != F.xxhash64(F.col("class"), canonical_labels()))
    ).count()
    assert bad == 0


def test_cores_default_to_the_machines(monkeypatch):
    """Without SPARK_GRAFT_CPUS a session runs local[os.cpu_count()] with
    as many shuffle partitions; the variable still wins when set."""
    from warp10_platform_spark import session

    class Recorder:
        def __init__(self):
            self.conf = {}

        def appName(self, name):
            return self

        def master(self, m):
            self.conf["master"] = m
            return self

        def config(self, k, v):
            self.conf[k] = v
            return self

        def getOrCreate(self):
            return self.conf

    monkeypatch.setattr(session, "SparkSession", type("SparkSession", (), {"builder": Recorder()}))
    monkeypatch.setattr(session.os, "cpu_count", lambda: 3)
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    conf = session.get_spark()
    assert (conf["master"], conf["spark.sql.shuffle.partitions"]) == ("local[3]", "3")
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "5")
    conf = session.get_spark()
    assert (conf["master"], conf["spark.sql.shuffle.partitions"]) == ("local[5]", "5")
