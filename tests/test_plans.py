"""Physical-plan assertions — the properties that matter at 100 TB."""

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as E
from warp10_platform_spark.plans import plan_report


def test_fetch_range_pushes_predicates(spark, sf_dir):
    r = plan_report(E.queries()["fetch_range"](spark, sf_dir))
    pushed = " ".join(r.pushed_filters)
    assert "GreaterThanOrEqual(ts" in pushed and "LessThanOrEqual(ts" in pushed
    assert any("events.purchase" in p for p in r.partition_filters)
    assert r.cartesian_products == 0


@pytest.mark.parametrize("form", ["map", "list"])
def test_warpscript_fetch_prunes_class_and_pushes_ts(spark, sf_dir, form, monkeypatch):
    """WarpScript FETCH, both argument forms, reads the class-partitioned
    layout on both routes. Spark route: a class regex prunes partitions
    and both time bounds reach the parquet scan. Arrow route: every row
    group picked (and read) is in a selected class's file, and every row
    lies in the range and matches the label regex."""
    import json
    import re

    from warp10_platform_spark.sources.directory import SeriesDirectory
    from warp10_platform_spark.warpscript import functions as WF
    from warp10_platform_spark.warpscript.stack import WarpScriptStack

    def fetch(user_re, start, end):
        st = WarpScriptStack(spark, sf_dir)
        clause = f"user~{user_re}" if user_re else ""
        if form == "map":
            st.push({"selector": rf"~events\.(click|view){{{clause}}}", "start": start, "end": end})
        else:
            st.push([r"~events\.(click|view)", {"user": f"~{user_re}"} if user_re else {}, start, end])
        WF.REGISTRY["FETCH"](st)
        return st.pop()

    start, end = 1_700_000_000_000_000, 1_800_000_000_000_000
    with monkeypatch.context() as m:
        m.setattr(WF, "_LOCAL_MAX_BYTES", 0)
        gf = fetch("36[0-9]", start, end)
    assert gf.table is None
    r = plan_report(gf.df)
    assert any("class" in p and "click|view" in p for p in r.partition_filters)
    pushed = " ".join(r.pushed_filters)
    assert f"GreaterThanOrEqual(ts,{start})" in pushed and f"LessThanOrEqual(ts,{end})" in pushed

    start, end = 1_704_844_800_000_000, 1_705_449_600_000_000  # a week inside the data
    pick, picks = SeriesDirectory.pick, []

    def picking(self, selectors):
        picks.append((self, pick(self, selectors)))
        return picks[-1][1]

    with monkeypatch.context() as m:
        m.setattr(SeriesDirectory, "pick", picking)
        gf = fetch("1[0-9]", start, end)
    assert gf.table is not None and gf.table.num_rows
    ((d, p),) = picks
    # each file's class is the class=... directory that holds it
    assert len(p.groups) and {d.classes[c] for c in d.file_class[d.group_file[p.groups]]} <= {
        "events.click", "events.view"}
    assert set(gf.table["class"].to_pylist()) == {"events.click", "events.view"}
    assert all(start <= t <= end for t in gf.table["ts"].to_pylist())
    users = {e["value"] for k in gf.table["labels_key"].to_pylist() for e in json.loads(k)}
    assert users and all(re.fullmatch("1[0-9]", u) for u in users)


def test_fetch_range_daypruned_prunes_day_partitions(spark, sf_dir):
    """The (class, day)-partitioned layout turns a FETCH time range into
    directory-level pruning: PartitionFilters carry class AND day bounds,
    and the ts row filter still reaches PushedFilters."""
    r = plan_report(E.queries()["fetch_range_daypruned"](spark, sf_dir))
    parts = " ".join(r.partition_filters)
    assert "events.purchase" in parts and "day" in parts
    pushed = " ".join(r.pushed_filters)
    assert "GreaterThanOrEqual(ts" in pushed and "LessThanOrEqual(ts" in pushed
    assert r.cartesian_products == 0


def test_tpch_q6_scan_prunes_columns(spark, sf_dir):
    r = plan_report(E.queries()["tpch_q6"](spark, sf_dir))
    cols = r.scan_columns()
    # only the 4 referenced lineitem columns are read
    assert {"l_quantity", "l_extendedprice", "l_discount", "l_shipdate"} <= cols
    assert "l_comment" not in cols and "l_orderkey" not in cols
    assert any("l_shipdate" in p for p in r.pushed_filters)


def test_tpch_q3_joins_sanely(spark, sf_dir):
    # Only customer carries an explicit broadcast hint; the orders⋈lineitem
    # strategy is left to size stats/AQE (broadcast at toy SF, shuffle at
    # scale). Assert the invariants: joins are hash-based, no cartesian.
    r = plan_report(E.queries()["tpch_q3"](spark, sf_dir))
    assert r.broadcast_joins + r.sortmerge_joins + r.shuffle_hash_joins >= 2
    assert r.cartesian_products == 0
    import inspect

    from warp10_platform_spark.queries import tpch

    src = inspect.getsource(tpch.tpch_q3)
    assert "broadcast(c)" in src and "broadcast(o)" not in src and "broadcast(li)" not in src


def test_no_python_in_jvm_operator_paths(spark, sf_dir):
    # bucketize/map/reduce pipelines must not contain Python eval nodes
    for name in ["bucketize_mean", "map_moving_mean", "gts_bucketize_reduce", "doc_simhash"]:
        r = plan_report(E.queries()[name](spark, sf_dir))
        assert r.python_evals == 0, name


def test_find_scans_directory_only(spark, sf_dir):
    """FIND resolves on the materialized directory parquet — the plan
    must not open the points/events store at all (SURVEY §1.6)."""
    from warp10_platform_spark.plans.audit import explain_formatted
    from warp10_platform_spark.sources.directory import directory_table, find

    d = directory_table(spark, sf_dir)
    plan = explain_formatted(find(d, "~events\\.p.*{}"))
    assert "directory_" in plan
    assert "events.parquet" not in plan


def test_packed_fill_is_single_shuffle(spark, sf_dir):
    """SCALE.md claim: fill_previous_packed = scaffold + fill in ONE
    groupBy shuffle (plus the bucketize shuffle feeding it) — no
    dropDuplicates + join + window cascade."""
    r = plan_report(E.queries()["fill_previous"](spark, sf_dir))
    # bucketize groupBy + packed-fill groupBy; anything more means the
    # scaffold-join path snuck back in
    assert r.exchanges <= 2, r.exchanges
    assert r.python_evals == 0


def test_wrap_unwrap_adds_no_extra_shuffle(spark, sf_dir):
    """unwrap(wrap(pts)) is one groupBy shuffle total: wrap groups per
    series, unwrap is a pure per-row parse+explode."""
    r = plan_report(E.queries()["wrap_unwrap_roundtrip"](spark, sf_dir))
    assert r.exchanges <= 1, r.exchanges
    assert r.python_evals == 0


def test_sessionize_is_single_shuffle(spark, sf_dir):
    """timesplit windows hash-partition by gts_id; the per-session
    summary leads its grouping keys with gts_id (which functionally
    determines class/user), so the whole query is ONE exchange."""
    r = plan_report(E.queries()["sessionize"](spark, sf_dir))
    assert r.exchanges == 1, r.exchanges
    assert r.python_evals == 0


def test_chained_per_series_ops_share_partitioning(spark, sf_dir):
    """Two stacked per-series windows (delta then running sum) must not
    re-exchange between them — Catalyst reuses the gts_id partitioning."""
    from warp10_platform_spark.core.frame import GTSFrame
    from warp10_platform_spark.sources.tables import events_points

    gf = GTSFrame.fetch(events_points(spark, sf_dir), "events.purchase{}")
    chained = gf.delta().df
    from pyspark.sql import Window

    w = Window.partitionBy("gts_id").orderBy("ts").rowsBetween(Window.unboundedPreceding, 0)
    out = chained.withColumn("csum", F.sum("v_mapped").over(w))
    r = plan_report(out)
    assert r.exchanges == 1, r.exchanges


def test_fetch_gcount_broadcasts_series_budget(spark, sf_dir):
    """gskip/gcount ranks the directory (series-sized), then the points
    scan sees ONLY a broadcast semi-join on gts_id — no cartesian, no
    points-side window."""
    r = plan_report(E.queries()["fetch_gcount"](spark, sf_dir))
    assert r.cartesian_products == 0
    assert r.broadcast_joins >= 1
    assert r.python_evals == 0


def test_geo_wkt_fence_is_pure_columnar(spark, sf_dir):
    """The WKT ray cast compiles to comparison/arithmetic exprs — no
    Python eval, no join, no shuffle beyond the scan."""
    r = plan_report(E.queries()["geo_wkt_fence"](spark, sf_dir))
    assert r.python_evals == 0
    assert r.cartesian_products == 0
    assert r.exchanges == 0, r.exchanges


def test_minhash_guard_bands_reps_only(spark, sf_dir):
    """Band-skew guard: the band self-join runs over signature
    representatives; the plan has no cartesian products and keeps the
    signature computation JVM-side (HOF exprs, no Python)."""
    r = plan_report(E.queries()["doc_minhash_lsh"](spark, sf_dir))
    assert r.cartesian_products == 0
    assert r.python_evals == 0
    import inspect

    from warp10_platform_spark.pipeline import dedup

    # the guard routes through the windowed group annotation (r8): reps
    # are the rows where doc_id == rep of the ONE persisted member frame
    src = inspect.getsource(dedup.minhash_lsh_pairs)
    assert "_group_members" in src and 'F.col("doc_id") == F.col("rep")' in src
    gm = inspect.getsource(dedup._group_members)
    assert 'F.min("doc_id").over' in gm and "F.collect_list" not in gm


def test_q21_keyed_exchange_shape(spark, sf_dir):
    """r9's q21 win: at gate/bench scale the (order,supplier) aggregate's
    exchange is keyed by l_orderkey alone and the per-order window reuses
    it — exactly TWO shuffle exchanges (aggregate keying + final s_name
    groupBy). Pins the shape so an AQE/config change can't silently
    reintroduce the third exchange (r9 verdict #5/#6)."""
    r = plan_report(E.queries()["tpch_q21_waiting_supplier"](spark, sf_dir))
    assert r.exchanges == 2, r.exchanges
    assert r.cartesian_products == 0


def test_q21_unkeyed_route_above_gate(spark, sf_dir, monkeypatch):
    """Above _Q21_KEYED_MAX_BYTES (sf10-scale facts) the l_orderkey
    repartition drops out: the aggregate keeps its map-side partials and
    the window pays its own exchange."""
    from warp10_platform_spark.plans.audit import explain_formatted
    from warp10_platform_spark.queries import tpch2

    q21 = E.queries()["tpch_q21_waiting_supplier"]
    assert "REPARTITION_BY_COL" in explain_formatted(q21(spark, sf_dir))
    monkeypatch.setattr(tpch2, "_Q21_KEYED_MAX_BYTES", 0)
    assert "REPARTITION_BY_COL" not in explain_formatted(q21(spark, sf_dir))


def test_q21_routes_return_same_rows(spark, sf_dir, monkeypatch):
    """Both q21 keying routes return the same rows. Run on the sf0.01
    fixture next to the test one, because q21 returns no rows at
    sf0.001."""
    import os

    from warp10_platform_spark.queries import tpch2

    sf = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    if not os.path.exists(os.path.join(sf, "lineitem.parquet")):
        pytest.skip("sf0.01 testdata not present")
    q21 = E.queries()["tpch_q21_waiting_supplier"]
    keyed = sorted(map(tuple, q21(spark, sf).collect()))
    monkeypatch.setattr(tpch2, "_Q21_KEYED_MAX_BYTES", 0)
    unkeyed = sorted(map(tuple, q21(spark, sf).collect()))
    assert keyed and keyed == unkeyed


def test_plan_bytes_known_and_unknown_sizes(spark, sf_dir):
    """plan_bytes: a file scan has a size estimate; a createDataFrame
    frame (Catalyst's Long.MaxValue sentinel) and a streaming frame have
    none."""
    import os

    from warp10_platform_spark.plans import plan_bytes

    size = plan_bytes(spark.read.parquet(os.path.join(sf_dir, "documents.parquet")))
    assert isinstance(size, int) and 0 < size < (1 << 63) - 1
    assert plan_bytes(spark.createDataFrame([(1,)], "a int")) is None
    assert plan_bytes(spark.readStream.format("rate").load()) is None


def test_chunk_dedup_single_window_shape(spark, sf_dir):
    """r9's chunk_dedup win: duplicate-count per chunk comes from ONE
    window over the chunk key (no groupBy + join-back): at most the
    chunking shuffle + the window's exchange, and no join in the plan
    beyond broadcasts."""
    r = plan_report(E.queries()["doc_chunk_dedup"](spark, sf_dir))
    assert r.exchanges <= 2, r.exchanges
    assert r.sortmerge_joins == 0 and r.shuffle_hash_joins == 0
    assert r.python_evals == 0


def test_contamination_broadcasts_eval_side(spark, sf_dir):
    # the eval/benchmark n-gram set must be broadcast (KB-scale at any
    # corpus size); the train corpus must never be on the build side
    r = plan_report(E.queries()["doc_contamination"](spark, sf_dir))
    assert r.broadcast_joins >= 1
    assert r.cartesian_products == 0
    assert r.python_evals == 0


def test_pii_and_repetition_are_scan_side(spark, sf_dir):
    # pure projections: no shuffle, no python, no join
    for name in ["doc_pii_scrub", "doc_intra_repetition"]:
        r = plan_report(E.queries()[name](spark, sf_dir))
        assert r.python_evals == 0, name
        assert r.exchanges == 0, name
        assert r.cartesian_products == 0, name


def test_lm_score_broadcasts_small_aggregates(spark, sf_dir):
    # unigram counts + vocab scalar are broadcast; the bigram join may
    # shuffle (it's the big side) — but never a cartesian on data
    r = plan_report(E.queries()["doc_lm_score"](spark, sf_dir))
    assert r.broadcast_joins >= 2
    assert r.python_evals == 0


def test_stratified_sample_is_scan_side(spark, sf_dir):
    r = plan_report(E.queries()["doc_stratified_sample"](spark, sf_dir))
    assert r.exchanges == 0
    assert r.python_evals == 0


def test_seq_packing_sharded_single_shuffle(spark, sf_dir):
    # keyed window = one exchange on the shard key, nothing else
    r = plan_report(E.queries()["doc_seq_packing_sharded"](spark, sf_dir))
    assert r.exchanges <= 1
    assert r.python_evals == 0


def test_no_sort_aggregate_in_bucketize_directory_tier(spark):
    """Map-typed first(labels) used to force SortAggregate fallback
    (unsupported hash buffer) across the bucketize/directory tier;
    labels_from_key keeps these aggregations hash-based. Regression
    guard on the executed plans."""
    from warp10_platform_spark.queries import QUERIES

    for name in ("bucketize_mean", "bucketize_sum", "bucketize_min_max",
                 "bucketize_calendar_daily", "find_series", "findstats"):
        df = QUERIES[name](spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SortAggregate" not in plan, name


def test_bucketed_layout_is_shuffle_free(spark):
    """The gts_id-bucketed storage layout exposes its bucket spec to
    Catalyst: per-series aggregation AND per-series windows plan with
    ZERO Exchange operators — the co-location contract SCALE.md claims."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from warp10_platform_spark.queries import QUERIES
    from warp10_platform_spark.sources.tables import bucketed_points

    t = bucketed_points(spark, "/root/testdata/sf0.001")
    agg = t.groupBy("gts_id", "class", "labels_key").agg(F.count("*").alias("n"))
    assert agg._jdf.queryExecution().executedPlan().toString().count("Exchange") == 0

    w = Window.partitionBy("gts_id").orderBy("ts")
    win = t.withColumn("d", F.col("v_double") - F.lag("v_double").over(w))
    assert win._jdf.queryExecution().executedPlan().toString().count("Exchange") == 0

    q = QUERIES["bucketize_count_bucketed"](spark, "/root/testdata/sf0.001")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 0
    assert "SortAggregate" not in plan


def test_bucketed_fact_join_is_shuffle_free(spark):
    """Co-located fact-fact join: orders and lineitem bucketed by their
    orderkey join with ZERO shuffle Exchange operators, and a follow-up
    groupBy whose keys include the bucket key inherits the distribution.
    Broadcast is disabled to force the large-data plan shape — at sf0.001
    Spark (correctly) broadcasts the tiny fact instead; at 100 TB this
    SortMergeJoin-over-buckets IS the plan."""
    from pyspark.sql import functions as F

    from warp10_platform_spark.sources.tables import bucketed_fact

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        o = bucketed_fact(spark, "/root/testdata/sf0.001", "orders", "o_orderkey")
        li = bucketed_fact(spark, "/root/testdata/sf0.001", "lineitem", "l_orderkey")
        q = (
            o.join(li, o.o_orderkey == li.l_orderkey)
            .groupBy("o_orderkey", "o_orderpriority")
            .agg(F.count("*").alias("n"), F.sum("l_quantity").alias("q"))
        )
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert plan.count("Exchange") == 0, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_tpch_q18_colocated_no_fact_shuffle(spark):
    """The registered co-located q18 variant never shuffles a fact row:
    every Exchange in its plan is a BroadcastExchange of a dim/pre-agg."""
    from warp10_platform_spark.queries import QUERIES

    q = QUERIES["tpch_q18_colocated"](spark, "/root/testdata/sf0.001")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == plan.count("BroadcastExchange"), plan


def test_tpch_q19_or_brackets_push_to_both_scans(spark, sf_dir):
    """The disjunction of conjunctive brackets spans the join, but its
    per-side unions must still reach BOTH parquet scans."""
    r = plan_report(E.queries()["tpch_q19_brackets"](spark, sf_dir))
    pushed = " ".join(r.pushed_filters)
    assert "l_quantity" in pushed and "p_brand" in pushed
    assert r.broadcast_joins >= 1 and r.cartesian_products == 0


def test_macro_surface_batches_groups(spark, sf_dir):
    """The custom-aggregator surface must not hand applyInPandas one tiny
    Arrow group per (series, bucket) / per tick: the shuffle key carries a
    chunk (of buckets, resp. hash-chunked ticks) so per-group overhead is
    amortized while group size stays bounded. One Exchange, chunked key."""
    from warp10_platform_spark.functions.custom import macro_bucketizer, macro_reducer
    from warp10_platform_spark.queries.gts import DAY, LASTBUCKET, NDAYS
    from warp10_platform_spark.sources.tables import canonical_points

    pts = canonical_points(spark, sf_dir)
    out, _ = macro_bucketizer(pts, lambda fr: float(fr.values.sum()), DAY, LASTBUCKET, NDAYS)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "_chunk" in plan, plan  # grouping key is (gts_id, chunk-of-buckets)

    red = macro_reducer(pts, lambda fr: float(fr.values.sum()), by_labels=[])
    rplan = red._jdf.queryExecution().executedPlan().toString()
    assert rplan.count("Exchange") == 1, rplan
    assert "_chunk" in rplan, rplan


def test_per_series_analytics_batch_series_per_group(spark, sf_dir):
    """Per-series analytics shuffle a hash CHUNK of series per Arrow
    group (core/apply.per_series_apply), not one group per series — and
    still exactly one Exchange, with the input projected to the columns
    the UDF reads (no labels/attributes maps in the plan)."""
    from warp10_platform_spark.analytics.fit import lowess_smooth
    from warp10_platform_spark.sources.tables import canonical_points

    pts = canonical_points(spark, sf_dir)
    out = lowess_smooth(pts, frac=0.3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "_schunk" in plan, plan
    assert "attributes" not in plan, plan  # map columns pruned pre-shuffle


def _scan_stats(df):
    """Execute df and read the FileSourceScan's post-execution SQL
    metrics (numFiles / filesSize) — the file-level EFFECT of partition
    pruning, not just the PartitionFilters text in the plan. AQE wraps
    the executed plan in a way that detaches leaf metrics, so callers
    disable it around the probe."""
    df.collect()
    leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
    files = size = 0
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if "Scan" in leaf.nodeName():
            mets = leaf.metrics()
            if mets.contains("numFiles"):
                files += mets.apply("numFiles").value()
            if mets.contains("filesSize"):
                size += mets.apply("filesSize").value()
    return files, size


def test_day_partition_pruning_reads_fewer_files_sf01(spark):
    """File-level pruning evidence at sf0.1 (the bench scale): a 1-day
    FETCH over the (class, day)-partitioned layout must OPEN strictly
    fewer bytes — and no more files — than the same FETCH over the
    class-partitioned canonical layout, and must touch only files under
    the target day's directory. This asserts pruning's EFFECT (files and
    bytes actually read), complementing the PartitionFilters plan-text
    assertion above."""
    import os

    from pyspark.sql import functions as F

    from warp10_platform_spark.sources.tables import DAY_US, canonical_points, partitioned_points

    sf01 = "/root/testdata/sf0.1"
    if not os.path.exists(os.path.join(sf01, "events.parquet")):
        import pytest

        pytest.skip("sf0.1 testdata not present")

    t0 = 1704844800000000 // 86_400_000_000 * DAY_US  # day-aligned instant, platform ticks
    t1 = t0 + DAY_US - 1
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        part = partitioned_points(spark, sf01).where(
            F.col("day").between(t0 // DAY_US, t1 // DAY_US)
        ).where((F.col("class") == "events.purchase") & F.col("ts").between(t0, t1))
        canon = canonical_points(spark, sf01).where(
            (F.col("class") == "events.purchase") & F.col("ts").between(t0, t1)
        )
        pf, pb = _scan_stats(part.select("ts", "v_double"))
        cf, cb = _scan_stats(canon.select("ts", "v_double"))
        # same rows from both layouts
        assert part.count() == canon.count() > 0
        assert pf <= cf and pb < cb, (pf, pb, cf, cb)
        # every file opened by the pruned scan lives under the one day dir
        files = [r[0] for r in part.select(F.input_file_name()).distinct().collect()]
        assert files and all(f"/day={t0 // DAY_US}/" in f for f in files), files[:3]
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def test_macrofilter_distributed_above_cap(spark, sf_dir, monkeypatch):
    """Above the cardinality cap, MACROFILTER must NOT collect the
    identity set to the driver: the macro ships to executors
    (MapInPandas over the distinct identities) and survivors semi-join
    back. Asserted three ways: plan shape, a collect spy bounding the
    driver probe at cap+1 rows, and value parity with the driver path."""
    from pyspark.sql import DataFrame

    import warp10_platform_spark.warpscript.functions as WF
    from warp10_platform_spark.warpscript.stack import WarpScriptStack

    script = (
        "[ '~events\\..*' {} 0 1706659200000000 ] FETCH "
        "[ SWAP [] <% 0 GET DUP 0 GET 'cls' STORE 1 GET 'user' GET TOLONG "
        "2 % 0 == $cls 'events.error' != AND %> MACROFILTER ] FILTER"
    )
    st = WarpScriptStack(spark, sf_dir)
    st.exec(script)
    expect = sorted(map(tuple, st.pop().df.select("class", "labels_key").distinct().collect()))

    cap = 1
    monkeypatch.setattr(WF, "MACROFILTER_MAXIDS", cap)
    collected = []
    orig = DataFrame.collect
    monkeypatch.setattr(DataFrame, "collect", lambda self: collected.append(r := orig(self)) or r)
    st2 = WarpScriptStack(spark, sf_dir)
    st2.exec(script)
    gf = st2.pop()
    assert all(len(rows) <= cap + 1 for rows in collected), "unbounded driver collect above cap"
    plan = gf.df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan and "MapInPandas" in plan
    monkeypatch.undo()
    assert sorted(map(tuple, gf.df.select("class", "labels_key").distinct().collect())) == expect


def test_macrofilter_unbounded_fallback_refused(spark, sf_dir, monkeypatch):
    """A legacy 2-tuple macrofilter spec (no shippable tokens) above the
    cap raises instead of silently evaluating a truncated identity set."""
    import pytest

    import warp10_platform_spark.warpscript.functions as WF
    from warp10_platform_spark.core.frame import GTSFrame
    from warp10_platform_spark.sources.tables import canonical_points

    monkeypatch.setattr(WF, "MACROFILTER_MAXIDS", 1)
    st = type("S", (), {"pop": None, "push": None, "symbols": {}})()
    gf = GTSFrame(canonical_points(spark, sf_dir), None, "v_double")
    stack = []
    st.pop = stack.pop
    st.push = stack.append
    stack.append([gf, [], ("macrofilter", lambda ids, s: [])])
    with pytest.raises(RuntimeError, match="WARP10_MACROFILTER_MAXIDS"):
        WF._filter(st)


def test_macrofilter_dropped_symbol_diagnostic(spark, sf_dir, monkeypatch):
    """A shipped filter macro referencing a symbol that could NOT be
    pickled to the executors (a lazy frame bound on the driver) must
    fail with the shipping diagnostic naming the symbol — not a generic
    undefined-variable NameError (r7 verdict #7)."""
    import pytest

    import warp10_platform_spark.warpscript.functions as WF
    from warp10_platform_spark.warpscript.stack import WarpScriptStack

    monkeypatch.setattr(WF, "MACROFILTER_MAXIDS", 1)
    st = WarpScriptStack(spark, sf_dir)
    # bind an unpicklable, driver-only value (the SparkSession itself),
    # then reference it from the filter macro
    st.symbols["driverthing"] = spark
    script = (
        "[ '~events\\..*' {} 0 1706659200000000 ] FETCH "
        "[ SWAP [] <% $driverthing NULL == %> MACROFILTER ] FILTER"
    )
    with pytest.raises(Exception, match="could not be pickled"):
        st.exec(script)
        st.pop().df.collect()  # executor-side failure surfaces on action


def test_q3_eager_agg_and_semi_prune_shape(spark, sf_dir, monkeypatch):
    """r10's q3 win (guide §2.3 + §3.2): the revenue aggregation sits
    BELOW the orders join — lineitem pre-aggregates by l_orderkey, the
    pre-agg's exchange doubles as the join's — and below the size gate
    lineitem is pruned by a broadcast LEFT SEMI on qualifying orderkeys
    before that exchange. Above the gate (100 TB: the key set outgrows
    any broadcast) the semi prune must drop out while the eager pre-agg
    stays. Pins both routings so a config/AQE change can't silently
    reintroduce the post-join aggregate or ship an unbounded broadcast."""
    import inspect

    from warp10_platform_spark.plans.audit import explain_formatted
    from warp10_platform_spark.queries import tpch

    df = E.queries()["tpch_q3"](spark, sf_dir)
    plan = explain_formatted(df)
    assert "LeftSemi" in plan  # gate scale: semi prune engaged
    r = plan_report(df)
    # one shuffle exchange for the pre-agg (reused by the join); allow a
    # second only for the orders side at non-broadcast scale
    assert r.exchanges <= 2, r.exchanges
    assert r.cartesian_products == 0
    # the aggregate consumes lineitem, not the joined rows
    src = inspect.getsource(tpch.tpch_q3)
    assert 'groupBy("l_orderkey")' in src and 'groupBy("o_orderkey"' not in src
    # 100 TB routing: estimate above the gate -> no semi broadcast
    monkeypatch.setattr(tpch, "_Q3_SEMI_MAX_BYTES", 0)
    plan2 = explain_formatted(E.queries()["tpch_q3"](spark, sf_dir))
    assert "LeftSemi" not in plan2
