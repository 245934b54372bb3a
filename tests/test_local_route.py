"""FETCH's two routes: Spark jobs above warpscript/functions.py's
_LOCAL_MAX_BYTES, Arrow tables and numpy kernels (operators/gts_kernels.py)
on the driver below it.  Both must answer the same."""

import dataclasses
import math
import os

import numpy as np
import pyarrow as pa
import pytest

from warp10_platform_spark.core.frame import GTSFrame
from warp10_platform_spark.warpscript import functions as WF
from warp10_platform_spark.warpscript.stack import WarpScriptStack


def _rows(gf):
    """(class, labels_key, ts) → value of a frame, through its Spark df."""
    vc = gf.value_col
    return {(r["class"], r["labels_key"], r["ts"]): r[vc]
            for r in gf.df.select("class", "labels_key", "ts", vc).collect()}


def _types(df) -> list:
    """Column names and types, nullability aside."""
    return [(f.name, f.dataType.simpleString()) for f in df.schema]


def _assert_same(got: dict, want: dict, rel: float):
    assert got.keys() == want.keys()
    for k, w in want.items():
        g = got[k]
        if rel and g is not None and w is not None:
            assert math.isclose(g, w, rel_tol=rel), (k, g, w)
        else:
            assert g == w or (g != g and w != w), (k, g, w)


@pytest.fixture(scope="module")
def points():
    """Four series (one without labels) in two classes, long and double
    values with nulls, ticks in no order; by `h`, the class order differs
    from the order in which the series first show each value."""
    rng = np.random.default_rng(11)
    n = 600
    series = [("a.cls", {"h": "1"}), ("a.cls", {}), ("b.cls", {"h": "2", "k": "x"}), ("a.cls", {"h": "3", "k": "y"})]
    pick = rng.integers(0, len(series), n)
    ts = rng.permutation(40_000)[:n] * 1000 + 7
    vd = np.round(rng.normal(50, 30, n), 2)
    vl = rng.integers(-1000, 1000, n)
    null = rng.random(n) < 0.1
    from warp10_platform_spark.operators.gts_kernels import labels_key

    return pa.table({
        "class": [series[i][0] for i in pick],
        "labels": pa.array([list(series[i][1].items()) for i in pick], pa.map_(pa.string(), pa.string())),
        "attributes": pa.array([[] for _ in pick], pa.map_(pa.string(), pa.string())),
        "ts": pa.array(ts, pa.int64()),
        "v_double": pa.array(vd, mask=null),
        "v_long": pa.array(vl, mask=null),
        "labels_key": [labels_key(series[i][1]) for i in pick],
        "gts_id": pa.array(pick.astype(np.int64)),
    })


def _both(spark, table, value_col):
    local = GTSFrame(None, None, value_col, table=table, spark=spark)
    return local, GTSFrame(local.df, None, value_col)


def test_kernels_keep_spark_columns_on_an_empty_fetch(spark, points):
    """A scan that selects nothing has no chunks: every kernel still
    returns Spark's columns, and the derived grid is Spark's empty one."""
    empty = pa.Table.from_batches([], points.schema)
    local, remote = _both(spark, empty, "v_double")
    for op in (lambda f: f.bucketize("bucketizer.sum", 1000),
               lambda f: f.bucketize("bucketizer.percentile", 1000, 5000, None, p=50.0),
               lambda f: f.map_aggregate("mapper.max", 1, 1),
               lambda f: f.reduce_frame("reducer.mean", ["h"])):
        a, b = op(local), op(remote)
        assert a.table is not None and a.bucketspec == b.bucketspec and a.value_col == b.value_col
        assert _types(a.df) == _types(b.df) and a.df.count() == 0


@pytest.mark.parametrize("value_col", ["v_double", "v_long"])
@pytest.mark.parametrize("name", ["sum", "mean", "count", "max", "min", "percentile"])
def test_bucketize_kernel_matches_spark(spark, points, name, value_col):
    local, remote = _both(spark, points, value_col)
    p = 95.0 if name == "percentile" else None
    for lastbucket, count in ((40_000_007, 7), (None, None)):
        a = local.bucketize(f"bucketizer.{name}", 3_000_000, lastbucket, count, p=p)
        b = remote.bucketize(f"bucketizer.{name}", 3_000_000, lastbucket, count, p=p)
        assert a.table is not None and a.bucketspec == b.bucketspec
        assert _types(a.df) == _types(b.df)
        _assert_same(_rows(a), _rows(b), 1e-12 if name in ("sum", "mean") else 0)


@pytest.mark.parametrize("value_col", ["v_double", "v_long"])
@pytest.mark.parametrize("name", ["sum", "mean", "count", "max", "min"])
def test_map_window_kernel_matches_spark(spark, points, name, value_col):
    local, remote = _both(spark, points, value_col)
    for pre, post in ((0, 0), (3, 0), (1, 2)):
        a = local.map_aggregate(f"mapper.{name}", pre, post)
        b = remote.map_aggregate(f"mapper.{name}", pre, post)
        assert a.table is not None
        # a frame is added up from its first row, as Spark recomputes it
        _assert_same(_rows(a), _rows(b), 0)


@pytest.mark.parametrize("by", [[], ["h"], ["h", "k"], ["absent"]])
@pytest.mark.parametrize("name", ["sum", "mean", "count", "max", "min"])
def test_reduce_kernel_matches_spark(spark, points, name, by):
    local, remote = _both(spark, points, "v_double")
    a = local.reduce_frame(f"reducer.{name}", by)
    b = remote.reduce_frame(f"reducer.{name}", by)
    assert a.table is not None
    assert _types(a.df) == _types(b.df)
    key = ["gts_id", "class", "labels_key", "ts"]
    assert sorted(map(tuple, a.df.select(*key).collect())) == sorted(map(tuple, b.df.select(*key).collect()))

    def maps(f):
        return sorted({(r["labels_key"], tuple(r["labels"].items())) for r in f.df.select("labels_key", "labels").collect()})

    assert maps(a) == maps(b)
    _assert_same(_rows(a), _rows(b), 1e-12 if name in ("sum", "mean") else 0)


def test_labels_key_escapes_like_spark(spark):
    from pyspark.sql import functions as F

    from warp10_platform_spark.core.schema import canonical_labels
    from warp10_platform_spark.operators.gts_kernels import labels_key

    odd = ['a"b', "back\\slash", "\x01\x1f\b\f\n\r\t", "é😀 /\x7f", "", "z"]
    labels = {f"k{i}{s}": s for i, s in enumerate(odd)}
    df = spark.createDataFrame([(labels,)], "labels map<string,string>")
    assert df.select(canonical_labels().alias("k")).first()["k"] == labels_key(labels)
    assert df.select(F.to_json(F.array(F.lit("x")))).first()[0] == '["x"]'


def _compressed_bytes(pf, i: int) -> int:
    """The compressed bytes of row group `i` in the footer of `pf`."""
    rg = pf.metadata.row_group(i)
    return sum(rg.column(j).total_compressed_size for j in range(rg.num_columns))


def _row_group_bytes(path: str, cls: str, user: str | None = None) -> dict:
    """(file, row group) → compressed bytes of the row groups of `cls`'s
    files in the layout at `path` that hold a row of `user` (every row
    group without one)."""
    import glob

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    out = {}
    for f in sorted(glob.glob(os.path.join(path, f"class={cls}", "*.parquet"))):
        pf = pq.ParquetFile(f)
        for i in range(pf.num_row_groups):
            if user is not None:
                users = pc.map_lookup(pf.read_row_group(i, columns=["labels"])["labels"], "user", "first")
                if not pc.any(pc.equal(users, user)).as_py():
                    continue
            out[f, i] = _compressed_bytes(pf, i)
    return out


def _gate_fetch(spark, sf, selector):
    st = WarpScriptStack(spark, sf)
    st.exec("{ 'selector' '%s' 'end' 2000000000000000 'timespan' 1000000000000000 } FETCH" % selector)
    return st.pop()


def test_gate_counts_the_picked_row_groups_bytes(spark, sf_dir, monkeypatch):
    """The gate reads the compressed bytes of the row groups the lookup
    picks, from the files' footers: a FETCH of the whole class picks its
    every row group; with the gate exactly at those bytes it plans Spark
    jobs, one byte over them it answers from Arrow."""
    from warp10_platform_spark.sources.tables import _points_path

    picked = sum(_row_group_bytes(_points_path(sf_dir), "events.click").values())
    monkeypatch.setattr(WF, "_LOCAL_MAX_BYTES", picked)
    assert not _gate_fetch(spark, sf_dir, "events.click{}").local
    monkeypatch.setattr(WF, "_LOCAL_MAX_BYTES", picked + 1)
    gf = _gate_fetch(spark, sf_dir, "events.click{}")
    assert gf.local and gf.table.num_rows


def test_gate_counts_only_the_row_groups_of_the_matched_series(spark, sf_dir, monkeypatch):
    """A one-user FETCH whose class files are larger than the gate but
    whose picked row groups are smaller answers from Arrow, with the rows
    the Spark route gives.  Run on the sf0.01 fixture next to the test
    one, whose class files hold several row groups."""
    import glob

    from warp10_platform_spark.sources.tables import _points_path, points_layout

    sf = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    if not os.path.exists(os.path.join(sf, "events.parquet")):
        pytest.skip("sf0.01 testdata not present")
    points_layout(spark, sf)
    path = _points_path(sf)
    on_disk = sum(os.path.getsize(f) for f in glob.glob(os.path.join(path, "class=events.click", "*.parquet")))
    groups = _row_group_bytes(path, "events.click", "7")
    assert 0 < len(groups) < len(_row_group_bytes(path, "events.click"))
    picked = sum(groups.values())
    assert picked + 1 < on_disk
    with monkeypatch.context() as m:
        m.setattr(WF, "_LOCAL_MAX_BYTES", 0)
        want = sorted(map(tuple, _gate_fetch(spark, sf, "events.click{user=7}").df.select(
            "class", "labels_key", "ts", "v_double").collect()))
    monkeypatch.setattr(WF, "_LOCAL_MAX_BYTES", picked + 1)
    gf = _gate_fetch(spark, sf, "events.click{user=7}")
    assert gf.local
    t = gf.table
    assert want and sorted(zip(*(t[c].to_pylist() for c in ("class", "labels_key", "ts", "v_double")))) == want


def test_the_scan_reads_the_row_groups_the_gate_counted(spark, sf_dir, monkeypatch):
    """Each driver-route FETCH reads exactly the row groups its pick
    holds, and the pick's bytes are those row groups' compressed bytes in
    the footers.  Run on the sf0.01 fixture next to the test one."""
    from warp10_platform_spark.sources.directory import SeriesDirectory
    from warp10_platform_spark.sources.tables import PointsLayout, points_layout

    sf = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    if not os.path.exists(os.path.join(sf, "events.parquet")):
        pytest.skip("sf0.01 testdata not present")
    d = points_layout(spark, sf).directory
    pick, read, picks, reads = SeriesDirectory.pick, PointsLayout._read, [], []

    def picking(self, selectors):
        picks.append(pick(self, selectors))
        return picks[-1]

    def reading(self, groups, columns):
        reads.append(groups)
        return read(self, groups, columns)

    monkeypatch.setattr(SeriesDirectory, "pick", picking)
    monkeypatch.setattr(PointsLayout, "_read", reading)
    footer = {(f, i): _compressed_bytes(pf, i) for f, pf in enumerate(d.files) for i in range(pf.num_row_groups)}
    for selector in ("events.click{user=7}", r"~events\.(click|view){user~1[0-9]}", "events.view{}", "~.*{}"):
        assert _gate_fetch(spark, sf, selector).table.num_rows
        (p,), (groups,) = picks, reads
        read_groups = sorted((f, int(i)) for f, rgs in groups.items() for i in rgs)
        assert [(f, int(g - d.file_groups[f])) for f, g in zip(d.group_file[p.groups], p.groups)] == read_groups
        assert p.nbytes == sum(footer[k] for k in read_groups), selector
        picks.clear()
        reads.clear()


def _rescaled(script):
    """The script with its user regex choosing the same crowd size among
    the sf0.01 fixture's users 0-149 (the generator draws from 0-1499)."""
    if script.user_re.count("[0-9]") == 2:  # 100 users
        return dataclasses.replace(script, user_re="[0-9]?[0-9]")
    return dataclasses.replace(script, user_re=f"{int(script.user_re[:-5]) % 14 + 1}[0-9]")


def test_routes_answer_dashboard_scripts_alike(spark, sf_dir, monkeypatch):
    """Three blocks of the dashboard script stream render the same JSON on
    both routes: keys, ticks, counts, max and min exactly; sums and means
    within 1e-12, since Spark adds per-partition partials in fetch order.
    Run on the sf0.01 fixture next to the test one, where the scripts
    select enough points."""
    from perfbench import gen

    from warp10_platform_spark.__main__ import _jsonable
    from warp10_platform_spark.warpscript.stack import WarpScriptStack

    sf = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    if not os.path.exists(os.path.join(sf, "events.parquet")):
        pytest.skip("sf0.01 testdata not present")
    stream = gen.script_stream(3, 0)
    scripts = [_rescaled(next(stream)) for _ in range(3 * gen.BLOCK)]

    def answer(script):
        st = WarpScriptStack(spark, sf)
        st.exec(script.text())
        (gf,) = st.stack
        return gf.table is not None, _jsonable(gf, None, False)

    points = 0
    for script in scripts:
        local, want = answer(script)
        with monkeypatch.context() as m:
            m.setattr(WF, "_LOCAL_MAX_BYTES", 0)
            remote, got = answer(script)
        assert local and not remote
        stages = {script.agg, (script.mapper or ("",))[0], (script.reducer or ("",))[0]}
        rel = 1e-12 if stages & {"sum", "mean"} else 0
        flat = {(s["c"], tuple(sorted(s["l"].items())), p[0]): p[-1] for s in want for p in s["v"]}
        assert [(s["c"], s["l"], s["a"], [p[:-1] for p in s["v"]]) for s in got] == \
            [(s["c"], s["l"], s["a"], [p[:-1] for p in s["v"]]) for s in want], script.text()
        _assert_same({(s["c"], tuple(sorted(s["l"].items())), p[0]): p[-1] for s in got for p in s["v"]},
                     flat, rel)
        points += len(flat)
    assert points > 1000


def _fetch(spark, sf_dir, text):
    from warp10_platform_spark.warpscript.stack import WarpScriptStack

    st = WarpScriptStack(spark, sf_dir)
    st.exec(text)
    return st.pop()


def _plan(df) -> str:
    import re

    return re.sub(r"#\d+", "#", df._jdf.queryExecution().optimizedPlan().toString())


_RANGE = "'end' 2000000000000000 'timespan' 1000000000000000"


@pytest.mark.parametrize("sel, same_as", [
    (r"~events\.\p%7BLower%7D+{}", r"~events\.[a-z]+{}"),
    (r"~events\.(?<kind>click){}", "events.click{}"),
    (r"events.click{user~\p%7BDigit%7D+}", "events.click{user~[0-9]+}"),
    (r"~events\.[a-z&&[^v]]+{}", r"~events\.[a-uw-z]+{}"),
])
def test_java_only_regexes_take_the_spark_route(spark, sf_dir, sel, same_as):
    """Selectors whose regexes Python's re cannot read as Java does are
    answered by Spark, which compiles them as Java regexes, in both FETCH
    forms; they select what their Python-readable twins select.  Braces
    inside a selector are URL-encoded, as in the reference's syntax."""
    from warp10_platform_spark.warpscript.stack import WarpScriptStack

    def fetch(args):
        st = WarpScriptStack(spark, sf_dir)
        st.push(args)
        WF.REGISTRY["FETCH"](st)
        gf = st.pop()
        return gf.local, sorted(map(tuple, gf.df.select("class", "labels_key", "ts").collect()))

    end, span = 2_000_000_000_000_000, 1_000_000_000_000_000
    local, want = fetch({"selector": same_as, "end": end, "timespan": span})
    assert local and want
    assert fetch({"selector": sel, "end": end, "timespan": span}) == (False, want)
    if "user" not in sel:  # only a class-only selector maps to the list form here
        assert fetch([sel[:-2], {}, end - span + 1, end]) == (False, want)


@pytest.mark.parametrize("gate", ["default", "zero"])
def test_list_form_fetch_reads_label_regexes(spark, sf_dir, monkeypatch, gate):
    """In list-form FETCH a `~` label value is a regex clause, as in the
    map-form selector; a `=` prefix or a bare value is exact.  Checked on
    the route the gate picks and on the Spark route."""
    import json

    from warp10_platform_spark.warpscript.stack import WarpScriptStack

    if gate == "zero":
        monkeypatch.setattr(WF, "_LOCAL_MAX_BYTES", 0)

    def fetch(args):
        st = WarpScriptStack(spark, sf_dir)
        st.push(args)
        WF.REGISTRY["FETCH"](st)
        gf = st.pop()
        if gf.local:
            t = gf.table
            rows = zip(t["class"].to_pylist(), t["labels_key"].to_pylist(), t["ts"].to_pylist())
        else:
            rows = map(tuple, gf.df.select("class", "labels_key", "ts").collect())
        return gf.local, sorted(rows)

    end, span = 2_000_000_000_000_000, 1_000_000_000_000_000
    local, want = fetch({"selector": "events.click{user~1[0-9]}", "end": end, "timespan": span})
    assert want and local == (gate == "default")
    assert fetch(["events.click", {"user": "~1[0-9]"}, end - span + 1, end]) == (local, want)
    user = json.loads(want[0][1])[0]["value"]
    one = [r for r in want if r[1] == want[0][1]]
    for value in (user, "=" + user):
        assert fetch(["events.click", {"user": value}, end - span + 1, end]) == (local, one)


def test_fetch_without_kernel_runs_the_spark_plan(spark, sf_dir, monkeypatch):
    """Under the gate, a FETCH followed by an op without a kernel, or a
    count-based FETCH, plans what the Spark route plans and reads nothing
    on the driver."""
    from warp10_platform_spark.sources.tables import PointsLayout

    scripts = [
        f"{{ 'selector' 'events.click{{user~1[0-9]}}' {_RANGE} }} FETCH [ SWAP mapper.delta 1 0 0 ] MAP",
        f"{{ 'selector' 'events.click{{}}' {_RANGE} }} FETCH [ SWAP bucketizer.last 2000000000000000 3600000000 0 ] BUCKETIZE",
        "{ 'selector' 'events.click{}' 'end' 2000000000000000 'count' 3 } FETCH",
        "[ 'events.view' {} 2000000000000000 -3 ] FETCH",
    ]
    with monkeypatch.context() as m:
        m.setattr(WF, "_LOCAL_MAX_BYTES", 0)
        want = [_plan(_fetch(spark, sf_dir, s).df) for s in scripts]

    def no_scan(*a):
        raise AssertionError("scanned on the driver")

    monkeypatch.setattr(PointsLayout, "scan", no_scan)
    for s, w in zip(scripts, want):
        gf = _fetch(spark, sf_dir, s)
        assert not gf.local and _plan(gf.df) == w, s


_WEEK = "'start' 1704844800000000 'end' 1705449600000000"
_GRID = "1705449600000000 21600000000 28"


@pytest.mark.parametrize("ops", [
    f"[ SWAP bucketizer.max {_GRID} ] BUCKETIZE [ SWAP mapper.delta 1 0 0 ] MAP",
    "[ SWAP [ 'user' ] reducer.max ] REDUCE [ SWAP mapper.delta 1 0 0 ] MAP",
    f"[ SWAP mapper.max 1 1 0 ] MAP [ SWAP bucketizer.last {_GRID} ] BUCKETIZE",
])
def test_a_kernel_output_hands_off_to_spark(spark, sf_dir, monkeypatch, ops):
    """An op without a kernel after a kernel continues in Spark from the
    kernel's output (one createDataFrame) and renders the /exec JSON the
    Spark route does.  Run on the sf0.01 fixture next to the test one."""
    from warp10_platform_spark.__main__ import _jsonable
    from warp10_platform_spark.operators import gts_kernels

    sf = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    if not os.path.exists(os.path.join(sf, "events.parquet")):
        pytest.skip("sf0.01 testdata not present")
    to_spark, handed = gts_kernels.to_spark, []

    def counting(spark, table):
        handed.append(table.num_rows)
        return to_spark(spark, table)

    monkeypatch.setattr(gts_kernels, "to_spark", counting)
    script = f"{{ 'selector' '~events\\.(click|view){{user~[0-9]?[0-9]}}' {_WEEK} }} FETCH {ops}"
    want = _jsonable(_fetch(spark, sf, script), None, False)
    assert len(handed) == 1 and handed[0]
    with monkeypatch.context() as m:
        m.setattr(WF, "_LOCAL_MAX_BYTES", 0)
        got = _jsonable(_fetch(spark, sf, script), None, False)
    assert len(handed) == 1
    assert sum(len(s["v"]) for s in want) > 200 and got == want


@pytest.mark.parametrize("args, rows", [
    # an exact label; `=` with an empty value, which matches an absent label only
    ({"selector": "events.click{user=7}"}, "some"),
    ({"selector": "events.click{user=}"}, "none"),
    ({"selector": "events.click{other=}"}, "some"),
    # `~.*` on a present key and on an absent one
    ({"selector": "events.click{user~.*}"}, "some"),
    ({"selector": "events.click{other~.*}"}, "none"),
    # a class regex, two selectors, and the list form
    ({"selector": r"~events\.(click|view){user~1[0-9]}"}, "some"),
    ({"selectors": ["events.view{user~1[0-9]}", "events.click{user=7}"]}, "some"),
    ([r"~events\.(click|view)", {"user": "~1[0-9]"}], "some"),
    # no match
    ({"selector": "events.click{user=nobody}"}, "none"),
    ({"selector": "events.nothing{}"}, "none"),
])
def test_directory_lookup_answers_like_the_spark_route(spark, sf_dir, monkeypatch, args, rows):
    """The series directory selects the rows and renders the JSON the
    Spark route does (the gate patched to 0); a selector that matches no
    series answers an empty frame without scanning."""
    from warp10_platform_spark.__main__ import _jsonable
    from warp10_platform_spark.sources.tables import PointsLayout

    end, span = 2_000_000_000_000_000, 1_000_000_000_000_000

    def fetch():
        st = WarpScriptStack(spark, sf_dir)
        if isinstance(args, dict):
            st.push({**args, "end": end, "timespan": span})
        else:
            st.push([*args, end - span + 1, end])
        WF.REGISTRY["FETCH"](st)
        gf = st.pop()
        if gf.local:
            t = gf.table
            got = zip(*(t[c].to_pylist() for c in ("class", "labels_key", "ts", "v_double")))
        else:
            got = map(tuple, gf.df.select("class", "labels_key", "ts", "v_double").collect())
        return gf.local, sorted(got), _jsonable(gf, None, False)

    with monkeypatch.context() as m:
        m.setattr(WF, "_LOCAL_MAX_BYTES", 0)
        remote, want, want_json = fetch()
    if rows == "none":
        def no_scan(*a):
            raise AssertionError("scanned although no series matched")

        monkeypatch.setattr(PointsLayout, "scan", no_scan)
    local, got, got_json = fetch()
    assert local and not remote
    assert bool(want) == (rows == "some")
    assert got == want and got_json == want_json


def test_scan_reads_only_the_matched_series_without_maps(spark, sf_dir, monkeypatch):
    """The scan's Table holds exactly the matched rows in the time range,
    in the layout's schema with the maps attached, and the read never
    asks the files for the labels or attributes maps."""
    import pyarrow.compute as pc

    from warp10_platform_spark.core.selector import matches, parse_selector
    from warp10_platform_spark.sources.tables import PointsLayout, points_layout

    layout = points_layout(spark, sf_dir)
    read = PointsLayout._read
    asked = []

    def recording(self, groups, columns):
        d = self.directory
        asked.append(([d.classes[d.file_class[f]] for f in groups], columns))
        return read(self, groups, columns)

    monkeypatch.setattr(PointsLayout, "_read", recording)
    everything = layout.dataset.to_table()
    ts = everything["ts"]
    start, end = pc.min(ts).as_py() + 1, pc.max(ts).as_py() - 1
    for text in (r"~events\.(click|view){user~1[0-9]}", "events.click{user=7}", "~.*{}"):
        sel = parse_selector(text)
        got = layout.scan(layout.directory.pick([sel]), start, end).table
        keep = [start <= r["ts"] <= end and matches(sel, r["class"], dict(r["labels"]), dict(r["attributes"]))
                for r in everything.to_pylist()]
        want = everything.filter(pa.array(keep))
        assert got.schema.equals(everything.schema, check_metadata=True)
        key = [(c, "ascending") for c in ("class", "labels_key", "ts", "event_id")]
        assert got.sort_by(key).equals(want.sort_by(key)), text
        assert want.num_rows and set(asked[-1][0]) == set(want["class"].to_pylist())
    assert not {"labels", "attributes"} & {c for _, cols in asked for c in cols}


def test_a_shared_gts_id_does_not_mix_series(tmp_path):
    """Two series of one class that share a gts_id, interleaved in one
    row group: selecting one reads the rows of both (their spans
    overlap), but keeps that one's rows only, with its own maps."""
    import pyarrow.parquet as pq

    from warp10_platform_spark.core.selector import parse_selector
    from warp10_platform_spark.operators.gts_kernels import labels_key
    from warp10_platform_spark.sources.tables import PointsLayout

    series = [{"h": "a"}, {"h": "b", "k": "x"}, {}]
    pick = [0, 1, 2, 0, 1, 2]
    mp = pa.map_(pa.string(), pa.string())
    pq.write_to_dataset(pa.table({
        "labels": pa.array([list(series[i].items()) for i in pick], mp),
        "attributes": pa.array([[("n", str(i))] for i in pick], mp),
        "ts": pa.array(range(len(pick)), pa.int64()),
        "v_double": pa.array([float(i) for i in range(len(pick))]),
        "labels_key": [labels_key(series[i]) for i in pick],
        "gts_id": pa.array([1, 1, 2, 1, 1, 2], pa.int64()),
        "class": ["c"] * len(pick),
    }), str(tmp_path), partition_cols=["class"])
    layout = PointsLayout(str(tmp_path))
    for text, want in (("c{h=a}", [0, 3]), ("c{k=x}", [1, 4]), ("c{h=}", [2, 5]), ("c{h~.*}", [0, 1, 3, 4])):
        t = layout.scan(layout.directory.pick([parse_selector(text)]), None, None).table
        assert t["ts"].to_pylist() == want, text
        assert t["labels"].to_pylist() == [list(series[pick[i]].items()) for i in want]
        assert t["attributes"].to_pylist() == [[("n", str(pick[i]))] for i in want]


def test_a_layout_without_its_marker_is_written_again(spark, sf_dir, tmp_path, monkeypatch):
    """canonical_points writes again a layout that has _SUCCESS but not
    the marker of its current format (one written before the files were
    sorted by series), and reuses a marked one."""
    import glob

    import pyarrow.parquet as pq

    from warp10_platform_spark.sources import tables

    def keys_sorted(path):
        keys = [pq.read_table(f, columns=["labels_key"])["labels_key"].to_pylist()
                for f in glob.glob(os.path.join(path, "class=*", "*.parquet"))]
        return all(k == sorted(k) for k in keys)

    path = str(tmp_path / "points")
    tables.events_points(spark, sf_dir).write.partitionBy("class").parquet(path)
    assert os.path.exists(os.path.join(path, "_SUCCESS")) and not keys_sorted(path)
    monkeypatch.setattr(tables, "_points_path", lambda sf: path)
    tables.canonical_points(spark, sf_dir)
    marker = os.path.join(path, tables._LAYOUT_MARKER)
    assert os.path.exists(marker) and os.path.exists(os.path.join(path, "_SUCCESS")) and keys_sorted(path)
    written = os.stat(marker).st_mtime_ns
    tables.canonical_points(spark, sf_dir)
    assert os.stat(marker).st_mtime_ns == written


@pytest.fixture(scope="module")
def clustered(spark, tmp_path_factory):
    """The points layout of sf0.01, written by canonical_points' writer."""
    from warp10_platform_spark.sources import tables

    path = str(tmp_path_factory.mktemp("points"))
    tables._write_points(tables.events_points(spark, "/root/testdata/sf0.01"), path)
    return path


def test_points_files_hold_each_series_contiguously(clustered):
    """Each class file holds each series' rows in one run, in ascending
    ts, over more than one row group."""
    import glob

    import pyarrow.parquet as pq

    files = glob.glob(os.path.join(clustered, "class=*", "*.parquet"))
    assert len(files) == 5
    for f in files:
        pf = pq.ParquetFile(f)
        assert pf.num_row_groups > 1
        t = pf.read(columns=["labels_key", "ts"])
        key, ts = np.array(t["labels_key"].to_pylist()), t["ts"].to_numpy()
        starts = np.flatnonzero(np.r_[True, key[1:] != key[:-1]])
        assert len(starts) == len(set(key))
        assert (np.diff(ts)[key[1:] == key[:-1]] >= 0).all()


def test_a_one_user_selection_reads_only_its_row_groups(clustered, monkeypatch):
    """The scan of one user in every class asks each file for the row
    groups that hold that user's first to last row and no other, fewer
    than the file has, and answers like a filter of the whole layout."""
    import pyarrow.compute as pc

    from warp10_platform_spark.core.selector import parse_selector
    from warp10_platform_spark.sources.tables import PointsLayout

    layout = PointsLayout(clustered)
    read = PointsLayout._read
    asked = []

    def recording(self, groups, columns):
        asked.append(groups)
        return read(self, groups, columns)

    monkeypatch.setattr(PointsLayout, "_read", recording)
    everything = layout.dataset.to_table()
    user = everything["labels_key"][len(everything) // 2].as_py()
    sel = parse_selector("~events\\..*{user=%s}" % user.split('"')[-2])
    got = layout.scan(layout.directory.pick([sel]), None, None).table
    want = everything.filter(pc.equal(everything["labels_key"], user))
    key = [(c, "ascending") for c in ("class", "ts", "event_id")]
    assert got.num_rows and got.sort_by(key).equals(want.sort_by(key))
    (groups,) = asked
    d = layout.directory
    assert len(groups) == 5
    for f, rgs in groups.items():
        pf = d.files[f]
        rows = np.flatnonzero(pc.equal(pf.read(columns=["labels_key"])["labels_key"], user).to_numpy(
            zero_copy_only=False))
        ends = np.cumsum([pf.metadata.row_group(i).num_rows for i in range(pf.num_row_groups)])
        lo, hi = np.searchsorted(ends, [rows[0], rows[-1]], "right")
        assert rgs.tolist() == list(range(lo, hi + 1))
        assert len(rgs) < pf.num_row_groups


def _write_layout(root, files: dict[str, list], row_group_size: int):
    """Hand-written points layout: class → one table per file."""
    import pyarrow.parquet as pq

    for cls, tables in files.items():
        os.makedirs(os.path.join(root, f"class={cls}"))
        for i, t in enumerate(tables):
            pq.write_table(t, os.path.join(root, f"class={cls}", f"part-{i}.parquet"), row_group_size=row_group_size)


def _series_table(series: list[dict], pick, ts, gts_id=None):
    from warp10_platform_spark.operators.gts_kernels import labels_key

    mp = pa.map_(pa.string(), pa.string())
    return pa.table({
        "labels": pa.array([list(series[i].items()) for i in pick], mp),
        "attributes": pa.array([[("n", str(i))] for i in pick], mp),
        "ts": pa.array(ts, pa.int64()),
        "v_double": pa.array([float(t) for t in ts]),
        "labels_key": [labels_key(series[i]) for i in pick],
        "gts_id": pa.array(gts_id if gts_id is not None else [i % 3 for i in pick], pa.int64()),
    })


def test_an_interleaved_layout_answers_like_a_filter(tmp_path):
    """Series interleaved over many row groups and two files of a class
    (a layout not sorted by series, where spans overlap), with gts_ids
    shared between series: every scan equals the brute-force
    `selector.matches` filter of the whole layout, and the directory's
    extents are the layout's per-series ts min, max and count."""
    from warp10_platform_spark.core.selector import matches, parse_selector
    from warp10_platform_spark.sources.tables import PointsLayout

    rng = np.random.default_rng(5)
    series = [{"h": str(i), **({"k": "x"} if i % 2 else {})} for i in range(9)] + [{}]

    def part(n):
        return _series_table(series, rng.integers(0, len(series), n), rng.permutation(10 * n)[:n])

    _write_layout(str(tmp_path), {"a": [part(150), part(90)], "b": [part(120)]}, row_group_size=16)
    layout = PointsLayout(str(tmp_path))
    everything = layout.dataset.to_table()
    d = layout.directory
    got = d.entries(np.arange(len(d.gts_id))).select(["class", "labels_key", "first_ts", "last_ts", "n_points"])
    want = everything.group_by(["class", "labels_key"]).aggregate([("ts", "min"), ("ts", "max"), ("ts", "count")])
    want = want.select(["class", "labels_key", "ts_min", "ts_max", "ts_count"])
    assert sorted(zip(*got.to_pydict().values())) == sorted(zip(*want.to_pydict().values()))
    key = [(c, "ascending") for c in ("class", "labels_key", "ts")]
    for text in ("a{h=3}", "~.*{h~[2-5]}", "b{k=x}", "a{h=}", "~.*{}", "~[ab]{h~1.*}"):
        sel = parse_selector(text)
        for start, end in ((None, None), (100, 700), (None, 400), (300, None)):
            got = layout.scan(layout.directory.pick([sel]), start, end).table
            keep = [(start is None or r["ts"] >= start) and (end is None or r["ts"] <= end)
                    and matches(sel, r["class"], dict(r["labels"])) for r in everything.to_pylist()]
            want = everything.filter(pa.array(keep))
            assert want.num_rows, (text, start, end)
            assert got.sort_by(key).equals(want.sort_by(key)), (text, start, end)


@pytest.mark.parametrize("regex", ["12[0-9]", "1[0-9][0-9]", "12?3", "a|b", "(?i:ab)", "^12.*", ".*", "[0-9]2", "x"])
def test_label_lookup_by_prefix_matches_the_per_value_loop(tmp_path, regex):
    """The directory tests a regex only on the label values in its
    literal prefix's range, and selects what testing every value does."""
    from warp10_platform_spark.core.selector import clause_test, literal_prefix, parse_selector
    from warp10_platform_spark.sources.tables import PointsLayout

    values = ["1", "12", "120", "1200", "123", "129", "13", "133", "1299", "199", "2", "22", "a", "b", "ab",
              "AB", "Ab", "aB", "c", "x", "x12", "", "12\n"]
    series = [{"user": v} for v in values] + [{}, {"other": "12"}]
    _write_layout(str(tmp_path), {"c": [_series_table(series, range(len(series)), range(len(series)))]}, 8)
    d = PointsLayout(str(tmp_path)).directory
    test = clause_test("user", "~", regex)
    users = [dict(m).get("user") for m in d.labels.to_pylist()]
    want = [i for i, u in enumerate(users) if test(u)]
    assert d.select([parse_selector("c{user~%s}" % regex)]).tolist() == want
    assert all(u.startswith(literal_prefix("~", regex)) for u in (users[i] for i in want))


def test_literal_prefix_stops_at_the_first_non_literal():
    from warp10_platform_spark.core.selector import literal_prefix

    cases = {"12[0-9]": "12", "1[0-9][0-9]": "1", "12?3": "1", "a|b": "", "ab|ac": "a", "(?i)ab": "",
             "(?i:ab)": "", "^12.*": "", ".*": "", "[0-9]2": "", r"\.x": ".x"}
    assert {r: literal_prefix("~", r) for r in cases} == cases
    assert literal_prefix("=", "12") == "12"
