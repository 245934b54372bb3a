"""The benchmark's own tests: python3 -m pytest perfbench/tests -q"""

from __future__ import annotations

import json
import os
import time
from collections import Counter

import pandas as pd
import pytest

from perfbench import gen, harness, oracle
from perfbench.ingest_fetch import COMPACT_EVERY, LINES, parse_fetch, plan_nodes


def _texts(seed, stream, n=45):
    it = gen.script_stream(seed, stream)
    return [next(it).text() for _ in range(n)]


def test_script_stream_is_seeded():
    assert _texts(3, 0) == _texts(3, 0)
    assert _texts(3, 0) != _texts(4, 0)
    assert _texts(3, 0) != _texts(3, 1)


def test_script_blocks_are_balanced():
    it = gen.script_stream(9, 0)
    for _ in range(3):
        block = [next(it) for _ in range(gen.BLOCK)]
        aggs = Counter(s.agg for s in block)
        assert set(aggs.values()) == {gen.BLOCK // len(gen.AGGS)}
        stages = Counter((s.mapper is not None, s.reducer is not None) for s in block)
        assert set(stages) == {(True, False), (False, True), (True, True)}
        days = sorted((s.end - s.start) / gen.DAY for s in block)
        for i, d in enumerate(days):  # one window per stratum of 1–14 days
            lo = 1 + 13 * i / gen.BLOCK
            assert lo <= d <= lo + 13 / gen.BLOCK + 1e-6
        for s in block:
            assert gen.EVENTS_START <= s.start < s.end <= gen.EVENTS_END
            assert s.count * s.span >= s.end - s.start


def test_ingest_batches_are_seeded_and_overwrite_earlier_ticks():
    now = 1_800_000_000 * gen.US
    a = gen.ingest_batch(5, 2, now)
    assert a == gen.ingest_batch(5, 2, now)
    assert a != gen.ingest_batch(6, 2, now)
    seen = {}
    overwritten = 0
    for cycle in range(8):
        text, points = gen.ingest_batch(5, cycle, now)
        assert len(text.splitlines()) == LINES
        assert len(points) == LINES  # no (series, tick) twice in one batch
        overwritten += sum(k in seen for k in points)
        seen.update(points)
        assert all(now - 3600 * gen.US <= ts <= now for _, ts in points)
    assert overwritten > 0


def test_fetch_body_parses_to_written_points():
    now = 1_800_000_000 * gen.US
    text, points = gen.ingest_batch(1, 0, now)
    assert parse_fetch(text) == points


def test_tail_needs_ten_samples_beyond():
    xs = list(range(1, 100))
    assert harness.tail(xs, 0.9) is None
    xs = list(range(1, 101))
    assert harness.tail(xs, 0.9) == 90
    assert harness.tail(list(range(1, 201)), 0.95) == 190


def test_units_is_a_fixed_count_of_whole_units():
    assert harness.units(20, 10) == 2
    assert harness.units(10, 10) == 1
    assert harness.units(0, 10) == 1  # always at least one
    assert harness.units(30, 10) == 3


class _Counters:
    def mark(self):
        return 0

    def stats(self, ranges):
        return {}


@pytest.mark.parametrize("pass_s", [0.001, 0.05])
def test_catalog_measures_a_fixed_number_of_whole_passes(monkeypatch, pass_s):
    """A slow pass does not cut the run short: the pass count follows
    --seconds alone."""
    from perfbench.catalog import PASS_S, Catalog

    wl = Catalog(sf="", seed=1, run_dir="")
    wl.counters = _Counters()
    calls = []

    def fake_pass(tracer, reference=None):
        calls.append(1)
        time.sleep(pass_s)
        return {q: (0.0005, 0.001) for q in harness.HEADLINE}

    monkeypatch.setattr(wl, "_pass", fake_pass)
    m = wl.measure(2 * PASS_S, None)
    assert m["detail"]["passes"] == len(calls) == 2
    assert m["detail"]["queries"] == 2 * len(harness.HEADLINE)


def test_catalog_traced_runs_pair_each_query_with_an_untraced_run(monkeypatch):
    from types import SimpleNamespace

    from perfbench.catalog import PASS_S, Catalog

    wl = Catalog(sf="", seed=1, run_dir="")
    wl.counters = _Counters()
    wl.spark = SimpleNamespace(catalog=SimpleNamespace(clearCache=lambda: None))
    runs = []

    def fake_run(name, tracer):
        runs.append((name, tracer is not None))
        return (0.001, 0.002) if tracer is not None else (0.001, 0.001)

    monkeypatch.setattr(wl, "_run", fake_run)
    monkeypatch.setattr(harness, "spark_layers", lambda *a: {})
    m, untraced = wl.measure_traced(2 * PASS_S, object())
    assert m["ops_per_s"] == pytest.approx(1 / 0.003) and untraced == pytest.approx(1 / 0.002)
    pairs = [runs[i:i + 2] for i in range(0, len(runs), 2)]
    assert [p[0][0] for p in pairs] == 2 * harness.HEADLINE
    assert all(a[0] == b[0] and a[1] != b[1] for a, b in pairs)
    first = [a[1] for a, _ in pairs]  # traced first?
    assert first[:3] == [False, True, False]  # alternates per query …
    n = len(harness.HEADLINE)
    assert all(first[i] != first[n + i] for i in range(n))  # … and flips per pass


def test_ingest_measures_whole_compaction_cycles(monkeypatch):
    from perfbench.ingest_fetch import CYCLE_S, IngestFetch

    wl = IngestFetch(sf="", seed=1, run_dir="")

    def fake_cycle(tracer):
        return [{"update": 0.001, "fetch": 0.001, "checkpoint": 0.002 * (i == 3),
                 "depth": (i + 1) % COMPACT_EVERY, "jobs": (0, 0), "excluded": 0.0}
                for i in range(COMPACT_EVERY)]

    monkeypatch.setattr(wl, "_compaction_cycle", fake_cycle)
    assert wl.measure(3 * CYCLE_S, None)["detail"]["cycles"] == 3 * COMPACT_EVERY
    assert wl.measure(0, None)["detail"]["cycles"] == COMPACT_EVERY


def test_dashboard_sample_always_holds_duckdb_checked_requests():
    from perfbench.dashboard import ORACLED, OTHERS, pick_sample

    for seed in range(20):
        it = gen.script_stream(seed, 0)
        scripts = {(i % 2, i // 2): next(it) for i in range(gen.BLOCK)}
        checked, rest = pick_sample(scripts, seed)
        assert (checked, rest) == pick_sample(scripts, seed)
        assert len(checked) == ORACLED and len(rest) == OTHERS
        assert all(scripts[k].agg in ("count", "sum") for k in checked)
        assert not set(checked) & set(rest)
    assert pick_sample({}, 1) == ([], [])


def test_corrupted_expected_answer_is_a_failure():
    df = pd.DataFrame({"k": ["a", "b", "c"], "v": [1.5, 2.0, None], "n": [1, 2, 3]})
    want = oracle.canonical(df)
    assert oracle.frame_mismatch(df.iloc[::-1], want) is None
    bad = df.copy()
    bad.loc[1, "v"] = 2.0001
    assert oracle.frame_mismatch(bad, want) is not None
    assert oracle.frame_mismatch(df.iloc[1:], want) is not None
    got = {("events.click", "1"): {10: 3.0}}
    assert oracle.same_values(got, {("events.click", "1"): {10: 3.0 + 1e-12}})
    assert not oracle.same_values(got, {("events.click", "1"): {10: 4.0}})
    assert not oracle.same_values(got, {**got, ("corrupt", None): {0: 1.0}})


def test_benchmark_json_lists_the_metrics():
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == harness.E2E
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == harness.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == ["catalog", "dashboard"]


@pytest.fixture(scope="module")
def spark():
    try:
        sf = harness.fixture_dir()
    except harness.Unusable as e:
        pytest.skip(str(e))
    from warp10_platform_spark.session import get_spark

    s = get_spark("perfbench-tests", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s, sf
    harness.stop_session(s)


def test_plan_node_counter_matches_hand_built_two_batch_store(spark, tmp_path):
    from warp10_platform_spark.server import Store
    from warp10_platform_spark.sources import write as W
    from warp10_platform_spark.sources.tables import canonical_points

    s, sf = spark
    store = Store(s, sf, str(tmp_path / "store"))
    now = 1_800_000_000 * gen.US
    for cycle in range(2):
        store.append_update(gen.ingest_batch(1, cycle, now, lines=80)[0])

    base = canonical_points(s, sf).drop("event_id")
    df = base
    for d in sorted(os.listdir(tmp_path / "store" / "buffer")):
        buf = (s.read.parquet(str(tmp_path / "store" / "buffer" / d))
               .unionByName(df.limit(0), allowMissingColumns=True).select(*base.columns))
        df = W.update(df, buf)
    assert plan_nodes(store.points()) == plan_nodes(df)
    # independent count: one line per node in the parsed plan's tree string
    tree = df._jdf.queryExecution().logical().treeString()
    assert plan_nodes(df) == len([ln for ln in tree.splitlines() if ln.strip()])
    assert plan_nodes(base) < plan_nodes(df)
