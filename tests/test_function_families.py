"""WarpScript function families: filter.any/all, attribute filters,
parameterized mappers (dotproduct/npdf/regexp/geo), welford aliases,
filler.value, RANDPDF/SRANDPDF, REF, filter.latencies."""

import pytest
from pyspark.sql import functions as F

from warp10_platform_spark.warpscript import functions as FN
from warp10_platform_spark.warpscript.functions import REGISTRY
from warp10_platform_spark.warpscript.stack import WarpScriptStack


@pytest.fixture()
def stack(spark, sf_dir):
    return WarpScriptStack(spark, sf_dir)


def _mkgts(st, name, points):
    """Build a named GTS from (ts, lat, lon, elev, value) tuples via the
    script surface itself (NEWGTS/ADDVALUE/RENAME)."""
    script = f"NEWGTS '{name}' RENAME"
    for ts, lat, lon, elev, v in points:
        lat = "NaN" if lat is None else lat
        lon = "NaN" if lon is None else lon
        elev = "NaN" if elev is None else elev
        script += f" {ts} {lat} {lon} {elev} {v} ADDVALUE"
    st.exec(script)


def _vals(gf, value_col=None):
    vc = value_col or gf.value_col
    return {r["ts"]: r[vc] for r in gf.df.select("ts", vc).collect()}


def test_filter_any_all(stack):
    # the filter.* specs run through the one FILTER dispatcher
    assert REGISTRY["FILTER"] is FN._filter
    st = stack
    _mkgts(st, "a", [(1, None, None, None, 1.0), (2, None, None, None, 9.0)])
    _mkgts(st, "b", [(1, None, None, None, 2.0), (2, None, None, None, 3.0)])
    st.exec("2 ->LIST 'gts' STORE")
    # any.gt 5 keeps only series a (has a point 9.0 > 5)
    st.exec("[ $gts [] 5.0 filter.any.gt ] FILTER")
    out = st.pop()
    assert set(r["class"] for r in out.df.select("class").distinct().collect()) == {"a"}
    # all.le 5 keeps only series b (a has 9.0 > 5)
    st.exec("[ $gts [] 5.0 filter.all.le ] FILTER")
    out = st.pop()
    assert set(r["class"] for r in out.df.select("class").distinct().collect()) == {"b"}
    # all.eq: only series whose every point equals the threshold
    _mkgts(st, "c", [(1, None, None, None, 7.0), (2, None, None, None, 7.0)])
    st.exec("'c3' STORE [ [ $c3 ] [] 7.0 filter.all.eq ] FILTER")
    assert st.pop().df.count() == 2


def test_filter_byattr_and_bylabelsattr(stack, spark):
    st = stack
    _mkgts(st, "m", [(1, None, None, None, 1.0)])
    gf = st.pop()
    df = gf.df.withColumn(
        "attributes", F.create_map(F.lit("owner"), F.lit("alice"))
    )
    from warp10_platform_spark.core.frame import GTSFrame

    st.push([GTSFrame(df, None, gf.value_col)])
    st.exec("'g' STORE [ $g [] { 'owner' '=alice' } filter.byattr ] FILTER")
    assert st.pop().df.count() == 1
    st.exec("[ $g [] { 'owner' '~b.*' } filter.byattr ] FILTER")
    assert st.pop().df.count() == 0
    # bylabelsattr: label value wins when present, attribute as fallback
    st.exec("[ $g [] { 'owner' 'alice' } filter.bylabelsattr ] FILTER")
    assert st.pop().df.count() == 1


def test_filter_bymetadata(stack):
    st = stack
    _mkgts(st, "x", [(1, None, None, None, 1.0)])
    _mkgts(st, "y", [(1, None, None, None, 2.0)])
    st.exec("2 ->LIST 'gts' STORE")
    _mkgts(st, "x", [(5, None, None, None, 0.0)])  # selector with same metadata
    st.exec("1 ->LIST 'sel' STORE [ $gts [] $sel filter.bymetadata ] FILTER")
    out = st.pop()
    assert set(r["class"] for r in out.df.select("class").distinct().collect()) == {"x"}


def test_filter_latencies(stack):
    st = stack
    # uplink packets (LONG ids at ticks), downlink sees pkt 100 after 50us
    st.exec("NEWGTS 'up' RENAME 1000 NaN NaN NaN 100 ADDVALUE 2000 NaN NaN NaN 200 ADDVALUE")
    st.exec("NEWGTS 'down' RENAME 1050 NaN NaN NaN 100 ADDVALUE 9000 NaN NaN NaN 200 ADDVALUE")
    st.exec(
        "2 ->LIST 'gts' STORE "
        "[ $gts [] 0 100 [ 'uplink.latency.min' 'downlink.matches' ] filter.latencies ] FILTER"
    )
    out = st.pop()
    rows = {(r["class"], r["ts"]): r["v_double"] for r in out.df.collect()}
    # only pkt 100 matches within [0, 100] µs
    assert rows[("up:uplink.latency.min", 1000)] == 50.0
    assert rows[("down:downlink.matches", 1050)] == 1.0
    assert ("up:uplink.latency.min", 2000) not in rows


def test_mapper_dotproduct_and_npdf(stack):
    # parameterized mappers run through the one MAP dispatcher
    assert REGISTRY["MAP"] is FN._map
    st = stack
    _mkgts(st, "s", [(i, None, None, None, float(i)) for i in range(1, 6)])
    st.exec("'g' STORE [ $g [ 0.25 0.5 0.25 ] mapper.dotproduct 1 1 0 ] MAP")
    out = _vals(st.pop(), "v_mapped")
    assert out[2] == 0.25 * 1 + 0.5 * 2 + 0.25 * 3
    assert out[1] is None and out[5] is None  # incomplete frames
    st.exec("[ $g [ 1.0 1.0 ] mapper.dotproduct.positive 1 0 0 ] MAP")
    assert _vals(st.pop(), "v_mapped")[2] == 3.0
    # npdf at its mean = 1/(sigma*sqrt(2pi))
    import math

    st.exec("[ $g 3.0 2.0 mapper.npdf 0 0 0 ] MAP")
    dens = _vals(st.pop(), "v_mapped")
    assert abs(dens[3] - 1.0 / (2.0 * math.sqrt(2 * math.pi))) < 1e-12


def test_mapper_replace_and_regexp(stack):
    st = stack
    _mkgts(st, "s", [(1, None, None, None, 1.0)])
    st.exec("'g' STORE [ $g 'fixed' mapper.replace 0 0 0 ] MAP")
    assert _vals(st.pop(), "v_mapped")[1] == "fixed"
    # string values for regexp mappers
    st.exec("[ $g mapper.tostring 0 0 0 ] MAP 'gs' STORE")
    st.exec("[ $gs '1\\.0' 'one' mapper.regexp.replace 0 0 0 ] MAP")
    assert _vals(st.pop(), "v_mapped")[1] == "one"
    st.exec("[ $gs '\\d+\\.\\d+' mapper.regexp.match 0 0 0 ] MAP")
    assert _vals(st.pop(), "v_mapped")[1] is True


def test_mapper_geo_family(stack):
    st = stack
    pts = [(1, 5.0, 5.0, None, 1.0), (2, 50.0, 120.0, None, 2.0), (3, None, None, None, 3.0)]
    _mkgts(st, "track", pts)
    st.exec("'g' STORE")
    # fence: cell-aligned rectangle lat [0,22.5) lon [0,45) at res 4
    st.exec(
        "'POLYGON ((0 0, 45 0, 45 22.5, 0 22.5, 0 0))' 4 true GEO.WKT "
        "'shape' STORE [ $g $shape mapper.geo.fence 0 0 0 ] MAP"
    )
    fence = _vals(st.pop(), "v_mapped")
    assert fence[1] is True and fence[2] is False and fence[3] is False
    st.exec("[ $g $shape mapper.geo.within 0 0 0 ] MAP")
    assert set(_vals(st.pop())) == {1}
    st.exec("[ $g $shape mapper.geo.outside 0 0 0 ] MAP")
    assert set(_vals(st.pop())) == {2, 3}
    # approximate: snapped to coarse grid, location changes but stays close
    st.exec("[ $g 8 mapper.geo.approximate 0 0 0 ] MAP")
    snapped = {r["ts"]: (r["lat"], r["lon"]) for r in st.pop().df.select("ts", "lat", "lon").collect()}
    assert snapped[1] != (5.0, 5.0)
    assert abs(snapped[1][0] - 5.0) < 180.0 / 16 and abs(snapped[1][1] - 5.0) < 360.0 / 16


def test_welford_and_join_aliases(stack):
    st = stack
    _mkgts(st, "a", [(1, None, None, None, 1.0), (1, None, None, None, 3.0)])
    # reducer.sd.welford == reducer.sd on the same points
    st.exec("'g' STORE [ [ $g ] [] reducer.sd.welford ] REDUCE")
    red = st.pop()
    [r] = red.df.select("v_reduced").collect()
    assert abs(r["v_reduced"] - 2.0 ** 0.5) < 1e-12
    st.exec("[ [ $g ] [] reducer.join.urlencoded ] REDUCE")
    [r] = st.pop().df.select("v_reduced").collect()
    assert r["v_reduced"] == "1.0,3.0"


def test_filler_value(stack):
    assert REGISTRY["FILL"] is FN._fill
    st = stack
    _mkgts(st, "s", [(100, None, None, None, 1.0), (300, None, None, None, 3.0)])
    st.exec("'g' STORE [ $g bucketizer.last 300 100 3 ] BUCKETIZE [ SWAP -1.0 filler.value ] FILL")
    out = _vals(st.pop())
    assert out[200] == -1.0 and out[100] == 1.0 and out[300] == 3.0


def test_randpdf_and_ref(stack):
    # EVAL/RUN apply a pushed function object in the one _eval
    assert REGISTRY["EVAL"] is REGISTRY["RUN"] is FN._eval
    st = stack
    st.exec("SRAND { 'heads' 0.5 'tails' 0.5 } SRANDPDF 'draw' STORE")
    draws = []
    for _ in range(20):
        st.exec("$draw EVAL")
        draws.append(st.pop())
    assert set(draws) <= {"heads", "tails"} and len(set(draws)) == 2
    # seeded: same seed → same sequence
    st.exec("SRAND")
    st.exec("$draw EVAL")
    first = st.pop()
    st.exec("SRAND")
    st.exec("$draw EVAL")
    assert st.pop() == first
    # unseeded SRANDPDF refusal needs a fresh stack (rng unset)
    st2 = WarpScriptStack(st.spark, st.sf_dir)
    with pytest.raises(RuntimeError):
        st2.exec("{ 'x' 1.0 } SRANDPDF EVAL")
    st.exec("{ 'x' 1.0 } RANDPDF EVAL")
    assert st.pop() == "x"
    st.exec("REF")
    assert "REF" in repr(st.pop())


def test_addvalue_carries_location(stack):
    st = stack
    _mkgts(st, "loc", [(1, 12.5, -7.25, 42, 1.0)])
    [row] = st.pop().df.select("lat", "lon", "elev").collect()
    assert row["lat"] == 12.5 and row["lon"] == -7.25 and row["elev"] == 42
