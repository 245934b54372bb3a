"""Utility functions of the WarpScript surface: quaternions, stack
state, JSON forms, counters, bounds, conversions, field mappers, macro
aggregators from WarpScript macros, geo coverage utilities, hulls,
accessors, PACK/UNPACK, vector and matrix literals, BigDecimal, RNG and
primes, WRAP variants and geo serializers.
"""

import math

import pytest

from warp10_platform_spark.warpscript.stack import WarpScriptStack


@pytest.fixture()
def stack(spark, sf_dir):
    return WarpScriptStack(spark, sf_dir)


def test_quaternion_roundtrip_and_rotation(stack):
    st = stack
    st.exec("0.5 0.5 0.5 0.5 ->Q Q->")
    z = st.pop(); y = st.pop(); x = st.pop(); w = st.pop()
    for c in (w, x, y, z):
        assert abs(c - 0.5) < 1e-4
    # rotate y-unit 90 deg about x (QROTATE.java matrix): lands on ±z,
    # preserving the norm; the conjugate rotation inverts it.
    st.exec("1.0 0.0 0.0 1.5707963267948966 ROTATIONQ 'r' STORE 0.0 1.0 0.0 $r QROTATE")
    vz = st.pop(); vy = st.pop(); vx = st.pop()
    assert abs(abs(vz) - 1.0) < 1e-3 and abs(vy) < 1e-3 and abs(vx) < 1e-3
    assert abs(vx * vx + vy * vy + vz * vz - 1.0) < 1e-3
    st.exec(f"{vx} {vy} {vz} $r QCONJUGATE QROTATE")
    bz = st.pop(); by = st.pop(); bx = st.pop()
    assert abs(by - 1.0) < 1e-3 and abs(bx) < 1e-3 and abs(bz) < 1e-3
    # QROTATION inverts ROTATIONQ
    st.exec("$r QROTATION")
    ang = st.pop(); az = st.pop(); ay = st.pop(); ax = st.pop()
    assert abs(ang - math.pi / 2) < 1e-3 and abs(ax - 1.0) < 1e-3


def test_stack_state_ops(stack):
    st = stack
    st.exec("'a' 'x' STORE SAVE 'b' 'x' STORE RESTORE $x")
    assert st.pop() == "a"
    st.exec("7 'gone' STORE 'gone' UNSET")
    with pytest.raises(NameError):
        st.exec("$gone")
    st.exec("NULL")
    assert st.pop() is None
    with pytest.raises(RuntimeError):
        st.exec("'boom' MSGFAIL")


def test_json_counter_bounds_template(stack):
    st = stack
    st.exec("'{\"a\": [1, 2]}' JSONSTRICT")
    assert st.pop() == {"a": [1, 2]}
    st.exec("{ 'k' 1 } JSONCOMPACT")
    assert st.pop() == '{"k":1}'
    st.exec("COUNTER 5 COUNTERDELTA COUNTERVALUE")
    assert st.pop() == 5
    st.pop()
    st.exec("0.0 10.0 5 LBOUNDS")
    assert st.pop() == [2.0, 4.0, 6.0, 8.0]
    st.exec("0.0 1.0 2 NBOUNDS")
    assert st.pop() == [0.0]
    st.exec("'x={{v}}' { 'v' 42 } TEMPLATE")
    assert st.pop() == "x=42"
    st.exec("{ 'a' 1 'b' 2 } <% 10 * %> false MMAP")
    assert st.pop() == {"a": 10, "b": 20}


def test_conversions(stack):
    st = stack
    st.exec("[ 1 2 3 ] ->PICKLE PICKLE->")
    assert st.pop() == [1, 2, 3]
    st.exec("'hello' ->BYTES ->OPB64 OPB64-> BYTES->")
    assert st.pop() == "hello"
    st.exec("[ 'k' 1 'j' 2 ] ->MAP")
    assert st.pop() == {"k": 1, "j": 2}
    st.exec("{ 'k' 1 } MAP->")
    assert st.pop() == 1  # size
    assert st.pop() == 1 and st.pop() == "k"
    st.exec("[ 7 8 ] LIST->")
    assert st.pop() == 2 and st.pop() == 8 and st.pop() == 7
    st.exec("[ 1 1 2 ] ->V V->")
    assert st.pop() == [1, 2]
    st.exec("'FALSE' TOBOOLEAN")
    assert st.pop() is False


def test_field_mappers_script(spark, sf_dir):
    st = WarpScriptStack(spark, sf_dir)
    st.exec("""
    [ 'events.purchase' {} 0 2000000000000000 ] FETCH DUP SIZE 'n0' STORE
    [ SWAP 1704844800000000 mapper.le.tick 0 0 0 ] MAP SIZE
    [ 'events.purchase' {} 0 2000000000000000 ] FETCH
    [ SWAP 1704844800000000 mapper.gt.tick 0 0 0 ] MAP SIZE
    """)
    n_gt = st.pop(); n_le = st.pop()
    n0 = st.symbols["n0"]
    assert n_le + n_gt == n0 and 0 < n_le < n0


def test_macro_aggregators_script(spark, sf_dir):
    st = WarpScriptStack(spark, sf_dir)
    # macro mapper: value * 3 at each tick (frame = the single point)
    st.exec("""
    [ 'events.purchase' {} 0 2000000000000000 ] FETCH
    [ SWAP <% 'args' STORE $args 0 GET 'tick' STORE
       $args 6 GET 0 GET 3 *
       'v' STORE $tick NaN NaN $v 4 ->LIST %> MACROMAPPER 0 0 0 ] MAP
    VALUES
    """)
    tripled = st.pop()
    st.exec("[ 'events.purchase' {} 0 2000000000000000 ] FETCH VALUES")
    base = st.pop()
    assert len(tripled) == len(base) and abs(sorted(tripled)[0] - 3 * sorted(base)[0]) < 1e-9
    # strict mapper: window of >= 9999 points -> everything NaN/absent
    st.exec("""
    [ 'events.purchase' {} 0 2000000000000000 ] FETCH
    [ SWAP <% 6 GET 0 GET 0 NaN NaN 4 ->LIST SWAP DROP %> MACROMAPPER 9999 9999 STRICTMAPPER 0 0 0 ] MAP
    VALUES
    """)
    vals = st.pop()
    assert all(v is None or v != v for v in vals)


def test_geo_utilities(stack):
    from warp10_platform_spark.core import geoxp as gx
    from warp10_platform_spark.operators import geocells as GC

    st = stack
    # GEO.OPTIMIZE merges a full 16-sibling set
    parent = GC.cell_of(gx.to_geoxp(10.0, 20.0), 8)
    kids = GC.cell_children(parent)
    st.push(GC.GeoCells(kids))
    st.exec("GEO.OPTIMIZE")
    assert st.pop().cells == frozenset({parent})
    # GEOSHIFT moves cells
    st.push(GC.GeoCells([parent]))
    st.exec("1 0 GEOSHIFT")
    shifted = st.pop()
    assert len(shifted) == 1 and shifted.cells != frozenset({parent})
    # GEO.REGEXP prefixes match the cell's own hhcode hex
    st.push(GC.GeoCells([parent]))
    st.exec("GEO.REGEXP")
    import re

    rx = st.pop()
    hh = gx.to_geoxp(10.0, 20.0)
    assert re.match(rx, f"{hh & (1 << 64) - 1:016x}")
    # ->GEOCELL / GEOCELL->
    st.exec(f"{hh} 8 ->GEOCELL GEOCELL->")
    assert f"{hh & (1 << 64) - 1:016x}".startswith(st.pop())
    # GEO.WITHIN
    a = GC.cover_shape(__import__("warp10_platform_spark.operators.wkt", fromlist=["parse_wkt"]).parse_wkt(
        "POLYGON((0 0, 20 0, 20 20, 0 20, 0 0))"), 8)
    b = GC.cover_shape(__import__("warp10_platform_spark.operators.wkt", fromlist=["parse_wkt"]).parse_wkt(
        "POLYGON((5 5, 10 5, 10 10, 5 10, 5 5))"), 8)
    st.push(a); st.push(b)
    st.exec("GEO.WITHIN")
    assert st.pop() is True


def test_accessors_and_hulls(spark, sf_dir):
    st = WarpScriptStack(spark, sf_dir)
    st.exec("[ 'events.purchase' {} 0 2000000000000000 ] FETCH DUP SIZE 'n' STORE VALUES SIZE")
    assert st.pop() == st.symbols["n"]
    st.exec("[ 'events.purchase' {} 0 2000000000000000 ] FETCH ELEVATIONS SIZE")
    assert st.pop() == st.symbols["n"]
    st.exec("[ 'events.purchase' {} 0 2000000000000000 ] FETCH LOWERHULL VALUES")
    lower = st.pop()
    st.exec("[ 'events.purchase' {} 0 2000000000000000 ] FETCH UPPERHULL VALUES")
    upper = st.pop()
    assert 2 <= len(lower) < st.symbols["n"] and 2 <= len(upper) < st.symbols["n"]


def test_gts_hhcode_columns(spark, sf_dir):
    st = WarpScriptStack(spark, sf_dir)
    # synthesize coords through COPYGEO's dependency-free path: use
    # ->GTSHHCODE on a frame with null coords -> hhcode column is null
    st.exec("[ 'events.purchase' {} 0 2000000000000000 ] FETCH ->GTSHHCODE")
    gf = st.pop()
    assert "v_hhcode" in gf.df.columns


def test_pack_unpack(stack):
    st = stack
    st.exec("[ 1 -1 255 true ] '<L8<L8<U8B' PACK")
    packed = st.pop()
    assert packed.hex() == "80ffff80"
    st.push(packed)
    st.exec("'<L8<L8<U8B' UNPACK")
    assert st.pop() == [1, -1, 255, True]
    st.exec("[ 3.5 -0.125 ] '>D<D' PACK '>D<D' UNPACK")
    assert st.pop() == [3.5, -0.125]
    # skip fields consume bits without emitting values
    st.exec("[ 5 ] 's4<U4' PACK 's4<U4' UNPACK")
    assert st.pop() == [5]
    # 64-bit signed round-trip incl. values beyond double precision
    st.exec("[ -9007199254740993 ] '>L64' PACK '>L64' UNPACK 0 GET")
    assert st.pop() == -9007199254740993


def test_vector_matrix_literals_append(stack):
    st = stack
    st.exec("( 1 2 2 3 )")
    assert st.pop() == [1, 2, 3]
    st.exec("[[ [ 1 2 ] [ 3 4 ] ]]")
    assert st.pop() == [[1, 2], [3, 4]]
    st.exec("[] () [[]]")
    assert st.pop() == [] and st.pop() == [] and st.pop() == []
    st.exec("[ 1 2 ] 9 +!")
    assert st.pop() == [1, 2, 9]


def test_bd_rng_and_primes(stack):
    st = stack
    st.exec("SRAND BDRAND")
    v = float(st.pop())
    assert 0.0 <= v < 1.0
    st.exec("48 BDPROBABLEPRIME")
    p = st.pop()
    assert p.bit_length() == 48 and p % 2 == 1


def test_config_doc_surface(stack):
    st = stack
    st.exec("42 'k' SETMACROCONFIG 'k' MACROCONFIG")
    assert st.pop() == 42
    st.exec("7 'missing' MACROCONFIGDEFAULT")
    assert st.pop() == 7
    st.exec("'FETCH' MAN")
    assert "FETCH" in st.pop()
    st.exec("'PT1H30M' ISODURATION")
    assert st.pop() == 5_400_000_000
    st.exec("1000 LIMIT 5 MAXGTS")
    assert st.attributes["fetch.limit"] == 1000 and st.attributes["maxgts"] == 5


def test_wrap_variants(stack):
    st = stack
    st.exec("""
    NEWENCODER 100 NaN NaN NaN 1.5 ADDVALUE DUP DUP
    WRAPFAST 'wf' STORE
    WRAPRAW 'wr' STORE
    WRAP 'w' STORE
    $w UNWRAPEMPTY SIZE
    $wf UNWRAPENCODER SIZE
    """)
    assert st.pop() == 1   # fast-wrapped decodes
    assert st.pop() == 0   # metadata-only unwrap is empty
    st.exec("$wr")
    assert isinstance(st.pop(), (bytes, bytearray))


def test_geo_serializers(stack):
    import json

    from warp10_platform_spark.operators import geocells as GC
    from warp10_platform_spark.operators.wkt import parse_wkt

    st = stack
    cov = GC.cover_shape(parse_wkt("POLYGON((0 0, 3 0, 3 3, 0 3, 0 0))"), 10)
    st.push(cov)
    st.exec("->WKT")
    wkt = st.pop()
    assert wkt.startswith("MULTIPOLYGON")
    st.push(cov)
    st.exec("->GEOJSON")
    gj = json.loads(st.pop())
    assert gj["type"] == "MultiPolygon" and len(gj["coordinates"]) == len(cov)
