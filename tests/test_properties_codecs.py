"""Hypothesis property tests for the codecs: WKB/KML/GML geometry, the
canvas rasterizer's coverage rule, and the JPEG codec."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from warp10_platform_spark.canvas.core import PCanvas
from warp10_platform_spark.multimodal.jpeg import decode_jpeg, encode_jpeg_gray
from warp10_platform_spark.operators.geoformats import (
    parse_gml,
    parse_kml,
    parse_wkb,
    to_gml,
    to_kml,
    to_wkb,
)
from warp10_platform_spark.operators.wkt import Shape, to_wkt

coord = st.floats(
    min_value=-179.9, max_value=179.9, allow_nan=False, allow_infinity=False
).map(lambda x: round(x, 6))


@st.composite
def rings(draw):
    n = draw(st.integers(min_value=3, max_value=8))
    pts = [(draw(coord), draw(coord)) for _ in range(n)]
    # dedupe consecutive points; drop a trailing point equal to the
    # first (Shape rings are open — explicit closure is invalid here)
    out = [pts[0]]
    for p in pts[1:]:
        if p != out[-1]:
            out.append(p)
    if len(out) > 1 and out[-1] == out[0]:
        out = out[:-1]
    if len(out) < 3:
        out = out[:1] + [(out[0][0] + 1.0, out[0][1] + 1.0), (out[0][0], out[0][1] + 2.0)]
    return out


@settings(max_examples=60, deadline=None)
@given(rings())
def test_wkb_roundtrip_polygon(ring):
    s = Shape("POLYGON", [ring])
    back = parse_wkb(to_wkb(s))
    assert back.kind == "POLYGON"
    assert back.coords == [[(float(x), float(y)) for x, y in ring]]


@settings(max_examples=60, deadline=None)
@given(rings())
def test_kml_gml_roundtrip_polygon(ring):
    s = Shape("POLYGON", [ring])
    assert to_wkt(parse_kml(to_kml(s))) == to_wkt(s)
    assert to_wkt(parse_gml(to_gml(s))) == to_wkt(s)


@settings(max_examples=60, deadline=None)
@given(st.lists(st.tuples(coord, coord), min_size=2, max_size=6))
def test_wkb_roundtrip_linestring(pts):
    # drop accidental closure (Shape rings close implicitly on parse)
    if len(pts) >= 2 and pts[0] == pts[-1]:
        pts = pts[:-1] + [(pts[-1][0] + 1.0, pts[-1][1])]
    s = Shape("LINESTRING", pts)
    back = parse_wkb(to_wkb(s))
    assert back.coords == [(float(x), float(y)) for x, y in pts]


@settings(max_examples=30, deadline=None)
@given(
    st.integers(min_value=0, max_value=40),
    st.integers(min_value=0, max_value=30),
    st.integers(min_value=1, max_value=20),
    st.integers(min_value=1, max_value=16),
)
def test_canvas_rect_fill_is_exact_area(x, y, w, h):
    c = PCanvas(64, 48)
    c.style.stroke_on = False
    c.style.fill_color = 0xFFABCDEF
    c.rect(x, y, w, h)
    vis_w = max(0, min(x + w, 64) - x)
    vis_h = max(0, min(y + h, 48) - y)
    assert int(((c.pix & 0xFFFFFF) == 0xABCDEF).sum()) == vis_w * vis_h


@settings(max_examples=30, deadline=None)
@given(st.integers(min_value=0, max_value=255), st.integers(min_value=0, max_value=255))
def test_canvas_blend_add_saturates(a, b):
    c = PCanvas(1, 1)
    c.background(a)
    c.style.blend_mode = "ADD"
    c.style.stroke_on = False
    c.style.fill_color = c.color(b) | 0xFF000000
    c.rect(0, 0, 1, 1)
    assert int(c.pix[0, 0]) & 0xFF == min(255, a + b)


@settings(max_examples=20, deadline=None)
@given(st.integers(min_value=0, max_value=2**32 - 1))
def test_jpeg_block_constant_roundtrip(seed):
    rng = np.random.RandomState(seed % (2**31))
    vals = (rng.randint(0, 16, size=(2, 3)) * 16).astype(np.uint8)
    img = np.repeat(np.repeat(vals, 8, 0), 8, 1)
    assert (decode_jpeg(encode_jpeg_gray(img)) == img).all()


@settings(max_examples=10, deadline=None)
@given(st.integers(min_value=0, max_value=2**31 - 1))
def test_jpeg_general_roundtrip_bounded_error(seed):
    rng = np.random.RandomState(seed)
    # smooth-ish image: cumulative sums of small steps
    steps = rng.randint(-8, 9, size=(16, 16)).cumsum(axis=0).cumsum(axis=1)
    img = np.clip(128 + steps, 0, 255).astype(np.uint8)
    back = decode_jpeg(encode_jpeg_gray(img))
    assert np.abs(back.astype(int) - img.astype(int)).max() <= 32
