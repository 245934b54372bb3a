"""WarpScript geo names: the GeoXP/HHCode/GeoHash scalar surface
(core/geoxp.py), constructive geometry on GeoXP coverages, coverage
utilities and hulls, and the geometry interchange formats
(WKT/GeoJSON/WKB/KML/GML, operators/geoformats.py). Each name's
docstring cites its reference class.

Imported for its registrations at the bottom of functions.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from warp10_platform_spark.core.frame import GTSFrame
from warp10_platform_spark.warpscript.functions import REGISTRY, _as_frame, register


# ---- GeoXP / HHCode / GeoHash scalar surface (WarpScriptLib.java:
#      1837-1891; TOHHCODE.java, HHCODETO.java, HHCODEFUNC.java,
#      TOGEOHASH.java, GEOHASHTO.java; mapping in core/geoxp.py — the
#      public geoxplib HHCodeHelper algorithm) ----

def _hh_and_res(v):
    """HHCODEFUNC.hhAndRes: long → (hh, 32); hex string (MSB prefix) →
    (left-aligned hh, 2·len)."""
    from warp10_platform_spark.core import geoxp as _gx

    if isinstance(v, str):
        hh = int(v, 16) << (64 - 4 * len(v))
        return _gx._to_signed64(hh), 2 * len(v), True
    return int(v), 32, False


def _hh_format(hh, res, as_string):
    if as_string:
        nchars = res // 2
        return f"{hh & ((1 << 64) - 1):016x}"[:nchars]
    return hh


@register("->HHCODE")
def _tohhcode_str(st):
    """lat lon ->HHCODE (TOHHCODE.java tostring=true): hex GeoXPPoint."""
    from warp10_platform_spark.core import geoxp as _gx

    lon = float(st.pop()); lat = float(st.pop())
    st.push(f"{_gx.to_geoxp(lat, lon) & ((1 << 64) - 1):016x}")


@register("->HHCODELONG")
def _tohhcode_long(st):
    """lat lon ->HHCODELONG (TOHHCODE.java tostring=false)."""
    from warp10_platform_spark.core import geoxp as _gx

    lon = float(st.pop()); lat = float(st.pop())
    st.push(_gx.to_geoxp(lat, lon))


@register("HHCODE->")
def _hhcodeto(st):
    """hhcode HHCODE-> (HHCODETO.java): SW corner lat, lon."""
    from warp10_platform_spark.core import geoxp as _gx

    hh, _res, _s = _hh_and_res(st.pop())
    lat, lon = _gx.from_geoxp(hh)
    st.push(lat); st.push(lon)


@register("->GEOHASH")
def _togeohash(st):
    """hhcode|lat lon ->GEOHASH (TOGEOHASH.java): long → 12-char
    geohash; a double on top means a lat/lon pair."""
    from warp10_platform_spark.core import geoxp as _gx

    top = st.pop()
    if isinstance(top, float):
        lat = float(st.pop())
        st.push(_gx.hh_to_geohash(_gx.to_geoxp(lat, top)))
    else:
        st.push(_gx.hh_to_geohash(int(top)))


@register("GEOHASH->")
def _geohashto(st):
    """geohash GEOHASH-> (GEOHASHTO.java): SW-corner lat, lon (optional
    boolean under a string → push the hhcode instead, string/long)."""
    from warp10_platform_spark.core import geoxp as _gx

    top = st.pop()
    as_hh = None
    if isinstance(top, bool):
        as_hh = top
        top = st.pop()
    hh = _gx.geohash_to_hh(str(top))
    if as_hh is None:
        lat, lon = _gx.from_geoxp(hh)
        st.push(lat); st.push(lon)
    elif as_hh:
        st.push(f"{hh & ((1 << 64) - 1):016x}")
    else:
        st.push(hh)


def _mk_hh_nav(dlat, dlon):
    def fn(st):
        from warp10_platform_spark.core import geoxp as _gx

        top = st.pop()
        res_override = None
        if isinstance(top, int) and not isinstance(top, bool) and -1 < top <= 32 and st.depth():
            # resolution override form: hhcode res HHCODE.NORTH
            res_override, top = top, st.pop()
        hh, res, as_str = _hh_and_res(top)
        if res_override is not None:
            res = res_override
        st.push(_hh_format(_gx.neighbor(hh, res, dlat, dlon), res, as_str))

    return fn


for _name, _d in {
    "HHCODE.NORTH": (1, 0), "HHCODE.SOUTH": (-1, 0),
    "HHCODE.EAST": (0, 1), "HHCODE.WEST": (0, -1),
    "HHCODE.NORTH.EAST": (1, 1), "HHCODE.NORTH.WEST": (1, -1),
    "HHCODE.SOUTH.EAST": (-1, 1), "HHCODE.SOUTH.WEST": (-1, -1),
}.items():
    REGISTRY[_name] = _mk_hh_nav(*_d)


@register("HHCODE.CENTER")
def _hh_center(st):
    from warp10_platform_spark.core import geoxp as _gx

    top = st.pop()
    res_override = None
    if isinstance(top, int) and not isinstance(top, bool) and -1 < top <= 32 and st.depth():
        res_override, top = top, st.pop()
    hh, res, _s = _hh_and_res(top)
    lat, lon = _gx.center(hh, res_override if res_override is not None else res)
    st.push(lat); st.push(lon)


@register("HHCODE.BBOX")
def _hh_bbox(st):
    from warp10_platform_spark.core import geoxp as _gx

    top = st.pop()
    res_override = None
    if isinstance(top, int) and not isinstance(top, bool) and -1 < top <= 32 and st.depth():
        res_override, top = top, st.pop()
    hh, res, _s = _hh_and_res(top)
    for v in _gx.bbox(hh, res_override if res_override is not None else res):
        st.push(v)


# ---- constructive geometry on GeoXP coverages (GeoWKT/GeoJSON →
#      GeoXPShape; GeoUnion/GeoIntersection/GeoSubtraction GEOBUFFER/
#      GEOCOVER/GEOSPLIT/GEOPACK/GEOUNPACK/GEOCELLTO, WarpScriptLib.java:
#      2846-2870; engine in operators/geocells.py) ----

def _gc():
    from warp10_platform_spark.operators import geocells as GC

    return GC


def _pct_to_res(shape, pct: float) -> int:
    """pcterror → even cover resolution: cell edge ≈ pct × the shape's
    larger bbox edge (GeoXPLib.toGeoXPShape's error knob, coarsely)."""
    import math as _m

    xs = []
    ys = []
    polys = shape.coords if shape.kind == "MULTIPOLYGON" else [shape.coords]
    for rings in polys:
        for x, y in rings[0]:
            xs.append(x); ys.append(y)
    span = max(max(xs) - min(xs), max(ys) - min(ys), 1e-9)
    target_deg = max(pct, 1e-6) * span
    res = 2
    while res < 20 and 360.0 / (1 << res) > target_deg:
        res += 2
    return res


def _to_coverage(v, pct_or_res, inside):
    from warp10_platform_spark.operators.wkt import Shape

    GC = _gc()
    if isinstance(pct_or_res, int) and not isinstance(pct_or_res, bool):
        res = int(pct_or_res)
    else:
        res = _pct_to_res(v, float(pct_or_res))
    cov = GC.cover_shape(v, res)
    del inside  # inside-only covers need sub-cell tests; cover is the uniform form
    return cov


@register("GEO.WKT", "GEO.WKT.UNIFORM")
def _geo_wkt(st):
    """'wkt' pcterror|res inside GEO.WKT (GeoWKT.java via GeoImporter:
    50-108): WKT → GeoXP cell coverage. A LONG second arg is an explicit
    even resolution like the reference; a DOUBLE is the pcterror knob."""
    from warp10_platform_spark.operators.wkt import parse_wkt

    inside = st.pop()
    pct = st.pop()
    wkt = st.pop()
    st.push(_to_coverage(parse_wkt(str(wkt)), pct, inside))


@register("GEO.JSON", "GEO.JSON.UNIFORM")
def _geo_json(st):
    """'geojson' pcterror|res inside GEO.JSON (GeoJSON.java)."""
    import json as _json

    from warp10_platform_spark.operators.wkt import parse_geojson

    inside = st.pop()
    pct = st.pop()
    gj = st.pop()
    obj = _json.loads(gj) if isinstance(gj, str) else gj
    st.push(_to_coverage(parse_geojson(obj), pct, inside))


def _two_or_list(st):
    GC = _gc()
    top = st.pop()
    if isinstance(top, list):
        return list(top)
    other = st.pop()
    return [other, top]


@register("GEO.UNION")
def _geo_union(st):
    """shape shape|[shapes] GEO.UNION (GeoUnion.java:58)."""
    shapes = _two_or_list(st)
    acc = shapes[0]
    for s in shapes[1:]:
        acc = acc.union(s)
    st.push(acc)


@register("GEO.INTERSECTION")
def _geo_intersection(st):
    """shape shape|[shapes] GEO.INTERSECTION (GeoIntersection.java:59)."""
    shapes = _two_or_list(st)
    acc = shapes[0]
    for s in shapes[1:]:
        acc = acc.intersection(s)
    st.push(acc)


@register("GEO.DIFFERENCE")
def _geo_difference(st):
    """a b GEO.DIFFERENCE (GeoSubtraction.java): cells of a not in b,
    coarse cells split down against finer b-cells."""
    b = st.pop()
    a = st.pop()
    st.push(a.subtraction(b))


@register("GEO.BUFFER")
def _geo_buffer(st):
    """shape {params}|rings GEO.BUFFER (GEOBUFFER.java:40): expand the
    coverage. Map form honours 'dist' (central-angle degrees, converted
    to cell rings at each cell's resolution); a LONG is a ring count.
    Deviation (documented): the reference buffers the JTS geometry
    before covering; this buffers in cover space."""
    GC = _gc()
    spec = st.pop()
    cov = st.pop()
    if isinstance(spec, dict):
        dist = float(spec.get("dist", spec.get("mdist", 0.0)) or 0.0)
        res = max((GC.cell_res(c) for c in cov.cells), default=2)
        cell_deg = 360.0 / (1 << res)
        rings = max(1, int(dist / cell_deg + 0.999999)) if dist > 0 else 1
    else:
        rings = max(1, int(spec))
    st.push(cov.buffer(rings))


@register("GEOCOVER", "GEOCOVER.RL")
def _geocover(st):
    """gts res GEOCOVER (GEOCOVER.java:48-107): the set of geocells the
    series' locations visit, at even resolution res — computed as a
    distributed distinct of the cell expr (no driver loop), collected as
    the coverage value."""
    GC = _gc()
    from warp10_platform_spark.core.geoxp import to_geoxp_col

    res = int(st.pop())
    v = st.pop()
    # A GeoXPShape stack value is driver-resident by contract, but cap the
    # materialization like the reference (WarpScriptStack.DEFAULT_MAX_GEOCELLS
    # = 10000, ATTRIBUTE_MAX_GEOCELLS 'stack.maxgeocells') so a fine-res
    # cover over a dense frame cannot OOM the driver.
    maxcells = int(getattr(st, "attributes", {}).get("stack.maxgeocells", 10000))
    if isinstance(v, GTSFrame):
        hh = to_geoxp_col(F.col("lat"), F.col("lon"))
        shift = 64 - 2 * res
        cells = (
            v.df.where(F.col("lat").isNotNull())
            .select((F.shiftrightunsigned(hh, shift)).alias("p"))
            .distinct()
            .limit(maxcells + 1)
            .collect()
        )
        if len(cells) > maxcells:
            raise ValueError(
                f"GEOCOVER at resolution {res} exceeds the {maxcells}-cell limit "
                "(stack.maxgeocells); use a coarser resolution"
            )
        st.push(GC.GeoCells(
            ((res // 2) << 60) | ((r["p"] & ((1 << (2 * res)) - 1)) << (60 - 2 * res))
            for r in cells
        ))
    else:
        cov = GC.cover_shape(v, res)
        if len(cov.cells) > maxcells:
            raise ValueError(
                f"GEOCOVER at resolution {res} exceeds the {maxcells}-cell limit "
                "(stack.maxgeocells); use a coarser resolution"
            )
        st.push(cov)


@register("GEOSPLIT")
def _geosplit(st):
    """shape GEOSPLIT (GEOSPLIT.java): list of single-cell shapes."""
    GC = _gc()
    cov = st.pop()
    st.push([GC.GeoCells([c]) for c in GC.geosplit(cov)])


@register("GEOCELLS")
def _geocells(st):
    """shape GEOCELLS: the raw geocell longs (GEOSPLIT's scalar twin)."""
    GC = _gc()
    st.push(GC.geosplit(st.pop()))


@register("GEOPACK")
def _geopack(st):
    """shape GEOPACK (GEOPACK.java): packed text form (varint-delta +
    zlib + b64 — OUR deterministic format, not reference-interchange)."""
    GC = _gc()
    st.push(GC.geopack(st.pop()))


@register("GEOUNPACK")
def _geounpack(st):
    GC = _gc()
    st.push(GC.geounpack(str(st.pop())))


@register("GEOCELL->")
def _geocellto(st):
    """geocell GEOCELL-> (GEOCELLTO.java:57): HHCode prefix string,
    length = resolution/2 hex chars."""
    cell = int(st.pop()) & ((1 << 64) - 1)
    st.push(f"{cell:016x}"[1 : int(cell >> 60) + 1])


@register("GEOWITHIN")
def _geowithin(st):
    """gts shape GEOWITHIN (GEOWITHIN.java:44-62): keep only points
    whose location falls inside the coverage — a pure Column prefix
    predicate, pushdown-friendly."""
    shape = st.pop()
    gf = _as_frame(st.pop())
    GC = _gc()
    if isinstance(shape, GC.GeoCells):
        from warp10_platform_spark.core.geoxp import to_geoxp_col

        df = gf.df.withColumn("_hh", to_geoxp_col(F.col("lat"), F.col("lon")))
        out = df.where(F.col("lat").isNotNull() & shape.contains_hh_expr(F.col("_hh"))).drop("_hh")
        st.push(GTSFrame(out, gf.bucketspec, gf.value_col))
        return
    from warp10_platform_spark.operators.wkt import shape_contains_expr

    pred = shape_contains_expr(shape, F.col("lat"), F.col("lon"))
    st.push(GTSFrame(gf.df.where(F.col("lat").isNotNull() & pred), gf.bucketspec, gf.value_col))


@register("GEOINTERSECTS")
def _geointersects(st):
    """a b GEOINTERSECTS (GEOINTERSECTS.java:45): TRUE when coverages
    share area (cell-overlap test)."""
    GC = _gc()
    b = st.pop()
    a = st.pop()
    if isinstance(a, GC.GeoCells) and isinstance(b, GC.GeoCells):
        st.push(len(a.intersection(b)) > 0)
    else:
        from warp10_platform_spark.operators.wkt import geo_intersects

        st.push(geo_intersects(a, b))


# ---- geo coverage utilities ----

@register("GEO.COVER")
def _geo_cover_alias(st):
    REGISTRY["GEOCOVER"](st)


@register("GEO.COVER.RL")
def _geo_cover_rl_alias(st):
    REGISTRY["GEOCOVER.RL"](st)


@register("GEO.INTERSECTS")
def _geo_intersects_alias(st):
    REGISTRY["GEOINTERSECTS"](st)


@register("GEO.WITHIN")
def _geo_within_shapes(st):
    """a b GEO.WITHIN: TRUE when b is entirely inside a (cell algebra:
    b minus a is empty)."""
    b = st.pop(); a = st.pop()
    st.push(len(b.subtraction(a)) == 0)


@register("GEO.NORMALIZE")
def _geo_normalize(st):
    st.push(st.pop().normalized())


@register("GEO.OPTIMIZE")
def _geo_optimize(st):
    """shape GEO.OPTIMIZE (GEOOPTIMIZE.java): merge every complete set
    of 16 sibling cells into the parent, repeatedly."""
    GC = _gc()
    cov = st.pop().normalized()
    cells = set(cov.cells)
    changed = True
    while changed:
        changed = False
        by_parent = {}
        for c in cells:
            r = GC.cell_res(c)
            if r <= 2:
                continue
            rr = r - 2
            parent = ((rr // 2) << 60) | ((GC.cell_prefix(c) >> 4) << (60 - 2 * rr))
            by_parent.setdefault(parent, set()).add(c)
        for parent, kids in by_parent.items():
            if len(kids) == 16:
                cells -= kids
                cells.add(parent)
                changed = True
    st.push(GC.GeoCells(cells))


@register("GEO.REGEXP")
def _geo_regexp(st):
    """shape GEO.REGEXP (GEOREGEXP.java): regexp matching the hex HHCode
    prefixes of the coverage's cells (directory-side geo filtering)."""
    GC = _gc()
    cov = st.pop()
    prefixes = sorted(
        f"{GC.cell_prefix(c):0{GC.cell_res(c) // 2}x}" for c in cov.cells
    )
    st.push("^(?:" + "|".join(p + ".*" for p in prefixes) + ")$" if prefixes else "^$")


@register("GEOSHIFT")
def _geoshift(st):
    """shape dlat dlon GEOSHIFT: translate every cell by (dlat, dlon)
    cells at its own resolution."""
    GC = _gc()
    from warp10_platform_spark.core import geoxp as _gx

    dlon = int(st.pop()); dlat = int(st.pop())
    cov = st.pop()
    out = set()
    for c in cov.cells:
        r = GC.cell_res(c)
        hh = _gx._to_signed64(GC.cell_prefix(c) << (64 - 2 * r))
        out.add(GC.cell_of(_gx.neighbor(hh, r, dlat, dlon), r))
    st.push(GC.GeoCells(out))


@register("->GEOCELL")
def _togeocell(st):
    """hhcode res ->GEOCELL: the geocell containing the point."""
    GC = _gc()
    res = int(st.pop())
    st.push(GC.cell_of(int(st.pop()), res))


@register("GEOSHAPE->", "->GEOSHAPE")
def _geoshape_conv(st):
    """cells list ↔ coverage (GEOSHAPETO.java)."""
    GC = _gc()
    v = st.pop()
    if isinstance(v, GC.GeoCells):
        st.push(GC.geosplit(v))
    else:
        st.push(GC.GeoCells(int(c) for c in v))


@register("COPYGEO")
def _copygeo(st):
    """src dst COPYGEO (COPYGEO.java): copy dst's values with src's
    locations/elevations at matching ticks — a per-tick equi-join, pure
    column work."""
    dst = _as_frame(st.pop())
    src = _as_frame(st.pop())
    s = src.df.select(
        F.col("gts_id").alias("_sid"), F.col("ts").alias("_sts"),
        F.col("lat").alias("_slat"), F.col("lon").alias("_slon"), F.col("elev").alias("_selev"),
    )
    j = dst.df.drop("lat", "lon", "elev").join(
        s, (F.col("gts_id") == F.col("_sid")) & (F.col("ts") == F.col("_sts")), "left"
    ).drop("_sid", "_sts").withColumnRenamed("_slat", "lat").withColumnRenamed(
        "_slon", "lon").withColumnRenamed("_selev", "elev")
    st.push(GTSFrame(j, dst.bucketspec, dst.value_col))


@register("->GTSHHCODE", "->GTSHHCODELONG")
def _togtshhcode(st):
    """gts ->GTSHHCODE (TOHHCODE.java useGtsConvention): per-point
    GeoXPPoint as the value column (LONG form; string form is the hex) —
    pure column exprs."""
    from warp10_platform_spark.core.geoxp import to_geoxp_col

    gf = _as_frame(st.pop())
    hh = to_geoxp_col(F.col("lat"), F.col("lon"))
    st.push(GTSFrame(gf.df.withColumn("v_hhcode", hh), gf.bucketspec, "v_hhcode"))


@register("GTSHHCODE->")
def _gtshhcodeto(st):
    """gts GTSHHCODE-> : hhcode long values → locations."""
    from warp10_platform_spark.core.geoxp import lat_from_geoxp_col, lon_from_geoxp_col

    gf = _as_frame(st.pop())
    vc = F.col(gf.value_col)
    df = gf.df.withColumn("lat", lat_from_geoxp_col(vc.cast("long"))).withColumn(
        "lon", lon_from_geoxp_col(vc.cast("long"))
    )
    st.push(GTSFrame(df, gf.bucketspec, gf.value_col))


# ---- hulls (LOWERHULL.java / UPPERHULL.java / HULLSHAPE) ----

def _monotone_chain(pts, upper=False):
    """Andrew monotone chain half-hull over (x, y) pairs."""
    pts = sorted(set(pts))
    if upper:
        pts = pts[::-1]
    out = []
    for p in pts:
        while len(out) >= 2 and (
            (out[-1][0] - out[-2][0]) * (p[1] - out[-2][1])
            - (out[-1][1] - out[-2][1]) * (p[0] - out[-2][0])
        ) <= 0:
            out.pop()
        out.append(p)
    return out


def _mk_hull(upper):
    def fn(st):
        import pandas as _pd
        from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

        gf = _as_frame(st.pop())
        schema = StructType([
            StructField("class", StringType()), StructField("labels_key", StringType()),
            StructField("gts_id", LongType()), StructField("ts", LongType()),
            StructField("v_double", DoubleType()),
        ])
        vc = gf.value_col

        def run(pdf):
            pdf = pdf.sort_values("ts")
            hull = _monotone_chain(list(zip(pdf["ts"].astype(int), pdf[vc].astype(float))), upper=upper)
            return _pd.DataFrame({
                "class": pdf["class"].iloc[0], "labels_key": pdf["labels_key"].iloc[0],
                "gts_id": pdf["gts_id"].iloc[0],
                "ts": [int(t) for t, _ in hull], "v_double": [float(v) for _, v in hull],
            })

        st.push(GTSFrame(gf.df.groupBy("gts_id").applyInPandas(run, schema=schema), None, "v_double"))

    return fn


REGISTRY["LOWERHULL"] = _mk_hull(False)
REGISTRY["UPPERHULL"] = _mk_hull(True)


@register("HULLSHAPE")
def _hullshape(st):
    """shape HULLSHAPE: coverage of the convex hull of the cell corners
    (driver-side — coverages are bounded script values)."""
    GC = _gc()
    from warp10_platform_spark.operators.wkt import Shape

    cov = st.pop()
    pts = []
    for c in cov.cells:
        swla, swlo, nela, nelo = GC.cell_bbox(c)
        pts += [(swlo, swla), (nelo, swla), (swlo, nela), (nelo, nela)]
    lower = _monotone_chain(pts, upper=False)
    upper_h = _monotone_chain(pts, upper=True)
    ring = lower[:-1] + upper_h[:-1]
    res = max((GC.cell_res(c) for c in cov.cells), default=8)
    st.push(GC.cover_shape(Shape("POLYGON", [ring]), res))


# ---- geometry interchange formats (registrations WarpScriptLib.java:
#      1011-1026): GEO.WKB/GEO.KML/GEO.GML (+ .UNIFORM) parse into a
#      coverage; ->WKT/->GEOJSON/->WKB/->KML/->GML serialize any geometry
#      input — a GEOSHAPE coverage, a Shape, or a WKT/GeoJSON/GML/KML
#      string or WKB bytes (the TOGEOJSON.java:106-133 toGeometry
#      dispatch). Codecs live in operators/geoformats.py. ----

def _geoformats():
    from warp10_platform_spark.operators import geoformats as gf

    return gf


def _cov_to_polys(cov):
    GC = _gc()
    polys = []
    for c in sorted(cov.cells, key=lambda x: x & ((1 << 64) - 1)):
        swla, swlo, nela, nelo = GC.cell_bbox(c)
        polys.append([(swlo, swla), (nelo, swla), (nelo, nela), (swlo, nela)])
    return polys


def _parse_geometry(v):
    """TOGEOJSON.toGeometry for serialized inputs: bytes are WKB; strings
    sniff '{'→GeoJSON, '<gml'→GML, '<'→KML, else WKT. Other values pass
    through unchanged."""
    from warp10_platform_spark.operators.wkt import parse_geojson, parse_wkt

    gf = _geoformats()
    if isinstance(v, (bytes, bytearray)):
        return gf.parse_wkb(bytes(v))
    if isinstance(v, str):
        t = v.strip()
        if t.startswith("{"):
            return parse_geojson(t)
        if t.startswith("<gml"):
            return gf.parse_gml(t)
        if t.startswith("<"):
            return gf.parse_kml(t)
        return parse_wkt(t)
    return v


def _any_to_shape(v):
    """Any geometry input as a Shape; a coverage becomes the MULTIPOLYGON
    of its cell bboxes (the allCells form of TOGEOJSON, which
    TOWKB/TOKML/TOGML pivot through)."""
    from warp10_platform_spark.operators.wkt import Shape

    v = _parse_geometry(v)
    if isinstance(v, Shape):
        return v
    if isinstance(v, _gc().GeoCells):
        return Shape("MULTIPOLYGON", [[_p] for _p in _cov_to_polys(v)])
    raise TypeError(f"not a geometry value: {type(v).__name__}")


@register("->WKT")
def _towkt_shape(st):
    """geom ->WKT (TOWKT.java): WKT text; a coverage serializes as the
    MULTIPOLYGON of its cells."""
    from warp10_platform_spark.operators.wkt import Shape, to_wkt

    GC = _gc()
    v = _parse_geometry(st.pop())
    if isinstance(v, GC.GeoCells):
        st.push(to_wkt(Shape("MULTIPOLYGON", [[_p] for _p in _cov_to_polys(v)])))
    else:
        st.push(to_wkt(v))


@register("->GEOJSON")
def _togeojson_shape(st):
    """geom ->GEOJSON (TOGEOJSON.java)."""
    import json as _json

    from warp10_platform_spark.operators.wkt import Shape

    GC = _gc()
    v = _parse_geometry(st.pop())
    if isinstance(v, GC.GeoCells):
        coords = [[[list(pt) for pt in ring] + [list(ring[0])]] for ring in _cov_to_polys(v)]
        st.push(_json.dumps({"type": "MultiPolygon", "coordinates": coords}))
    elif isinstance(v, Shape):
        if v.kind == "POLYGON":
            st.push(_json.dumps({"type": "Polygon",
                                 "coordinates": [[list(p) for p in r] + [list(r[0])] for r in v.coords]}))
        elif v.kind == "POINT":
            st.push(_json.dumps({"type": "Point", "coordinates": list(v.coords[0])}))
        else:
            st.push(_json.dumps({"type": "MultiPolygon", "coordinates": [
                [[list(p) for p in r] + [list(r[0])] for r in poly] for poly in v.coords]}))
    else:
        raise TypeError("->GEOJSON operates on a shape or coverage")


@register("->WKB")
def _to_wkb(st):
    """geom ->WKB (TOWKB.java): WKB bytes, big-endian like the JTS
    WKBWriter the reference delegates to."""
    st.push(_geoformats().to_wkb(_any_to_shape(st.pop())))


@register("->KML")
def _to_kml(st):
    """geom ->KML (TOKML.java): unprefixed GML2 grammar, multi-geometries
    wrapped in <MultiGeometry>."""
    st.push(_geoformats().to_kml(_any_to_shape(st.pop())))


@register("->GML")
def _to_gml(st):
    """geom ->GML (TOGML.java): GML2 with the gml: prefix."""
    st.push(_geoformats().to_gml(_any_to_shape(st.pop())))


def _geo_parse_factory(parse_name):
    def run(st):
        # same contract as GEO.WKT: 'geom' pcterror|res inside → coverage
        inside = st.pop()
        pct = st.pop()
        raw = st.pop()
        parse = getattr(_geoformats(), parse_name)
        shape = parse(bytes(raw) if parse_name == "parse_wkb" else str(raw))
        st.push(_to_coverage(shape, pct, inside))

    return run


REGISTRY["GEO.WKB"] = REGISTRY["GEO.WKB.UNIFORM"] = _geo_parse_factory("parse_wkb")
REGISTRY["GEO.KML"] = REGISTRY["GEO.KML.UNIFORM"] = _geo_parse_factory("parse_kml")
REGISTRY["GEO.GML"] = REGISTRY["GEO.GML.UNIFORM"] = _geo_parse_factory("parse_gml")


@register("LOCATIONOFFSET")
def _locationoffset(st):
    """gts dlat dlon LOCATIONOFFSET: shift every location (column op)."""
    dlon = float(st.pop()); dlat = float(st.pop())
    gf = _as_frame(st.pop())
    st.push(GTSFrame(
        gf.df.withColumn("lat", F.col("lat") + F.lit(dlat)).withColumn("lon", F.col("lon") + F.lit(dlon)),
        gf.bucketspec, gf.value_col,
    ))


@register("BBOX")
def _bbox_gts(st):
    """gts BBOX (BBOX.java): [sw_lat sw_lon ne_lat ne_lon] of the
    series' locations (one tiny aggregate)."""
    gf = _as_frame(st.pop())
    r = gf.df.agg(F.min("lat"), F.min("lon"), F.max("lat"), F.max("lon")).first()
    st.push([r[0], r[1], r[2], r[3]])
