"""Wave-3 ST_*/SD_* kernels: Z/M dims, multi-geom constructors, affine
family, linework assembly, triangulation, relate, spatial ordering.

Registration parity targets:
- /root/reference/rust/sedona-functions/src/register.rs:39-121
- /root/reference/c/sedona-geos/src/register.rs:41-98
Importing this module merges its entries into `kernels.KERNELS`, mirroring
the reference's "one FunctionSet, many registration manifests" assembly
(/root/reference/rust/sedona/src/context.rs:325-355).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import types as T

from sedona_db_spark.functions.kernels import (
    BIN, BOOL, DBL, INT, STR, KERNELS, _binary, _coerce, _decode, _nan_rows,
    _unary, _unary_geom,
)
from sedona_db_spark.geom import algorithms as alg
from sedona_db_spark.geom import algorithms2 as alg2
from sedona_db_spark.geom import core, wkt as wktmod
from sedona_db_spark.geom.core import (
    GEOMETRYCOLLECTION, LINESTRING, MULTILINESTRING, MULTIPOINT, MULTIPOLYGON,
    POINT, POLYGON, Geom, make_point,
)


# ----------------------------------------------------------------------
# Z / M coordinate accessors
# ----------------------------------------------------------------------

def _coord_idx(g: Geom, which: str):
    """Index of the z or m slot in the coord arrays, or None."""
    if which == "z":
        return 2 if g.has_z else None
    if not g.has_m:
        return None
    return 2 + (1 if g.has_z else 0)


def _k_zm(which: str):
    def run(s: pd.Series) -> pd.Series:
        out = []
        for g in _decode(s):
            if g is None or g.gt != POINT or g.data is None:
                out.append(None)
                continue
            i = _coord_idx(g, which)
            out.append(None if i is None else float(g.data[i]))
        return pd.Series(out, dtype=object)
    return run


def _k_zm_minmax(which: str, mode):
    def run(s: pd.Series) -> pd.Series:
        out = []
        for g in _decode(s):
            if g is None:
                out.append(None)
                continue
            i = _coord_idx(g, which)
            coords = g.all_coords()
            if i is None or coords.shape[0] == 0 or coords.shape[1] <= i:
                out.append(None)
            else:
                out.append(float(mode(coords[:, i])))
        return pd.Series(out, dtype=object)
    return run


# ----------------------------------------------------------------------
# constructors
# ----------------------------------------------------------------------

def k_pointm(xs, ys, ms) -> pd.Series:
    out = []
    for x, y, m, null in zip(xs, ys, ms, _nan_rows(xs, ys, ms)):
        if null:
            out.append(None)
        else:
            out.append(core.to_wkb(make_point(float(x), float(y), None, float(m))))
    return pd.Series(out, dtype=object)


def k_pointzm(xs, ys, zs, ms) -> pd.Series:
    out = []
    for x, y, z, m, null in zip(xs, ys, zs, ms, _nan_rows(xs, ys, zs, ms)):
        if null:
            out.append(None)
        else:
            out.append(core.to_wkb(make_point(float(x), float(y), float(z), float(m))))
    return pd.Series(out, dtype=object)


def _typed_from_text(*expect_gt):
    def run(s: pd.Series) -> pd.Series:
        out = []
        for v in s:
            if v is None:
                out.append(None)
                continue
            g = wktmod.from_wkt(v)       # parse errors raise (reference)
            if g.gt not in expect_gt:
                # wrong type is an ERROR, not NULL (python/sedonadb
                # test_typed_geom_constructors_reject_wrong_type)
                raise ValueError(
                    f"Expected geometry type {expect_gt}, got "
                    f"{g.st_type_name()} from {v[:60]!r}")
            out.append(core.to_wkb(g))
        return pd.Series(out, dtype=object)
    return run


def k_collect(arrs: pd.Series) -> pd.Series:
    """Array<WKB> -> MULTI*/GEOMETRYCOLLECTION (ST_Collect array form)."""
    out = []
    for arr in arrs:
        if arr is None:
            out.append(None)
            continue
        geoms = [core.from_wkb(bytes(b)) for b in arr if b is not None]
        if not geoms:
            out.append(core.to_wkb(Geom(GEOMETRYCOLLECTION, [])))
            continue
        gts = {g.gt for g in geoms}
        if gts == {POINT}:
            out.append(core.to_wkb(Geom(MULTIPOINT, [g.data for g in geoms])))
        elif gts == {LINESTRING}:
            out.append(core.to_wkb(Geom(MULTILINESTRING, [g.data for g in geoms])))
        elif gts == {POLYGON}:
            out.append(core.to_wkb(Geom(MULTIPOLYGON, [g.data for g in geoms])))
        else:
            out.append(core.to_wkb(Geom(GEOMETRYCOLLECTION, geoms)))
    return pd.Series(out, dtype=object)


# ----------------------------------------------------------------------
# affine family
# ----------------------------------------------------------------------

def k_affine(s, a, b, d, e, xoff, yoff) -> pd.Series:
    n = len(s)
    A, B, D, E = _coerce(a, n), _coerce(b, n), _coerce(d, n), _coerce(e, n)
    XO, YO = _coerce(xoff, n), _coerce(yoff, n)
    out = []
    for g, aa, bb, dd, ee, xo, yo in zip(_decode(s), A, B, D, E, XO, YO):
        if g is None or None in (aa, bb, dd, ee, xo, yo):
            out.append(None)
        else:
            out.append(core.to_wkb(alg.affine(
                g, float(aa), float(bb), float(dd), float(ee),
                float(xo), float(yo))))
    return pd.Series(out, dtype=object)


def _k_rotate_axis(axis: str):
    """RotateX/RotateY: 3-D rotation about the named axis. 2-D inputs are
    treated as z=0 (PostGIS requires 3-D; we degrade gracefully)."""
    def run(s, rad) -> pd.Series:
        R = _coerce(rad, len(s))
        out = []
        for g, r in zip(_decode(s), R):
            if g is None or r is None:
                out.append(None)
                continue
            c, si = math.cos(float(r)), math.sin(float(r))

            def fn(arr):
                arr = np.asarray(arr, dtype=np.float64)
                x = arr[:, 0].copy()
                y = arr[:, 1].copy()
                z = arr[:, 2].copy() if arr.shape[1] > 2 and g.has_z else \
                    np.zeros(len(arr))
                if axis == "x":
                    y2 = y * c - z * si
                    z2 = y * si + z * c
                    x2 = x
                else:
                    x2 = x * c + z * si
                    z2 = -x * si + z * c
                    y2 = y
                res = arr.copy()
                res[:, 0] = x2
                res[:, 1] = y2
                if arr.shape[1] > 2 and g.has_z:
                    res[:, 2] = z2
                return res
            out.append(core.to_wkb(alg.transform_coords_full(g, fn)))
        return pd.Series(out, dtype=object)
    return run


def _force_dims(has_z: bool, has_m: bool, zfill=0.0, mfill=0.0):
    """Coordinate-width rewrite (ST_Force3DM / ST_Force4D family)."""
    def one(g: Geom) -> Geom:
        src_k = g.ndim
        dst_k = 2 + int(has_z) + int(has_m)

        def conv_arr(arr):
            arr = np.asarray(arr, dtype=np.float64).reshape(-1, src_k)
            out = np.zeros((len(arr), dst_k))
            out[:, 0] = arr[:, 0]
            out[:, 1] = arr[:, 1]
            col = 2
            if has_z:
                out[:, col] = arr[:, 2] if g.has_z else zfill
                col += 1
            if has_m:
                src_m = 2 + (1 if g.has_z else 0)
                out[:, col] = arr[:, src_m] if g.has_m else mfill
            return out

        def walk(gg: Geom) -> Geom:
            if gg.gt == POINT:
                data = None if gg.data is None else conv_arr(gg.data)[0]
                return Geom(POINT, data, has_z, has_m)
            if gg.gt == LINESTRING:
                return Geom(LINESTRING, conv_arr(gg.data), has_z, has_m)
            if gg.gt == POLYGON:
                return Geom(POLYGON, [conv_arr(r) for r in gg.data], has_z, has_m)
            if gg.gt in (MULTIPOINT, MULTILINESTRING, MULTIPOLYGON):
                kids = [walk(k) for k in gg.geometries()]
                return Geom(gg.gt, [k.data for k in kids], has_z, has_m)
            return Geom(GEOMETRYCOLLECTION, [walk(k) for k in gg.data],
                        has_z, has_m)
        return walk(g)
    return one


# ----------------------------------------------------------------------
# relate / clearance / linework / triangulation wrappers
# ----------------------------------------------------------------------

def _tessellate(g: Geom) -> Geom:
    """Triangulate a polygon: Delaunay over its vertices filtered to
    triangles whose centroid is interior (drops hole/concavity cover)."""
    tri = alg2.st_delaunay(g)
    if g.dimension() != 2:
        return tri
    kept = []
    for t in tri.data:
        ring = t.data[0]
        c = ring[:3].mean(axis=0)
        if alg.point_position(c, g) > 0:
            kept.append(t)
    return Geom(GEOMETRYCOLLECTION, kept)


def k_relate(s1: pd.Series, s2: pd.Series) -> pd.Series:
    g1s, g2s = _decode(s1), _decode(s2)
    return pd.Series(
        [None if (a is None or b is None) else alg2.relate_matrix(a, b)
         for a, b in zip(g1s, g2s)], dtype=object)


def k_relatepattern(s1, s2, pat) -> pd.Series:
    P = _coerce(pat, len(s1))
    g1s, g2s = _decode(s1), _decode(s2)
    return pd.Series(
        [None if (a is None or b is None or p is None)
         else bool(alg2.relate_pattern(a, b, str(p)))
         for a, b, p in zip(g1s, g2s, P)], dtype=object)


def k_concavehull(s, ratio) -> pd.Series:
    R = _coerce(ratio, len(s))
    out = []
    for g, r in zip(_decode(s), R):
        if g is None or r is None:
            out.append(None)
        else:
            out.append(core.to_wkb(alg2.concave_hull(g, float(r))))
    return pd.Series(out, dtype=object)


def k_minclearance(s: pd.Series) -> pd.Series:
    out = []
    for g in _decode(s):
        if g is None:
            out.append(None)
        else:
            v = alg2.minimum_clearance(g)
            out.append(float(v))
    return pd.Series(out, dtype=object)


def k_minclearanceline(s: pd.Series) -> pd.Series:
    out = []
    for g in _decode(s):
        r = None if g is None else alg2.minimum_clearance(g, want_line=True)
        out.append(None if r is None else core.to_wkb(r))
    return pd.Series(out, dtype=object)


def k_longestline(s1: pd.Series, s2: pd.Series) -> pd.Series:
    def one(a: Geom, b: Geom):
        ca, cb = a.all_coords()[:, :2], b.all_coords()[:, :2]
        if not len(ca) or not len(cb):
            return None
        d = np.hypot(ca[:, 0][:, None] - cb[:, 0][None, :],
                     ca[:, 1][:, None] - cb[:, 1][None, :])
        i, j = np.unravel_index(int(d.argmax()), d.shape)
        return core.to_wkb(Geom(LINESTRING, np.array([ca[i], cb[j]])))
    g1s, g2s = _decode(s1), _decode(s2)
    return pd.Series(
        [None if (a is None or b is None) else one(a, b)
         for a, b in zip(g1s, g2s)], dtype=object)


# ----------------------------------------------------------------------
# CRS tagging (string authority:code form — ST_SetCRS / ST_CRS)
# ----------------------------------------------------------------------

def k_setcrs(s, crs) -> pd.Series:
    C = _coerce(crs, len(s))
    out = []
    for g, c in zip(_decode(s), C):
        if g is None:
            out.append(None)
            continue
        srid = 0
        if c:
            tail = str(c).rsplit(":", 1)[-1]
            if tail.isdigit():
                srid = int(tail)
        g.srid = srid
        out.append(core.to_wkb(g, srid=srid))
    return pd.Series(out, dtype=object)


def k_crs(s: pd.Series) -> pd.Series:
    out = []
    for g in _decode(s):
        if g is None:
            out.append(None)
        else:
            out.append(f"EPSG:{g.srid}" if g.srid else None)
    return pd.Series(out, dtype=object)


# ----------------------------------------------------------------------
# ordering / display
# ----------------------------------------------------------------------

def k_sd_order(s: pd.Series) -> pd.Series:
    """Hilbert key of the geometry centroid over world lon/lat bounds —
    a distributed sort on this key gives spatial locality (reference
    sd_order.rs); used as `ORDER BY SD_Order(geom)` or as a clustering
    column when writing sorted GeoParquet."""
    out = []
    for g in _decode(s):
        if g is None or g.is_empty():
            out.append(None)
            continue
        c = alg.centroid(g)
        out.append(int(alg2.hilbert_key(float(c[0]), float(c[1]))))
    return pd.Series(out, dtype=object)


def k_sd_format(s: pd.Series) -> pd.Series:
    out = []
    for g in _decode(s):
        if g is None:
            out.append(None)
            continue
        w = wktmod.to_wkt(g)
        out.append(w if len(w) <= 80 else w[:77] + "...")
    return pd.Series(out, dtype=object)


def k_st_knn_marker(s1, s2, k, sph) -> pd.Series:
    raise RuntimeError(
        "ST_KNN is a join predicate marker: use it inside a JOIN ON clause "
        "(handled by sedona_db_spark.operators.knn_join) — it cannot be "
        "evaluated as a scalar (reference st_knn.rs:26-40 behaves the same)")


# ----------------------------------------------------------------------
# registration
# ----------------------------------------------------------------------

ARR = None  # filled from kernels' spec table at import

KERNELS.update({
    # Z/M accessors
    "ST_Z": (_k_zm("z"), DBL, "g"),
    "ST_M": (_k_zm("m"), DBL, "g"),
    "ST_ZMin": (_k_zm_minmax("z", np.min), DBL, "g"),
    "ST_ZMax": (_k_zm_minmax("z", np.max), DBL, "g"),
    "ST_MMin": (_k_zm_minmax("m", np.min), DBL, "g"),
    "ST_MMax": (_k_zm_minmax("m", np.max), DBL, "g"),
    # constructors
    "ST_PointM": (k_pointm, BIN, "ddd"),
    "ST_PointZM": (k_pointzm, BIN, "dddd"),
    "ST_MPointFromText": (_typed_from_text(MULTIPOINT), BIN, "s"),
    "ST_MLineFromText": (_typed_from_text(MULTILINESTRING), BIN, "s"),
    "ST_MPolyFromText": (_typed_from_text(MULTIPOLYGON), BIN, "s"),
    "ST_GeomCollFromText": (_typed_from_text(GEOMETRYCOLLECTION), BIN, "s"),
    # retarget the base typed ctors from the untyped parser: wrong type
    # must raise (kernels.py registers them as plain k_geomfromwkt)
    "ST_PointFromText": (_typed_from_text(POINT), BIN, "s"),
    "ST_LineFromText": (_typed_from_text(LINESTRING), BIN, "s"),
    "ST_PolygonFromText": (_typed_from_text(POLYGON), BIN, "s"),
    "ST_GeomFromWKBUnchecked": (lambda s: s, BIN, "g"),
    "ST_Collect": (k_collect, BIN, "a"),
    # affine family
    "ST_Affine": (k_affine, BIN, "gdddddd"),
    "ST_RotateX": (_k_rotate_axis("x"), BIN, "gd"),
    "ST_RotateY": (_k_rotate_axis("y"), BIN, "gd"),
    # dimension forcing
    "ST_Force3DM": (_unary_geom(_force_dims(False, True)), BIN, "g"),
    "ST_Force4D": (_unary_geom(_force_dims(True, True)), BIN, "g"),
    # geography tag flips are metadata-only in our model (edges ride column
    # metadata; WKB payload unchanged) — reference st_togeomgeog.rs
    # flip the edges tag (reference st_togeomgeog.rs: metadata rewrite)
    "ST_ToGeometry": (lambda s: pd.Series(
        [None if b is None else core.clear_geog_wkb(b) for b in s],
        dtype=object), BIN, "g"),
    "ST_ToGeography": (lambda s: pd.Series(
        [None if b is None else core.set_geog_wkb(b) for b in s],
        dtype=object), BIN, "g"),
    "ST_SetCRS": (k_setcrs, BIN, "gs"),
    "ST_CRS": (k_crs, STR, "g"),
    # processing
    "ST_PointOnSurface": (
        _unary_geom(alg2.point_on_surface), BIN, "g"),
    "ST_LineMerge": (_unary_geom(alg2.line_merge), BIN, "g"),
    "ST_Polygonize": (_unary_geom(alg2.polygonize), BIN, "g"),
    "ST_BuildArea": (_unary_geom(alg2.build_area), BIN, "g"),
    "ST_ConcaveHull": (k_concavehull, BIN, "gd"),
    "ST_DelaunayTriangles": (_unary_geom(alg2.st_delaunay), BIN, "g"),
    "ST_MinimumClearance": (k_minclearance, DBL, "g"),
    "ST_MinimumClearanceLine": (k_minclearanceline, BIN, "g"),
    "ST_LongestLine": (k_longestline, BIN, "gg"),
    # tessellation (reference s2 kernels.rs:194-226): constrained-ish
    # triangulation — Delaunay of the vertex set, keeping triangles whose
    # centroid lies inside the input polygon (exact for convex inputs)
    "ST_TessellateGeom": (_unary_geom(
        lambda g: _tessellate(g)), BIN, "g"),
    "ST_TessellateGeog": (_unary_geom(
        lambda g: _tessellate(g)), BIN, "g"),
    # relate
    "ST_Relate": (k_relate, STR, "gg"),
    "ST_RelateMatch": (k_relatepattern, BOOL, "ggs"),
    # aliases
    "ST_NumInteriorRing": KERNELS["ST_NumInteriorRings"],
    # ordering / display / markers
    "SD_Order": (k_sd_order, T.LongType(), "g"),
    "SD_OrderLngLat": (k_sd_order, T.LongType(), "g"),
    "SD_Format": (k_sd_format, STR, "g"),
    "ST_KNN": (k_st_knn_marker, BOOL, "ggds"),
})
