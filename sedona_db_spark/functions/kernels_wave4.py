"""Wave-4 kernels: the arity-overload forms the reference registers
under ONE SQL name.  Spark UDF registration is fixed-arity, so each
extra-arity form lives under an auxiliary SQL name here and the SQL
front door renames N-arg calls onto it (plans/sql_rewrite.py
_ARITY_RENAMES / _ARITY_TEMPLATES).

Registration parity targets (the reference's optional-argument kernels):
- c/sedona-geos/src/st_buffer.rs (buffer style parameters)
- c/sedona-geos/src/st_concavehull.rs (allow_holes)
- c/sedona-geos/src/st_delaunaytriangles.rs (tolerance, only_edges)
- c/sedona-geos/src/st_linemerge.rs (directed)
- rust/sedona-functions/src/st_force_dims.rs (valued Force3DM/Force4D)
- rust/sedona-functions/src/st_affine.rs (3-D 12-parameter form)
- rust/sedona-functions/src/st_scale.rs (3-D form)
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from sedona_db_spark.functions.kernels import (
    BIN, DBL, KERNELS, _coerce, _decode, _nan_rows,
)
from sedona_db_spark.functions.kernels_wave3 import _force_dims
from sedona_db_spark.geom import algorithms as alg
from sedona_db_spark.geom import algorithms2 as alg2
from sedona_db_spark.geom import core
from sedona_db_spark.geom.core import (
    GEOMETRYCOLLECTION, LINESTRING, MULTILINESTRING, POINT, POLYGON, Geom,
)


def _num(v):
    """None for SQL NULL / NaN, else float."""
    if v is None:
        return None
    try:
        f = float(v)
    except (TypeError, ValueError):
        return None
    return None if np.isnan(f) else f


def k_force3dm_m(s: pd.Series, m) -> pd.Series:
    mv = _coerce(m, len(s))
    out = []
    for g, mm in zip(_decode(s), mv):
        f = _num(mm)
        if g is None or f is None:
            out.append(None)
        else:
            out.append(core.to_wkb(_force_dims(False, True, mfill=f)(g)))
    return pd.Series(out, dtype=object)


def k_force4d_zm(s: pd.Series, z, m) -> pd.Series:
    zv, mv = _coerce(z, len(s)), _coerce(m, len(s))
    out = []
    for g, zz, mm in zip(_decode(s), zv, mv):
        fz, fm = _num(zz), _num(mm)
        if g is None or fz is None or fm is None:
            out.append(None)
        else:
            out.append(core.to_wkb(
                _force_dims(True, True, zfill=fz, mfill=fm)(g)))
    return pd.Series(out, dtype=object)


def k_scale3d(s: pd.Series, sx, sy, sz) -> pd.Series:
    n = len(s)
    X, Y, Z = _coerce(sx, n), _coerce(sy, n), _coerce(sz, n)
    out = []
    for g, a, b, c in zip(_decode(s), X, Y, Z):
        fa, fb, fc = _num(a), _num(b), _num(c)
        if g is None or fa is None or fb is None or fc is None:
            out.append(None)
            continue

        def fn(arr, fa=fa, fb=fb, fc=fc, has_z=g.has_z):
            arr = np.asarray(arr, dtype=np.float64)
            res = arr.copy()
            res[:, 0] = arr[:, 0] * fa
            res[:, 1] = arr[:, 1] * fb
            if has_z and arr.shape[1] > 2:
                res[:, 2] = arr[:, 2] * fc
            return res
        out.append(core.to_wkb(alg.transform_coords_full(g, fn)))
    return pd.Series(out, dtype=object)


def k_affine3d(s: pd.Series, a, b, c, d, e, f, g_, h, i, xo, yo, zo
               ) -> pd.Series:
    n = len(s)
    cols = [_coerce(v, n) for v in (a, b, c, d, e, f, g_, h, i, xo, yo, zo)]
    out = []
    for row in zip(_decode(s), *cols):
        g = row[0]
        ps = [_num(v) for v in row[1:]]
        if g is None or any(p is None for p in ps):
            out.append(None)
            continue
        aa, bb, cc, dd, ee, ff, gg, hh, ii, x0, y0, z0 = ps

        def fn(arr, _p=ps, has_z=g.has_z):
            aa, bb, cc, dd, ee, ff, gg, hh, ii, x0, y0, z0 = _p
            arr = np.asarray(arr, dtype=np.float64)
            x = arr[:, 0].copy()
            y = arr[:, 1].copy()
            z = arr[:, 2].copy() if has_z and arr.shape[1] > 2 \
                else np.zeros(len(arr))
            res = arr.copy()
            res[:, 0] = aa * x + bb * y + cc * z + x0
            res[:, 1] = dd * x + ee * y + ff * z + y0
            if has_z and arr.shape[1] > 2:
                res[:, 2] = gg * x + hh * y + ii * z + z0
            return res
        out.append(core.to_wkb(alg.transform_coords_full(g, fn)))
    return pd.Series(out, dtype=object)


def k_linemerge_directed(s: pd.Series, directed) -> pd.Series:
    dv = _coerce(directed, len(s))
    out = []
    for g, dd in zip(_decode(s), dv):
        if g is None or dd is None:
            out.append(None)
        else:
            out.append(core.to_wkb(alg2.line_merge(g, directed=bool(dd))))
    return pd.Series(out, dtype=object)


def _snap_points(coords: np.ndarray, tol: float) -> np.ndarray:
    """GEOS DelaunayTriangulationBuilder tolerance: drop vertices closer
    than tol to an already-kept vertex (greedy, input order)."""
    if tol <= 0 or len(coords) == 0:
        return coords
    kept: list = []
    for p in coords[:, :2]:
        # strict <: a site at EXACTLY tol from a kept vertex is kept
        # (GEOS keeps (1,0) under tolerance 1.0 - reference test)
        if all((p[0] - q[0]) ** 2 + (p[1] - q[1]) ** 2 >= tol * tol
               for q in kept):
            kept.append(p)
    return np.asarray(kept, dtype=np.float64)


def _delaunay_with(g: Geom, tol: float, only_edges: bool) -> Geom:
    coords = _snap_points(g.all_coords()[:, :2], tol)
    if len(coords) < 3:
        return Geom(GEOMETRYCOLLECTION, [])
    tris, pts = alg2.delaunay_triangles(coords)
    if not only_edges:
        return alg2.delaunay_gc(tris, pts)
    # unique edges as a MULTILINESTRING, each directed ascending (x, y),
    # listed in GEOS QuadEdge emission order (start descending, end
    # ascending — pinned by the reference's only_edges test)
    edges = set()
    for t in tris:
        for u, v in ((t[0], t[1]), (t[1], t[2]), (t[2], t[0])):
            p, q = tuple(pts[u]), tuple(pts[v])
            edges.add((p, q) if p <= q else (q, p))
    order = sorted(edges, key=lambda e: (tuple(-c for c in e[0]), e[1]))
    return Geom(MULTILINESTRING,
                [np.array([e[0], e[1]], dtype=np.float64) for e in order])


def k_delaunay_tol(s: pd.Series, tol) -> pd.Series:
    tv = _coerce(tol, len(s))
    out = []
    for g, t in zip(_decode(s), tv):
        ft = _num(t)
        if g is None or ft is None:
            out.append(None)
        else:
            out.append(core.to_wkb(_delaunay_with(g, ft, False)))
    return pd.Series(out, dtype=object)


def k_delaunay_flags(s: pd.Series, tol, only_edges) -> pd.Series:
    n = len(s)
    tv, ev = _coerce(tol, n), _coerce(only_edges, n)
    out = []
    for g, t, e in zip(_decode(s), tv, ev):
        ft = _num(t)
        if g is None or ft is None or e is None:
            out.append(None)
        else:
            out.append(core.to_wkb(_delaunay_with(g, ft, bool(e))))
    return pd.Series(out, dtype=object)


def k_concavehull_holes(s: pd.Series, ratio, holes) -> pd.Series:
    n = len(s)
    rv, hv = _coerce(ratio, n), _coerce(holes, n)
    out = []
    for g, r, h in zip(_decode(s), rv, hv):
        fr = _num(r)
        if g is None or fr is None or h is None:
            out.append(None)
        else:
            out.append(core.to_wkb(alg2.concave_hull(g, fr, bool(h))))
    return pd.Series(out, dtype=object)


def k_translate3d(s: pd.Series, dx, dy, dz) -> pd.Series:
    n = len(s)
    X, Y, Z = _coerce(dx, n), _coerce(dy, n), _coerce(dz, n)
    out = []
    for g, a, b, c in zip(_decode(s), X, Y, Z):
        fa, fb, fc = _num(a), _num(b), _num(c)
        if g is None or fa is None or fb is None or fc is None:
            out.append(None)
            continue

        def fn(arr, fa=fa, fb=fb, fc=fc, has_z=g.has_z):
            arr = np.asarray(arr, dtype=np.float64)
            res = arr.copy()
            res[:, 0] = arr[:, 0] + fa
            res[:, 1] = arr[:, 1] + fb
            if has_z and arr.shape[1] > 2:
                res[:, 2] = arr[:, 2] + fc
            return res
        out.append(core.to_wkb(alg.transform_coords_full(g, fn)))
    return pd.Series(out, dtype=object)


def k_hausdorff_densify(s1: pd.Series, s2: pd.Series, frac) -> pd.Series:
    """3-arg ST_HausdorffDistance: densified discrete Hausdorff (GEOS
    DiscreteHausdorffDistance with densifyFraction — each segment split
    into ceil(1/frac) parts before the vertex sweep)."""
    fv = _coerce(frac, len(s1))
    out = []
    for a, b, f in zip(_decode(s1), _decode(s2), fv):
        ff = _num(f)
        if a is None or b is None or ff is None:
            out.append(None)
            continue
        if not (0.0 < ff <= 1.0):
            raise ValueError(
                "ST_HausdorffDistance: densifyFrac must be in (0, 1], "
                f"got {ff}")
        out.append(alg.hausdorff(_densify(a, ff), _densify(b, ff)))
    return pd.Series(out, dtype=object)


def _densify(g: Geom, frac: float) -> Geom:
    n = max(1, int(math.ceil(1.0 / frac)))

    def dense(arr):
        a = np.asarray(arr, dtype=np.float64)
        if len(a) < 2:
            return a
        rows = []
        for i in range(len(a) - 1):
            for k in range(n):
                rows.append(a[i] + (k / n) * (a[i + 1] - a[i]))
        rows.append(a[-1])
        return np.asarray(rows, dtype=np.float64)

    if g.gt == LINESTRING:
        return Geom(LINESTRING, dense(g.data), g.has_z, g.has_m)
    if g.gt == MULTILINESTRING:
        return Geom(MULTILINESTRING, [dense(l) for l in g.data],
                    g.has_z, g.has_m)
    if g.gt == POLYGON:
        return Geom(POLYGON, [dense(r) for r in g.data], g.has_z, g.has_m)
    if g.gt == core.MULTIPOLYGON:
        return Geom(core.MULTIPOLYGON,
                    [[dense(r) for r in p] for p in g.data],
                    g.has_z, g.has_m)
    if g.gt == GEOMETRYCOLLECTION:
        return Geom(GEOMETRYCOLLECTION, [_densify(m, frac) for m in g.data],
                    g.has_z, g.has_m)
    return g


def _crs_to_srid(v):
    """CRS argument of the constructor overloads: int SRID, 'EPSG:n',
    or 'OGC:CRS84' (-> 4326)."""
    if v is None:
        return None
    if isinstance(v, (int, float)) and not isinstance(v, bool):
        return int(v)
    s = str(v).strip().upper()
    if s == "OGC:CRS84" or s == "CRS84":
        return 4326
    if s.startswith("EPSG:"):
        return int(s.split(":", 1)[1])
    if s.isdigit():
        return int(s)
    raise ValueError(f"unsupported CRS argument {v!r}")


def k_point_crs(x: pd.Series, y: pd.Series, crs) -> pd.Series:
    """3-arg ST_Point(x, y, crs) — crs is an int SRID or a CRS string
    (reference st_point.rs optional crs argument)."""
    n = len(x)
    cv = _coerce(crs, n)
    out = []
    for xx, yy, c, null in zip(x, y, cv, _nan_rows(x, y)):
        if null or c is None:
            out.append(None)
            continue
        g = core.make_point(float(xx), float(yy))
        out.append(core.to_wkb(g, srid=_crs_to_srid(c)))
    return pd.Series(out, dtype=object)


def k_geomfromtext_crs(s: pd.Series, crs) -> pd.Series:
    """2-arg ST_GeomFromText(wkt, crs) — int SRID or CRS string."""
    from sedona_db_spark.geom import wkt as wktmod
    cv = _coerce(crs, len(s))
    out = []
    for v, c in zip(s, cv):
        if v is None or c is None:
            out.append(None)
            continue
        g = wktmod.from_wkt(v)
        out.append(core.to_wkb(g, srid=_crs_to_srid(c)))
    return pd.Series(out, dtype=object)


def k_makeline_binary(s1: pd.Series, s2: pd.Series) -> pd.Series:
    """2-arg ST_MakeLine(geom, geom): concatenated coordinate sequence
    of two puntal/lineal inputs with consecutive duplicates collapsed
    (python/sedonadb test_st_makeline)."""
    out = []
    for a, b in zip(_decode(s1), _decode(s2)):
        if a is None or b is None:
            out.append(None)
            continue
        coords = []
        for g in (a, b):
            if g.gt == POINT and g.data is not None:
                coords.append(np.asarray(g.data, dtype=np.float64)[:2])
            elif g.gt == LINESTRING:
                coords.extend(np.asarray(g.data, dtype=np.float64)[:, :2])
            elif g.gt == MULTILINESTRING:
                for l in g.data:
                    coords.extend(np.asarray(l, dtype=np.float64)[:, :2])
            elif g.gt == core.MULTIPOINT:
                for p in g.data:
                    if p is not None:
                        coords.append(np.asarray(p, dtype=np.float64)[:2])
        dedup = []
        for c in coords:
            if not dedup or abs(c[0] - dedup[-1][0]) > 1e-12 \
                    or abs(c[1] - dedup[-1][1]) > 1e-12:
                dedup.append(c)
        out.append(core.to_wkb(
            Geom(LINESTRING, np.asarray(dedup, dtype=np.float64))))
    return pd.Series(out, dtype=object)


def k_buffer_styled(s: pd.Series, dist, params) -> pd.Series:
    n = len(s)
    dv, pv = _coerce(dist, n), _coerce(params, n)
    out = []
    for g, d, p in zip(_decode(s), dv, pv):
        fd = _num(d)
        if g is None or fd is None or p is None:
            out.append(None)
        else:
            out.append(core.to_wkb(alg.buffer_styled(g, fd, str(p))))
    return pd.Series(out, dtype=object)


KERNELS.update({
    "ST_BufferStyled": (k_buffer_styled, BIN, "gds"),
    "ST_MakeLineBinary": (k_makeline_binary, BIN, "gg"),
    "ST_HausdorffDistanceDensify": (k_hausdorff_densify, DBL, "ggd"),
    "ST_Translate3D": (k_translate3d, BIN, "gddd"),
    "ST_PointCrs": (k_point_crs, BIN, "dds"),
    "ST_GeomFromTextCrs": (k_geomfromtext_crs, BIN, "ss"),
    "ST_Force3DMValue": (k_force3dm_m, BIN, "gd"),
    "ST_Force4DValues": (k_force4d_zm, BIN, "gdd"),
    "ST_Scale3D": (k_scale3d, BIN, "gddd"),
    "ST_Affine3D": (k_affine3d, BIN, "g" + "d" * 12),
    "ST_LineMergeDirected": (k_linemerge_directed, BIN, "gd"),
    "ST_DelaunayTrianglesTol": (k_delaunay_tol, BIN, "gd"),
    "ST_DelaunayTrianglesFlags": (k_delaunay_flags, BIN, "gdd"),
    "ST_ConcaveHullHoles": (k_concavehull_holes, BIN, "gdd"),
})
