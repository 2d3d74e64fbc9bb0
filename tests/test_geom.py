"""Geometry engine unit tests (no Spark).

Edge-case matrix follows the reference's predicate tests
(/root/reference/python/sedonadb/tests/functions/test_predicates.py:21-97):
NULL/EMPTY handling, boundary-touch semantics, holes, collections.
"""

import math

import numpy as np
import pytest

from sedona_db_spark.geom import algorithms as alg
from sedona_db_spark.geom import core, wkt

W = wkt.from_wkt

ROUNDTRIP = [
    "POINT (1 2)",
    "POINT EMPTY",
    "POINT Z (1 2 3)",
    "LINESTRING (0 0, 1 1, 2 0)",
    "LINESTRING EMPTY",
    "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))",
    "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))",
    "MULTIPOINT ((1 1), (2 2))",
    "MULTILINESTRING ((0 0, 1 1), (2 2, 3 3))",
    "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)), ((5 5, 6 5, 6 6, 5 5)))",
    "GEOMETRYCOLLECTION (POINT (1 2), LINESTRING (0 0, 1 1))",
    "GEOMETRYCOLLECTION EMPTY",
]


@pytest.mark.parametrize("text", ROUNDTRIP)
def test_wkt_wkb_roundtrip(text):
    g = W(text)
    assert wkt.to_wkt(core.from_wkb(core.to_wkb(g))) == text


def test_wkt_non_finite_coordinates_roundtrip():
    """NaN and +/-inf ordinates write as GEOS spells them and read back."""
    g = core.from_wkb(core.to_wkb(core.Geom(
        core.LINESTRING, np.array([[math.nan, 1.0], [math.inf, -math.inf]]))))
    text = wkt.to_wkt(g)
    assert text == "LINESTRING (NaN 1, Inf -Inf)"
    np.testing.assert_array_equal(W(text).data, g.data)
    assert wkt.to_wkt(W("POINT Z (-Inf 2 NaN)")) == "POINT Z (-Inf 2 NaN)"


def test_ewkb_srid_roundtrip():
    g = W("SRID=4326;POINT (1 2)")
    assert g.srid == 4326
    b = core.to_wkb(g, srid=4326)
    assert core.from_wkb(b).srid == 4326


POLY = W("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))")


def test_measures():
    assert alg.area(POLY) == 96.0
    assert alg.perimeter(POLY) == 48.0
    assert alg.length(W("LINESTRING (0 0, 3 4)")) == 5.0
    assert alg.length(POLY) == 0.0  # PostGIS: polygons have length 0
    assert alg.centroid(W("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")) == (5.0, 5.0)


# (a, b, intersects, contains(a,b), touches)
PREDICATE_CASES = [
    ("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))", "POINT (5 5)", True, True, False),
    ("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))", "POINT (0 5)", True, False, True),  # boundary
    ("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))", "POINT (15 5)", False, False, False),
    # point in hole
    ("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))",
     "POINT (3 3)", False, False, False),
    # edge-adjacent boxes
    ("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))", "POLYGON ((1 0, 2 0, 2 1, 1 1, 1 0))",
     True, False, True),
    # overlapping boxes
    ("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))", "POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))",
     True, False, False),
    # nested boxes
    ("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))", "POLYGON ((2 2, 3 2, 3 3, 2 3, 2 2))",
     True, True, False),
    # line crossing polygon
    ("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))", "LINESTRING (-5 5, 15 5)",
     True, False, False),
    # collection containing point
    ("GEOMETRYCOLLECTION (POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0)), POINT (9 9))",
     "POINT (2 2)", True, True, False),
]


@pytest.mark.parametrize("a,b,inter,cont,touch", PREDICATE_CASES)
def test_predicates(a, b, inter, cont, touch):
    ga, gb = W(a), W(b)
    assert alg.intersects(ga, gb) == inter
    assert alg.intersects(gb, ga) == inter  # symmetry
    assert alg.contains(ga, gb) == cont
    assert alg.within(gb, ga) == cont
    assert alg.touches(ga, gb) == touch
    assert alg.disjoint(ga, gb) == (not inter)


def test_empty_semantics():
    e = W("POINT EMPTY")
    p = W("POINT (1 1)")
    assert not alg.intersects(e, p)
    assert not alg.contains(p, e)
    assert alg.distance(e, p) is None


def test_covers_vs_contains_boundary():
    box = W("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")
    edge_pt = W("POINT (0 5)")
    assert alg.covers(box, edge_pt) is True
    assert alg.contains(box, edge_pt) is False


def test_crosses_overlaps_equals():
    box = W("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")
    line = W("LINESTRING (-5 5, 15 5)")
    assert alg.crosses(line, box)
    assert not alg.crosses(W("LINESTRING (1 1, 2 2)"), box)  # fully inside
    a = W("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))")
    b = W("POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))")
    assert alg.overlaps(a, b)
    assert alg.equals(a, W("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"))
    assert alg.equals(a, W("POLYGON ((2 0, 2 2, 0 2, 0 0, 2 0))"))  # rotated ring


def test_distance_and_dwithin():
    assert alg.distance(W("POINT (0 0)"), W("POINT (3 4)")) == 5.0
    d = alg.distance(W("POINT (15 5)"), W("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"))
    assert d == 5.0
    assert alg.dwithin(W("POINT (0 0)"), W("POINT (3 4)"), 5.0)
    assert not alg.dwithin(W("POINT (0 0)"), W("POINT (3 4)"), 4.9)
    # segment-segment
    assert alg.distance(W("LINESTRING (0 0, 0 10)"), W("LINESTRING (3 0, 3 10)")) == 3.0


def test_convex_hull():
    h = alg.convex_hull(W("MULTIPOINT ((0 0), (4 0), (4 4), (0 4), (2 2))"))
    assert alg.area(h) == 16.0
    assert h.gt == core.POLYGON
    # degenerate
    assert alg.convex_hull(W("MULTIPOINT ((1 1), (1 1))")).gt == core.POINT


def test_buffer_point_area():
    buf = alg.buffer(W("POINT (0 0)"), 2.0, quad_segs=8)
    n = 32
    assert abs(alg.area(buf) - 0.5 * n * 4.0 * math.sin(2 * math.pi / n)) < 1e-9
    assert abs(alg.area(buf) - math.pi * 4) / (math.pi * 4) < 0.01


def test_simplify():
    line = W("LINESTRING (0 0, 1 0.01, 2 0, 3 0.01, 4 0)")
    s = alg.simplify(line, 0.1)
    assert len(s.data) == 2
    s2 = alg.simplify(line, 0.001)
    assert len(s2.data) == 5


def test_affine_ops():
    p = W("POINT (1 2)")
    assert wkt.to_wkt(alg.translate(p, 3, 4)) == "POINT (4 6)"
    assert wkt.to_wkt(alg.scale(p, 2, 3)) == "POINT (2 6)"
    r = alg.rotate(p, math.pi)
    assert abs(r.data[0] + 1) < 1e-12 and abs(r.data[1] + 2) < 1e-12
    assert wkt.to_wkt(alg.flip_coordinates(p)) == "POINT (2 1)"


def test_line_ops():
    line = W("LINESTRING (0 0, 10 0)").data
    assert list(alg.line_interpolate_point(line, 0.3)) == [3.0, 0.0]
    assert alg.line_locate_point(line, np.array([3.0, 5.0])) == 0.3
    sub = alg.line_substring(line, 0.2, 0.5)
    assert list(sub[0]) == [2.0, 0.0] and list(sub[-1]) == [5.0, 0.0]
    seg = alg.segmentize(W("LINESTRING (0 0, 10 0)"), 3.0)
    assert len(seg.data) == 5


def test_intersection_convex_clip():
    a = W("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")
    b = alg.box_polygon(5, 5, 15, 15)
    out = alg.intersection(a, b)
    assert abs(alg.area(out) - 25.0) < 1e-9
    # exact line clip (split at boundary crossings)
    line = W("LINESTRING (-5 5, 15 5)")
    assert alg.length(alg.intersection(line, a)) == 10.0
    assert alg.length(alg.difference(line, a)) == 10.0
    holed = W("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0),"
              " (4 4, 6 4, 6 6, 4 6, 4 4))")
    assert alg.length(alg.intersection(line, holed)) == 8.0


def test_validity():
    bowtie = W("POLYGON ((0 0, 2 2, 2 0, 0 2, 0 0))")
    assert not alg.is_valid(bowtie)
    assert alg.is_valid(POLY)
    assert alg.is_simple(W("LINESTRING (0 0, 1 1)"))
    assert not alg.is_simple(W("LINESTRING (0 0, 2 2, 2 0, 0 2)"))


def test_batch_point_in_polygon_matches_scalar():
    rng = np.random.RandomState(42)
    pts = rng.uniform(-2, 12, size=(500, 2))
    batch = alg.points_position_batch(pts, POLY)
    scalar = np.array([alg.point_position(p, POLY) for p in pts])
    assert (batch == scalar).all()


def test_point_fast_paths():
    xs = np.array([1.0, 2.5, -3.0])
    ys = np.array([4.0, -5.5, 6.0])
    arr = core.points_to_wkb_array(xs, ys)
    back = core.wkb_array_to_points(list(arr))
    assert np.allclose(back, np.column_stack([xs, ys]))
    # non-point rejects fast path
    mixed = list(arr) + [core.to_wkb(W("LINESTRING (0 0, 1 1)"))]
    assert core.wkb_array_to_points(mixed) is None


def test_transform_crs_roundtrip():
    g = W("POINT (10 45)")
    m = alg.transform_crs(g, "EPSG:4326", "EPSG:3857")
    x, y = m.all_coords()[0][:2]
    assert abs(x - 1113194.9079) < 1.0 and abs(y - 5621521.486) < 10.0
    back = alg.transform_crs(m, "EPSG:3857", "EPSG:4326")
    bx, by = back.all_coords()[0][:2]
    assert abs(bx - 10) < 1e-6 and abs(by - 45) < 1e-6
    # UTM is now supported natively; an unmapped CRS still raises
    utm = alg.transform_crs(g, "EPSG:4326", "EPSG:32633")
    assert utm.all_coords()[0][0] != 10  # projected, not passthrough
    # national grids are registered; Hungarian EOV is not
    with pytest.raises(NotImplementedError):
        alg.transform_crs(g, "EPSG:4326", "EPSG:23700")
    assert alg.transform_crs(g, "EPSG:4326", "epsg:4326") is g


def test_conic_azimuthal_projections():
    """LCC/Albers/polar-stereo/LAEA: control points + round-trips +
    transform_crs chaining through 4326."""
    import numpy as np
    from sedona_db_spark.geom import projections as prj
    # Lambert-93 control point (IGN: Paris city hall)
    p = prj.lookup_projection("EPSG:2154")
    x, y = p.forward(np.array([2.3522]), np.array([48.8566]))
    assert abs(x[0] - 652469.02) < 0.5 and abs(y[0] - 6862035.26) < 0.5
    # projection origins land on the false easting/northing exactly
    assert np.allclose(prj.lookup_projection("EPSG:5070").forward(
        np.array([-96.0]), np.array([23.0])), ([0.0], [0.0]), atol=1e-6)
    assert np.allclose(prj.lookup_projection("EPSG:3035").forward(
        np.array([10.0]), np.array([52.0])), ([4321000.0], [3210000.0]), atol=1e-6)
    # round-trips across all registered codes
    lons = np.array([2.0, -100.0, 140.0, 15.0, 10.0, -40.0])
    for code, lats in [("EPSG:2154", [44.0, 49.0, 46.0, 43.5, 48.0, 50.0]),
                       ("EPSG:5070", [25.0, 45.0, 33.0, 40.0, 29.5, 48.0]),
                       ("EPSG:3577", [-12.0, -44.0, -25.0, -36.0, -18.0, -30.0]),
                       ("EPSG:3035", [35.0, 60.0, 45.0, 52.0, 70.0, 40.0]),
                       ("EPSG:3031", [-60.0, -89.0, -71.0, -75.0, -80.0, -66.0]),
                       ("EPSG:3413", [60.0, 89.0, 70.0, 75.0, 80.0, 66.0])]:
        pp = prj.lookup_projection(code)
        xs, ys = pp.forward(lons, np.array(lats))
        lo, la = pp.inverse(xs, ys)
        assert np.abs(lo - lons).max() < 1e-9, code
        assert np.abs(la - np.array(lats)).max() < 1e-9, code
    # equal-area property of Albers: a 1-deg cell at sp1 and sp2 has
    # (nearly) equal projected area scale
    pa = prj.lookup_projection("EPSG:5070")

    def cell_area(lat):
        lon_c = np.array([-96.0, -95.0, -95.0, -96.0])
        lat_c = np.array([lat, lat, lat + 1.0, lat + 1.0])
        x2, y2 = pa.forward(lon_c, lat_c)
        return 0.5 * abs(np.dot(x2, np.roll(y2, -1)) - np.dot(y2, np.roll(x2, -1)))
    # true cell areas differ ~by the cos ratio (spherical approximation
    # of a 1-deg cell is good to ~0.4%); LCC would be off by >2% here
    import math as m
    r = (cell_area(29.0) / m.cos(m.radians(29.5))) / \
        (cell_area(45.0) / m.cos(m.radians(45.5)))
    assert abs(r - 1.0) < 5e-3
    # transform_crs end-to-end, incl. projected -> projected chaining
    g = W("POINT (2.3522 48.8566)")
    l93 = alg.transform_crs(g, "EPSG:4326", "EPSG:2154")
    assert abs(l93.all_coords()[0][0] - 652469.02) < 0.5
    back = alg.transform_crs(l93, "EPSG:2154", "OGC:CRS84")
    assert abs(back.all_coords()[0][0] - 2.3522) < 1e-9
    chained = alg.transform_crs(l93, "EPSG:2154", "EPSG:3035")
    direct = alg.transform_crs(g, "EPSG:4326", "EPSG:3035")
    assert np.allclose(chained.all_coords()[0][:2],
                       direct.all_coords()[0][:2], atol=1e-6)
    # 3857 -> registered projection chains through 4326 too
    merc = alg.transform_crs(g, "EPSG:4326", "EPSG:3857")
    via = alg.transform_crs(merc, "EPSG:3857", "EPSG:2154")
    assert np.allclose(via.all_coords()[0][:2], l93.all_coords()[0][:2],
                       atol=1e-6)


def test_utm_projection_known_values():
    """Krüger-series UTM vs published reference values."""
    import numpy as np
    from sedona_db_spark.geom import projections as prj
    e, n = prj.utm_forward(np.array([3.0]), np.array([0.0]), 31, True)
    assert abs(e[0] - 500000) < 1e-6 and abs(n[0]) < 1e-6
    # meridian arc 0->45N (WGS84: 4984944.38 m) scaled by k0
    e, n = prj.utm_forward(np.array([3.0]), np.array([45.0]), 31, True)
    assert abs(n[0] - 4984944.38 * 0.9996) < 0.01
    # roundtrip ~1e-8 deg (mm-level) across the zone
    rng = np.random.default_rng(1)
    lon = rng.uniform(0.5, 5.5, 500)
    lat = rng.uniform(-80, 84, 500)
    E, N = prj.utm_forward(lon, lat, 31, True)
    lon2, lat2 = prj.utm_inverse(E, N, 31, True)
    assert np.abs(lon2 - lon).max() < 1e-8
    assert np.abs(lat2 - lat).max() < 1e-8


def test_st_transform_utm_sql(spark):
    import pytest as _pt
    row = spark.sql("""
      SELECT ST_X(t) AS e, ST_Y(t) AS n FROM (
        SELECT ST_Transform(ST_Point(2.3522, 48.8566), 'EPSG:4326', 'EPSG:32631') AS t)
    """).first()
    assert row["e"] == _pt.approx(452482.53, abs=0.5)
    assert row["n"] == _pt.approx(5411717.18, abs=0.5)
    back = spark.sql("""
      SELECT ST_X(t) AS lon, ST_Y(t) AS lat FROM (
        SELECT ST_Transform(ST_Transform(ST_Point(2.3522, 48.8566),
               'EPSG:4326', 'EPSG:32631'), 'EPSG:32631', 'EPSG:4326') AS t)
    """).first()
    assert back["lon"] == _pt.approx(2.3522, abs=1e-7)
    assert back["lat"] == _pt.approx(48.8566, abs=1e-7)


# ----------------------------------------------------------------------
# Rectilinear boolean overlay (union2/difference/sym_difference upgrade)
# ----------------------------------------------------------------------

def test_rectilinear_overlay_offset_squares():
    from sedona_db_spark.geom import algorithms as alg, wkt
    A = wkt.from_wkt("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")
    for d in (1, 4, 7):
        B = wkt.from_wkt(
            f"POLYGON (({d} {d}, {d+10} {d}, {d+10} {d+10}, {d} {d+10}, {d} {d}))")
        exp = (10 - d) ** 2
        assert alg.area(alg.union2(A, B)) == 200 - exp
        assert alg.area(alg.difference(A, B)) == 100 - exp
        assert alg.area(alg.sym_difference(A, B)) == 200 - 2 * exp


def test_rectilinear_difference_makes_hole():
    from sedona_db_spark.geom import algorithms as alg, core, wkt
    A = wkt.from_wkt("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")
    B = wkt.from_wkt("POLYGON ((2 2, 4 2, 4 4, 2 4, 2 2))")
    D = alg.difference(A, B)
    assert alg.area(D) == 96.0
    assert D.gt == core.POLYGON and len(D.data) == 2  # shell + hole


def test_rectilinear_union_lshape():
    from sedona_db_spark.geom import algorithms as alg, wkt
    L = wkt.from_wkt("POLYGON ((0 0, 6 0, 6 2, 2 2, 2 6, 0 6, 0 0))")
    R = wkt.from_wkt("POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))")
    assert alg.area(alg.union2(L, R)) == 21.0
    assert alg.area(alg.sym_difference(L, R)) == 18.0


def test_rectilinear_corner_touch_union_falls_back_exact_area():
    from sedona_db_spark.geom import algorithms as alg, wkt
    A = wkt.from_wkt("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")
    B = wkt.from_wkt("POLYGON ((10 10, 14 10, 14 14, 10 14, 10 10))")
    assert alg.area(alg.union2(A, B)) == 116.0


def test_non_rectilinear_overlap_exact_union():
    # square ∪ triangle via the Martinez sweep: inclusion-exclusion holds
    from sedona_db_spark.geom import algorithms as alg, wkt
    A = wkt.from_wkt("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")
    T = wkt.from_wkt("POLYGON ((5 -1, 15 5, 5 11, 5 -1))")
    ia = alg.area(alg.intersection(A, T))
    ua = alg.area(alg.union2(A, T))
    da = alg.area(alg.difference(A, T))
    xa = alg.area(alg.sym_difference(A, T))
    assert abs(ua - (alg.area(A) + alg.area(T) - ia)) < 1e-9
    assert abs(da - (alg.area(A) - ia)) < 1e-9
    assert abs(xa - (ua - ia)) < 1e-9


def test_concave_concave_overlay_closed_form():
    # arrow ∩ shifted arrow: hand-computed areas (A=12, B=12, int=8)
    from sedona_db_spark.geom import algorithms as alg, wkt
    A = wkt.from_wkt("POLYGON ((0 0, 4 0, 4 4, 2 2, 0 4, 0 0))")
    B = wkt.from_wkt("POLYGON ((0 1, 4 1, 4 5, 2 3, 0 5, 0 1))")
    assert abs(alg.area(alg.intersection(A, B)) - 8.0) < 1e-9
    assert abs(alg.area(alg.union2(A, B)) - 16.0) < 1e-9
    assert abs(alg.area(alg.difference(A, B)) - 4.0) < 1e-9
    assert abs(alg.area(alg.sym_difference(A, B)) - 8.0) < 1e-9


def test_hole_preserved_through_overlay():
    from sedona_db_spark.geom import algorithms as alg, wkt
    S = wkt.from_wkt("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0),"
                     " (4 4, 6 4, 6 6, 4 6, 4 4))")
    C = wkt.from_wkt("POLYGON ((5 5, 12 5, 12 12, 5 12, 5 5))")
    assert abs(alg.area(alg.intersection(S, C)) - 24.0) < 1e-9
    assert abs(alg.area(alg.union2(S, C)) - 121.0) < 1e-9
    assert abs(alg.area(alg.difference(S, C)) - 72.0) < 1e-9


def test_unary_union_dissolves_overlapping_parts():
    from sedona_db_spark.geom import algorithms as alg, wkt
    m = wkt.from_wkt("MULTIPOLYGON (((0 0, 4 0, 4 4, 0 4, 0 0)),"
                     " ((2 2, 6 2, 6 6, 2 6, 2 2)),"
                     " ((10 10, 11 10, 11 11, 10 11, 10 10)))")
    u = alg.unary_union(m)
    assert abs(alg.area(u) - (16 + 16 - 4 + 1)) < 1e-9


def test_buffer_capsule_semantics():
    """Round-join buffers via capsule unions: line, polygon, negative,
    holed, concave — analytic areas within arc-discretization error."""
    import math
    from sedona_db_spark.geom import wkt
    from sedona_db_spark.geom.algorithms import buffer, area

    L = wkt.from_wkt("LINESTRING (0 0, 10 0)")
    assert abs(area(buffer(L, 2.0)) - (40 + math.pi * 4)) < 0.1
    S = wkt.from_wkt("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")
    assert abs(area(buffer(S, 2.0)) - (180 + math.pi * 4)) < 0.1
    assert abs(area(buffer(S, -2.0)) - 36.0) < 1e-9        # exact erosion
    assert area(buffer(S, -6.0)) == 0.0                    # erodes away
    H = wkt.from_wkt("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0),"
                     " (4 4, 6 4, 6 6, 4 6, 4 4))")
    assert abs(area(buffer(H, 1.5)) - (160 + math.pi * 2.25)) < 0.1
    assert abs(area(buffer(H, -1.0)) - (64 - 12 - math.pi)) < 0.05
    C = wkt.from_wkt("POLYGON ((0 0, 8 0, 8 8, 4 4, 0 8, 0 0))")
    assert 0 < area(buffer(C, -1.0)) < 48.0


def test_covers_respects_holes():
    import numpy as np
    from sedona_db_spark.geom.core import Geom, POLYGON
    from sedona_db_spark.geom import wkt
    from sedona_db_spark.geom.algorithms import covers, contains

    ann = Geom(POLYGON, [
        np.array([(-2, -2), (12, -2), (12, 12), (-2, 12), (-2, -2)], float),
        np.array([(2, 2), (8, 2), (8, 8), (2, 8), (2, 2)], float)])
    S = wkt.from_wkt("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")
    small = wkt.from_wkt("POLYGON ((-1 -1, 1 -1, 1 1, -1 1, -1 -1))")
    assert not covers(ann, S) and not contains(ann, S)
    assert covers(ann, small) and contains(ann, small)


def test_item_level_crs_transform(spark):
    """Item-level CRS (reference new_item_crs): the EWKB srid rides in
    the value, survives kernels, and drives ST_Transform(g,'item',dst)."""
    r = spark.sql("""
      SELECT ST_SRID(g) AS srid_in,
             ST_SRID(ST_Translate(g, 1.0, 0.0)) AS srid_thru,
             round(ST_X(ST_Transform(g, 'item', 'EPSG:3857')), 3) AS mx,
             ST_SRID(ST_Transform(g, 'item', 'EPSG:3857')) AS srid_out
      FROM (SELECT ST_SetSRID(ST_Point(10.0, 45.0), 4326) AS g)
    """).first()
    assert r["srid_in"] == 4326
    assert r["srid_thru"] == 4326       # srid preserved through editors
    assert abs(r["mx"] - 1113194.908) < 0.01
    assert r["srid_out"] == 3857        # output stamped with dst code
    # rows with DIFFERENT item CRSes in one column transform independently
    rows = spark.sql("""
      SELECT id, round(ST_X(ST_Transform(g, 'item', 'EPSG:4326')), 6) AS lon
      FROM (SELECT 1 AS id, ST_SetSRID(ST_Point(1113194.9079, 0.0), 3857) AS g
            UNION ALL
            SELECT 2, ST_SetSRID(ST_Point(10.0, 45.0), 4326))
    """).collect()
    got = {r2["id"]: r2["lon"] for r2 in rows}
    assert got == {1: 10.0, 2: 10.0}


def test_ragged_batch_fast_path_matches_scalar(spark):
    """The uniform polygon/line ragged numpy decode (core.wkb_batch_ragged)
    must agree with the per-row parser for Area/Perimeter/Length/Envelope/
    Centroid/NPoints on a batch of varied single-ring polygons."""
    rows = spark.sql("""
      SELECT n_nationkey AS k,
             ST_MakeEnvelope(CAST(n_nationkey AS DOUBLE), 0.0D,
                             CAST(n_nationkey AS DOUBLE) * 2.0D + 3.0D,
                             CAST(n_nationkey % 7 AS DOUBLE) + 1.0D) AS g
      FROM parquet.`/root/testdata/sf0.001/nation.parquet`
    """).selectExpr(
        "k",
        "round(ST_Area(g), 9) AS area",
        "round(ST_Perimeter(g), 9) AS perim",
        "round(ST_Length(g), 9) AS len",
        "ST_NPoints(g) AS np",
        "round(ST_X(ST_Centroid(g)), 9) AS cx",
        "round(ST_XMin(g), 9) AS x0", "round(ST_XMax(ST_Envelope(g)), 9) AS x1",
    ).collect()
    for r in rows:
        k = r["k"]
        w, h = (2 * k + 3) - k, (k % 7) + 1
        assert abs(r["area"] - w * h) < 1e-6
        assert abs(r["perim"] - 2 * (w + h)) < 1e-6
        assert r["len"] == 0.0  # ST_Length is lineal-only (polygons -> 0)
        assert r["np"] == 5
        assert abs(r["cx"] - (k + (2 * k + 3)) / 2.0) < 1e-6
        assert abs(r["x0"] - k) < 1e-9 and abs(r["x1"] - (2 * k + 3)) < 1e-9


def test_new_crs_registry_families():
    """OSGB 27700 (Airy TM + Bursa-Wolf), ETRS89/NAD83 UTM ranges, NZTM,
    and meter-based state-plane LCC zones: published-value + roundtrip."""
    import numpy as np
    from sedona_db_spark.geom import projections as prj

    # OS worked example (OSGB36 geodetic -> grid), sub-cm
    tm = prj.lookup_projection("EPSG:27700").tm
    e, n = tm.forward(np.array([1 + 43 / 60 + 4.5177 / 3600]),
                      np.array([52 + 39 / 60 + 27.2531 / 3600]))
    assert abs(e[0] - 651409.903) < 0.01 and abs(n[0] - 313177.270) < 0.01
    # full WGS84 path roundtrips and lands on known central-London grid
    h = prj.lookup_projection("EPSG:27700")
    x, y = h.forward(np.array([-0.1276]), np.array([51.5072]))
    assert 529900 < x[0] < 530200 and 180200 < y[0] < 180500
    lon2, lat2 = h.inverse(x, y)
    assert abs(lon2[0] + 0.1276) < 1e-7 and abs(lat2[0] - 51.5072) < 1e-7

    # ETRS89/UTM 32N matches the WGS84 UTM fast path to sub-mm
    t32 = prj.lookup_projection("EPSG:25832")
    e1, n1 = t32.forward(np.array([10.0]), np.array([50.0]))
    e2, n2 = prj.utm_forward(np.array([10.0]), np.array([50.0]), 32, True)
    assert abs(e1[0] - e2[0]) < 1e-3 and abs(n1[0] - n2[0]) < 1e-3
    assert prj.lookup_projection("EPSG:26918") is not None  # NAD83 UTM 18N

    # NZTM Wellington (published ~1748735 E, 5427917 N)
    nz = prj.lookup_projection("EPSG:2193")
    e, n = nz.forward(np.array([174.7762]), np.array([-41.2865]))
    assert abs(e[0] - 1748735.6) < 1.0 and abs(n[0] - 5427916.5) < 1.0

    # state-plane LCC zones roundtrip at 1e-9 deg
    for code, lon, lat in (("EPSG:26985", -76.6122, 39.2904),
                           ("EPSG:32118", -73.9857, 40.7484)):
        p = prj.lookup_projection(code)
        x, y = p.forward(np.array([lon]), np.array([lat]))
        lon2, lat2 = p.inverse(x, y)
        assert abs(lon2[0] - lon) < 1e-9 and abs(lat2[0] - lat) < 1e-9


def test_belgian_lambert72():
    """EPSG:31370 (LCC 2SP on International 1924 + Bursa-Wolf): the NGI
    worked example must reproduce to mm on the projection core, and the
    full WGS84 path must roundtrip."""
    import numpy as np
    from sedona_db_spark.geom import projections as prj
    p = prj.lookup_projection("EPSG:31370")
    # projection core (BD72 geodetic -> grid), NGI worked example
    lat = 50 + 40 / 60 + 46.461 / 3600
    lon = 5 + 48 / 60 + 26.533 / 3600
    x, y = p.proj.forward(np.array([lon]), np.array([lat]))
    assert abs(x[0] - 251763.204) < 0.01 and abs(y[0] - 153034.174) < 0.01
    # WGS84 path: Brussels lands in the right 1km cell and roundtrips
    x, y = p.forward(np.array([4.35247]), np.array([50.84673]))
    assert 148000 < x[0] < 150000 and 170000 < y[0] < 172000
    lon2, lat2 = p.inverse(x, y)
    assert abs(lon2[0] - 4.35247) < 1e-7 and abs(lat2[0] - 50.84673) < 1e-7


def test_swiss_lv95():
    """EPSG:2056: swisstopo double projection — origin lands exactly on
    (2600000, 1200000); Zurich in the right km cell; 1e-7 deg roundtrip."""
    import numpy as np
    from sedona_db_spark.geom import projections as prj
    p = prj.lookup_projection("EPSG:2056")
    x, y = p.proj.forward(np.array([7 + 26 / 60 + 22.50 / 3600]),
                          np.array([46 + 57 / 60 + 8.66 / 3600]))
    assert abs(x[0] - 2600000) < 0.001 and abs(y[0] - 1200000) < 0.001
    x, y = p.forward(np.array([8.5417]), np.array([47.3769]))
    assert 2682000 < x[0] < 2685000 and 1246500 < y[0] < 1248500
    lon2, lat2 = p.inverse(x, y)
    assert abs(lon2[0] - 8.5417) < 1e-7 and abs(lat2[0] - 47.3769) < 1e-7


def test_dutch_rd_new():
    """EPSG:28992 (oblique stereographic, EPSG method 9809): reproduces
    the EPSG Guidance Note worked example (53N 6E -> 196105.283,
    557057.739) to sub-mm; WGS84 path roundtrips."""
    import numpy as np
    from sedona_db_spark.geom import projections as prj
    p = prj.lookup_projection("EPSG:28992")
    x, y = p.proj.forward(np.array([6.0]), np.array([53.0]))
    assert abs(x[0] - 196105.283) < 0.01 and abs(y[0] - 557057.739) < 0.01
    x, y = p.forward(np.array([4.9041]), np.array([52.3676]))
    assert 120000 < x[0] < 123000 and 486000 < y[0] < 489000
    lon2, lat2 = p.inverse(x, y)
    assert abs(lon2[0] - 4.9041) < 1e-7 and abs(lat2[0] - 52.3676) < 1e-7


def test_points_to_polygon_distance_batch_matches_scalar():
    rng = np.random.RandomState(3)
    pts = rng.uniform(-5, 15, size=(300, 2))
    for g in (POLY, W("MULTIPOLYGON (((0 0, 4 0, 4 4, 0 4, 0 0)),"
                      " ((6 6, 9 6, 9 9, 6 9, 6 6)))")):
        batch = alg.points_to_polygon_distance_batch(pts, g)
        for i, p in enumerate(pts):
            ref = alg.distance(core.make_point(p[0], p[1]), g)
            assert abs(batch[i] - ref) < 1e-9


def test_irish_grid_and_ntf_lambert():
    """EPSG:29902 (TM on Airy Modified, k0=1.000035 + OSi Bursa-Wolf) and
    EPSG:27572 (LCC 1SP on Clarke 1880 IGN + NTF translation)."""
    import numpy as np
    from sedona_db_spark.geom import projections as prj
    ir = prj.lookup_projection("EPSG:29902")
    x, y = ir.tm.forward(np.array([-8.0]), np.array([53.5]))
    assert abs(x[0] - 200000) < 1e-6 and abs(y[0] - 250000) < 1e-6
    x, y = ir.forward(np.array([-6.2603]), np.array([53.3498]))  # Dublin GPO
    assert abs(x[0] - 315904) < 30 and abs(y[0] - 234671) < 30
    lon2, lat2 = ir.inverse(x, y)
    assert abs(lon2[0] + 6.2603) < 1e-7

    fr = prj.lookup_projection("EPSG:27572")
    x, y = fr.forward(np.array([2.3522]), np.array([48.8566]))   # Paris
    assert 598000 < x[0] < 604000 and 2425000 < y[0] < 2432000
    lon2, lat2 = fr.inverse(x, y)
    assert abs(lon2[0] - 2.3522) < 1e-7 and abs(lat2[0] - 48.8566) < 1e-7


def test_krovak_5514():
    """EPSG:5514 (Krovak oblique conformal conic, method 9819):
    reproduces the EPSG worked example (southing 1050538.643, westing
    568990.997) to sub-cm; Prague lands on its known S-JTSK cell."""
    import numpy as np
    from sedona_db_spark.geom import projections as prj
    p = prj.lookup_projection("EPSG:5514")
    lat = 50 + 12 / 60 + 32.4416 / 3600
    lon = 16 + 50 / 60 + 59.1790 / 3600
    x, y = p.proj.forward(np.array([lon]), np.array([lat]))
    assert abs(-y[0] - 1050538.643) < 0.01 and abs(-x[0] - 568990.997) < 0.01
    x, y = p.forward(np.array([14.4208]), np.array([50.0875]))
    assert -746000 < x[0] < -740000 and -1046000 < y[0] < -1041000
    lon2, lat2 = p.inverse(x, y)
    assert abs(lon2[0] - 14.4208) < 1e-7 and abs(lat2[0] - 50.0875) < 1e-7


def test_ups_and_new_national_grids():
    """Round-7 EPSG additions.  UPS is pinned by the EPSG Guidance 7-2
    Polar Stereographic Variant A worked example; the TM/LCC rows by
    their origin/false-offset and scale/parallel invariants."""
    import numpy as np

    from sedona_db_spark.geom import projections as prj

    # UPS North: 73N 44E -> E 3320416.75, N 632668.43 (EPSG worked ex.)
    ups = prj.lookup_projection("EPSG:32661")
    E, N = ups.forward(np.array([44.0]), np.array([73.0]))
    assert abs(E[0] - 3320416.75) < 0.01 and abs(N[0] - 632668.43) < 0.01
    lon, lat = ups.inverse(E, N)
    assert abs(lon[0] - 44.0) < 1e-9 and abs(lat[0] - 73.0) < 1e-9
    alias = prj.lookup_projection("EPSG:5041")
    Ea, Na = alias.forward(np.array([44.0]), np.array([73.0]))
    assert abs(Ea[0] - E[0]) < 1e-9 and abs(Na[0] - N[0]) < 1e-9
    # UPS South mirrors the aspect
    ups_s = prj.lookup_projection("EPSG:32761")
    lon, lat = ups_s.inverse(*ups_s.forward(np.array([44.0]),
                                            np.array([-73.0])))
    assert abs(lon[0] - 44.0) < 1e-9 and abs(lat[0] + 73.0) < 1e-9

    # natural-origin -> false-offset pins lat0/lon0/FE/FN; a 1-arcsec
    # finite difference along the central meridian pins k0
    for code, lon0, lat0, fe, fn, k0 in (
            ("EPSG:2157", -8.0, 53.5, 600000.0, 750000.0, 0.99982),
            ("EPSG:5179", 127.5, 38.0, 1000000.0, 2000000.0, 0.9996),
            ("EPSG:5186", 127.0, 38.0, 200000.0, 600000.0, 1.0)):
        p = prj.lookup_projection(code)
        E, N = p.forward(np.array([lon0]), np.array([lat0]))
        assert abs(E[0] - fe) < 1e-6 and abs(N[0] - fn) < 1e-6, code
        d = 1.0 / 3600.0
        E2, N2 = p.forward(np.array([lon0]), np.array([lat0 + d]))
        # meridional arc length for 1 arcsec on GRS80 at these latitudes
        from sedona_db_spark.geom.projections import GRS80_A, GRS80_F
        e2 = GRS80_F * (2 - GRS80_F)
        phi = np.radians(lat0)
        M = GRS80_A * (1 - e2) / (1 - e2 * np.sin(phi) ** 2) ** 1.5
        arc = M * np.radians(d)
        assert abs((N2[0] - N[0]) / arc - k0) < 1e-6, code

    # LCC rows: origin -> false offsets; scale = 1 on both parallels
    for code, lat0, lon0, sp1, sp2, fe, fn in (
            ("EPSG:3112", 0.0, 134.0, -18.0, -36.0, 0.0, 0.0),
            ("EPSG:3034", 52.0, 10.0, 35.0, 65.0, 4000000.0, 2800000.0)):
        p = prj.lookup_projection(code)
        E, N = p.forward(np.array([lon0]), np.array([lat0]))
        assert abs(E[0] - fe) < 1e-6 and abs(N[0] - fn) < 1e-6, code
        for sp in (sp1, sp2):
            d = 1.0 / 3600.0
            (xa, ya) = p.forward(np.array([lon0 - d / 2]), np.array([sp]))
            (xb, yb) = p.forward(np.array([lon0 + d / 2]), np.array([sp]))
            ground = (np.radians(d)
                      * prj.GRS80_A * np.cos(np.radians(sp))
                      / np.sqrt(1 - (prj.GRS80_F * (2 - prj.GRS80_F))
                                * np.sin(np.radians(sp)) ** 2))
            grid = float(np.hypot(xb - xa, yb - ya)[0])
            assert abs(grid / float(ground) - 1.0) < 1e-7, code


# ----------------------------------------------------------------------
# round 8: EPSG tranche to 800+ codes — each family pinned either by an
# exact arithmetic identity (zone-prefix FE), agreement with the
# worked-example-verified WGS84 UTM math (modern WGS84-coincident
# datums), or a published-geography sanity band
# ----------------------------------------------------------------------

def _proj(code):
    from sedona_db_spark.geom.projections import lookup_projection
    p = lookup_projection(code)
    assert p is not None, code
    return p


def test_registry_exceeds_800():
    from sedona_db_spark.geom.projections import _PROJ_REGISTRY
    assert len(_PROJ_REGISTRY) >= 800


def test_cgcs2000_three_degree_prefix_identity():
    """Zone-prefixed (4513-4533) and CM (4534-4554) variants differ by
    exactly zone * 1e6 in FE — pure arithmetic identity."""
    za, zb = _proj("EPSG:4523"), _proj("EPSG:4544")   # zone 35 / CM 105E
    xa, ya = za.forward(105.5, 30.0)
    xb, yb = zb.forward(105.5, 30.0)
    assert float(xa - xb) == 35_000_000.0 and float(ya) == float(yb)


def test_modern_datum_utm_twins_match_wgs84():
    """GDA2020 MGA / JGD2011 UTM / CSRS UTM / HARN UTM / SIRGAS 17S are
    WGS84-coincident: must agree with the worked-example-verified WGS84
    UTM zone to < 1 mm (GRS80-vs-WGS84 flattening difference)."""
    import math
    cases = [("EPSG:7858", "EPSG:32758", 165.0, -45.0),   # MGA 58
             ("EPSG:6692", "EPSG:32655", 147.0, 43.0),    # JGD2011 UTM 55N
             ("EPSG:2958", "EPSG:32617", -80.0, 44.0),    # CSRS UTM 17N
             ("EPSG:3745", "EPSG:32615", -92.0, 41.0),    # HARN UTM 15N
             ("EPSG:31977", "EPSG:32717", -80.0, -5.0)]   # SIRGAS 17S
    for code, twin, lon, lat in cases:
        xa, ya = _proj(code).forward(lon, lat)
        xb, yb = _proj(twin).forward(lon, lat)
        assert math.hypot(float(xa - xb), float(ya - yb)) < 1e-3, code


def test_ntm_zones():
    """Norway NTM zone n: CM = n + 0.5, origin (58N, FE 100 km,
    FN 1,000,000): a point ON the central meridian at 58N maps to
    exactly (100000, 1000000); roundtrip closes."""
    p = _proj("EPSG:5110")
    x, y = p.forward(10.5, 58.0)
    assert abs(float(x) - 100000.0) < 1e-6
    assert abs(float(y) - 1000000.0) < 1e-6
    lon, lat = p.inverse(*p.forward(10.6, 60.0))
    assert abs(float(lon) - 10.6) < 1e-8 and abs(float(lat) - 60.0) < 1e-8


def test_tokyo_datum_zones_offset_from_jgd():
    """Tokyo / Japan PRC IX vs JGD2000 IX at Tokyo Station: identical
    zone origin, Bessel+Bursa-Wolf datum — the documented Tokyo->JGD
    coordinate shift in Kanto is ~400-500 m northwest-ish."""
    import math
    xt, yt = _proj("EPSG:30169").forward(139.7, 35.68)
    xj, yj = _proj("EPSG:2451").forward(139.7, 35.68)
    d = math.hypot(float(xt - xj), float(yt - yj))
    assert 350.0 < d < 600.0, d
    lon, lat = _proj("EPSG:30169").inverse(xt, yt)
    # Helmert wrapper inverse is iterative: ~2e-8 deg (2 mm) residual
    assert abs(float(lon) - 139.7) < 1e-6 and abs(float(lat) - 35.68) < 1e-6


def test_posgar_fajas():
    """Argentina GK faja 5 (CM -60, FE 5.5e6, origin at the south
    pole): Buenos Aires lands ~146 km east of the CM and ~6150-6200 km
    up from the pole; faja bases 94/98/2007 are identical params."""
    x, y = _proj("EPSG:5347").forward(-58.4, -34.6)
    assert 5_600_000 < float(x) < 5_700_000
    assert 6_100_000 < float(y) < 6_250_000
    for twin in ("EPSG:22175", "EPSG:22185"):
        xt, yt = _proj(twin).forward(-58.4, -34.6)
        assert float(xt) == float(x) and float(yt) == float(y)


def test_mtm_and_quebec_lambert():
    """NAD83 MTM zone 8 (CM -73.5, FE 304800 = 1e6 ft) and Quebec
    Lambert put Montreal where the published grids do."""
    x, y = _proj("EPSG:32188").forward(-73.56, 45.5)
    assert 295_000 < float(x) < 305_000        # slightly west of CM
    assert 5_030_000 < float(y) < 5_045_000    # ~45.5 deg meridian arc
    x, y = _proj("EPSG:32198").forward(-73.56, 45.5)
    assert 390_000 < float(x) < 420_000
    assert 165_000 < float(y) < 195_000


def test_magna_sirgas_bogota_origin():
    """MAGNA-SIRGAS Bogota zone: the zone origin (4°35'46.3215"N,
    74°04'39.0285"W) IS (1e6, 1e6) by definition."""
    p = _proj("EPSG:3116")
    lat0 = 4 + 35 / 60 + 46.3215 / 3600
    lon0 = -(74 + 4 / 60 + 39.0285 / 3600)
    x, y = p.forward(lon0, lat0)
    assert abs(float(x) - 1_000_000.0) < 1e-6
    assert abs(float(y) - 1_000_000.0) < 1e-6


# ----------------------------------------------------------------------
# round 9: EPSG tranche past 1000 codes — same pin standards as r7/r8:
# WGS84-coincident families pinned by agreement with the worked-example-
# verified WGS84 UTM math; zone-prefixed families by the exact FE-prefix
# arithmetic identity; legacy datums by roundtrip + published-shift
# magnitude.
# ----------------------------------------------------------------------

def test_registry_exceeds_1000():
    from sedona_db_spark.geom.projections import _PROJ_REGISTRY
    assert len(_PROJ_REGISTRY) >= 1000


def test_pulkovo_3deg_prefix_identity_and_wrap():
    """Zone-prefixed (2523-2580) and CM variants (2582-2639) differ by
    exactly zone * 1e6 in FE; zones 61-64 wrap the central meridian
    across the antimeridian."""
    za, zb = _proj("EPSG:2550"), _proj("EPSG:2609")   # 3-deg zone 34
    xa, ya = za.forward(102.4, 55.0)
    xb, yb = zb.forward(102.4, 55.0)
    assert float(xa - xb) == 34_000_000.0 and float(ya) == float(yb)
    x, y = _proj("EPSG:2577").forward(-177.3, 64.0)   # zone 61, CM 177W
    assert abs(float(x) - 61_500_000.0) < 40_000.0
    lon, lat = _proj("EPSG:2577").inverse(x, y)
    assert abs(float(lon) - -177.3) < 1e-7 and abs(float(lat) - 64.0) < 1e-7


def test_r9_modern_utm_twins_match_wgs84():
    """NSRS2007 / Mexico ITRF2008 / NZGD2000-S / ETRS89 N-E and zE-N
    variants are WGS84-coincident: < 1 mm from the WGS84 UTM zone."""
    import math
    cases = [("EPSG:3707", "EPSG:32659", 171.0, 55.0),    # NSRS2007 59N
             ("EPSG:3723", "EPSG:32615", -92.0, 41.0),    # NSRS2007 15N
             ("EPSG:6368", "EPSG:32613", -105.0, 24.0),   # Mexico 13N
             ("EPSG:2134", "EPSG:32759", 171.0, -42.0),   # NZ UTM 59S
             ("EPSG:3044", "EPSG:25832", 9.0, 52.0),      # ETRS89 32N N-E
             ]
    for code, twin, lon, lat in cases:
        xa, ya = _proj(code).forward(lon, lat)
        xb, yb = _proj(twin).forward(lon, lat)
        assert math.hypot(float(xa - xb), float(ya - yb)) < 1e-3, code
    # zE-N: zone-prefixed FE (32.5 Mm for zone 32)
    xa, ya = _proj("EPSG:4647").forward(9.0, 52.0)
    xb, yb = _proj("EPSG:25832").forward(9.0, 52.0)
    assert float(xa - xb) == 32_000_000.0 and float(ya) == float(yb)


def test_r9_legacy_datum_shift_plumbing():
    """Legacy-datum rows: exact roundtrips, and the forward offset from
    the WGS84-coincident twin matches the published shift's magnitude
    class (catches dropped/doubled/misdirected Bursa-Wolf wiring)."""
    import math
    # Tokyo / UTM 54N vs JGD2000 / UTM 54N: Tokyo shift is ~850 m 3-D;
    # the horizontal projected offset near Tokyo is several hundred m
    xa, ya = _proj("EPSG:3095").forward(139.7, 35.7)
    xb, yb = _proj("EPSG:3100").forward(139.7, 35.7)
    d = math.hypot(float(xa - xb), float(ya - yb))
    assert 200.0 < d < 1000.0, d
    lon, lat = _proj("EPSG:3095").inverse(xa, ya)
    assert abs(float(lon) - 139.7) < 1e-7 and abs(float(lat) - 35.7) < 1e-7
    # Pulkovo 1995 vs Pulkovo 1942 zone 10: datum difference is meters
    xa, ya = _proj("EPSG:20010").forward(57.0, 56.0)
    xb, yb = _proj("EPSG:28410").forward(57.0, 56.0)
    d = math.hypot(float(xa - xb), float(ya - yb))
    assert 0.1 < d < 50.0, d
    # Beijing 1954 zone 20 roundtrip + offset-from-WGS84 magnitude
    xa, ya = _proj("EPSG:21420").forward(117.3, 39.9)
    lon, lat = _proj("EPSG:21420").inverse(xa, ya)
    assert abs(float(lon) - 117.3) < 1e-7 and abs(float(lat) - 39.9) < 1e-7
    # CM-variant identity for Beijing 1954 (21473-21483)
    xb, yb = _proj("EPSG:21480").forward(117.3, 39.9)
    assert float(xa - xb) == 20_000_000.0 and float(ya) == float(yb)


def test_r9_australian_antarctic_pstereo():
    """EPSG:3032: south polar stereographic, CM 70E, FE=FN=6e6 — the
    pole maps to (FE, FN) exactly; roundtrip at Mawson station."""
    p = _proj("EPSG:3032")
    x, y = p.forward(70.0, -90.0)
    assert abs(float(x) - 6_000_000.0) < 1e-6
    assert abs(float(y) - 6_000_000.0) < 1e-6
    x, y = p.forward(62.87, -67.6)
    lon, lat = p.inverse(x, y)
    assert abs(float(lon) - 62.87) < 1e-7 and abs(float(lat) - -67.6) < 1e-7


def test_registry_exceeds_1200():
    from sedona_db_spark.geom.projections import _PROJ_REGISTRY
    assert len(_PROJ_REGISTRY) >= 1200


def test_r10_xian80_block_identities():
    """Round 10: Xian 1980 GK block mirrors CGCS2000 code-for-code —
    near-identical coordinates (IAG75 vs GRS80 differ by ~3 m in a),
    exact zone-prefix FE identities in both the 6° and 3° families."""
    za, zb = _proj("EPSG:2327"), _proj("EPSG:4491")   # 6° zone 13
    xa, ya = za.forward(75.5, 40.0)
    xb, yb = zb.forward(75.5, 40.0)
    assert abs(float(xa) - float(xb)) < 50 and abs(float(ya) - float(yb)) < 50
    assert (float(xa), float(ya)) != (float(xb), float(yb))
    xc, yc = _proj("EPSG:2338").forward(75.5, 40.0)   # CM 75E variant
    assert float(xa) - float(xc) == 13_000_000.0 and float(ya) == float(yc)
    xd, yd = _proj("EPSG:2354").forward(90.4, 35.0)   # 3° zone 30 (CM 90E)
    xe, ye = _proj("EPSG:2375").forward(90.4, 35.0)   # 3° CM 90E variant
    assert float(xd) - float(xe) == 30_000_000.0 and float(yd) == float(ye)


def test_r10_beijing54_3deg_matches_6deg_twin():
    """Beijing 1954 3° CM 75E (2422) is projection-identical to the 6°
    CM 75E member of the already-verified family (21473): same CM,
    k0=1, FE 500 km, Krassowsky, same datum shift."""
    xd, yd = _proj("EPSG:2401").forward(75.2, 30.0)   # 3° zone 25 prefixed
    xe, ye = _proj("EPSG:2422").forward(75.2, 30.0)   # 3° CM 75E
    assert float(xd) - float(xe) == 25_000_000.0 and float(yd) == float(ye)
    xf, yf = _proj("EPSG:21473").forward(75.2, 30.0)  # 6° CM 75E twin
    assert float(xe) == float(xf) and float(ye) == float(yf)


def test_r10_mexico_itrf92_twins_itrf2008():
    """ITRF92 UTM 11N-16N (4484-4489) are parameter-identical twins of
    the registered ITRF2008 series (6366-6371)."""
    for z in range(11, 17):
        a, b = _proj(f"EPSG:{4473 + z}"), _proj(f"EPSG:{6355 + z}")
        lon = 6.0 * z - 183.0 + 0.7
        xa, ya = a.forward(lon, 24.0)
        xb, yb = b.forward(lon, 24.0)
        assert float(xa) == float(xb) and float(ya) == float(yb)


def test_r10_psad56_and_ease_grids():
    """PSAD56 N/S FN identity, a hundreds-of-meters datum offset vs
    WGS84 UTM (published mean is (-288, 175, -376)), and the EASE-Grid
    1.0 North closed forms (pole at origin; equator ring at R*sqrt(2)
    for spherical polar LAEA)."""
    import math
    n, s = _proj("EPSG:24818"), _proj("EPSG:24878")   # UTM 18 N/S
    xn, yn = n.forward(-75.3, -5.0)
    xs, ys = s.forward(-75.3, -5.0)
    assert float(xn) == float(xs)
    assert abs((float(ys) - float(yn)) - 10_000_000.0) < 1e-6
    w = _proj("EPSG:32718")                           # WGS84 UTM 18S
    xw, yw = w.forward(-75.3, -5.0)
    assert 50.0 < abs(float(xs) - float(xw)) < 800.0
    assert 50.0 < abs(float(ys) - float(yw)) < 800.0
    e = _proj("EPSG:3408")
    x0, y0 = e.forward(0.0, 90.0)
    assert abs(float(x0)) < 1e-6 and abs(float(y0)) < 1e-6
    x1, y1 = e.forward(0.0, 0.0)
    assert abs(math.hypot(float(x1), float(y1))
               - 6371228.0 * math.sqrt(2.0)) < 1.0


def test_registry_exceeds_1350():
    from sedona_db_spark.geom.projections import _PROJ_REGISTRY
    assert len(_PROJ_REGISTRY) >= 1350


def _fwd(code, lon, lat):
    import numpy as np
    from sedona_db_spark.geom.projections import _PROJ_REGISTRY
    x, y = _PROJ_REGISTRY[f"EPSG:{code}"].forward(
        np.array([lon]), np.array([lat]))
    return float(x[0]), float(y[0])


def test_r11_gk_cm_variant_identities():
    """Round 11: the CM-variant blocks are exact zone-prefix twins of
    the verified zone series (Pulkovo 1942 2492+, Pulkovo 1995 20062+,
    Beijing 1954 21453+), and the 1995 realization sits a published
    ~10 m from the 1942 one."""
    z = 8
    cm = 6 * z - 3
    xa, ya = _fwd(28400 + z, cm + 0.8, 55.0)
    xb, yb = _fwd(2498, cm + 0.8, 55.0)          # CM 45E variant
    assert xa - xb == z * 1_000_000.0 and ya == yb
    xc, yc = _fwd(20008, cm + 0.8, 55.0)
    xd, yd = _fwd(20068, cm + 0.8, 55.0)
    assert xc - xd == 8_000_000.0 and yc == yd
    d = ((xa - xc) ** 2 + (ya - yc) ** 2) ** 0.5  # P42 vs P95 datum gap
    assert 1.0 < d < 60.0
    x2, _ = _fwd(20002, 9.5, 55.0)               # new zone 2 plausible
    assert 2_400_000 < x2 < 2_600_000
    xe, ye = _fwd(21415, 87.4, 40.0)
    xf, yf = _fwd(21455, 87.4, 40.0)
    assert xe - xf == 15_000_000.0 and ye == yf


def test_r11_national_grid_city_pins():
    """Round 11 wave: independent city coordinates (coarse cells, the
    projection cores are the already worked-example-verified classes)
    + closed-form identities for the new national grids."""
    # RT90 2.5 gon V: central Stockholm
    x, y = _fwd(3021, 18.0686, 59.3293)
    assert abs(x - 1628000) < 3000 and abs(y - 6580000) < 3000
    # Egypt 1907: Extended Purple = Purple + 1,000,000 m FN; Cairo in
    # the Red Belt near its false origin
    xp, yp = _fwd(22993, 27.5, 30.5)
    xe, ye = _fwd(22994, 27.5, 30.5)
    assert xe == xp and abs((ye - yp) - 1_000_000.0) < 1e-6
    xr, yr = _fwd(22992, 31.2357, 30.0444)
    assert abs(xr - 615000) < 50000 and abs(yr - 810000) < 50000
    # Luxembourg 1930 / Gauss: Luxembourg City
    x, y = _fwd(2169, 6.1319, 49.6116)
    assert 73000 < x < 80000 and 72000 < y < 78000
    # CH1903/LV03: Bern old observatory ~ (600000, 200000); LV95 twin
    # offset is the 2,000,000 m false-origin move
    x3, y3 = _fwd(21781, 7.43861, 46.95108)
    x5, _ = _fwd(2056, 7.43861, 46.95108)
    assert abs(x3 - 600000) < 300 and abs(y3 - 200000) < 300
    assert abs((x5 - x3) - 2_000_000.0) < 5.0
    # Ain el Abd UTM 38N: a few hundred meters from WGS84 UTM
    xa, ya = _fwd(20438, 46.7, 24.6)
    xw, yw = _fwd(32638, 46.7, 24.6)
    assert 50 < ((xa - xw) ** 2 + (ya - yw) ** 2) ** 0.5 < 600
    # MGI Balkans zone 7 (CM 21E): Belgrade ~43 km west of the CM
    x, y = _fwd(31277, 20.4612, 44.8186)
    assert 7_420_000 < x < 7_490_000 and 4_940_000 < y < 5_000_000
    # Pulkovo 1942(58) zone 5 puts Warsaw ~409 km west of CM 27E
    x, y = _fwd(3335, 21.0122, 52.2297)
    assert 5_050_000 < x < 5_150_000 and 5_760_000 < y < 5_850_000


def test_r11_se_asia_pacific_pins():
    """Round 11 wave 2: Indonesia (ID74 vs DGN95 published ~30 m datum
    gap; DGN95 == WGS84 UTM to the meter), Finland KKJ, Denmark DKTM,
    German zE-N prefix identity, DB_REF vs DHDN sub-meter gap, Taiwan,
    Singapore, Hong Kong, PNG, Fiji, Nigeria, Vietnam legacy."""
    x, y = _fwd(23888, 106.8456, -6.2088)        # Jakarta, ID74 48S
    assert 600_000 < x < 800_000 and 9_200_000 < y < 9_400_000
    xa, ya = _fwd(23878, 106.8456, -6.2088)      # DGN95 48S
    xw, yw = _fwd(32748, 106.8456, -6.2088)
    assert abs(xa - xw) < 1.0 and abs(ya - yw) < 1.0
    assert 5 < ((x - xa) ** 2 + (y - ya) ** 2) ** 0.5 < 100
    x, y = _fwd(2392, 24.9384, 60.1699)          # Helsinki, KKJ zone 2
    assert abs(x - 2_552_000) < 3000 and abs(y - 6_673_000) < 3000
    x, y = _fwd(4094, 10.2107, 56.1567)          # Aarhus, DKTM2
    assert 350_000 < x < 450_000 and 1_200_000 < y < 1_300_000
    xa, ya = _fwd(5652, 9.7, 52.4)               # zE-N 32 = 25832+32M
    xb, yb = _fwd(25832, 9.7, 52.4)
    assert xa - xb == 32_000_000.0 and ya == yb
    xa, ya = _fwd(5683, 9.5, 51.0)               # DB_REF GK3 vs DHDN
    xb, yb = _fwd(31467, 9.5, 51.0)
    assert ((xa - xb) ** 2 + (ya - yb) ** 2) ** 0.5 < 30
    x, y = _fwd(3826, 121.5645, 25.0340)         # Taipei, TWD97 TM2
    assert abs(x - 306_900) < 2000 and abs(y - 2_769_800) < 2000
    x, y = _fwd(3414, 103.8519, 1.2840)          # Singapore SVY21
    assert abs(x - 29_900) < 3000 and abs(y - 29_000) < 3000
    x, y = _fwd(2326, 114.1742, 22.3024)         # HK Observatory
    assert 830_000 < x < 845_000 and 815_000 < y < 822_000
    x, y = _fwd(5551, 147.18, -9.443)            # Port Moresby, PNGMG55
    assert abs(x - 519_800) < 2000 and abs(y - 8_956_000) < 3000
    x, y = _fwd(3460, 178.4419, -18.1416)        # Suva, Fiji Map Grid
    assert 1_940_000 < x < 2_000_000 and 3_850_000 < y < 3_900_000
    x, y = _fwd(26392, 7.49508, 9.05785)         # Abuja, Nigeria Mid
    assert 400_000 < x < 700_000 and 500_000 < y < 1_200_000
    xa, ya = _fwd(3148, 106.6297, 10.8231)       # HCMC, Indian 1960
    xw, yw = _fwd(32648, 106.6297, 10.8231)
    assert 200 < ((xa - xw) ** 2 + (ya - yw) ** 2) ** 0.5 < 1500
    # EST92 is the same L-EST projection surface as L-EST97
    assert _fwd(3300, 24.75, 59.44) == _fwd(3301, 24.75, 59.44)
    # aliases
    from sedona_db_spark.geom.projections import _PROJ_REGISTRY as reg
    assert reg["ESRI:102067"] is reg["EPSG:5514"]
    assert reg["EPSG:102100"] is reg["EPSG:3857"]


def test_r11_new_codes_roundtrip():
    """Every round-11 code roundtrips forward->inverse at 1e-7 deg on a
    point inside its natural domain."""
    import numpy as np
    from sedona_db_spark.geom.projections import _PROJ_REGISTRY as reg
    samples = {
        3021: (16.5, 62.0), 2169: (6.1, 49.7), 21781: (8.2, 46.8),
        22991: (34.0, 29.0), 22992: (31.5, 29.5), 22993: (26.5, 29.0),
        22994: (26.5, 31.0), 20437: (38.0, 22.0), 20438: (45.5, 25.0),
        20439: (50.0, 27.0), 2972: (-52.5, 4.5), 2975: (55.5, -21.0),
        2397: (9.4, 51.0), 2398: (12.4, 52.0), 2399: (14.8, 51.5),
        3333: (15.4, 50.5), 3334: (21.4, 52.0), 3335: (27.4, 53.0),
        2391: (21.5, 61.0), 2392: (24.5, 62.0), 2393: (27.5, 63.0),
        2394: (30.5, 64.0), 3387: (18.5, 60.5), 3388: (32.5, 64.5),
        4093: (9.2, 55.5), 4094: (10.3, 56.0), 4095: (11.9, 55.3),
        4096: (15.1, 55.1), 5651: (3.4, 51.5), 5652: (9.4, 52.0),
        5653: (15.4, 52.5), 5682: (6.4, 50.5), 5683: (9.4, 51.0),
        5684: (12.4, 51.5), 5685: (15.1, 51.0), 3825: (119.5, 23.5),
        3826: (121.0, 24.0), 3414: (103.85, 1.35), 2326: (114.2, 22.35),
        5550: (141.5, -5.0), 5551: (147.2, -9.4), 5552: (153.0, -10.5),
        3460: (178.5, -17.8), 26331: (3.4, 6.5), 26332: (9.4, 10.0),
        26391: (4.4, 7.0), 26392: (8.4, 9.0), 26393: (12.4, 10.0),
        3148: (105.5, 10.5), 3149: (108.5, 12.0), 3300: (25.0, 58.8),
        20002: (9.4, 54.0), 20003: (15.4, 55.0),
    }
    for k in range(31):
        samples[2492 + k] = (9.0 + 6.0 * k + 0.4, 55.0)
        samples[20062 + k] = (9.0 + 6.0 * k + 0.4, 55.0)
    for i in range(11):
        samples[21453 + i] = (75.0 + 6.0 * i + 0.4, 40.0)
    for z in range(46, 55):
        samples[23800 + z] = (6.0 * z - 183.0 + 0.4, 3.0)
        samples[23840 + z] = (6.0 * z - 183.0 + 0.4, -5.0)
    for z in range(46, 53):
        samples[23820 + z] = (6.0 * z - 183.0 + 0.4, 2.0)
    for z in range(47, 55):
        samples[23830 + z] = (6.0 * z - 183.0 + 0.4, -6.0)
    for z in range(5, 9):
        samples[31270 + z] = (3.0 * z + 0.4, 44.0)
    for code, (lon, lat) in samples.items():
        lon = ((lon + 180.0) % 360.0) - 180.0   # CMs past 180E wrap
        p = reg[f"EPSG:{code}"]
        x, y = p.forward(np.array([lon]), np.array([lat]))
        lon2, lat2 = p.inverse(x, y)
        assert abs(float(lon2[0]) - lon) < 1e-7 \
            and abs(float(lat2[0]) - lat) < 1e-7, code


def test_registry_exceeds_1450():
    from sedona_db_spark.geom.projections import _PROJ_REGISTRY
    assert len(_PROJ_REGISTRY) >= 1450


def test_r11_spcs_foot_variants():
    """Round 11 wave 3: every SPCS83 foot-unit code is the exact axis
    rescale of its registered metric twin (EPSG models them as the same
    conversion with a different unit), US survey foot = 1200/3937 m
    exactly, international foot = 0.3048 m exactly; roundtrips close."""
    import numpy as np
    from sedona_db_spark.geom import epsg_registry_data as D
    from sedona_db_spark.geom.projections import (
        _PROJ_REGISTRY, US_SURVEY_FOOT, INTL_FOOT)
    assert US_SURVEY_FOOT == 1200.0 / 3937.0 and INTL_FOOT == 0.3048
    lon, lat = np.array([-96.5]), np.array([38.2])
    for code, base, unit in D.FOOT_ROWS:
        f = _PROJ_REGISTRY[f"EPSG:{code}"]
        m = _PROJ_REGISTRY[f"EPSG:{base}"]
        # probe near each zone's own origin so the point is in-zone:
        # use the base CRS inverse of a fixed grid position
        glon, glat = m.inverse(np.array([300000.0]), np.array([150000.0]))
        xm, ym = m.forward(glon, glat)
        xf, yf = f.forward(glon, glat)
        u = US_SURVEY_FOOT if unit == "ftUS" else INTL_FOOT
        assert abs(float(xf[0]) * u - float(xm[0])) < 1e-6
        assert abs(float(yf[0]) * u - float(ym[0])) < 1e-6
        rlon, rlat = f.inverse(xf, yf)
        assert abs(float(rlon[0]) - float(glon[0])) < 1e-7
        assert abs(float(rlat[0]) - float(glat[0])) < 1e-7
    # spot value: Arizona East ftUS-vs-ft distinction — the AZ codes
    # are INTERNATIONAL feet, so the false easting reads exactly
    # 700,000 ft at the CM/lat0 origin (213,360 m / 0.3048)
    x, y = _fwd(2222, -(110 + 10 / 60.0), 31.0)
    assert x == 700000.0 and abs(y) < 1e-9


def test_r11_foot_base_zone_city_pins():
    """New SPCS83 base zones added for the foot variants, pinned by
    independent city coordinates (coarse cells — the projection cores
    are the worked-example-verified LCC/TM classes)."""
    x, y = _fwd(26960, -84.2807, 30.4383)        # Tallahassee, FL North
    assert abs(x - 621000) < 4000 and abs(y - 159500) < 4000
    x, y = _fwd(32116, -76.1474, 43.0481)        # Syracuse, NY Central
    assert abs(x - 285500) < 4000 and abs(y - 338600) < 4000
    x, y = _fwd(32117, -78.8784, 42.8864)        # Buffalo, NY West
    assert abs(x - 326000) < 6000 and abs(y - 320600) < 6000
    x, y = _fwd(26990, -83.0458, 42.3314)        # Detroit, MI South
    assert abs(x - 4108900) < 6000 and abs(y - 93200) < 6000
    x, y = _fwd(26989, -84.5555, 44.7614)        # Grayling, MI Central
    assert abs(x - 5985000) < 20000 and abs(y - 160000) < 20000
    x, y = _fwd(26988, -87.395, 45.759)          # Menominee, MI North
    assert abs(x - 7969000) < 20000 and abs(y - 108000) < 20000
    x, y = _fwd(32133, -81.0348, 34.0007)        # Columbia, SC
    assert abs(x - 606400) < 6000 and abs(y - 240000) < 8000
    x, y = _fwd(26987, -70.1003, 41.2835)        # Nantucket, MA Island
    assert abs(x - 533400) < 6000 and abs(y - 31500) < 6000
    # Michigan South metre-vs-international-foot twin at Detroit
    xm, ym = _fwd(26990, -83.0458, 42.3314)
    xf, yf = _fwd(2253, -83.0458, 42.3314)
    assert abs(xf * 0.3048 - xm) < 1e-6 and abs(yf * 0.3048 - ym) < 1e-6


def test_r11_statcan_lambert_pins():
    """EPSG:3347/3348 Statistics Canada Lambert: CSRS twin is
    identical (both modern realizations WGS84-coincident); Ottawa pin."""
    xo, yo = _fwd(3347, -75.6972, 45.4215)
    assert abs(xo - 7471000) < 8000 and abs(yo - 1190600) < 8000
    xc, yc = _fwd(3348, -75.6972, 45.4215)
    assert xo == xc and yo == yc
    # false origin: the projection origin (91d52'W, 63d23'26.43"N)
    # must read exactly (6,200,000, 3,000,000)
    x0, y0 = _fwd(3347, -(91 + 52 / 60.0), 63 + 23 / 60.0 + 26.43 / 3600.0)
    assert abs(x0 - 6200000.0) < 1e-6 and abs(y0 - 3000000.0) < 1e-6
