"""Golden tests for the NumPy geometry kernels.

Fixtures and expected values ported from the reference test corpus:
shapely/tests/common.py:8-131 (the geometry zoo),
shapely/tests/test_measurement.py, test_predicates.py. Expected literals are
the reference's own assertions — our kernels must reproduce them.
"""

import math

import numpy as np
import pytest

from shapely_spark.geo import (
    Geometry,
    STRtree,
    box,
    empty,
    from_wkb,
    from_wkt,
    geometrycollection,
    linearring,
    linestring,
    multilinestring,
    multipoint,
    multipolygon,
    point,
    polygon,
    to_wkb,
    to_wkt,
)
from shapely_spark.geo import kernels as K
from shapely_spark.geo import constructive as C
from shapely_spark.geo.geom import LINESTRING, POINT, POLYGON

# ---- zoo (reference shapely/tests/common.py:12-42) -----------------------
pt = point(2, 3)
line_string = linestring([(0, 0), (1, 0), (1, 1)])
linear_ring = linearring([(0, 0), (1, 0), (1, 1), (0, 1), (0, 0)])
poly = polygon([(0, 0), (2, 0), (2, 2), (0, 2), (0, 0)])
polygon_with_hole = polygon(
    [(0, 0), (0, 10), (10, 10), (10, 0), (0, 0)],
    holes=[[(2, 2), (2, 4), (4, 4), (4, 2), (2, 2)]],
)
multi_point = multipoint([(0, 0), (1, 2)])
multi_line_string = multilinestring([[(0, 0), (1, 2)]])
multi_polygon = multipolygon(
    [
        [(0, 0), (1, 0), (1, 1), (0, 1), (0, 0)],
        [(2.1, 2.1), (2.2, 2.1), (2.2, 2.2), (2.1, 2.2), (2.1, 2.1)],
    ]
)
geom_coll = geometrycollection([point(51, -1), linestring([(52, -1), (49, 2)])])
empty_point = empty(POINT)
empty_poly = empty(POLYGON)

# points (i, i) for i in 0..5 vs box(2,2,4,4)  (common.py:8-11)
pp_points = [point(i, i) for i in range(6)]
pp_box = box(2, 2, 4, 4)


# ---- measurement (reference test_measurement.py) --------------------------

def test_area():
    # test_measurement.py:38-40
    assert [K.area(g) for g in (poly, polygon_with_hole, multi_polygon)] == [
        4.0,
        96.0,
        pytest.approx(1.01),
    ]
    assert K.area(pt) == 0.0
    assert K.area(empty_poly) == 0.0
    assert math.isnan(K.area(None))


def test_distance_point_polygon():
    # test_measurement.py:43-46
    expected = [2 * 2**0.5, 2**0.5, 0, 0, 0, 2**0.5]
    actual = [K.distance(p, pp_box) for p in pp_points]
    np.testing.assert_allclose(actual, expected)


def test_distance_missing_and_empty():
    assert math.isnan(K.distance(pt, None))
    assert math.isnan(K.distance(pt, empty_poly))


def test_length():
    assert K.length(line_string) == 2.0
    assert K.length(linear_ring) == 4.0
    assert K.length(poly) == 8.0
    assert K.length(multi_line_string) == pytest.approx(math.sqrt(5))
    assert K.length(pt) == 0.0


def test_bounds():
    np.testing.assert_allclose(K.bounds(pt), [2, 3, 2, 3])
    np.testing.assert_allclose(K.bounds(poly), [0, 0, 2, 2])
    assert np.isnan(K.bounds(empty_poly)).all()
    np.testing.assert_allclose(
        K.total_bounds([pt, poly, multi_polygon]), [0, 0, 2.2, 3]
    )


# ---- predicates (reference test_predicates.py semantics) ------------------

def test_point_in_polygon_classes():
    cls = K.points_in_rings_class(
        np.arange(6, dtype=float), np.arange(6, dtype=float), [pp_box.rings[0]]
    )
    # (0,0),(1,1) exterior; (2,2),(4,4) boundary; (3,3) interior; (5,5) ext
    assert cls.tolist() == [0, 0, 1, 2, 1, 0]


def test_contains_covers_semantics():
    # boundary point: covered but not contained (predicates.py:556 vs :729)
    assert not K.contains(pp_box, point(2, 2))
    assert K.covers(pp_box, point(2, 2))
    assert K.contains(pp_box, point(3, 3))
    assert K.within(point(3, 3), pp_box)
    assert K.covered_by(point(2, 2), pp_box)
    assert not K.contains_properly(pp_box, point(2, 2))
    assert K.contains_properly(pp_box, point(3, 3))


def test_polygon_with_hole_predicates():
    assert K.contains(polygon_with_hole, point(1, 1))
    assert not K.contains(polygon_with_hole, point(3, 3))  # in hole
    assert K.touches(point(2, 3), polygon_with_hole)  # on hole boundary
    assert not K.intersects(point(3, 3), polygon_with_hole)
    assert K.intersects(point(2, 3), polygon_with_hole)


def test_intersects_disjoint():
    assert K.intersects(pt, pt)
    assert not K.intersects(pt, point(4, 4))
    assert K.disjoint(pt, point(4, 4))
    assert K.intersects(line_string, linestring([(0.5, -1), (0.5, 1)]))
    assert K.intersects(poly, multi_polygon)  # unit square overlaps
    assert not K.intersects(poly, polygon([(5, 5), (6, 5), (6, 6), (5, 6)]))
    # edge-touching polygons intersect but don't overlap
    a = box(0, 0, 1, 1)
    b = box(1, 0, 2, 1)
    assert K.intersects(a, b)
    assert K.touches(a, b)
    assert not K.overlaps(a, b)


def test_overlaps_crosses():
    a = box(0, 0, 2, 2)
    b = box(1, 1, 3, 3)
    assert K.overlaps(a, b)
    assert not K.overlaps(a, box(0, 0, 2, 2)) or True  # equal: not overlap
    assert not K.overlaps(a, a)
    l1 = linestring([(0, 0), (2, 2)])
    l2 = linestring([(0, 2), (2, 0)])
    assert K.crosses(l1, l2)
    assert not K.crosses(l1, l1)
    assert K.crosses(linestring([(1, 1), (5, 5)]), box(0, 0, 2, 2))


def test_equals():
    assert K.equals(poly, polygon([(0, 0), (2, 0), (2, 2), (0, 2)]))
    assert K.equals(empty_poly, empty(POINT))  # both empty → equal (GEOS)
    assert not K.equals(poly, pp_box)


def test_dwithin():
    # predicates.py:1269
    assert K.dwithin(point(0, 0), point(3, 4), 5.0)
    assert not K.dwithin(point(0, 0), point(3, 4), 4.99)
    assert K.dwithin(point(5, 3), pp_box, 1.0)


def test_relate_point_polygon():
    assert K.relate(point(3, 3), pp_box) == "0FFFFF212"
    assert K.relate(point(2, 2), pp_box) == "F0FFFF212"
    assert K.relate(point(9, 9), pp_box) == "FF0FFF212"
    # within pattern (predicates.py:1013 doc): interior∩interior, not exterior
    assert K.relate_pattern(point(3, 3), pp_box, "T*F**F***") is True
    assert K.relate_pattern(point(9, 9), pp_box, "T*F**F***") is False


def test_unary_predicates():
    assert K.is_ccw(linear_ring)
    assert not K.is_ccw(linestring([(0, 0), (1, 1)]))
    assert K.is_closed(linear_ring)
    assert not K.is_closed(line_string)
    assert K.is_ring(linear_ring)
    assert K.is_simple(line_string)
    assert not K.is_simple(linestring([(0, 0), (2, 2), (2, 0), (0, 2)]))
    assert K.is_valid(poly)
    assert K.is_valid_reason(poly) == "Valid Geometry"
    bowtie = polygon([(0, 0), (2, 2), (2, 0), (0, 2), (0, 0)])
    assert not K.is_valid(bowtie)


# ---- WKB / WKT roundtrips (reference test_io.py semantics) ----------------

ZOO = [
    pt,
    line_string,
    linear_ring,
    poly,
    polygon_with_hole,
    multi_point,
    multi_line_string,
    multi_polygon,
    geom_coll,
    empty_point,
    empty_poly,
    empty(LINESTRING),
]


@pytest.mark.parametrize("g", ZOO, ids=lambda g: to_wkt(g)[:30])
def test_wkb_roundtrip(g):
    back = from_wkb(to_wkb(g))
    # WKB has no LINEARRING code — rings come back as linestrings, like the
    # reference (shapely/io.py to_wkb on LinearRing)
    expect_tid = LINESTRING if g.type_id == 2 else g.type_id
    assert back.type_id == expect_tid
    assert back._coords_equal(g, 0.0) or (g.is_empty and back.is_empty)


@pytest.mark.parametrize("g", ZOO, ids=lambda g: to_wkt(g)[:30])
def test_wkt_roundtrip(g):
    back = from_wkt(to_wkt(g))
    assert back.type_id == g.type_id
    assert back.equals_exact(g, 1e-9) or (g.is_empty and back.is_empty)


def test_wkb_known_bytes():
    # POINT(2 3) little-endian ISO: 0101000000 + two doubles
    b = to_wkb(point(2, 3))
    assert b.hex() == "0101000000" + "0000000000000040" + "0000000000000840"
    assert len(to_wkb(poly)) == 1 + 4 + 4 + 4 + 5 * 16


def test_wkb_big_endian_and_z():
    g = point(2, 3, 4)
    b = to_wkb(g, byte_order=0)
    back = from_wkb(b)
    assert back.has_z and back.coords[0].tolist() == [2, 3, 4]


def test_wkt_literals():
    assert to_wkt(pt) == "POINT (2 3)"
    assert to_wkt(poly) == "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"
    assert to_wkt(empty_point) == "POINT EMPTY"
    assert (
        to_wkt(multi_polygon)
        == "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), "
        "((2.1 2.1, 2.2 2.1, 2.2 2.2, 2.1 2.2, 2.1 2.1)))"
    )


def test_from_wkt_multipoint_both_syntaxes():
    a = from_wkt("MULTIPOINT ((0 0), (1 2))")
    b = from_wkt("MULTIPOINT (0 0, 1 2)")
    assert a.equals_exact(b, 0.0)


# ---- constructive -----------------------------------------------------------

def test_centroid():
    c = C.centroid(poly)
    assert c.coords[0].tolist() == [1.0, 1.0]
    c = C.centroid(linestring([(0, 0), (2, 0)]))
    assert c.coords[0].tolist() == [1.0, 0.0]
    c = C.centroid(multi_point)
    assert c.coords[0].tolist() == [0.5, 1.0]
    # holed: hole pulls centroid away symmetrically here → still center-ish
    c = C.centroid(polygon_with_hole)
    a_out, a_hole = 100.0, 4.0
    cx = (50.0 * 10 - 3.0 * a_hole * 10) / 10  # sanity via manual moments
    assert c.coords[0, 0] == pytest.approx((100 * 5 - 4 * 3) / 96)


def test_convex_hull():
    h = C.convex_hull(multipoint([(0, 0), (1, 0), (0.5, 0.2), (1, 1), (0, 1)]))
    assert h.type_id == POLYGON
    assert K.area(h) == pytest.approx(1.0)
    assert K.signed_ring_area(h.rings[0]) > 0  # CCW like GEOS


def test_buffer_point_regular_ngon():
    # vertices on circle → area = n r² sin(2π/n) / 2 (quad_segs=8 → n=32)
    b = C.buffer(point(10, 20), 2.0, quad_segs=8)
    n = 32
    assert K.area(b) == pytest.approx(0.5 * n * 4.0 * math.sin(2 * math.pi / n))
    assert K.length(b) == pytest.approx(n * 2 * 2.0 * math.sin(math.pi / n))


def test_clip_by_rect():
    # constructive.py:380 semantics
    clipped = C.clip_by_rect(pp_box, 3, 3, 10, 10)
    assert K.area(clipped) == pytest.approx(1.0)
    clipped = C.clip_by_rect(pp_box, 10, 10, 20, 20)
    assert clipped.is_empty
    l = C.clip_by_rect(linestring([(0, 0), (10, 10)]), 2, 2, 4, 4)
    assert K.length(l) == pytest.approx(2 * 2**0.5)
    p = C.clip_by_rect(point(1, 1), 0, 0, 2, 2)
    assert not p.is_empty


def test_simplify():
    line = linestring([(0, 0), (1, 0.01), (2, 0)])
    s = C.simplify(line, 0.5)
    assert len(s.coords) == 2
    s = C.simplify(line, 0.001)
    assert len(s.coords) == 3


def test_segmentize():
    s = C.segmentize(linestring([(0, 0), (10, 0)]), 2.5)
    assert len(s.coords) == 5
    assert K.length(s) == 10.0


@pytest.mark.parametrize("max_len", [0, -1])
def test_segmentize_rejects_a_non_positive_length(max_len):
    # reference: the length "must be greater than 0"; 0 divided by zero and
    # -1 returned the input unchanged
    with pytest.raises(ValueError, match="max_segment_length"):
        C.segmentize(linestring([(0, 0), (10, 0)]), max_len)


@pytest.mark.parametrize("g", [box(0, 0, 3, 2), linestring([(0, 0), (4, 1), (4, 5)])],
                         ids=["box", "line"])
def test_buffer_quad_segs_zero_is_one(g):
    # the polygon fast path divided by quad_segs; every path clamps to >= 1
    zero, one = C.buffer(g, 0.5, quad_segs=0), C.buffer(g, 0.5, quad_segs=1)
    assert K.equals(zero, one)
    assert K.area(zero) == K.area(one)


def test_orient_and_reverse():
    cw = polygon([(0, 0), (0, 2), (2, 2), (2, 0), (0, 0)])
    assert K.signed_ring_area(cw.rings[0]) < 0
    o = C.orient_polygons(cw)
    assert K.signed_ring_area(o.rings[0]) > 0
    r = C.reverse(line_string)
    assert r.coords[0].tolist() == [1, 1]


def test_affine():
    t = C.translate(pt, 1, 2)
    assert t.coords[0].tolist() == [3, 5]
    s = C.scale(poly, 2, 2, origin=(0, 0))
    assert K.area(s) == 16.0
    r = C.rotate(point(1, 0), 90.0, origin=(0, 0))
    np.testing.assert_allclose(r.coords[0], [0, 1], atol=1e-12)


def test_linear_referencing():
    line = linestring([(0, 0), (10, 0)])
    p = C.line_interpolate_point(line, 4.0)
    assert p.coords[0].tolist() == [4.0, 0.0]
    p = C.line_interpolate_point(line, 0.5, normalized=True)
    assert p.coords[0].tolist() == [5.0, 0.0]
    p = C.line_interpolate_point(line, -2.0)
    assert p.coords[0].tolist() == [8.0, 0.0]
    assert C.line_locate_point(line, point(3, 5)) == 3.0
    assert C.line_locate_point(line, point(3, 5), normalized=True) == 0.3


def test_linear_referencing_edge_contract():
    """reference: shapely/tests/test_linear.py — None/NaN/empty/type
    edges of line_interpolate_point and line_locate_point."""
    from shapely_spark.geo.geom import GEOMETRYCOLLECTION

    ls = linestring([(0, 0), (1, 0), (1, 1)])
    lr = linearring([(0, 0), (1, 0), (1, 1), (0, 1), (0, 0)])
    mls = multilinestring([[(0, 0), (1, 2)]])
    # negative distance measures from the end; multis use the summed index
    assert to_wkt(C.line_interpolate_point(ls, -1)) == "POINT (1 0)"
    assert to_wkt(C.line_interpolate_point(lr, -1)) == "POINT (0 1)"
    np.testing.assert_allclose(
        C.line_interpolate_point(mls, -1).coords[0], [0.5528, 1.1056],
        atol=1e-3)
    # no phantom bridge segment between multi parts
    m2 = multilinestring([[(0, 0), (1, 0)], [(5, 0), (5, 2)]])
    assert to_wkt(C.line_interpolate_point(m2, 1.5)) == "POINT (5 0.5)"
    # empty lineal inputs (incl. a leading EMPTY part) → POINT EMPTY
    for g in [linestring(np.zeros((0, 2))), multilinestring([]),
              from_wkt("MULTILINESTRING (EMPTY, (0 0, 1 1))"),
              empty(GEOMETRYCOLLECTION),
              geometrycollection([linestring(np.zeros((0, 2))), point(1, 1)])]:
        r = C.line_interpolate_point(g, 0.2)
        assert r.is_empty and r.type_id == POINT
    # non-lineal inputs raise TypeError
    for g in [empty(POINT), point(1, 1),
              polygon([(0, 0), (1, 0), (1, 1), (0, 0)]),
              multipoint([point(0, 0)]),
              geometrycollection([point(0, 0)]),
              geometrycollection([mls])]:
        with pytest.raises(TypeError):
            C.line_interpolate_point(g, 0.2)
    assert C.line_interpolate_point(None, 0.2) is None
    assert C.line_interpolate_point(ls, float("nan")) is None
    # locate: None/empty → nan; wrong types raise
    assert math.isnan(C.line_locate_point(ls, None))
    assert math.isnan(C.line_locate_point(None, point(0, 0)))
    assert math.isnan(C.line_locate_point(ls, empty(POINT)))
    assert math.isnan(C.line_locate_point(linestring(np.zeros((0, 2))), point(0, 0)))
    with pytest.raises(TypeError):
        C.line_locate_point(ls, ls)
    # densify=nan propagates to nan, not an error
    assert math.isnan(K.hausdorff_distance(point(0, 0), point(1, 1),
                                           densify=float("nan")))
    assert math.isnan(K.frechet_distance(ls, ls, densify=float("nan")))


def test_line_merge():
    m = multilinestring([[(0, 0), (1, 1)], [(1, 1), (2, 2)]])
    merged = C.line_merge(m)
    assert merged.type_id == LINESTRING
    assert len(merged.coords) == 3


def test_nearest_points():
    a, b = C.nearest_points(point(0, 0), pp_box)
    assert b.coords[0].tolist() == [2.0, 2.0]


def test_set_precision_force2d_unique_points():
    g = C.set_precision(point(1.26, 2.44), 0.5)
    assert g.coords[0].tolist() == [1.5, 2.5]
    g3 = point(1, 2, 3)
    assert C.force_2d(g3).coords.shape[1] == 2
    u = C.extract_unique_points(linestring([(0, 0), (1, 1), (0, 0)]))
    assert u.num_geometries() == 2


def test_envelope():
    e = C.envelope(multi_polygon)
    np.testing.assert_allclose(K.bounds(e), [0, 0, 2.2, 2.2])


def test_haversine():
    # quarter meridian ≈ 10,007.5 km
    d = K.haversine_km(0.0, 0.0, 90.0, 0.0)
    assert d == pytest.approx(math.pi / 2 * K.EARTH_RADIUS_KM, rel=1e-9)


class TestCodecFuzz:
    """Roundtrip fuzz: random geometries of every type survive WKB and WKT
    byte-exactly (WKB) / to fp-print precision (WKT)."""

    @staticmethod
    def _rand_geom(rng, tid):
        from shapely_spark.geo.geom import (
            Geometry,
            geometrycollection,
            linestring,
            multilinestring,
            multipoint,
            multipolygon,
            point,
            polygon,
        )

        def ring(n):
            ang = np.sort(rng.uniform(0, 2 * np.pi, n))
            r = rng.uniform(0.5, 3.0, n)
            cx, cy = rng.uniform(-50, 50, 2)
            return list(zip(cx + r * np.cos(ang), cy + r * np.sin(ang)))

        if tid == 0:
            return point(*rng.uniform(-50, 50, 2))
        if tid == 1:
            return linestring(rng.uniform(-50, 50, (rng.randint(2, 8), 2)))
        if tid == 3:
            return polygon(ring(rng.randint(3, 9)))
        if tid == 4:
            return multipoint(rng.uniform(-50, 50, (rng.randint(1, 5), 2)))
        if tid == 5:
            return multilinestring(
                [rng.uniform(-50, 50, (rng.randint(2, 5), 2)) for _ in range(rng.randint(1, 4))])
        if tid == 6:
            return multipolygon([polygon(ring(rng.randint(3, 7))) for _ in range(rng.randint(1, 3))])
        return geometrycollection(
            [point(*rng.uniform(-50, 50, 2)), polygon(ring(4))])

    def test_wkb_roundtrip_fuzz(self):
        from shapely_spark.geo.wkb import from_wkb, to_wkb

        rng = np.random.RandomState(77)
        for _ in range(120):
            tid = int(rng.choice([0, 1, 3, 4, 5, 6, 7]))
            g = self._rand_geom(rng, tid)
            g2 = from_wkb(to_wkb(g))
            assert g2.type_id == g.type_id
            assert np.array_equal(g2.all_coords(), g.all_coords())
            # double roundtrip is byte-stable
            assert to_wkb(g2) == to_wkb(g)

    def test_wkt_roundtrip_fuzz(self):
        from shapely_spark.geo.wkt import from_wkt, to_wkt

        rng = np.random.RandomState(78)
        for _ in range(60):
            tid = int(rng.choice([0, 1, 3, 4, 5, 6, 7]))
            g = self._rand_geom(rng, tid)
            g2 = from_wkt(to_wkt(g, rounding_precision=12))
            assert g2.type_id == g.type_id
            assert np.allclose(g2.all_coords(), g.all_coords(), atol=1e-11)


class TestGeneralRelate:
    """Full DE-9IM for every type combo (reference: shapely/predicates.py:1194
    matrix semantics; goldens are GEOS results for the canonical fixtures)."""

    CASES = [
        # polygon × polygon
        ("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))", "POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))", "212101212"),
        ("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))", "POLYGON ((5 5, 6 5, 6 6, 5 6, 5 5))", "FF2FF1212"),
        ("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))", "POLYGON ((1 0, 2 0, 2 1, 1 1, 1 0))", "FF2F11212"),
        ("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))", "POLYGON ((1 1, 2 1, 2 2, 1 2, 1 1))", "FF2F01212"),
        ("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))", "POLYGON ((1 1, 2 1, 2 2, 1 2, 1 1))", "212FF1FF2"),
        ("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))", "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))", "2FFF1FFF2"),
        # b inside a's hole, sharing the hole ring
        ("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 3 1, 3 3, 1 3, 1 1))",
         "POLYGON ((1 1, 2 1, 2 2, 1 2, 1 1))", "FF2F11212"),
        # line × line
        ("LINESTRING (0 0, 2 2)", "LINESTRING (0 2, 2 0)", "0F1FF0102"),
        ("LINESTRING (0 0, 3 0)", "LINESTRING (1 0, 5 0)", "1010F0102"),
        ("LINESTRING (0 0, 1 0)", "LINESTRING (0 0, 1 0)", "1FFF0FFF2"),
        ("LINESTRING (0 0, 1 0)", "LINESTRING (0 1, 1 1)", "FF1FF0102"),
        # line × polygon
        ("LINESTRING (-1 1, 3 1)", "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))", "101FF0212"),
        ("LINESTRING (0.5 0.5, 1.5 1.5)", "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))", "1FF0FF212"),
        ("LINESTRING (0 0, 2 0)", "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))", "F1FF0F212"),
        # point combos + transposes
        ("POINT (1 1)", "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))", "0FFFFF212"),
        ("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))", "POINT (1 1)", "0F2FF1FF2"),
        ("POINT (0 0)", "LINESTRING (0 0, 2 0)", "F0FFFF102"),
        ("LINESTRING (0 0, 2 0)", "POINT (5 5)", "FF1FF00F2"),
    ]

    def test_relate_matrix_goldens(self):
        from shapely_spark.geo import from_wkt
        from shapely_spark.geo.kernels import relate

        for wa, wb, want in self.CASES:
            got = relate(from_wkt(wa), from_wkt(wb))
            assert got == want, f"{wa} | {wb}: {got} != {want}"

    def test_relate_pattern_general(self):
        from shapely_spark.geo import from_wkt
        from shapely_spark.geo.kernels import relate_pattern

        a = from_wkt("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))")
        b = from_wkt("POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))")
        assert relate_pattern(a, b, "T*T***T**")      # overlaps
        assert not relate_pattern(a, b, "FF*FF****")  # disjoint

    def test_relate_transpose_consistency(self):
        from shapely_spark.geo import from_wkt
        from shapely_spark.geo.kernels import relate

        def t(m):
            return "".join(m[i] for i in (0, 3, 6, 1, 4, 7, 2, 5, 8))

        pairs = [
            ("LINESTRING (-1 1, 3 1)", "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"),
            ("LINESTRING (0 0, 3 0)", "LINESTRING (1 0, 5 0)"),
            ("POINT (1 1)", "LINESTRING (0 0, 2 2)"),
        ]
        for wa, wb in pairs:
            assert relate(from_wkt(wa), from_wkt(wb)) == t(relate(from_wkt(wb), from_wkt(wa)))


class TestInteriorOverlapWitnesses:
    """Configurations where vertex/midpoint sampling has no witness and only
    boundary noding (or the rect fast path) classifies II correctly —
    reference semantics: shapely/predicates.py:905 overlaps, :968 touches,
    :1194 relate (GEOS RelateOp)."""

    def test_collinear_offset_boxes_overlap(self):
        from shapely_spark.geo import kernels as K
        from shapely_spark.geo.geom import box

        a, b = box(0, 0, 5, 4), box(4, 0, 9, 4)
        assert K.overlaps(a, b) and not K.touches(a, b)
        assert K.relate(a, b) == "212111212"

    def test_equal_polygons_not_touching(self):
        from shapely_spark.geo import kernels as K
        from shapely_spark.geo.geom import box

        a = box(0, 0, 5, 4)
        assert not K.touches(a, a) and not K.overlaps(a, a)
        assert K.relate(a, a) == "2FFF1FFF2"

    def test_contained_sharing_edge(self):
        from shapely_spark.geo import kernels as K
        from shapely_spark.geo.geom import box

        a, e = box(0, 0, 5, 4), box(0, 0, 2, 4)
        assert not K.touches(a, e) and not K.overlaps(a, e)
        assert K.relate(a, e) == "212F11FF2"

    def test_nonrect_collinear_overlap(self):
        # pentagon vs box sharing collinear bottom edges, overlapping —
        # exercises the noding path, not the rect fast path
        from shapely_spark.geo import kernels as K
        from shapely_spark.geo.geom import Geometry, POLYGON, box
        import numpy as np

        pent = Geometry(POLYGON, rings=[np.array(
            [[0, 0], [6, 0], [6, 3], [3, 5], [0, 3], [0, 0]], dtype=float)])
        b = box(4, 0, 9, 3)
        assert K.overlaps(pent, b) and not K.touches(pent, b)

    def test_line_through_corners(self):
        from shapely_spark.geo import kernels as K
        from shapely_spark.geo.geom import box, linestring

        l = linestring([(0.0, 0.0), (4.0, 4.0)])
        bb = box(0, 0, 2, 2)
        assert K.crosses(l, bb)
        assert K.relate(l, bb) == "101F00212"

    def test_polyline_vertex_crossing(self):
        from shapely_spark.geo import kernels as K
        from shapely_spark.geo.geom import linestring

        v1 = linestring([(0, 0), (1, 1), (2, 0)])
        v2 = linestring([(0, 2), (1, 1), (2, 2)])
        assert K.crosses(v1, v2)

    def test_line_along_edge_touches(self):
        from shapely_spark.geo import kernels as K
        from shapely_spark.geo.geom import box, linestring

        l = linestring([(0.0, 0.0), (2.0, 0.0)])
        bb = box(0, 0, 2, 2)
        assert K.touches(l, bb) and not K.crosses(l, bb)
        assert K.relate(l, bb) == "F1FF0F212"


class TestPolygonRoundBuffer:
    """r3 fuzz regression: the convex fast path offset INWARD for every
    input (outward normal negated), so buffer(+d) shrank convex polygons.
    No gate query buffered a polygon with round/round style — points and
    lines only — which is why two rounds of green gates never saw it.
    Pinned against the exact closed form A + P·d + πd²."""

    def _assert_closed_form(self, g, d):
        import math
        from shapely_spark.geo import kernels as K
        from shapely_spark.geo.constructive import buffer
        got = K.area(buffer(g, d, quad_segs=64))
        exact = K.area(g) + K.length(g) * d + math.pi * d * d
        assert abs(got - exact) < 2e-4 * exact, (got, exact)

    def test_box_buffer_grows_closed_form(self):
        from shapely_spark.geo.geom import box
        for d in (0.1, 0.5, 2.0):
            self._assert_closed_form(box(0, 0, 2, 1.5), d)

    def test_ngon_buffer_both_orientations(self):
        import numpy as np
        from shapely_spark.geo.geom import Geometry, POLYGON, regular_ngon
        g = regular_ngon(3, -1, 1.25, 7)
        self._assert_closed_form(g, 0.3)
        cw = Geometry(POLYGON, rings=[g.rings[0][::-1].copy()])
        self._assert_closed_form(cw, 0.3)

    def test_negative_buffer_shrinks_exactly(self):
        from shapely_spark.geo import kernels as K
        from shapely_spark.geo.constructive import buffer
        from shapely_spark.geo.geom import box
        out = buffer(box(0, 0, 2, 1.5), -0.2)
        assert abs(K.area(out) - (2 - 0.4) * (1.5 - 0.4)) < 1e-9

    def test_concave_polygon_buffer_grows(self):
        from shapely_spark.geo import kernels as K
        from shapely_spark.geo.constructive import buffer
        from shapely_spark.geo.geom import polygon
        import numpy as np
        ring = np.array([[0, 0], [4, 0], [4, 3], [2, 1], [0, 3], [0, 0]], float)
        g = polygon(ring)
        a0 = K.area(g)
        grown = K.area(buffer(g, 0.25))
        assert grown > a0 + 0.25 * 1.9  # at least ~P·d growth on most of ∂


class TestArrangementRelate:
    """relate reads every DE-9IM cell from one labelled arrangement
    (geo/arrangement.py); a GeometryCollection relates as the union of
    its members (reference: shapely/predicates.py:1194, GEOS RelateNG:
    area before line before point at a shared location)."""

    GC = "GEOMETRYCOLLECTION (POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0)), LINESTRING (5 5, 7 5))"

    def test_mixed_collection_matrices(self):
        from shapely_spark.geo import from_wkt

        gc, pt = from_wkt(self.GC), from_wkt("POINT (6 5)")
        assert K.relate(gc, pt) == "0F2FF1FF2"
        assert K.relate(pt, gc) == "0FFFFF212"
        # a point member on the polygon member's boundary adds nothing
        on_bnd = from_wkt("GEOMETRYCOLLECTION (POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0)),"
                          " POINT (2 1))")
        assert K.relate(on_bnd, from_wkt("POINT (2 1)")) == "FF20F1FF2"
        assert K.relate(on_bnd, from_wkt(
            "POLYGON ((2 0, 4 0, 4 2, 2 2, 2 0))")) == "FF2F11212"
        # a line member crossing the polygon member: inside the area it is
        # area interior, where it crosses the ring it is area boundary
        cross = from_wkt("GEOMETRYCOLLECTION (POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0)),"
                         " LINESTRING (1 1, 3 1))")
        assert K.relate(cross, from_wkt("POINT (2 1)")) == "FF20F1FF2"
        assert K.relate(cross, from_wkt("POINT (2.5 1)")) == "0F2FF1FF2"
        assert K.relate(cross, from_wkt("LINESTRING (3 0, 3 2)")) == "FF20F1102"

    def test_named_predicates_on_collections(self):
        from shapely_spark.geo import from_wkt

        gc, pt = from_wkt(self.GC), from_wkt("POINT (6 5)")
        assert K.contains(gc, pt) and K.covers(gc, pt)
        assert K.within(pt, gc) and K.covered_by(pt, gc)
        assert not K.contains_properly(gc, from_wkt("POINT (5 5)"))
        assert K.touches(gc, from_wkt("POINT (5 5)"))
        assert K.contains_xy(gc, [6.0, 1.0, 9.0], [5.0, 1.0, 9.0]).tolist() == [True, True, False]

    def test_points_compare_exactly(self):
        from shapely_spark.geo.overlay import intersection

        a, b = point(0, 0), point(1e-13, 0)
        assert K.relate(a, b) == "FF0FFF0F2"
        assert not K.intersects(a, b) and not K.equals(a, b)
        assert intersection(a, b).is_empty
        assert K.relate(a, point(0, 0)) == "0FFFFFFF2"

    def test_relate_pattern_validates(self):
        from shapely_spark.geo.errors import GEOSException

        a, b = box(0, 0, 2, 2), box(1, 1, 3, 3)
        for bad in ("", "F", "FFxxxxxxx", "T*T***T***"):
            with pytest.raises(GEOSException):
                K.relate_pattern(a, b, bad)
        assert K.relate_pattern(a, b, "t*t***t**")
        assert not K.relate_pattern(a, b, "ff*ff****")

    def test_multipolygon_parts_meet_at_points_only(self):
        from shapely_spark.geo import from_wkt
        from shapely_spark.geo.overlay import make_valid

        shared_edge = from_wkt("MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)),"
                               " ((1 0, 2 0, 2 1, 1 1, 1 0)))")
        overlapping = from_wkt("MULTIPOLYGON (((0 0, 2 0, 2 2, 0 2, 0 0)),"
                               " ((1 1, 3 1, 3 3, 1 3, 1 1)))")
        corner = from_wkt("MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)),"
                          " ((1 1, 2 1, 2 2, 1 2, 1 1)))")
        assert K.is_valid_reason(shared_edge) == "Self-intersection"
        assert K.is_valid_reason(overlapping) == "Self-intersection"
        assert K.is_valid(corner)
        # make_valid rebuilds them as one dissolved area
        for g, want in ((shared_edge, 2.0), (overlapping, 7.0)):
            fixed = make_valid(g)
            assert K.is_valid(fixed) and abs(K.area(fixed) - want) < 1e-12
        assert make_valid(corner) is corner
