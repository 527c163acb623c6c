"""Property-based cross-checks between the named predicate kernels and the
DE-9IM relate matrix (reference semantics: shapely/predicates.py — each
named predicate must agree with its DE-9IM pattern, relate(a,b) must be
the transpose of relate(b,a), and the standard implication lattice
contains ⇒ covers ⇒ intersects must hold).

For point, line and polygon inputs (and their multis) the named
predicates (kernels.intersects/contains/touches/...) decide with their
own logic — vertex classes, witnesses, hole probes — and share with
relate only the noding and fragment labelling primitives of
geo/arrangement.py; relate reads every cell from the general labelled
arrangement. Agreement between the two over a fuzzed geometry zoo is a
strong internal-consistency oracle that needs no external engine. A
GeometryCollection side is the exception: there every named predicate
except intersects answers FROM relate, so for collections the checks
below pin intersects (member by member) against relate, and relate's
transpose symmetry and the implication lattice. Coordinates snap to a
half-unit grid on purpose: shared edges, corner contacts and collinear
overlaps are where predicate semantics diverge."""

import numpy as np
from hypothesis import given, settings, strategies as st

from shapely_spark.geo import kernels as K
from shapely_spark.geo.geom import (
    box,
    geometrycollection,
    linestring,
    multilinestring,
    multipoint,
    multipolygon,
    point,
    polygon,
    regular_ngon,
)

coord = st.integers(min_value=-6, max_value=6).map(lambda v: v * 0.5)


@st.composite
def geoms(draw):
    kind = draw(st.sampled_from(
        ["point", "segment", "polyline", "box", "holed_box", "ngon", "multipoint",
         "multiline", "multipolygon", "rot_ngon", "touch_multipolygon",
         "gc_poly_line", "gc_poly_point", "gc_line_point", "gc_nested"]
    ))
    x, y = draw(coord), draw(coord)
    if kind.startswith("gc_"):
        # mixed collections whose members do not meet: a box, a segment
        # starting right of it, a point left of both
        w = draw(st.integers(1, 3)) * 0.5
        poly = box(x, y, x + w, y + w)
        x2 = x + w + 0.5
        line = linestring([(x2, y), (x2 + draw(st.integers(1, 4)) * 0.5, draw(coord))])
        pt = point(x - 0.5, draw(coord))
        if kind == "gc_poly_line":
            return geometrycollection([poly, line])
        if kind == "gc_poly_point":
            return geometrycollection([poly, pt])
        if kind == "gc_line_point":
            return geometrycollection([line, pt])
        return geometrycollection([geometrycollection([poly, pt]), line])
    if kind == "point":
        return point(x, y)
    if kind == "segment":
        x2, y2 = draw(coord), draw(coord)
        if (x2, y2) == (x, y):
            x2 += 0.5
        return linestring([(x, y), (x2, y2)])
    if kind == "polyline":
        pts = [(x, y)]
        for _ in range(draw(st.integers(2, 3))):
            pts.append((draw(coord), draw(coord)))
        pts = [p for i, p in enumerate(pts) if i == 0 or p != pts[i - 1]]
        if len(pts) < 2:
            pts.append((x + 0.5, y))
        return linestring(pts)
    if kind == "multipoint":
        n = draw(st.integers(1, 3))
        return multipoint([(draw(coord), draw(coord)) for _ in range(n)])
    if kind == "multiline":
        parts = []
        for _ in range(draw(st.integers(2, 3))):
            px, py = draw(coord), draw(coord)
            qx, qy = draw(coord), draw(coord)
            if (qx, qy) == (px, py):
                qx += 0.5
            parts.append(linestring([(px, py), (qx, qy)]))
        return multilinestring(parts)
    if kind == "multipolygon":
        # disjoint parts (reference relate requires valid multipolygons):
        # two boxes separated by a large fixed offset
        w = draw(st.integers(1, 3)) * 0.5
        return multipolygon([
            box(x, y, x + w, y + w),
            box(x + w + 0.5, y, x + 2 * w + 0.5, y + w),
        ])
    if kind == "touch_multipolygon":
        # parts meeting at a single corner — valid per OGC, and the shape
        # family the r3 gap-bridge containment bug hid in
        w = draw(st.integers(1, 3)) * 0.5
        return multipolygon([
            box(x, y, x + w, y + w),
            box(x + w, y + w, x + 2 * w, y + 2 * w),
        ])
    if kind == "rot_ngon":
        # off-grid vertices at irrational angles: exercises the fp-noding
        # path the grid zoo cannot (ulp-separated node copies, r3 stitch bug)
        n = draw(st.integers(3, 7))
        r = draw(st.integers(1, 4)) * 0.4
        th = draw(st.integers(0, 11)) * (np.pi / 11.7)
        ang = th + np.arange(n) * 2 * np.pi / n
        ring = np.column_stack([x + r * np.cos(ang), y + r * np.sin(ang)])
        return polygon(np.vstack([ring, ring[:1]]))
    w = draw(st.integers(1, 5)) * 0.5
    h = draw(st.integers(1, 5)) * 0.5
    if kind == "box":
        return box(x, y, x + w, y + h)
    if kind == "holed_box":
        outer = box(x, y, x + max(w, 1.5), y + max(h, 1.5))
        sh = outer.rings[0]
        c = sh[:-1].mean(axis=0)
        hole = (sh - c) * 0.4 + c
        return polygon(sh, [hole[::-1]])
    g = regular_ngon(x, y, w, draw(st.integers(3, 7)))
    # snap the cos/sin noise (±1e-16): an ngon vertex landing 1e-16 from a
    # grid point sits inside relate's noding tolerance but outside the exact
    # named-predicate comparisons — a designed tolerance-model difference,
    # not an inconsistency; the zoo must offer exactly-representable touches
    return polygon(np.round(g.rings[0], 9))


def _matches(matrix: str, pattern: str) -> bool:
    for m, p in zip(matrix, pattern):
        if p == "*":
            continue
        if p == "T":
            if m in ("F", "-"):  # any intersection of any dimension
                return False
        elif m != p:
            return False
    return True


@settings(max_examples=250, deadline=None)
@given(geoms(), geoms())
def test_relate_transpose_and_named_predicates(a, b):
    m_ab = K.relate(a, b)
    m_ba = K.relate(b, a)
    # transpose: swap (i,j) → (j,i) of the 3×3 matrix
    assert m_ba == "".join(m_ab[3 * (i % 3) + i // 3] for i in range(9))

    assert K.intersects(a, b) == (not _matches(m_ab, "FF*FF****"))
    assert K.within(a, b) == _matches(m_ab, "T*F**F***")
    assert K.contains(a, b) == _matches(m_ba, "T*F**F***")
    assert K.touches(a, b) == (
        _matches(m_ab, "FT*******")
        or _matches(m_ab, "F**T*****")
        or _matches(m_ab, "F***T****")
    )
    assert K.crosses(a, b) == (
        _matches(m_ab, "T*T******") if K._dim(a) < K._dim(b)
        else _matches(m_ab, "T*****T**") if K._dim(a) > K._dim(b)
        else (K._dim(a) == 1 and _matches(m_ab, "0********"))
    )
    if K._dim(a) == K._dim(b):
        assert K.overlaps(a, b) == _matches(
            m_ab, "1*T***T**" if K._dim(a) == 1 else "T*T***T**"
        )
    else:
        assert not K.overlaps(a, b)


@settings(max_examples=250, deadline=None)
@given(geoms(), geoms())
def test_predicate_lattice(a, b):
    # symmetry
    assert K.intersects(a, b) == K.intersects(b, a)
    assert K.touches(a, b) == K.touches(b, a)
    assert K.overlaps(a, b) == K.overlaps(b, a)
    assert K.crosses(a, b) == K.crosses(b, a)
    assert K.equals(a, b) == K.equals(b, a)
    # duals
    assert K.disjoint(a, b) == (not K.intersects(a, b))
    assert K.within(a, b) == K.contains(b, a)
    assert K.covered_by(a, b) == K.covers(b, a)
    # implications
    if K.contains_properly(a, b):
        assert K.contains(a, b)
    if K.contains(a, b):
        assert K.covers(a, b) and K.intersects(a, b)
    if K.within(a, b):
        assert K.covered_by(a, b) and K.intersects(a, b)
    if K.touches(a, b):
        assert K.intersects(a, b) and not K.within(a, b) and not K.contains(a, b)
    if K.equals(a, b):
        assert K.covers(a, b) and K.covered_by(a, b)


@settings(max_examples=200, deadline=None)
@given(geoms(), geoms())
def test_distance_dwithin_consistency(a, b):
    d = K.distance(a, b)
    assert K.dwithin(a, b, d + 1e-9)
    if K.intersects(a, b):
        assert d == 0.0
    if d > 0:
        assert not K.dwithin(a, b, d * 0.99)
        assert not K.intersects(a, b)


class TestNodedContainmentRegressions:
    """r3 fuzz counterexample family: closure containment must node ∂B at
    ∂A before classifying (raw vertex/midpoint samples can all land on
    A's closure while an edge of B bridges A's inter-part gap through
    the exterior), and holes of A blanketed by B break covers even
    though ∂B never enters them."""

    def _w(self, s):
        from shapely_spark.geo import from_wkt
        return from_wkt(s)

    def test_multipolygon_gap_bridge(self):
        a = self._w("MULTIPOLYGON(((0 0,1.5 0,1.5 1.5,0 1.5,0 0)),"
                    "((2 0,3.5 0,3.5 1.5,2 1.5,2 0)))")
        b = self._w("MULTIPOLYGON(((0 0,1 0,1 1,0 1,0 0)),"
                    "((1.5 0,2.5 0,2.5 1,1.5 1,1.5 0)))")
        assert not K.contains(a, b) and not K.covers(a, b)
        assert not K.within(b, a) and not K.covered_by(b, a)
        m = K.relate(b, a)
        assert m[2] == "2"  # int(B) ∩ ext(A) is 2-dimensional
        # control: shrink B's second part inside A's second part
        c = self._w("MULTIPOLYGON(((0 0,1 0,1 1,0 1,0 0)),"
                    "((2 0,3 0,3 1,2 1,2 0)))")
        assert K.contains(a, c) and K.covers(a, c)

    def test_line_bridging_gap_on_boundary(self):
        a = self._w("MULTIPOLYGON(((0 0,1.5 0,1.5 1.5,0 1.5,0 0)),"
                    "((2 0,3.5 0,3.5 1.5,2 1.5,2 0)))")
        bridge = self._w("LINESTRING(1 0,3 0)")  # midpoint (2,0) is A's corner
        assert not K.covers(a, bridge) and not K.contains(a, bridge)
        on_edge = self._w("LINESTRING(0 0,1.5 0)")
        assert K.covers(a, on_edge) and not K.contains(a, on_edge)

    def test_hole_blanket_and_exact_hole(self):
        h = self._w("POLYGON((0 0,10 0,10 10,0 10,0 0),(4 4,6 4,6 6,4 6,4 4))")
        blanket = self._w("POLYGON((3 3,7 3,7 7,3 7,3 3))")
        assert not K.covers(h, blanket) and not K.contains(h, blanket)
        assert not K.contains_properly(h, blanket)
        exact_hole = self._w("POLYGON((4 4,6 4,6 6,4 6,4 4))")
        assert not K.covers(h, exact_hole)
        assert K.touches(h, exact_hole)
        inside = self._w("POLYGON((1 1,3 1,3 3,1 3,1 1))")
        assert K.contains(h, inside) and K.contains_properly(h, inside)


def test_intersects_multipolygon_part_inside():
    """r3 fuzz: after the no-crossing check, intersects probed ONE vertex
    per side — a multipolygon whose first part lies outside while its
    second part sits wholly inside the other polygon returned False.
    Every part's vertices are probed now."""
    import numpy as np
    from shapely_spark.geo.geom import Geometry, POLYGON, box, multipolygon
    ring = np.array([[5., 0.], [3.61803399, 1.90211303],
                     [1.38196601, 1.17557051], [1.38196601, -1.17557051],
                     [3.61803399, -1.90211303], [5., 0.]])
    a = Geometry(POLYGON, rings=[ring])
    b = multipolygon([box(0, 0, 1, 1), box(1.5, 0, 2.5, 1)])  # part 2 inside a
    assert K.intersects(a, b) and K.intersects(b, a)
    assert not K.disjoint(a, b)
    assert K.overlaps(a, b)
    assert K.relate(a, b)[0] == "2"
    # still False when no part touches
    c = multipolygon([box(10, 10, 11, 11), box(13, 10, 14, 11)])
    assert not K.intersects(a, c)
