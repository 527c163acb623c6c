"""Property-based cross-checks between the overlay ops and the measure /
relate kernels (reference semantics: shapely/set_operations.py — the four
overlays must satisfy inclusion-exclusion on area, and a positive-area
intersection must agree with relate's interior∩interior == 2).

Overlay (fragment selection + stitching, geo/overlay.py) and relate
(the DE-9IM read-out) both start from the labelled arrangement of
geo/arrangement.py, but areas come from stitched rings and the shoelace
measure, and convex pairs intersect by half-plane clipping without any
arrangement, so the invariants below over the same geometry zoo as
tests/test_predicate_consistency.py still cross-check the selection
rules against the matrix rules: no external engine needed."""

import numpy as np
from hypothesis import given, settings, strategies as st

from shapely_spark.geo import kernels as K
from shapely_spark.geo.geom import Geometry, POLYGON, box, polygon, regular_ngon
from shapely_spark.geo.overlay import (
    difference,
    intersection,
    symmetric_difference,
    union,
)

coord = st.integers(min_value=-6, max_value=6).map(lambda v: v * 0.5)


@st.composite
def polys(draw):
    kind = draw(st.sampled_from(
        ["box", "holed_box", "ngon", "rot_ngon", "touch_multipolygon"]))
    x, y = draw(coord), draw(coord)
    w = draw(st.integers(1, 5)) * 0.5
    h = draw(st.integers(1, 5)) * 0.5
    if kind == "box":
        return box(x, y, x + w, y + h)
    if kind == "rot_ngon":
        # off-grid vertices (irrational angles): the fp-noding regime where
        # the r3 ulp-severed-stitch bug lived
        n = draw(st.integers(3, 7))
        r = draw(st.integers(1, 4)) * 0.4
        th = draw(st.integers(0, 11)) * (np.pi / 11.7)
        ang = th + np.arange(n) * 2 * np.pi / n
        ring = np.column_stack([x + r * np.cos(ang), y + r * np.sin(ang)])
        return polygon(np.vstack([ring, ring[:1]]))
    if kind == "touch_multipolygon":
        from shapely_spark.geo.geom import multipolygon
        return multipolygon([
            box(x, y, x + w, y + w),
            box(x + w, y + w, x + 2 * w, y + 2 * w),
        ])
    if kind == "holed_box":
        outer = box(x, y, x + max(w, 1.5), y + max(h, 1.5))
        sh = outer.rings[0]
        c = sh[:-1].mean(axis=0)
        hole = (sh - c) * 0.4 + c
        return polygon(sh, [hole[::-1]])
    g = regular_ngon(x, y, w, draw(st.integers(3, 7)))
    return polygon(np.round(g.rings[0], 9))  # snap cos/sin fp noise


def _area(g) -> float:
    return 0.0 if g is None or g.is_empty else K.area(g)


@settings(max_examples=150, deadline=None)
@given(polys(), polys())
def test_overlay_inclusion_exclusion(a, b):
    aa, ab = K.area(a), K.area(b)
    scale = max(aa, ab, 1.0)
    tol = 1e-9 * scale
    ai = _area(intersection(a, b))
    au = _area(union(a, b))
    ad = _area(difference(a, b))
    adb = _area(difference(b, a))
    asd = _area(symmetric_difference(a, b))
    assert abs(au - (aa + ab - ai)) < tol
    assert abs(ad - (aa - ai)) < tol
    assert abs(adb - (ab - ai)) < tol
    assert abs(asd - (au - ai)) < tol
    # commutativity of the symmetric ops
    assert abs(_area(intersection(b, a)) - ai) < tol
    assert abs(_area(union(b, a)) - au) < tol


@settings(max_examples=150, deadline=None)
@given(polys(), polys())
def test_overlay_agrees_with_relate(a, b):
    ai = _area(intersection(a, b))
    m = K.relate(a, b)
    scale = max(K.area(a), K.area(b), 1.0)
    if ai > 1e-9 * scale:
        assert m[0] == "2", (ai, m)
    if m[0] == "2":
        assert ai > 0.0, (ai, m)
    # containment duality: a within b ⇔ intersection fills a
    if K.within(a, b):
        assert abs(ai - K.area(a)) < 1e-9 * scale


def test_pentagon_box_ulp_node_regression():
    """r3 fuzz counterexample: difference(box, pentagon) came back EMPTY
    because a reversed fragment's endpoint (computed as x1 + 1.0·(x2−x1))
    differed from the shared ring vertex by one ulp that landed exactly
    on a stitch-key quantization boundary — the ring walk severed at
    that node. _fragments now pins t=0/1 to the exact vertices and
    _stitch matches nodes across neighbouring key buckets."""
    pent = polygon(np.round(regular_ngon(0.5, 2, 0.5, 5).rings[0], 9))
    b = box(0, 1.5, 0.5, 4)
    aa, ab = K.area(pent), K.area(b)
    ai = _area(intersection(pent, b))
    au = _area(union(pent, b))
    ad = _area(difference(pent, b))
    adb = _area(difference(b, pent))
    assert ai > 0.25  # they genuinely overlap
    assert abs(au - (aa + ab - ai)) < 1e-9
    assert abs(ad - (aa - ai)) < 1e-9
    assert abs(adb - (ab - ai)) < 1e-9


def test_polygonize_offgrid_ring_backtrack_regression():
    """r3 fuzz: polygonize of an off-grid closed ring returned EMPTY —
    the face walk's most-clockwise rule mapped only an EXACT zero turn
    to 2π, but the backtrack half-edge's atan2 differs from ang+π by
    ulps, so its turn came out +2e-16 (smallest positive) and the walk
    reversed into itself. Any turn under 1e-9 rad is now treated as the
    backtrack."""
    from shapely_spark.geo.geom import linestring
    from shapely_spark.geo.overlay import polygonize
    ring = np.array([
        [1.5350622, -3.6266913], [1.6461543, -2.3252691],
        [0.5746323, -1.5783521], [-0.6079749, -2.1328508],
        [-0.7190671, -3.4342731], [0.3524549, -4.1811901],
        [1.5350622, -3.6266913]]) + 1e-13 * np.arange(14).reshape(7, 2)
    ring[-1] = ring[0]  # keep the ring exactly closed; the ulp noise stays
    f = polygonize([linestring(ring)])
    assert not f.is_empty
    exp = abs(0.5 * np.sum(ring[:-1, 0] * ring[1:, 1] - ring[1:, 0] * ring[:-1, 1]))
    assert abs(K.area(f) - exp) < 1e-6
    # rotated rings at many phases all produce their face
    for th in np.linspace(0.1, 3.0, 7):
        n = 6
        ang = th + np.arange(n) * 2 * np.pi / n
        r = np.column_stack([1.3 * np.cos(ang), 1.3 * np.sin(ang)])
        f = polygonize([linestring(np.vstack([r, r[:1]]))])
        assert not f.is_empty, th
