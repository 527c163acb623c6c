"""Group-vectorized predicates must agree with the scalar kernels
(which pin the reference: shapely/predicates.py) on every batch shape
the group path accepts — fuzzed over mixed point/line/polygon lefts vs
areal rights, including touching, overlapping, nested, holed, and
collinear-boundary configurations."""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from shapely_spark.geo import kernels as K
from shapely_spark.geo.geom import (
    LINESTRING, MULTIPOLYGON, POINT, POLYGON, Geometry, geometrycollection,
    regular_ngon,
)
from shapely_spark.geo.group_predicates import group_predicate, pair_predicate
from shapely_spark.geo.wkt import from_wkt
from tests import test_predicate_consistency as pr

PREDICATES = [
    "intersects", "within", "covered_by", "touches", "overlaps",
    "crosses", "contains", "covers", "contains_properly", "equals",
]


def _poly(coords):
    ring = list(coords) + [coords[0]]
    return Geometry(POLYGON, rings=[np.asarray(ring, dtype=np.float64)])


def _box(x0, y0, x1, y1):
    return _poly([(x0, y0), (x1, y0), (x1, y1), (x0, y1)])


def _diamond(cx, cy, r):
    return _poly([(cx + r, cy), (cx, cy + r), (cx - r, cy), (cx, cy - r)])


def _line(coords):
    return Geometry(LINESTRING, coords=np.asarray(coords, dtype=np.float64))


def _point(x, y):
    return Geometry(POINT, coords=np.asarray([[x, y]], dtype=np.float64))


def _rand_poly(rng):
    kind = rng.integers(0, 4)
    cx, cy = rng.uniform(-5, 5, 2)
    if kind == 0:
        w, h = rng.uniform(0.5, 4, 2)
        return _box(cx, cy, cx + w, cy + h)
    if kind == 1:
        return _diamond(cx, cy, rng.uniform(0.5, 3))
    if kind == 2:  # n-gon
        k = int(rng.integers(5, 9))
        r = rng.uniform(0.5, 3)
        th = np.linspace(0, 2 * np.pi, k, endpoint=False) + rng.uniform(0, 1)
        return _poly(list(zip(cx + r * np.cos(th), cy + r * np.sin(th))))
    # holed box
    w = rng.uniform(2, 4)
    shell = [(cx, cy), (cx + w, cy), (cx + w, cy + w), (cx, cy + w), (cx, cy)]
    m = w / 4
    hole = [(cx + m, cy + m), (cx + m, cy + 2 * m), (cx + 2 * m, cy + 2 * m),
            (cx + 2 * m, cy + m), (cx + m, cy + m)]
    return Geometry(POLYGON, rings=[np.asarray(shell, dtype=np.float64),
                                    np.asarray(hole, dtype=np.float64)])


def _rand_left(rng):
    kind = rng.integers(0, 6)
    if kind == 0:
        return _point(*rng.uniform(-6, 6, 2))
    if kind == 1:
        a = rng.uniform(-6, 6, 2)
        b = a + rng.uniform(-3, 3, 2)
        c = b + rng.uniform(-3, 3, 2)
        return _line([tuple(a), tuple(b), tuple(c)])
    return _rand_poly(rng)


def _check_batch(lefts, right):
    for pred in PREDICATES:
        got = group_predicate(pred, lefts, right)
        assert got is not None, pred
        want = np.array([
            g is not None and bool(getattr(K, pred)(g, right))
            for g in lefts])
        mism = np.nonzero(got != want)[0]
        assert not len(mism), (
            pred, [(int(i), bool(got[i]), bool(want[i])) for i in mism])


def test_adversarial_configurations():
    right = _box(0, 0, 4, 4)
    lefts = [
        _box(0, 0, 4, 4),            # equal
        _box(1, 1, 3, 3),            # strictly inside
        _box(-2, -2, 6, 6),          # strictly contains
        _box(4, 0, 8, 4),            # edge-adjacent (touches)
        _box(4, 4, 8, 8),            # corner touch
        _box(2, 2, 6, 6),            # overlaps
        _box(5, 5, 6, 6),            # disjoint (bbox-near)
        _box(0, 0, 4, 2),            # shares part of boundary, inside
        _box(-1, 0, 5, 4),           # contains with collinear top/bottom
        _diamond(2, 2, 1),           # inside, non-rect
        _diamond(4, 2, 1),           # vertex on edge, half outside
        _diamond(2, 2, 6),           # diamond strictly containing the box? (|2|+|2|=4<6)
        _line([(1, 1), (3, 3)]),     # line inside
        _line([(0, 0), (4, 4)]),     # corner-to-corner diagonal (inside, ends on ∂)
        _line([(-1, 2), (5, 2)]),    # crosses through
        _line([(0, -1), (0, 5)]),    # collinear with left edge
        _line([(-2, -2), (-1, -1)]),  # disjoint
        _line([(4, 0), (4, 4)]),     # lies along right edge (touches)
        _point(2, 2),                # interior point
        _point(4, 2),                # boundary point
        _point(9, 9),                # far point
        None,                        # null left
        _box(1, 1, 1.5, 1.5),        # small inside
    ]
    _check_batch(lefts, right)


def test_holed_right_configurations():
    right = from_wkt(
        "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0),"
        " (3 3, 7 3, 7 7, 3 7, 3 3))")
    lefts = [
        _box(4, 4, 6, 6),      # inside the hole (exterior of R)
        _box(1, 1, 2, 2),      # inside the solid part
        _box(2, 2, 8, 8),      # blankets the hole (not covered_by)
        _box(3, 3, 7, 7),      # exactly the hole (touches from inside)
        _box(-1, -1, 11, 11),  # contains R — hole must break covered_by
        _line([(4, 4), (6, 6)]),   # line inside hole
        _line([(1, 1), (9, 1)]),   # line through solid part
        _line([(1, 5), (9, 5)]),   # line transiting the hole
        _point(5, 5),              # point in hole
        _diamond(5, 5, 1),         # diamond in hole
        _diamond(5, 1.5, 1),       # diamond in solid band
    ]
    _check_batch(lefts, right)


def test_multipolygon_right_gap_bridge():
    # two disjoint squares as one multipolygon; lefts bridging the gap
    right = from_wkt(
        "MULTIPOLYGON (((0 0, 2 0, 2 2, 0 2, 0 0)),"
        " ((4 0, 6 0, 6 2, 4 2, 4 0)))")
    lefts = [
        _box(1, 0, 5, 2),          # bridges the gap — not covered_by
        _box(0, 0, 2, 2),          # equals one part
        _line([(2, 1), (4, 1)]),   # gap bridge line, endpoints on parts
        _box(2, 0, 4, 2),          # fills exactly the gap (touches both)
        _box(-1, -1, 7, 3),        # contains both parts
    ]
    _check_batch(lefts, right)


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_fuzz_group_equals_scalar(seed):
    rng = np.random.default_rng(seed)
    for _round in range(8):
        right = _rand_poly(rng)
        lefts = [_rand_left(rng) for _ in range(24)]
        # salt with exact copies / translates of the right polygon
        lefts.append(right)
        _check_batch(lefts, right)


def test_multipolygon_lefts():
    right = _box(0, 0, 4, 4)
    mp = Geometry(MULTIPOLYGON, parts=[_box(1, 1, 2, 2), _box(5, 5, 6, 6)])
    mp_in = Geometry(MULTIPOLYGON, parts=[_box(1, 1, 2, 2), _box(3, 3, 3.5, 3.5)])
    _check_batch([mp, mp_in], right)


def test_zero_area_right_part_has_empty_interior():
    """Invalid (zero-area) polygon parts: reference semantics are
    undefined; the group path's defined behavior is interior = EMPTY, so
    a boundary-only contact reads as touches and never as overlap. The
    verified-interior rep-point guard is what enforces this."""
    deg = _poly([(0, 0), (2, 0), (4, 0)])      # collinear, zero area
    box = _box(0, 0, 4, 4)                      # deg lies on its bottom edge
    crossed = _box(1, -1, 3, 1)                 # deg transits its interior
    away = _box(6, 6, 7, 7)
    # int(deg) = ∅, so the DE-9IM II cell is F against EVERYTHING: any
    # nonempty intersection — even deg transiting crossed's interior —
    # reads as touches, and overlaps is impossible
    got_t = group_predicate("touches", [box, crossed, away], deg)
    assert got_t.tolist() == [True, True, False]
    got_i = group_predicate("intersects", [box, crossed, away], deg)
    assert got_i.tolist() == [True, True, False]
    got_o = group_predicate("overlaps", [box, crossed, away], deg)
    assert got_o.tolist() == [False, False, False]


def test_lineal_right_runs_scalar_kernel_per_left():
    right = _line([(0, 0), (4, 4), (6, 0)])
    lefts = [
        _point(2, 2),                # on the line's interior
        _point(0, 0),                # on an endpoint (boundary)
        _point(1, 3),                # off the line
        _line([(0, 4), (4, 0)]),     # proper crossing
        _line([(4, 4), (5, 6)]),     # shares the bend vertex only
        _line([(1, 1), (3, 3)]),     # collinear, inside the line
        _box(1, 0, 3, 2),            # line crosses the box
        _box(4, 4, 5, 5),            # corner on the bend vertex
        _box(-1, -1, 7, 5),          # contains the whole line
        _diamond(6, 0, 1),           # endpoint inside the diamond
        None,
    ]
    _check_batch(lefts, right)


def test_point_right_runs_scalar_kernel_per_left():
    right = _point(2, 2)
    lefts = [
        _point(2, 2),                # equal
        _point(3, 3),                # elsewhere
        _line([(0, 0), (4, 4)]),     # point on line interior
        _line([(2, 2), (4, 0)]),     # point on line endpoint
        _box(0, 0, 4, 4),            # point in polygon interior
        _box(2, 0, 4, 4),            # point on polygon edge
        _box(2, 2, 3, 3),            # point on polygon corner
        _box(5, 5, 6, 6),            # far
    ]
    _check_batch(lefts, right)


def test_geometrycollection_left_runs_scalar_kernel():
    from shapely_spark.geo.geom import geometrycollection

    right = _box(0, 0, 4, 4)
    lefts = [
        geometrycollection([_point(1, 1), _box(2, 2, 3, 3)]),    # inside
        geometrycollection([_point(5, 5), _box(2, 2, 3, 3)]),    # part outside
        geometrycollection([_point(4, 2)]),                      # on edge
        geometrycollection([_line([(-1, 2), (5, 2)])]),          # crosses
        _box(1, 1, 2, 2),            # ordinary left in the same batch
    ]
    _check_batch(lefts, right)


def test_unknown_predicate_raises():
    with pytest.raises(ValueError, match="disjoint"):
        group_predicate("disjoint", [_box(0, 0, 1, 1)], _box(0, 0, 2, 2))
    with pytest.raises(ValueError, match="nope"):
        group_predicate("nope", [_point(0, 0)], _line([(0, 0), (1, 1)]))


# ---------------------------------------------------------------------------
# pair_predicate: many rights per call

EMPTY_WKTS = [
    "POINT EMPTY", "LINESTRING EMPTY", "POLYGON EMPTY", "MULTIPOINT EMPTY",
    "MULTILINESTRING EMPTY", "MULTIPOLYGON EMPTY", "GEOMETRYCOLLECTION EMPTY",
]

# 19 geometries whose pairs meet in every way the predicates tell apart:
# equal, nested, overlapping, edge-touching, crossing and far, with a hole,
# multi-part and mixed-collection members and four EMPTYs
FIXTURE_WKTS = [
    "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))",
    "POLYGON ((4 4, 0 4, 0 0, 4 0, 4 4))",
    "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (3 3, 7 3, 7 7, 3 7, 3 3))",
    "POLYGON ((2 2, 6 2, 6 6, 2 6, 2 2))",
    "POLYGON ((4 0, 8 0, 8 4, 4 4, 4 0))",
    "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((2 2, 3 2, 3 3, 2 3, 2 2)))",
    "POINT (1 1)",
    "POINT (4 2)",
    "POINT (5 5)",
    "LINESTRING (-1 2, 5 2)",
    "LINESTRING (1 1, 3 3)",
    "LINESTRING (4 0, 4 4)",
    "MULTIPOINT ((1 1), (6 6))",
    "MULTILINESTRING ((0 0, 2 2), (5 5, 6 7))",
    "GEOMETRYCOLLECTION (POLYGON ((5 5, 6 5, 6 6, 5 6, 5 5)), LINESTRING (0 0, 3 1))",
    "POLYGON EMPTY",
    "POINT EMPTY",
    "LINESTRING EMPTY",
    "GEOMETRYCOLLECTION EMPTY",
]


@st.composite
def pair_geoms(draw):
    """The predicate zoo (tests.test_predicate_consistency.geoms: point,
    segment, polyline, box, holed box, n-gon, multipoint, multiline,
    multipolygon, rotated n-gon, corner-touching multipolygon) plus mixed
    GeometryCollections, an EMPTY of each type and a holed diamond whose
    triangular hole touches the shell at one node through ulp-noisy fp
    vertices."""
    kind = draw(st.sampled_from(
        ["zoo", "zoo", "zoo", "zoo", "gc", "empty", "node_hole"]))
    if kind == "zoo":
        return draw(pr.geoms())
    if kind == "empty":
        return from_wkt(draw(st.sampled_from(EMPTY_WKTS)))
    if kind == "gc":
        return geometrycollection(draw(st.lists(pr.geoms(), min_size=1, max_size=2)))
    x, y = draw(pr.coord), draw(pr.coord)
    return _node_touching_hole(x, y)


def _node_touching_hole(x, y):
    shell = regular_ngon(x - 0.5, y - 1, 2.5, 4).rings[0]
    hole = regular_ngon(x, y, 1, 3).rings[0]
    return Geometry(POLYGON, rings=[shell, hole[::-1]])


def _check_pairs(lefts, rights):
    """Every (left, right) pair, shuffled into ONE pair_predicate call per
    predicate, equals the scalar kernel, and equals the same pair
    evaluated alone: no answer depends on the batch it rides in."""
    li, ri = (a.ravel() for a in np.meshgrid(
        np.arange(len(lefts)), np.arange(len(rights)), indexing="ij"))
    order = np.random.default_rng(len(lefts) * 31 + len(rights)).permutation(len(li))
    li, ri = li[order], ri[order]
    for pred in PREDICATES:
        fn = getattr(K, pred)
        got = pair_predicate(pred, lefts, rights, li, ri)
        want = np.array([lefts[i] is not None and rights[j] is not None
                         and bool(fn(lefts[i], rights[j])) for i, j in zip(li, ri)],
                        dtype=bool)
        alone = np.array([pair_predicate(pred, [lefts[i]], [rights[j]], [0], [0])[0]
                          for i, j in zip(li, ri)], dtype=bool)
        mism = np.flatnonzero((got != want) | (alone != want))
        assert not len(mism), (pred, [(int(li[k]), int(ri[k]), bool(got[k]),
                                       bool(alone[k]), bool(want[k])) for k in mism])


def _rand_right(rng):
    kind = rng.integers(0, 7)
    cx, cy = rng.uniform(-4, 4, 2)
    if kind == 0:
        return _point(cx, cy)
    if kind == 1:
        return _line([(cx, cy), (cx + 3, cy + 1), (cx + 1, cy + 4)])
    if kind == 2:
        return Geometry(MULTIPOLYGON, parts=[_box(cx, cy, cx + 1, cy + 1),
                                             _box(cx + 1, cy + 1, cx + 3, cy + 2)])
    if kind == 3:
        return geometrycollection([_box(cx, cy, cx + 2, cy + 2),
                                   _line([(cx + 3, cy), (cx + 5, cy + 1)])])
    if kind == 4:
        return _node_touching_hole(round(cx * 2) / 2, round(cy * 2) / 2)
    return _rand_poly(rng)


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_pair_batches_equal_scalar_and_alone(seed):
    """Batches mixing many rights of every type — areal, lineal, puntal,
    holed, multi, GeometryCollection and node-touching holes — against
    point, line, polygon and holed lefts, plus None on both sides."""
    rng = np.random.default_rng(seed)
    lefts = [_rand_left(rng) for _ in range(9)] + [None]
    rights = [_rand_right(rng) for _ in range(9)] + [None]
    lefts.append(rights[0])
    _check_pairs(lefts, rights)


def test_equals_of_two_empties_is_true():
    """kernels.equals holds for two EMPTYs of any types; pair_predicate
    answers the same, and every other predicate stays False on them."""
    empties = [from_wkt(w) for w in EMPTY_WKTS]
    n = len(empties)
    li, ri = np.repeat(np.arange(n), n), np.tile(np.arange(n), n)
    assert pair_predicate("equals", empties, empties, li, ri).all()
    assert all(K.equals(a, b) for a in empties for b in empties)
    _check_pairs(empties + [None], empties + [_box(0, 0, 1, 1), None])


def test_fixture_pairs_equal_scalar():
    geoms = [from_wkt(w) for w in FIXTURE_WKTS]
    _check_pairs(geoms, geoms)


@settings(max_examples=25, deadline=None)
@given(st.lists(pair_geoms(), min_size=1, max_size=4),
       st.lists(pair_geoms(), min_size=1, max_size=4))
def test_pair_predicate_fuzz(lefts, rights):
    _check_pairs(lefts, rights)


def test_pair_predicate_canonicalises_each_collection_once(monkeypatch):
    """Pairs with a GeometryCollection side run the scalar kernel, which
    relates the collection as its canonical form: one pair_predicate call
    builds that form once per distinct collection, not once per pair, and
    the answers stay the scalar ones."""
    import shapely_spark.geo.overlay as ov

    built = []
    canonical = ov._canonical_dims
    monkeypatch.setattr(ov, "_canonical_dims", lambda g: built.append(g) or canonical(g))
    gc = geometrycollection([_box(0, 0, 2, 2), _line([(3, 0), (5, 1)])])
    rights = [_point(1, 1), _point(4, 0.5), _box(0.5, 0.5, 1, 1), _box(5, 5, 6, 6)]
    for pred in ("covers", "touches"):
        built.clear()
        got = pair_predicate(pred, [gc], rights, np.zeros(4, dtype=np.int64), np.arange(4))
        assert len(built) == 1, pred
        assert got.tolist() == [bool(getattr(K, pred)(gc, r)) for r in rights], pred


def test_areal_lineal_pairs_reach_no_scalar_kernel(monkeypatch):
    """line_crosses-shaped pairs (areal left, lineal right) and their
    converse shapes ride the batched path by role swap: with every scalar
    predicate kernel disabled the answers still equal the scalar ones."""
    rng = np.random.default_rng(5)
    lefts = [_box(0, 0, 4, 4), _diamond(2, 2, 2), from_wkt(
        "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (3 3, 7 3, 7 7, 3 7, 3 3))")]
    lefts += [_rand_poly(rng) for _ in range(8)] + [_point(0, 0), _line([(-5, 0), (5, 1)])]
    rights = [_line([(1, 1), (3, 2)]),    # inside the box
              _line([(0, 2), (2, 3)]),    # inside, one end on its boundary
              _line([(4, 0), (4, 4)]),    # along the box's right edge
              _line([(-1, 2), (5, 2)]),   # through the box
              _point(2, 2), _point(4, 2), _box(-1, -1, 1, 1)]
    rights += [_line([(x - 6, y), (x + 6, y + 0.5)]) for x, y in rng.uniform(-4, 4, (6, 2))]
    li, ri = (a.ravel() for a in np.meshgrid(
        np.arange(len(lefts)), np.arange(len(rights)), indexing="ij"))
    want = {p: np.array([bool(getattr(K, p)(lefts[i], rights[j])) for i, j in zip(li, ri)])
            for p in PREDICATES}
    # the pairs with no areal side still need the scalar kernel
    scalar = np.array([K._dim(lefts[i]) < 2 and K._dim(rights[j]) < 2
                       for i, j in zip(li, ri)])
    for p in PREDICATES:
        monkeypatch.setattr(K, p, lambda a, b, p=p: pytest.fail(f"scalar {p}"))
    for p in PREDICATES:
        keep = ~scalar if p != "intersects" else np.ones(len(li), dtype=bool)
        got = pair_predicate(p, lefts, rights, li[keep], ri[keep])
        assert (got == want[p][keep]).all(), p
    assert want["crosses"].any() and want["touches"].any()
    assert (want["contains"] & ~want["contains_properly"]).any()
