"""Boolean overlay kernel + Spark dissolve/ST_ surface.

Golden expectations mirror the reference's set-operation semantics
(shapely/set_operations.py; shapely/tests/test_set_operations.py
parameterizes ops over the fixture zoo — here pinned with closed-form
box/L-shape cases where the exact result is known)."""

import numpy as np
import pytest

from shapely_spark.geo import from_wkt
from shapely_spark.geo import constructive as C
from shapely_spark.geo import kernels as K
from shapely_spark.geo import overlay as O
from shapely_spark.geo.geom import MULTILINESTRING
from shapely_spark.geo.geom import MULTIPOLYGON, POLYGON, Geometry, box, linestring, point, polygon


def A(g):
    return K.area(g)


class TestOverlayKernel:
    def test_partial_overlap(self):
        a, b = box(0, 0, 2, 2), box(1, 1, 3, 3)
        assert A(O.intersection(a, b)) == pytest.approx(1.0)
        assert A(O.union(a, b)) == pytest.approx(7.0)
        assert A(O.difference(a, b)) == pytest.approx(3.0)
        assert A(O.symmetric_difference(a, b)) == pytest.approx(6.0)

    def test_identical(self):
        a = box(0, 0, 2, 2)
        assert A(O.intersection(a, a)) == pytest.approx(4.0)
        assert A(O.union(a, a)) == pytest.approx(4.0)
        assert O.difference(a, a).is_empty
        assert O.symmetric_difference(a, a).is_empty

    def test_symmetric_difference_is_one_selection(self):
        """Edge-adjacent boxes: their shared edge bounds no part of the
        symmetric difference, so the result is ONE polygon (GEOS), not two
        parts sharing an edge; a nested box becomes a hole."""
        sd = O.symmetric_difference(box(0, 0, 1, 1), box(1, 0, 2, 1))
        assert sd.type_id == POLYGON and K.is_valid(sd)
        assert A(sd) == pytest.approx(2.0)
        ring = O.symmetric_difference(box(0, 0, 4, 4), box(1, 1, 2, 2))
        assert ring.type_id == POLYGON and len(ring.rings) == 2
        assert A(ring) == pytest.approx(15.0)
        lines = O.symmetric_difference(linestring([(0, 0), (3, 0)]),
                                       linestring([(1, 0), (5, 0)]))
        assert K.length(lines) == pytest.approx(3.0)

    def test_disjoint(self):
        a, c = box(0, 0, 2, 2), box(10, 10, 11, 11)
        assert O.intersection(a, c).is_empty
        u = O.union(a, c)
        assert A(u) == pytest.approx(5.0)
        assert u.type_id == MULTIPOLYGON
        assert A(O.difference(a, c)) == pytest.approx(4.0)

    def test_contained(self):
        big, small = box(0, 0, 4, 4), box(1, 1, 2, 2)
        assert A(O.intersection(big, small)) == pytest.approx(1.0)
        assert A(O.union(big, small)) == pytest.approx(16.0)
        d = O.difference(big, small)
        assert A(d) == pytest.approx(15.0)
        assert len(d.rings) == 2  # shell + hole

    def test_hole_roundtrip(self):
        holed = O.difference(box(0, 0, 4, 4), box(1, 1, 2, 2))
        back = O.union(holed, box(1, 1, 2, 2))
        assert A(back) == pytest.approx(16.0)
        assert len(back.rings) == 1

    def test_holed_intersection_excludes_hole(self):
        holed = O.difference(box(0, 0, 4, 4), box(1, 1, 2, 2))
        i = O.intersection(holed, box(0.5, 0.5, 2.5, 2.5))
        assert A(i) == pytest.approx(3.0)  # 2x2 window minus 1x1 hole

    def test_concave(self):
        L = polygon([(0, 0), (3, 0), (3, 1), (1, 1), (1, 3), (0, 3)])
        assert A(O.intersection(L, box(0.5, 0.5, 2.5, 2.5))) == pytest.approx(1.75)

    def test_edge_adjacent_union_merges(self):
        u = O.union(box(0, 0, 2, 2), box(2, 0, 4, 2))
        assert A(u) == pytest.approx(8.0)
        assert u.type_id == POLYGON  # merged into one rectangle

    def test_corner_touch_union_is_multipolygon(self):
        u = O.union(box(0, 0, 2, 2), box(2, 2, 3, 3))
        assert A(u) == pytest.approx(5.0)
        assert u.type_id == MULTIPOLYGON

    def test_island_in_lake(self):
        lake = O.difference(box(0, 0, 10, 10), box(2, 2, 8, 8))
        w = O.union(lake, box(4, 4, 6, 6))
        assert A(w) == pytest.approx(68.0)

    def test_multipolygon_input(self):
        mp = O.union(box(0, 0, 1, 1), box(5, 0, 6, 1))  # 2 parts
        i = O.intersection(mp, box(0.5, 0, 5.5, 1))
        assert A(i) == pytest.approx(1.0)  # 0.5 from each part

    def test_point_polygon(self):
        a = box(0, 0, 2, 2)
        assert not O.intersection(point(1, 1), a).is_empty
        assert O.intersection(point(5, 5), a).is_empty
        assert O.difference(point(5, 5), a).coords[0, 0] == 5

    def test_empty_and_none(self):
        from shapely_spark.geo.geom import empty

        a = box(0, 0, 1, 1)
        assert O.intersection(a, empty(POLYGON)).is_empty
        assert A(O.union(a, empty(POLYGON))) == pytest.approx(1.0)
        assert O.union(None, a) is a
        assert O.intersection(None, a) is None

    def test_union_all_chain(self):
        parts = [box(i, 0, i + 1.5, 1) for i in range(5)]
        assert A(O.union_all(parts)) == pytest.approx(5.5)

    def test_union_all_grid_with_overlap(self):
        # 3x3 grid of 2x2 boxes with 1.0 overlap: spans 0..4 → area 16
        parts = [box(i, j, i + 2, j + 2) for i in range(3) for j in range(3)]
        assert A(O.union_all(parts)) == pytest.approx(16.0)

    def test_triangle_box(self):
        tri = polygon([(0, 0), (4, 0), (0, 4)])
        i = O.intersection(tri, box(0, 0, 2, 2))
        # square minus the corner cut by the hypotenuse x+y=4: corner above
        # line only at (2,2): area = 4 (whole box inside triangle? points
        # (2,2): x+y=4 on boundary) → box entirely within closed triangle
        assert A(i) == pytest.approx(4.0)
        i2 = O.intersection(tri, box(1, 1, 3, 3))
        # box [1,3]² clipped by x+y<=4: area = 4 - 2 = 2
        assert A(i2) == pytest.approx(2.0)

    def test_union_shared_vertex_near_parallel_edges(self):
        """Two pentagons sharing the vertex (0.5, 0), their edges into it
        nearly parallel: the line-line solve of those two edges lands
        ~1e-8 short of the shared vertex, so the noding split only one
        side there and union(b, a) came back POLYGON EMPTY."""
        a = from_wkt("POLYGON ((0.5 0, 0.1545085 0.47552826, -0.4045085 0.29389263, "
                     "-0.4045085 -0.29389263, 0.1545085 -0.47552826, 0.5 0))")
        b = from_wkt("POLYGON ((0.5 0, -0.53647451 1.42658477, -2.21352549 0.88167788, "
                     "-2.21352549 -0.88167788, -0.53647451 -1.42658477, 0.5 0))")
        want = A(a) + A(b) - A(O.intersection(a, b))
        assert A(O.union(a, b)) == pytest.approx(want, abs=1e-9)
        assert A(O.union(b, a)) == pytest.approx(want, abs=1e-9)
        assert A(O.union(b, a)) == pytest.approx(A(O.union(a, b)), abs=1e-9)


class TestOverlaySpark:
    def test_st_overlay_functions(self, spark):
        from shapely_spark.geo.wkb import from_wkb, to_wkb
        from shapely_spark.spark.geometry_cols import get_functions

        fns = get_functions()
        import pandas as pd
        from pyspark.sql import functions as F

        rows = pd.DataFrame(
            {
                "a": [to_wkb(box(0, 0, 2, 2))],
                "b": [to_wkb(box(1, 1, 3, 3))],
            }
        )
        df = spark.createDataFrame(rows, "a binary, b binary")
        out = df.select(
            fns["st_area"](fns["st_intersection"]("a", "b")).alias("ia"),
            fns["st_area"](fns["st_union"]("a", "b")).alias("ua"),
            fns["st_area"](fns["st_difference"]("a", "b")).alias("da"),
            fns["st_area"](fns["st_symdifference"]("a", "b")).alias("xa"),
        ).collect()[0]
        assert out.ia == pytest.approx(1.0)
        assert out.ua == pytest.approx(7.0)
        assert out.da == pytest.approx(3.0)
        assert out.xa == pytest.approx(6.0)

    def test_dissolve(self, spark):
        import pandas as pd

        from shapely_spark.geo.wkb import from_wkb, to_wkb
        from shapely_spark.spark.overlay_ops import dissolve, dissolve_two_level

        # key 0: overlapping chain (area 5.5); key 1: disjoint pair (area 2)
        rows = [(0, to_wkb(box(i, 0, i + 1.5, 1))) for i in range(5)]
        rows += [(1, to_wkb(box(0, 0, 1, 1))), (1, to_wkb(box(5, 0, 6, 1)))]
        df = spark.createDataFrame(pd.DataFrame(rows, columns=["k", "wkb"]),
                                   "k bigint, wkb binary")
        for op in (dissolve, dissolve_two_level):
            got = {r.k: (K.area(from_wkb(bytes(r.wkb))), r.n_parts)
                   for r in op(df, "k").collect()}
            assert got[0][0] == pytest.approx(5.5)
            assert got[1][0] == pytest.approx(2.0)
            assert got[0][1] == 5
            assert got[1][1] == 2
        # the final stage reads the partial unions' own "wkb" column
        renamed = df.withColumnRenamed("wkb", "g")
        got = {r.k: r.n_parts for r in dissolve_two_level(renamed, "k", "g").collect()}
        assert got == {0: 5, 1: 2}

    def test_point_on_surface_kernel(self):
        from shapely_spark.geo.constructive import point_on_surface

        holed = O.difference(box(0, 0, 10, 10), box(3, 0.5, 7, 9.5))
        p = point_on_surface(holed)
        assert K.contains(holed, p)


class TestPlanarFaces:
    def test_polygonize_grid(self):
        from shapely_spark.geo.geom import linestring

        lines = [linestring([(i, 0), (i, 2)]) for i in range(3)]
        lines += [linestring([(0, j), (2, j)]) for j in range(3)]
        fc = O.polygonize(lines)
        assert len(fc.parts) == 4
        assert sorted(round(A(p), 9) for p in fc.parts) == [1.0] * 4

    def test_polygonize_ignores_dangles(self):
        from shapely_spark.geo.geom import linestring

        lines = [linestring([(0, 0), (1, 0), (1, 1), (0, 1), (0, 0)]),
                 linestring([(5, 5), (6, 6)])]
        fc = O.polygonize(lines)
        assert len(fc.parts) == 1
        assert A(fc.parts[0]) == pytest.approx(1.0)

    def test_build_area_holed(self):
        from shapely_spark.geo.geom import geometrycollection

        ba = O.build_area(geometrycollection([box(0, 0, 4, 4), box(1, 1, 2, 2)]))
        assert A(ba) == pytest.approx(15.0)
        assert len(ba.rings) == 2

    def test_make_valid_bowtie(self):
        bow = Geometry(
            POLYGON,
            rings=[np.array([[0, 0], [2, 2], [2, 0], [0, 2], [0, 0]], dtype=float)],
        )
        assert not K.is_valid(bow)
        mv = O.make_valid(bow)
        assert A(mv) == pytest.approx(2.0)
        assert mv.type_id == MULTIPOLYGON

    def test_make_valid_passthrough(self):
        g = box(0, 0, 1, 1)
        assert O.make_valid(g) is g


class TestGeneralBuffer:
    QS = 8
    N = 32
    CAP = N * np.sin(2 * np.pi / N) / 2  # unit n-gon area ≈ π

    def test_segment_capsule_closed_form(self):
        from shapely_spark.geo.constructive import buffer
        from shapely_spark.geo.geom import linestring

        b = buffer(linestring([(0, 0), (10, 0)]), 2.0, self.QS)
        assert A(b) == pytest.approx(2 * 2 * 10 + self.CAP * 4, abs=1e-6)

    def test_polyline_corner_overlap(self):
        from shapely_spark.geo.constructive import buffer
        from shapely_spark.geo.geom import linestring

        b = buffer(linestring([(0, 0), (10, 0), (10, 10)]), 1.0, self.QS)
        assert 2 * 10 * 2 < A(b) < (2 * 10 + self.CAP) * 2

    def test_concave_polygon_positive(self):
        from shapely_spark.geo.constructive import buffer

        L = polygon([(0, 0), (6, 0), (6, 2), (2, 2), (2, 6), (0, 6)])
        assert A(buffer(L, 0.5, self.QS)) > A(L) + 0.5 * 0.8 * K.length(L)

    def test_negative_box(self):
        from shapely_spark.geo.constructive import buffer

        assert A(buffer(box(0, 0, 4, 2), -0.5, self.QS)) == pytest.approx(3.0, abs=0.02)
        assert buffer(box(0, 0, 1, 1), -0.6, self.QS).is_empty

    def test_negative_holed_rounds_hole_corners(self):
        from shapely_spark.geo.constructive import buffer

        holed = Geometry(
            POLYGON,
            rings=[box(0, 0, 10, 10).rings[0], box(4, 4, 6, 6).rings[0][::-1]],
        )
        b = buffer(holed, -0.5, self.QS)
        # eroded shell: exact 9×9; dilated hole: 3×3 with radius-.5 rounded
        # corners → 9 − (4−π)/4
        expect = 81.0 - (9.0 - (4.0 - np.pi) * 0.25)
        assert A(b) == pytest.approx(expect, abs=0.02)


def test_polygonize_full_classifies_leftovers():
    from shapely_spark.geo import overlay as O
    from shapely_spark.geo.geom import linestring

    lines = [
        linestring([(0, 0), (1, 0), (1, 1), (0, 1), (0, 0)]),
        linestring([(1, 0.5), (2, 0.5)]),
        linestring([(10, 10), (11, 11)]),
    ]
    faces, cuts, dangles, invalid = O.polygonize_full(lines)
    assert len(faces.parts) == 1
    assert len(dangles.parts) == 2
    assert len(invalid.parts) == 0


class TestOverlayProperties:
    """Measure-theoretic identities that must hold for ANY pair:
       area(A∩B) + area(A∖B) = area(A)
       area(A∪B) = area(A) + area(B) − area(A∩B)
       area(A⊕B) = area(A∪B) − area(A∩B)
    Fuzzed over random convex/star polygons (seeded — deterministic)."""

    @staticmethod
    def _rand_poly(rng):
        n = rng.randint(3, 12)
        cx, cy = rng.uniform(-5, 5, 2)
        ang = np.sort(rng.uniform(0, 2 * np.pi, n))
        rad = rng.uniform(0.5, 4.0, n)  # star-shaped (possibly concave)
        ring = np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])
        return Geometry(POLYGON, rings=[np.vstack([ring, ring[:1]])])

    def test_area_identities_fuzz(self):
        rng = np.random.RandomState(1234)
        checked = 0
        for _ in range(60):
            a, b = self._rand_poly(rng), self._rand_poly(rng)
            aa, ab = A(a), A(b)
            inter = A(O.intersection(a, b))
            diff = A(O.difference(a, b))
            union = A(O.union(a, b))
            xor = A(O.symmetric_difference(a, b))
            scale = max(aa, ab, 1.0)
            assert inter + diff == pytest.approx(aa, abs=1e-6 * scale)
            assert union == pytest.approx(aa + ab - inter, abs=1e-6 * scale)
            assert xor == pytest.approx(union - inter, abs=1e-6 * scale)
            checked += 1
        assert checked == 60

    def test_union_contains_both_fuzz(self):
        rng = np.random.RandomState(99)
        for _ in range(20):
            a, b = self._rand_poly(rng), self._rand_poly(rng)
            u = O.union(a, b)
            # every vertex of both inputs is covered by the union
            for g in (a, b):
                c = g.all_coords()[:, :2]
                cls = K.points_in_rings_class(
                    c[:, 0], c[:, 1], u.rings if u.type_id == POLYGON
                    else [r for p in u.parts for r in p.rings])
                assert (cls >= K.BOUNDARY).all()


class TestRaggedLayout:
    def test_roundtrip_all_types(self, spark):
        import pandas as pd

        from shapely_spark.geo.geom import (
            linestring,
            multilinestring,
            multipoint,
            multipolygon,
            point,
        )
        from shapely_spark.geo.wkb import from_wkb, to_wkb
        from shapely_spark.spark.ragged import ragged_to_wkb, wkb_to_ragged

        zoo = [
            point(1.5, 2.5),
            linestring([(0, 0), (1, 1), (2, 0)]),
            polygon([(0, 0), (4, 0), (4, 4), (0, 4)],
                    holes=[[(1, 1), (2, 1), (2, 2), (1, 2)]]),
            multipoint([(0, 0), (1, 1), (2, 2)]),
            multilinestring([[(0, 0), (1, 1)], [(2, 2), (3, 3), (4, 2)]]),
            multipolygon([box(0, 0, 1, 1), box(5, 5, 7, 7)]),
        ]
        df = spark.createDataFrame(
            pd.DataFrame({"gid": range(len(zoo)), "wkb": [to_wkb(g) for g in zoo]}),
            "gid long, wkb binary",
        )
        ragged = wkb_to_ragged(df, "gid")
        back = {r.gid: from_wkb(bytes(r.wkb))
                for r in ragged_to_wkb(ragged, "gid").collect()}
        for i, g in enumerate(zoo):
            g2 = back[i]
            assert g2.type_id == g.type_id
            assert np.allclose(g2.all_coords()[:, :2], g.all_coords()[:, :2])
            assert K.area(g2) == pytest.approx(K.area(g))


class TestRingNesting:
    """Containment-tree goldens (GEOS polygonizer/BuildArea semantics) for
    nested non-crossing rings — regression for the filled-face bug."""

    def test_polygonize_concentric_squares_nest_as_hole(self):
        from shapely_spark.geo import from_wkt, polygonize
        from shapely_spark.geo import kernels as K

        outer = from_wkt("LINESTRING (0 0, 10 0, 10 10, 0 10, 0 0)")
        inner = from_wkt("LINESTRING (3 3, 7 3, 7 7, 3 7, 3 3)")
        faces = polygonize([outer, inner]).parts
        assert sorted(round(K.area(p), 6) for p in faces) == [16.0, 84.0]
        annulus = max(faces, key=K.area)
        assert len(annulus.rings) == 2  # shell + hole, not a filled face

    def test_build_area_shell_plus_hole(self):
        from shapely_spark.geo import from_wkt, build_area
        from shapely_spark.geo import kernels as K

        mls = from_wkt(
            "MULTILINESTRING ((0 0, 10 0, 10 10, 0 10, 0 0),"
            " (3 3, 7 3, 7 7, 3 7, 3 3))"
        )
        out = build_area(mls)
        assert round(K.area(out), 6) == 84.0
        assert len(out.rings) == 2

    def test_build_area_three_concentric_even_odd(self):
        from shapely_spark.geo import from_wkt, build_area
        from shapely_spark.geo import kernels as K

        mls = from_wkt(
            "MULTILINESTRING ((0 0, 10 0, 10 10, 0 10, 0 0),"
            " (3 3, 7 3, 7 7, 3 7, 3 3), (4 4, 6 4, 6 6, 4 6, 4 4))"
        )
        # even-odd: annulus (depth 0) + filled core (depth 2) = 84 + 4
        assert round(K.area(build_area(mls)), 6) == 88.0

    def test_build_area_siblings_single_parent(self):
        from shapely_spark.geo import from_wkt, build_area
        from shapely_spark.geo import kernels as K

        mls = from_wkt(
            "MULTILINESTRING ((0 0, 10 0, 10 10, 0 10, 0 0),"
            " (1 1, 3 1, 3 3, 1 3, 1 1), (6 6, 8 6, 8 8, 6 8, 6 6))"
        )
        out = build_area(mls)
        assert round(K.area(out), 6) == 92.0  # 100 - 4 - 4
        assert len(out.rings) == 3

    def test_build_area_dissolves_edge_groups_only(self):
        # two squares share the edge x=1; the third meets them at (2, 1)
        # only: the first two dissolve, the third stays its own part
        mp = from_wkt("MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)),"
                      " ((1 0, 2 0, 2 1, 1 1, 1 0)),"
                      " ((2 1, 3 1, 3 2, 2 2, 2 1)))")
        out = O.build_area(mp)
        assert out.type_id == MULTIPOLYGON
        assert sorted(round(K.area(p), 12) for p in out.parts) == [1.0, 2.0]
        assert abs(K.area(out) - 3.0) < 1e-12
        assert K.is_valid(out)

    def test_make_valid_outline_not_hung_on_own_face(self):
        # a split node a few ulps inside the 7-gon's face read INTERIOR and
        # hung the pair's CW outline on that face as a hole (area 1.0949)
        from shapely_spark.geo.geom import multipolygon, regular_ngon

        a = regular_ngon(2.75538103607466, 1.9644398452171847,
                         0.6322605218632715, 7, theta0=0.29962724046112654)
        b = regular_ngon(1.3600121744118998, 1.9369023063599373,
                         1.802555561716669, 3, theta0=0.33039174636170277)
        mv = O.make_valid(multipolygon([a, b]))
        assert K.area(mv) == pytest.approx(K.area(O.union(a, b)), rel=1e-12)
        assert K.area(mv) == pytest.approx(4.9235763916, rel=1e-9)

    def test_polygonize_ngon_pairs_no_negative_face(self):
        from shapely_spark.geo.geom import multipolygon, regular_ngon

        rng = np.random.default_rng(0)
        for _ in range(40):
            g = [regular_ngon(*rng.uniform(0, 3, 2), rng.uniform(0.3, 2.0),
                              int(rng.integers(3, 9)), theta0=rng.uniform(0, 1))
                 for _ in range(2)]
            faces = O.polygonize([multipolygon(g)]).parts or []
            assert all(K.area(f) > 0 for f in faces), [p.wkt for p in g]


class TestLineOverlay:
    """Line×line / line×polygon / mixed-dim set ops (reference:
    shapely/set_operations.py all-types matrix, tests/test_set_operations.py)."""

    def _w(self, s):
        from shapely_spark.geo import from_wkt
        return from_wkt(s)

    def test_line_line_crossing_point(self):
        from shapely_spark.geo import to_wkt
        from shapely_spark.geo.overlay import intersection
        out = intersection(self._w("LINESTRING (0 0, 2 2)"), self._w("LINESTRING (0 2, 2 0)"))
        assert to_wkt(out) == "POINT (1 1)"

    def test_line_line_collinear_overlap(self):
        from shapely_spark.geo import kernels as K
        from shapely_spark.geo.overlay import intersection
        out = intersection(self._w("LINESTRING (0 0, 3 0)"), self._w("LINESTRING (1 0, 5 0)"))
        assert abs(K.length(out) - 2.0) < 1e-9

    def test_line_line_end_touch_is_point(self):
        from shapely_spark.geo import to_wkt
        from shapely_spark.geo.overlay import intersection
        out = intersection(self._w("LINESTRING (0 0, 1 0)"), self._w("LINESTRING (1 0, 2 0)"))
        assert to_wkt(out) == "POINT (1 0)"

    def test_line_polygon_clip_and_difference(self):
        from shapely_spark.geo import kernels as K
        from shapely_spark.geo.overlay import difference, intersection
        line = self._w("LINESTRING (-1 1, 3 1)")
        poly = self._w("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))")
        assert abs(K.length(intersection(line, poly)) - 2.0) < 1e-9
        assert abs(K.length(difference(line, poly)) - 2.0) < 1e-9
        # polygon minus line: area unchanged
        assert abs(K.area(difference(poly, line)) - 4.0) < 1e-9

    def test_line_union_and_symdiff(self):
        from shapely_spark.geo import kernels as K
        from shapely_spark.geo.overlay import symmetric_difference, union
        a, b = self._w("LINESTRING (0 0, 2 0)"), self._w("LINESTRING (1 0, 3 0)")
        assert abs(K.length(union(a, b)) - 3.0) < 1e-9
        assert abs(K.length(symmetric_difference(a, b)) - 2.0) < 1e-9

    def test_polygon_edge_touch_degenerates_to_line(self):
        from shapely_spark.geo import kernels as K, to_wkt
        from shapely_spark.geo.overlay import intersection
        a = self._w("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")
        b = self._w("POLYGON ((1 0, 2 0, 2 1, 1 1, 1 0))")
        out = intersection(a, b)
        assert abs(K.length(out) - 1.0) < 1e-9 and K.area(out) == 0.0

    def test_polygon_corner_touch_degenerates_to_point(self):
        from shapely_spark.geo import to_wkt
        from shapely_spark.geo.overlay import intersection
        a = self._w("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")
        b = self._w("POLYGON ((1 1, 2 1, 2 2, 1 2, 1 1))")
        assert to_wkt(intersection(a, b)) == "POINT (1 1)"

    def test_point_line_combos(self):
        from shapely_spark.geo import to_wkt
        from shapely_spark.geo.overlay import difference, intersection, union
        pts = self._w("MULTIPOINT ((1 1), (5 5))")
        line = self._w("LINESTRING (0 0, 2 2)")
        assert to_wkt(intersection(pts, line)) == "POINT (1 1)"
        assert to_wkt(difference(pts, line)) == "POINT (5 5)"
        u = union(line, pts)
        assert u.type_id == 7 and len(u.parts) == 2  # collection(line, off-point)

    def test_line_polygon_touch_only_point(self):
        from shapely_spark.geo import to_wkt
        from shapely_spark.geo.overlay import intersection
        line = self._w("LINESTRING (-1 -1, 0 0)")
        poly = self._w("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))")
        assert to_wkt(intersection(line, poly)) == "POINT (0 0)"


class TestBufferStyles:
    """cap_style / join_style / mitre_limit / single_sided (reference:
    shapely/constructive.py:142-251; legacy tests/legacy/test_buffer.py
    scenarios) — closed-form area goldens."""

    def _line(self):
        from shapely_spark.geo import from_wkt
        return from_wkt("LINESTRING (0 0, 10 0)")

    def test_cap_styles_closed_form(self):
        import math
        from shapely_spark.geo import kernels as K
        from shapely_spark.geo.constructive import buffer
        line = self._line()
        assert abs(K.area(buffer(line, 1.0, cap_style="flat")) - 20.0) < 1e-9
        assert abs(K.area(buffer(line, 1.0, cap_style="square")) - 24.0) < 1e-9
        n = 32
        want_round = 20.0 + n * math.sin(2 * math.pi / n) / 2.0
        assert abs(K.area(buffer(line, 1.0, cap_style="round")) - want_round) < 1e-6

    def test_join_styles_L_shape(self):
        from shapely_spark.geo import from_wkt
        from shapely_spark.geo import kernels as K
        from shapely_spark.geo.constructive import buffer
        L = from_wkt("LINESTRING (0 0, 10 0, 10 10)")
        assert abs(K.area(buffer(L, 1.0, cap_style="flat", join_style="mitre")) - 40.0) < 1e-9
        assert abs(K.area(buffer(L, 1.0, cap_style="flat", join_style="bevel")) - 39.5) < 1e-9

    def test_mitre_limit_truncates_spike(self):
        from shapely_spark.geo import from_wkt
        from shapely_spark.geo import kernels as K
        from shapely_spark.geo.constructive import buffer
        spike = from_wkt("LINESTRING (0 0, 10 0, 0 0.5)")
        lo = K.area(buffer(spike, 0.5, cap_style="flat", join_style="mitre", mitre_limit=2.0))
        hi = K.area(buffer(spike, 0.5, cap_style="flat", join_style="mitre", mitre_limit=50.0))
        assert lo < hi

    def test_single_sided_strips(self):
        from shapely_spark.geo import kernels as K
        from shapely_spark.geo.constructive import buffer
        line = self._line()
        left = buffer(line, 1.0, single_sided=True)
        right = buffer(line, -1.0, single_sided=True)
        assert abs(K.area(left) - 10.0) < 1e-9 and K.bounds(left)[1] == 0.0
        assert abs(K.area(right) - 10.0) < 1e-9 and K.bounds(right)[3] == 0.0

    def test_polygon_join_styles(self):
        from shapely_spark.geo import from_wkt
        from shapely_spark.geo import kernels as K
        from shapely_spark.geo.constructive import buffer
        sq = from_wkt("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")
        assert abs(K.area(buffer(sq, 1.0, join_style="mitre")) - 36.0) < 1e-9
        assert abs(K.area(buffer(sq, 1.0, join_style="bevel")) - 34.0) < 1e-9

    def test_int_style_codes_match_names(self):
        from shapely_spark.geo import kernels as K
        from shapely_spark.geo.constructive import buffer
        line = self._line()
        assert K.area(buffer(line, 1.0, cap_style=2)) == K.area(buffer(line, 1.0, cap_style="flat"))
        assert K.area(buffer(line, 1.0, cap_style=3)) == K.area(buffer(line, 1.0, cap_style="square"))


class TestCoverageOps:
    """coverage_is_valid / coverage_invalid_edges / coverage_simplify
    (reference: shapely/_coverage.py:12,55,101)."""

    def _w(self, s):
        from shapely_spark.geo import from_wkt
        return from_wkt(s)

    def test_valid_edge_matched_pair(self):
        from shapely_spark.geo import coverage_is_valid
        a = self._w("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")
        b = self._w("POLYGON ((1 0, 2 0, 2 1, 1 1, 1 0))")
        assert coverage_is_valid([a, b])

    def test_overlap_and_mismatched_noding_invalid(self):
        from shapely_spark.geo import coverage_invalid_edges, coverage_is_valid
        a = self._w("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")
        c = self._w("POLYGON ((0.5 0, 1.5 0, 1.5 1, 0.5 1, 0.5 0))")
        assert not coverage_is_valid([a, c])
        edges = coverage_invalid_edges([a, c])
        assert all(not e.is_empty for e in edges)
        b2 = self._w("POLYGON ((1 0, 2 0, 2 1, 1 1, 1 0.5, 1 0))")
        assert not coverage_is_valid([a, b2])  # unmatched vertex on shared edge

    def test_corner_touch_valid(self):
        from shapely_spark.geo import coverage_is_valid
        a = self._w("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")
        d = self._w("POLYGON ((1 1, 2 1, 2 2, 1 2, 1 1))")
        assert coverage_is_valid([a, d])

    def test_simplify_preserves_topology_and_area(self):
        from shapely_spark.geo import coverage_is_valid, coverage_simplify
        from shapely_spark.geo import kernels as K
        p1 = self._w("POLYGON ((0 0, 2 0, 2 0.9, 2.05 1.0, 2 1.1, 2 2, 0 2, 0 0))")
        p2 = self._w("POLYGON ((2 0, 4 0, 4 2, 2 2, 2 1.1, 2.05 1.0, 2 0.9, 2 0))")
        s1, s2 = coverage_simplify([p1, p2], tolerance=0.2)
        assert coverage_is_valid([s1, s2])
        # shared wiggle removed identically on both sides: total area conserved
        assert abs((K.area(s1) + K.area(s2)) - (K.area(p1) + K.area(p2))) < 1e-9
        assert len(s1.rings[0]) < len(p1.rings[0])

    def test_simplify_boundary_false_keeps_outer(self):
        from shapely_spark.geo import coverage_simplify
        p1 = self._w("POLYGON ((0 0, 1 0, 2 0.1, 3 0, 4 0, 4 2, 0 2, 0 0))")
        (s1,) = coverage_simplify([p1], tolerance=0.5, simplify_boundary=False)
        assert len(s1.rings[0]) == len(p1.rings[0])  # outer boundary untouched


class TestAccessorsAndFix:
    def test_skew_golden(self):
        from shapely_spark.geo import from_wkt, to_wkt
        from shapely_spark.geo.constructive import skew
        # reference default origin is the bbox CENTER (shapely/affinity.py:204
        # via interpret_origin) — shear of a vertical segment about (0, 1)
        g = skew(from_wkt("LINESTRING (0 0, 0 2)"), xs=45.0)
        assert to_wkt(g, rounding_precision=6) == "LINESTRING (-1 0, 1 2)"
        g0 = skew(from_wkt("LINESTRING (0 0, 0 2)"), xs=45.0, origin=(0, 0))
        assert to_wkt(g0, rounding_precision=6) == "LINESTRING (0 0, 2 2)"

    def test_get_zm(self):
        import math
        from shapely_spark.geo import from_wkt, get_m, get_z
        assert get_z(from_wkt("POINT Z (1 2 3)")) == 3.0
        assert math.isnan(get_z(from_wkt("POINT (1 2)")))
        assert get_m(from_wkt("POINT ZM (1 2 3 4)")) == 4.0

    def test_from_wkb_on_invalid_fix(self):
        from shapely_spark.geo import from_wkb, from_wkt, to_wkb
        from shapely_spark.geo import kernels as K
        bow = from_wkt("POLYGON ((0 0, 2 2, 2 0, 0 2, 0 0))")
        fixed = from_wkb(to_wkb(bow), on_invalid="fix")
        assert K.is_valid(fixed) and abs(K.area(fixed) - 2.0) < 1e-9
        assert from_wkb(b"\x01\x99garbage", on_invalid="fix") is None


class TestAllTypesOverlayMatrix:
    """Every (typeA, typeB) combination through all four set ops — the
    reference exercises the full matrix in tests/test_set_operations.py;
    here each result must satisfy dimension/measure invariants (no combo
    may raise)."""

    FIXTURES = {
        "point": "POINT (1 1)",
        "multipoint": "MULTIPOINT ((1 1), (3 0.5))",
        "line": "LINESTRING (0 1, 4 1)",
        "multiline": "MULTILINESTRING ((0 1, 4 1), (0 3, 4 3))",
        "polygon": "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))",
        "multipolygon": ("MULTIPOLYGON (((0 0, 2 0, 2 2, 0 2, 0 0)),"
                         " ((3 0, 4 0, 4 1, 3 1, 3 0)))"),
    }

    def _dim(self, g):
        from shapely_spark.geo.kernels import _dim
        return _dim(g) if g is not None and not g.is_empty else -1

    def test_matrix_invariants(self):
        from shapely_spark.geo import from_wkt
        from shapely_spark.geo import kernels as K
        from shapely_spark.geo.overlay import (
            difference, intersection, symmetric_difference, union,
        )

        geoms = {k: from_wkt(w) for k, w in self.FIXTURES.items()}
        for na, a in geoms.items():
            for nb, b in geoms.items():
                inter = intersection(a, b)
                uni = union(a, b)
                diff = difference(a, b)
                sym = symmetric_difference(a, b)
                da, db = self._dim(a), self._dim(b)
                # intersection dim cannot exceed either input's dim
                di = self._dim(inter)
                assert di <= min(da, db), (na, nb, di)
                # union dim = max input dim
                assert self._dim(uni) == max(da, db), (na, nb)
                # difference keeps a's dim or empties
                dd = self._dim(diff)
                assert dd in (-1, da), (na, nb, dd)
                # measure bookkeeping on the top dimension
                if da == db == 2:
                    ia, ua = K.area(inter), K.area(uni)
                    assert abs(K.area(a) + K.area(b) - ia - ua) < 1e-9, (na, nb)
                    assert abs(K.area(sym) - (ua - ia)) < 1e-9, (na, nb)
                if da == db == 1:
                    il, ul = K.length(inter), K.length(uni)
                    assert abs(K.length(a) + K.length(b) - il - ul) < 1e-9, (na, nb)


class TestOverlayRelateFuzz:
    """Property fuzz over random line/polygon pairs: set-op measures and
    DE-9IM must satisfy algebraic identities regardless of configuration."""

    def _random_geoms(self, rng, n):
        from shapely_spark.geo.geom import Geometry, LINESTRING, regular_ngon
        import numpy as np
        out = []
        for i in range(n):
            kind = rng.randint(0, 2)
            if kind == 0:
                pts = rng.randint(-5, 6, size=(rng.randint(2, 5), 2)).astype(float)
                keep = [0]
                for j in range(1, len(pts)):
                    if (pts[j] != pts[keep[-1]]).any():
                        keep.append(j)
                if len(keep) < 2:
                    pts = np.array([[0.0, 0.0], [1.0, 1.0]])
                else:
                    pts = pts[keep]
                out.append(Geometry(LINESTRING, coords=pts))
            else:
                out.append(regular_ngon(float(rng.randint(-4, 5)),
                                        float(rng.randint(-4, 5)),
                                        0.5 + rng.rand() * 2.0,
                                        3 + rng.randint(0, 5),
                                        theta0=rng.rand()))
        return out

    def test_lineal_intersection_symmetry_and_bounds(self):
        import numpy as np
        from shapely_spark.geo import kernels as K
        from shapely_spark.geo.overlay import difference, intersection, union

        rng = np.random.RandomState(11)
        geoms = self._random_geoms(rng, 40)
        for t in range(60):
            a = geoms[rng.randint(len(geoms))]
            b = geoms[rng.randint(len(geoms))]
            li_ab = K.length(intersection(a, b))
            li_ba = K.length(intersection(b, a))
            assert abs(li_ab - li_ba) < 1e-6, (t, li_ab, li_ba)
            da = K.length(difference(a, b))
            # 1-D bookkeeping: len(A) = len(A∩B) + len(A−B) when A lineal
            from shapely_spark.geo.kernels import _dim
            if _dim(a) == 1:
                la = K.length(a)
                ia = K.length(intersection(a, b))
                assert abs(la - (ia if _dim(b) >= 1 else 0) - da) < 1e-6 or _dim(b) == 0

    def test_relate_transpose_and_predicate_consistency(self):
        import numpy as np
        from shapely_spark.geo import kernels as K

        rng = np.random.RandomState(13)
        geoms = self._random_geoms(rng, 30)

        def t(m):
            return "".join(m[i] for i in (0, 3, 6, 1, 4, 7, 2, 5, 8))

        for _ in range(60):
            a = geoms[rng.randint(len(geoms))]
            b = geoms[rng.randint(len(geoms))]
            m = K.relate(a, b)
            assert m == t(K.relate(b, a))
            # intersects ⇔ any of II/IB/BI/BB non-F
            touches_any = any(m[i] != "F" for i in (0, 1, 3, 4))
            assert K.intersects(a, b) == touches_any, (m, a.type_id, b.type_id)
            # disjoint is the complement
            assert K.disjoint(a, b) == (not touches_any)


class TestConvexFastPath:
    """Sutherland–Hodgman convex∩convex fast path must agree with the
    general noding overlay and preserve degenerate results."""

    def test_ngon_fuzz_matches_general_overlay(self):
        import numpy as np
        from shapely_spark.geo import kernels as K
        from shapely_spark.geo import overlay as O
        from shapely_spark.geo.geom import regular_ngon

        rng = np.random.RandomState(4)
        for _ in range(150):
            g1 = regular_ngon(rng.rand() * 4, rng.rand() * 4, 0.5 + rng.rand() * 2,
                              3 + rng.randint(6), theta0=rng.rand())
            g2 = regular_ngon(rng.rand() * 4, rng.rand() * 4, 0.5 + rng.rand() * 2,
                              3 + rng.randint(6), theta0=rng.rand())
            fast = K.area(O.intersection(g1, g2))
            slow = K.area(O._overlay(g1, g2, "intersection"))
            assert abs(fast - slow) < 1e-9

    def test_degenerate_and_disjoint_paths_survive(self):
        from shapely_spark.geo import to_wkt
        from shapely_spark.geo.geom import box
        from shapely_spark.geo.overlay import intersection

        a = box(0, 0, 2, 2)
        assert to_wkt(intersection(a, box(2, 0, 4, 2))) == "LINESTRING (2 0, 2 2)"
        assert to_wkt(intersection(a, box(10, 10, 11, 11))) == "POLYGON EMPTY"
        # concave inputs bypass the fast path (general overlay handles them)
        from shapely_spark.geo import from_wkt
        from shapely_spark.geo import kernels as K
        conc = from_wkt("POLYGON ((0 0, 4 0, 4 4, 2 1, 0 4, 0 0))")
        out = intersection(conc, box(1, 0, 3, 2))
        # notch clips the top: 2/3·2 + 2·(avg 1.5 over 2/3 width)·... = 10/3
        assert abs(K.area(out) - 10.0 / 3.0) < 1e-9


class TestOffsetCurve:
    """reference: shapely/constructive.py:272 offset_curve; tests mirror
    reference tests/test_constructive.py offset_curve cases with
    closed-form expectations."""

    def test_straight_parallel(self):
        g = C.offset_curve(from_wkt("LINESTRING (0 0, 10 0)"), 2.0)
        assert np.allclose(g.coords, [[0, 2], [10, 2]])
        gr = C.offset_curve(from_wkt("LINESTRING (0 0, 10 0)"), -2.0)
        assert np.allclose(gr.coords, [[0, -2], [10, -2]])

    def test_inner_corner_trims(self):
        g = C.offset_curve(from_wkt("LINESTRING (0 0, 10 0, 10 10)"), 2.0)
        assert K.length(g) == pytest.approx(16.0)
        assert np.allclose(g.coords, [[0, 2], [8, 2], [8, 10]])

    def test_outer_corner_round_mitre_bevel(self):
        line = from_wkt("LINESTRING (0 0, 10 0, 10 10)")
        import math

        r = C.offset_curve(line, -2.0)
        assert K.length(r) == pytest.approx(20 + 16 * 2 * math.sin(math.pi / 32), rel=1e-9)
        m = C.offset_curve(line, -2.0, join_style="mitre")
        assert K.length(m) == pytest.approx(24.0)
        b = C.offset_curve(line, -2.0, join_style="bevel")
        assert K.length(b) == pytest.approx(20 + 2 * math.sqrt(2))

    def test_direction_preserved_and_zero(self):
        line = from_wkt("LINESTRING (0 0, 5 0)")
        z = C.offset_curve(line, 0.0)
        assert np.allclose(z.coords, line.coords)

    def test_closed_ring_offset(self):
        ring = from_wkt("LINESTRING (0 0, 4 0, 4 4, 0 4, 0 0)")
        inner = C.offset_curve(ring, 1.0)  # CCW ring: left = inside
        # inner offset of a CCW square ring is the 2x2 square ring
        assert K.length(inner) == pytest.approx(8.0)

    def test_multiline_and_empty(self):
        ml = from_wkt("MULTILINESTRING ((0 0, 1 0), (0 2, 1 2))")
        out = C.offset_curve(ml, 0.5)
        assert out.type_id == MULTILINESTRING and len(out.parts) == 2
        e = C.offset_curve(from_wkt("LINESTRING EMPTY"), 1.0)
        assert e.is_empty


class TestParityAliases:
    def test_coverage_union_and_disjoint_subset(self):
        a = from_wkt("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")
        b = from_wkt("POLYGON ((1 0, 2 0, 2 1, 1 1, 1 0))")
        assert K.area(C.coverage_union(a, b)) == pytest.approx(2.0)
        assert K.area(C.disjoint_subset_union(a, b)) == pytest.approx(2.0)
        assert K.area(C.disjoint_subset_union_all([a, b])) == pytest.approx(2.0)

    def test_testing_and_validation_aliases(self):
        from shapely_spark.geo import (
            assert_geometries_equal, explain_validity, voronoi_diagram,
        )

        g = from_wkt("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")
        assert_geometries_equal(g, g)
        assert explain_validity(g) == "Valid Geometry"
        assert voronoi_diagram is not None

    def test_buffer_style_enums(self):
        from shapely_spark.geo import BufferCapStyle, BufferJoinStyle

        line = from_wkt("LINESTRING (0 0, 4 0)")
        g = C.buffer(line, 1.0, cap_style=BufferCapStyle.flat,
                     join_style=BufferJoinStyle.bevel)
        assert K.area(g) == pytest.approx(8.0, rel=1e-6)

    def test_full_public_api_sweep(self):
        """Every name in the reference's module __all__ lists RESOLVES to
        an actual attribute of a shapely_spark.geo module (r4: the old
        version substring-matched the concatenated sources, so a name
        mentioned in any comment passed — that is how `boundary`,
        `loads`, `get_srid` hid for two rounds)."""
        import os
        import re

        from tests.test_api_signatures import OUR_MODULES

        ref = "/root/reference/shapely"
        names = set()
        for f in os.listdir(ref):
            if f.endswith(".py"):
                m = re.search(r"__all__\s*=\s*\[(.*?)\]",
                              open(os.path.join(ref, f)).read(), re.S)
                if m:
                    names |= set(re.findall(r'"(\w+)"', m.group(1)))
        assert len(names) > 100  # the scrape saw the reference surface
        missing = sorted(
            n for n in names
            if not any(hasattr(m, n) for m in OUR_MODULES()))
        assert not missing, f"reference public API not resolvable: {missing}"


class TestMixedCollectionOverlay:
    """Heterogeneous GEOMETRYCOLLECTION inputs through all four set ops —
    point-set semantics (a collection is the union of its parts; the
    reference delegates to GEOS overlayng, shapely/set_operations.py:114).
    Closed-form goldens + a full matrix sweep including collection
    fixtures."""

    GC = ("GEOMETRYCOLLECTION (POINT (5 5), LINESTRING (0 -2, 4 -2),"
          " POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0)))")
    BOX = "POLYGON ((1 -3, 6 -3, 6 6, 1 6, 1 -3))"

    def test_intersection_per_dimension(self):
        gc, b = from_wkt(self.GC), from_wkt(self.BOX)
        out = O.intersection(gc, b)
        from shapely_spark.geo.geom import GEOMETRYCOLLECTION
        assert out.type_id == GEOMETRYCOLLECTION
        assert A(out) == pytest.approx(2.0)          # poly clipped to x∈[1,2]
        assert K.length(out) == pytest.approx(6.0 + 3.0)  # clip perimeter + line x∈[1,4]
        # symmetric dispatch: collection on the right
        out2 = O.intersection(b, gc)
        assert A(out2) == pytest.approx(2.0)
        assert K.length(out2) == pytest.approx(9.0)

    def test_union_and_difference(self):
        gc, b = from_wkt(self.GC), from_wkt(self.BOX)
        u = O.union(gc, b)
        assert A(u) == pytest.approx(45.0 + 2.0)     # box + poly strip outside
        d = O.difference(gc, b)
        assert A(d) == pytest.approx(2.0)            # strip x∈[0,1]
        assert K.length(d) == pytest.approx(6.0 + 1.0)  # strip perimeter + line x∈[0,1]
        # the point (5,5) is inside the box: removed from the difference
        from shapely_spark.geo.geom import POINT
        assert all(p.type_id != POINT for p in (d.parts or [d]))
        sd = O.symmetric_difference(gc, b)
        assert A(sd) == pytest.approx(45.0)          # union − intersection areas

    def test_point_covered_by_own_polygon_dissolves(self):
        gc = from_wkt("GEOMETRYCOLLECTION (POINT (1 1),"
                      " POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0)))")
        u = O.union(gc, from_wkt("POINT (10 10)"))
        parts = list(u.parts or [u])
        # interior point dissolved; only the polygon and the outside point remain
        assert len(parts) == 2
        assert A(u) == pytest.approx(4.0)

    def test_collection_of_points_routes(self):
        gcp = from_wkt("GEOMETRYCOLLECTION (POINT (0 0), MULTIPOINT (1 1, 3 3))")
        sq = from_wkt("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))")
        i = O.intersection(gcp, sq)
        pts = {tuple(p.coords[0][:2]) for p in (i.parts or [i])}
        assert pts == {(0.0, 0.0), (1.0, 1.0)}      # closed set keeps (0,0)
        d = O.difference(gcp, sq)
        assert tuple(d.coords[0][:2]) == (3.0, 3.0)

    def test_nested_collection_and_gc_x_gc(self):
        gc = from_wkt("GEOMETRYCOLLECTION (GEOMETRYCOLLECTION (POINT (9 9),"
                      " LINESTRING (0 5, 4 5)), POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0)))")
        other = from_wkt("GEOMETRYCOLLECTION (POLYGON ((1 4, 3 4, 3 6, 1 6, 1 4)),"
                         " POINT (9 9))")
        i = O.intersection(gc, other)
        # line ∩ poly = segment x∈[1,3] at y=5 ; point (9,9) in both
        assert K.length(i) == pytest.approx(2.0)
        assert A(i) == pytest.approx(0.0)
        u = O.union(gc, other)
        assert A(u) == pytest.approx(4.0 + 4.0)
        # line dissolves where it crosses the other's polygon? no — union
        # keeps full linework length (line ⊄ polygon only partially):
        assert K.length(u) == pytest.approx(4.0 + 8.0 + 8.0 - 2.0)

    def test_matrix_with_collections_no_raise(self):
        fx = dict(TestAllTypesOverlayMatrix.FIXTURES)
        fx["gc_mixed"] = self.GC
        fx["gc_points"] = "GEOMETRYCOLLECTION (POINT (1 1), MULTIPOINT (3 0.5, 9 9))"
        fx["gc_nested"] = ("GEOMETRYCOLLECTION (GEOMETRYCOLLECTION ("
                           "LINESTRING (0 1, 4 1)), POINT (1 1))")
        geoms = {k: from_wkt(w) for k, w in fx.items()}
        helper = TestAllTypesOverlayMatrix()
        for na, a in geoms.items():
            for nb, b in geoms.items():
                inter = O.intersection(a, b)
                uni = O.union(a, b)
                diff = O.difference(a, b)
                O.symmetric_difference(a, b)
                da, db = helper._dim(a), helper._dim(b)
                assert helper._dim(inter) <= min(da, db), (na, nb)
                assert helper._dim(uni) == max(da, db), (na, nb)
                assert helper._dim(diff) <= da, (na, nb)

    def test_fuzz_measure_identities_with_collections(self):
        """Random mixed collections vs polygons/lines: area bookkeeping
        A(a)+A(b) = A(a∪b)+A(a∩b) must hold on the polygonal dimension."""
        rng = np.random.RandomState(29)
        base = TestOverlayRelateFuzz()._random_geoms(rng, 30)
        from shapely_spark.geo.geom import GEOMETRYCOLLECTION, Geometry

        def rand_gc():
            k = 2 + rng.randint(3)
            parts = [base[rng.randint(len(base))] for _ in range(k)]
            parts.append(point(float(rng.randint(-5, 6)), float(rng.randint(-5, 6))))
            return Geometry(GEOMETRYCOLLECTION, parts=parts)

        for t in range(40):
            a = rand_gc()
            b = base[rng.randint(len(base))] if t % 2 else rand_gc()
            ia, ua = A(O.intersection(a, b)), A(O.union(a, b))
            # polygonal parts inside one collection may self-overlap, so
            # compare against the DISSOLVED per-side areas
            aa = A(O.union(a, a))
            bb = A(O.union(b, b))
            assert ia + ua == pytest.approx(aa + bb, abs=1e-6), t
            da = A(O.difference(a, b))
            assert da == pytest.approx(ua - bb, abs=1e-6), t
