"""Cell-grid index tests (engine-owned component; SURVEY.md §2.4)."""

import duckdb
import numpy as np
import pytest

from shapely_spark.geo import box, linestring, multipolygon, point, polygon
from shapely_spark.geo import kernels as K
from shapely_spark.index import cells


def test_cell_roundtrip_bounds():
    lat, lon = 48.85, 2.35  # Paris
    c = int(cells.cell_of(lat, lon, 9))
    xmin, ymin, xmax, ymax = cells.cell_bounds(c, 9)
    assert xmin <= lon < xmax
    assert ymin <= lat < ymax


def test_cell_nan_is_minus_one():
    out = cells.cell_of([np.nan, 10.0], [5.0, np.nan], 9)
    assert out.tolist() == [-1, -1]


def test_cell_edges_clamped():
    assert cells.cell_of(90.0, 180.0, 4) == cells.cell_of(89.99, 179.99, 4)
    assert cells.cell_of(-90.0, -180.0, 4) == 0


def test_sql_cell_expr_matches_numpy():
    """The SQL expression (used by both Spark and the DuckDB oracle) must be
    bit-identical to the NumPy kernel on random coordinates."""
    rng = np.random.RandomState(42)
    lat = rng.uniform(-85, 85, 5000)
    lon = rng.uniform(-180, 180, 5000)
    want = cells.cell_of(lat, lon, 9)
    con = duckdb.connect()
    con.register("t", __import__("pandas").DataFrame({"lat": lat, "lon": lon}))
    expr = cells.sql_cell_expr("lat", "lon", 9)
    got = con.execute(f"SELECT {expr} AS c FROM t").fetchnumpy()["c"]
    np.testing.assert_array_equal(want, got)



@pytest.mark.parametrize("res", [9, 11])
def test_cell_col_matches_cell_of(spark, res):
    """The Catalyst cell_col (one SQL string) equals cell_of: NULL/NaN map
    to -1, the grid edges and points beyond them clamp, and points on cell
    lines fall in the same cell on both sides."""
    n = cells.grid_n(res)
    k = np.array([0, 1, n // 3, n // 2, n - 1, n])
    on_lines = [(-90.0 + i * 180.0 / n, -180.0 + j * 360.0 / n)
                for i in k for j in k]
    rng = np.random.RandomState(res)
    pts = [(None, 0.0), (0.0, None), (None, None), (float("nan"), 0.0),
           (0.0, float("nan")), (90.0, 180.0), (-90.0, -180.0),
           (90.0, -180.0), (-90.0, 180.0), (95.0, 200.0), (-95.0, -200.0),
           (1e6, -1e6), (0.0, 0.0)] + on_lines + list(
        zip(rng.uniform(-90, 90, 200), rng.uniform(-180, 180, 200)))
    pts = [(i, None if a is None else float(a), None if b is None else float(b))
           for i, (a, b) in enumerate(pts)]
    from shapely_spark.spark.columns import cell_col

    df = spark.createDataFrame(pts, "i long, lat double, lon double")
    got = {r.i: r.c for r in
           df.select("i", cell_col("lat", "lon", res).alias("c")).collect()}
    lat = np.array([np.nan if a is None else a for _, a, _ in pts])
    lon = np.array([np.nan if b is None else b for _, _, b in pts])
    want = cells.cell_of(lat, lon, res)
    assert [got[i] for i in range(len(pts))] == want.tolist()

def test_disk_and_ring():
    c = int(cells.cell_of(0.0, 0.0, 6))
    d0 = cells.disk(c, 0, 6)
    assert d0.tolist() == [c]
    d1 = cells.disk(c, 1, 6)
    assert len(d1) == 9
    r1 = cells.ring(c, 1, 6)
    assert len(r1) == 8
    assert c not in r1.tolist()


def test_disk_clamps_at_pole_and_wraps_lon():
    n = cells.grid_n(6)
    top = int(cells.cell_of(89.9, 0.0, 6))
    d = cells.disk(top, 1, 6)
    assert len(d) == 6  # 3 wide × 2 tall (clamped at top)
    left = int(cells.cell_of(0.0, -179.999, 6))
    d = cells.disk(left, 1, 6)
    assert len(d) == 9  # lon wraps


def test_cover_bbox():
    res = 6
    cs = cells.cover_bbox(-1.0, -1.0, 1.0, 1.0, res)
    # must include the cells of all four corners
    for lat, lon in [(-1, -1), (-1, 1), (1, -1), (1, 1)]:
        assert int(cells.cell_of(lat, lon, res)) in cs.tolist()


def test_polygon_cover_full_vs_partial():
    res = 6  # cell 5.625° × 2.8125°
    poly = box(-20, -20, 20, 20)
    cover, full = cells.polygon_cover(poly, res)
    assert len(cover) > 0
    # every fully-covered cell's corners must be interior
    for c, f in zip(cover.tolist(), full.tolist()):
        xmin, ymin, xmax, ymax = cells.cell_bounds(c, res)
        corners = np.array([[xmin, ymin], [xmax, ymin], [xmax, ymax], [xmin, ymax]])
        cls = K.points_in_rings_class(corners[:, 0], corners[:, 1], [poly.rings[0]])
        if f:
            assert (cls == K.INTERIOR).all()
    # point-in-cover completeness: any point inside the polygon falls in a
    # covered cell
    rng = np.random.RandomState(1)
    lat = rng.uniform(-19.9, 19.9, 200)
    lon = rng.uniform(-19.9, 19.9, 200)
    pc = cells.cell_of(lat, lon, res)
    assert np.isin(pc, cover).all()


def test_polygon_cover_small_polygon_within_one_cell():
    res = 4
    tiny = box(1.0, 1.0, 1.1, 1.1)
    cover, full = cells.polygon_cover(tiny, res)
    assert int(cells.cell_of(1.05, 1.05, res)) in cover.tolist()
    assert not full.any()


def _assert_cover_exact(g, res):
    """Every cell of the bbox cover: kept ⇔ its closed box intersects g
    (scalar kernel); full ⇒ four INTERIOR corners and no edge bbox near."""
    cover, full = cells.polygon_cover(g, res)
    got = dict(zip(cover.tolist(), full.tolist()))
    segs = K._edges(g)
    exmin, exmax = np.minimum(segs[:, 0], segs[:, 2]), np.maximum(segs[:, 0], segs[:, 2])
    eymin, eymax = np.minimum(segs[:, 1], segs[:, 3]), np.maximum(segs[:, 1], segs[:, 3])
    bb = K.bounds(g)
    for c in cells.cover_bbox(*bb, res).tolist():
        xmin, ymin, xmax, ymax = cells.cell_bounds(c, res)
        assert (c in got) == K.intersects(g, box(xmin, ymin, xmax, ymax)), (c, res)
        if got.get(c):
            cls = K.points_in_rings_class([xmin, xmax, xmax, xmin], [ymin, ymin, ymax, ymax],
                                          K._rings_of(g))
            assert (cls == K.INTERIOR).all()
            assert not ((exmin <= xmax) & (exmax >= xmin) & (eymin <= ymax) & (eymax >= ymin)).any()


@pytest.mark.parametrize("seed", [2, 3])  # both layers hold a cell inside a hole
def test_polygon_cover_exact_on_synth_regions(seed):
    from shapely_spark.spark.join import JOIN_RES
    from shapely_spark.spark.pages import synth_regions

    for _rid, _name, g, _kind in synth_regions(200, seed):
        if not g.is_empty:
            _assert_cover_exact(g, JOIN_RES)


@pytest.mark.parametrize("g", [
    box(-22.5, 0.0, 22.5, 11.25),                                # edges on grid lines
    polygon([(0.0, 0.0), (30.0, 5.0), (5.0, 20.0)]),              # vertex on a cell corner
    polygon([(0.0, 0.0), (22.5, 11.25), (0.0, 22.5)]),            # diagonal through corners
    polygon([(1.0, 1.0), (3.0, 1.5), (2.0, 4.0)]),                # inside one cell
    multipolygon([box(-60.0, -30.0, -30.0, -10.0),
                  polygon([(101.0, 51.0), (103.0, 52.0), (102.0, 53.0)])]),  # part in one cell
    polygon([(0.0, 0.0), (30.0, 0.0), (30.0, 0.0), (30.0, 30.0), (0.0, 30.0)]),  # zero-length edge
    box(170.0, 80.0, 180.0, 90.0),                                 # clamped at +180 / +90
    polygon([(-180.0, -90.0), (-150.0, -90.0), (-180.0, -60.0)]),  # clamped at -180 / -90
    polygon([(160.0, 70.0), (200.0, 75.0), (170.0, 100.0)]),       # beyond the grid
], ids=["grid_lines", "corner_vertex", "diagonal", "one_cell", "multi_part_one_cell",
        "repeated_vertex", "clamp_max", "clamp_min", "beyond_grid"])
@pytest.mark.parametrize("res", [4, 6])
def test_polygon_cover_exact_hand_built(g, res):
    _assert_cover_exact(g, res)


def test_polygon_cover_drops_cells_inside_hole():
    # diamond hole |x| + |y| < 20: the hole edge (20,0)-(0,20) has a bbox
    # that covers cell [0, 5.625] × [0, 2.8125], which lies strictly inside
    # the hole and so does not meet the polygon
    res = 6
    g = polygon([(-40, -40), (40, -40), (40, 40), (-40, 40)],
                [[(20, 0), (0, 20), (-20, 0), (0, -20)]])
    inner = int(cells.cell_of(1.0, 1.0, res))
    cover, full = cells.polygon_cover(g, res)
    assert inner not in cover.tolist()
    assert not K.intersects(g, box(*cells.cell_bounds(inner, res)))
    _assert_cover_exact(g, res)


def test_polygon_cover_batch_matches_per_geometry(monkeypatch):
    from shapely_spark.geo.geom import POLYGON, empty
    from shapely_spark.spark.join import JOIN_RES
    from shapely_spark.spark.pages import synth_regions

    geoms = [g for _, _, g, _ in synth_regions(200, 1)]
    geoms[5:5] = [None, empty(POLYGON), linestring([(0, 0), (1, 1)])]

    parts = [cells.polygon_cover(g, JOIN_RES) for g in geoms]
    want = (np.concatenate([c for c, _ in parts]), np.concatenate([f for _, f in parts]),
            np.repeat(np.arange(len(geoms)), [len(c) for c, _ in parts]))
    for a, b in zip(cells.polygon_cover_batch(geoms, JOIN_RES), want):
        np.testing.assert_array_equal(a, b)
    assert not np.isin(want[2], [5, 6, 7]).any()
    # tiny chunk limit: the bounded pair expansions give the same covers
    chunks = cells._chunks
    for mod in (cells, K):
        monkeypatch.setattr(mod, "_chunks", lambda w, limit=0: chunks(w, 7))
    for a, b in zip(cells.polygon_cover_batch(geoms, JOIN_RES), want):
        np.testing.assert_array_equal(a, b)
    assert [len(c) for c in cells.polygon_cover_batch([], JOIN_RES)] == [0, 0, 0]


def test_chunks_bound_the_weight_sum():
    w = np.array([3, 1, 9, 2, 2, 0, 5])
    sl = list(cells._chunks(w, 4))
    assert [(s.start, s.stop) for s in sl] == [(0, 2), (2, 3), (3, 6), (6, 7)]
    assert list(cells._chunks(np.zeros(0, dtype=np.int64))) == []


def test_hilbert_key_locality():
    # nearby points get nearby keys more often than far points (weak check)
    k1 = cells.hilbert_key(10.0, 10.0)
    k2 = cells.hilbert_key(10.001, 10.001)
    k3 = cells.hilbert_key(-60.0, 150.0)
    assert abs(int(k1) - int(k2)) < abs(int(k1) - int(k3))


def test_cell_parent_matches_direct_assignment():
    # floor-at-res then bit-shift must equal floor-at-parent-res exactly
    # (power-of-two scaling is exact in IEEE-754), including the clamped
    # poles/antimeridian and the NaN -> -1 convention
    rng = np.random.RandomState(7)
    lat = np.concatenate([rng.uniform(-90, 90, 5000),
                          [90.0, -90.0, 89.9999999, np.nan]])
    lon = np.concatenate([rng.uniform(-180, 180, 5000),
                          [180.0, -180.0, 179.9999999, 3.0]])
    for res, pres in [(9, 7), (9, 9), (12, 0), (7, 4)]:
        got = cells.cell_parent(cells.cell_of(lat, lon, res), res, pres)
        want = cells.cell_of(lat, lon, pres)
        np.testing.assert_array_equal(got, want)


def test_cell_children_roundtrip():
    kids = cells.cell_children(37, 4, 6)
    assert len(kids) == 16
    assert len(set(kids.tolist())) == 16
    np.testing.assert_array_equal(cells.cell_parent(kids, 6, 4), np.full(16, 37))
    # default: one level down, quad split
    assert len(cells.cell_children(0, 4)) == 4
    # children tile the parent's bounds
    pxmin, pymin, pxmax, pymax = cells.cell_bounds(37, 4)
    for c in kids.tolist():
        xmin, ymin, xmax, ymax = cells.cell_bounds(c, 6)
        assert pxmin - 1e-9 <= xmin and xmax <= pxmax + 1e-9
        assert pymin - 1e-9 <= ymin and ymax <= pymax + 1e-9


def test_cell_children_null_island_sentinel():
    # -1 (null coords) must propagate as -1, mirroring cell_parent
    np.testing.assert_array_equal(
        cells.cell_children(-1, 4, 6), np.array([-1], dtype=np.int64))
    np.testing.assert_array_equal(
        cells.cell_parent(np.array([-1]), 6, 4), np.array([-1]))


def test_cell_parent_validation():
    import pytest as _pytest
    with _pytest.raises(ValueError):
        cells.cell_parent(np.array([5]), 4, 5)
    with _pytest.raises(ValueError):
        cells.cell_children(5, 4, 3)
