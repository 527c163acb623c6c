"""End-to-end vertical slice: synthetic pages ⋈ regions on Spark must equal
the single-node STRtree oracle pair-for-pair (the correctness contract of
SURVEY.md §7 step 3; STRtree.query semantics shapely/strtree.py:229-266)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from shapely_spark.geo import STRtree, point
from shapely_spark.geo.wkb import from_wkb
from shapely_spark.spark.extract import with_geo
from shapely_spark.spark.join import spatial_join
from shapely_spark.spark.pages import regions_df, synth_pages, synth_regions

RES = 9
N_PAGES = 3000
N_REGIONS = 60


@pytest.fixture(scope="module")
def pages(spark):
    return with_geo(synth_pages(spark, N_PAGES), res=RES).cache()


@pytest.fixture(scope="module")
def regions():
    return synth_regions(N_REGIONS, seed=42)


def test_extract_text_byte_identical(pages):
    """Per-row invariant from the driver input_hint: extracted text ==
    stored text, byte for byte, for every url."""
    bad = pages.where(
        F.encode(F.col("extracted_text"), "UTF-8") != F.encode(F.col("text"), "UTF-8")
    ).count()
    assert bad == 0


def test_extract_null_and_malformed_geotags(pages):
    n = pages.count()
    nulls = pages.where(F.col("lat").isNull()).count()
    # ~1% missing + ~0.5% malformed
    assert 0 < nulls < 0.05 * n
    cells_for_null = pages.where(F.col("lat").isNull()).select("cell_id").distinct().collect()
    assert [r.cell_id for r in cells_for_null] == [-1]


def test_spatial_join_matches_strtree_oracle(spark, pages, regions):
    rdf = regions_df(spark, regions)
    got = (
        spatial_join(pages, rdf, predicate="intersects", res=RES)
        .select("url", "region_id")
        .collect()
    )
    got_pairs = {(r.url, r.region_id) for r in got}

    # single-node oracle: same pages through the kernel STRtree
    rows = pages.select("url", "lat", "lon").collect()
    geoms = [g for _, _, g, _ in regions]
    tree = STRtree(geoms)
    want_pairs = set()
    pts = [
        (r.url, point(r.lon, r.lat)) for r in rows if r.lat is not None
    ]
    res = tree.query([p for _, p in pts], predicate="intersects")
    for qi, ti in res.T.tolist():
        want_pairs.add((pts[qi][0], regions[ti][0]))

    assert got_pairs == want_pairs
    assert len(got_pairs) > 0  # hotspot regions guarantee matches


def test_spatial_join_within_excludes_boundary(spark, pages, regions):
    rdf = regions_df(spark, regions)
    inter = spatial_join(pages, rdf, predicate="intersects", res=RES).count()
    within = spatial_join(pages, rdf, predicate="within", res=RES).count()
    assert within <= inter


def test_spatial_join_invalid_predicate(spark, pages, regions):
    with pytest.raises(ValueError, match="not a valid option"):
        spatial_join(pages, regions_df(spark, regions), predicate="disjoint")


def test_null_coords_never_join(spark, pages, regions):
    rdf = regions_df(spark, regions)
    joined = spatial_join(pages, rdf, predicate="intersects", res=RES)
    assert joined.where(F.col("lat").isNull()).count() == 0


def _plan_tree(df) -> list[tuple[str, list[str]]]:
    """(node name, child node names) of every operator of df's executed
    plan, descending through AdaptiveSparkPlan."""
    out = []

    def walk(p):
        if p.nodeName() == "AdaptiveSparkPlan":
            return walk(p.executedPlan())
        kids = [p.children().apply(i) for i in range(p.children().size())]
        out.append((p.nodeName(), [k.nodeName() for k in kids]))
        for k in kids:
            walk(k)

    walk(df._jdf.queryExecution().executedPlan())
    return out


def _assert_probe_plan(points, joined):
    """The broadcast-mode plan: no exchange and no join node, and exactly
    one ArrowEvalPython, reading the points' own plan."""
    tree = _plan_tree(joined)
    names = [n for n, _ in tree]
    assert not [n for n in names if "Exchange" in n or "Join" in n or "Cartesian" in n], names
    evals = [kids for n, kids in tree if n == "ArrowEvalPython"]
    root = points._jdf.queryExecution().executedPlan().nodeName()
    assert evals == [[root]], tree


def _assert_shuffle_plan(spark, points, regions):
    """broadcast=False plans a shuffle join of both sides on the cell.
    Auto-broadcast is off for the check: at test size Spark would
    broadcast the small side of the join itself."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        tree = _plan_tree(spatial_join(points, regions, res=RES, broadcast=False))
    finally:
        spark.conf.set(key, old)
    joins = [kids for n, kids in tree if n in ("SortMergeJoin", "ShuffledHashJoin")]
    assert len(joins) == 1, tree
    assert sum(n == "Exchange" for n, _ in tree) >= 2, tree


def test_broadcast_plan_is_broadcast(spark, pages, regions):
    """broadcast=True probes the region index from ONE Arrow UDF over the
    points: no exchange, no join node, so the pages side never shuffles
    and no candidate row exists; broadcast=False keeps its shuffle join."""
    rdf = regions_df(spark, regions)
    _assert_probe_plan(pages, spatial_join(pages, rdf, res=RES))
    _assert_shuffle_plan(spark, pages, rdf)


def test_shuffle_mode_same_result(spark, pages, regions):
    rdf = regions_df(spark, regions)
    a = spatial_join(pages, rdf, res=RES, broadcast=True).select("url", "region_id")
    b = spatial_join(pages, rdf, res=RES, broadcast=False).select("url", "region_id")
    assert {tuple(r) for r in a.collect()} == {tuple(r) for r in b.collect()}


def test_spatial_join_geom_matches_bruteforce(spark):
    """Geometry×geometry join on irregular polygons vs O(n²) kernel oracle."""
    import pandas as pd

    from shapely_spark.geo import kernels as K
    from shapely_spark.geo.geom import regular_ngon
    from shapely_spark.geo.wkb import from_wkb, to_wkb
    from shapely_spark.spark.join import spatial_join_geom
    from shapely_spark.spark.pages import regions_df, synth_regions

    rng_regions = synth_regions(40, seed=7)
    right = regions_df(spark, rng_regions)
    # left: n-gons scattered over the same hotspots
    lgeoms = []
    for i in range(120):
        hy, hx = (40.71, -74.00) if i % 2 else (51.51, -0.13)
        g = regular_ngon(hx + (i % 11) * 0.2 - 1.0, hy + (i % 7) * 0.2 - 0.6,
                         0.15 + (i % 5) * 0.05, 5 + i % 6, theta0=i * 0.3)
        lgeoms.append((i, g))
    left = spark.createDataFrame(
        pd.DataFrame({"left_id": [i for i, _ in lgeoms],
                      "wkb": [to_wkb(g) for _, g in lgeoms]}),
        "left_id long, wkb binary",
    )
    got = {(r.left_id, r.region_id)
           for r in spatial_join_geom(left, right, left_id="left_id").collect()}
    want = set()
    for i, lg in lgeoms:
        for rid, name, rg, kind in rng_regions:
            if rg.is_empty:
                continue
            if K.intersects(lg, rg):
                want.add((i, rid))
    assert got == want


def test_spatial_join_plan_is_broadcast_no_pages_shuffle(spark):
    """Plan guard on an uncached points frame, every predicate: the
    points side of the join never shuffles (the engine's core scale
    property) and never meets a join node."""
    import pandas as pd

    from shapely_spark.spark.join import spatial_join
    from shapely_spark.spark.pages import regions_df, synth_regions

    pts = spark.createDataFrame(
        pd.DataFrame({"url": ["a", "b"], "lat": [40.7, 51.5], "lon": [-74.0, -0.1]})
    )
    rdf = regions_df(spark, synth_regions(20, seed=42))
    for predicate in ("intersects", "within", "covered_by", "touches"):
        _assert_probe_plan(pts, spatial_join(pts, rdf, predicate))
    _assert_shuffle_plan(spark, pts, rdf)


def test_clustered_write_prunes_partitions(spark, tmp_path):
    """Cell-prefix partitioning must surface as Catalyst PartitionFilters:
    a small cell-range query may not even open files outside its region."""
    from pyspark.sql import functions as F

    from shapely_spark.spark.extract import with_geo
    from shapely_spark.spark.pages import (
        read_pages_cell_range,
        synth_pages,
        write_pages_clustered,
    )

    path = str(tmp_path / "clustered")
    pages = with_geo(synth_pages(spark, 20000)).select("url", "lat", "lon", "cell_id")
    write_pages_clustered(pages, path, prefix_shift=12)

    # pick a populated cell range (one prefix bucket)
    some = pages.where(F.col("cell_id") >= 0).select("cell_id").first()[0]
    lo = (some >> 12) << 12
    hi = lo + (1 << 12) - 1
    q = read_pages_cell_range(spark, path, lo, hi, prefix_shift=12)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "cell_prefix" in plan.split("PartitionFilters", 1)[1][:400]
    # correctness: matches an unpruned filter over the same range
    full = spark.read.parquet(path).where(
        (F.col("cell_id") >= lo) & (F.col("cell_id") <= hi))
    assert q.count() == full.count() > 0


def test_salted_join_pattern_matches_plain_join(spark):
    """The documented hot-cell skew remedy (SURVEY §2.9): salt the big side
    by a per-row unique column, explode the small side across all salts,
    join on (key, salt) — result set identical to the plain join while no
    single task owns a whole hot key."""
    from pyspark.sql import functions as F

    from shapely_spark.spark.columns import salt_col

    SALTS = 8
    # 10k rows, 90% in one hot cell
    big = spark.range(10_000).select(
        F.col("id").alias("row_id"),
        F.when(F.col("id") % 10 < 9, F.lit(42)).otherwise(F.col("id") % 100).alias("cell"),
    )
    small = spark.range(100).select(
        F.col("id").alias("cell"), (F.col("id") * 7).alias("payload"))

    plain = big.join(small, "cell")
    salted_big = big.withColumn("salt", salt_col(F.col("row_id"), SALTS))
    salted_small = small.withColumn(
        "salt", F.explode(F.array(*[F.lit(s) for s in range(SALTS)])))
    salted = salted_big.join(salted_small, ["cell", "salt"])

    assert salted.count() == plain.count()
    a = {(r.row_id, r.payload) for r in plain.collect()}
    b = {(r.row_id, r.payload) for r in salted.collect()}
    assert a == b
    # the salt actually splits the hot key
    per_salt = (salted_big.where(F.col("cell") == 42)
                .groupBy("salt").count().collect())
    assert len(per_salt) == SALTS


def test_spatial_join_geom_shuffle_mode_matches_broadcast(spark):
    """broadcast=False (no broadcast hints on the right cover rows and
    the right-geometry join) must produce identical pairs to the
    broadcast path."""
    import pandas as pd

    from shapely_spark.geo.geom import regular_ngon
    from shapely_spark.geo.wkb import to_wkb
    from shapely_spark.spark.join import spatial_join_geom
    from shapely_spark.spark.pages import regions_df, synth_regions

    right = regions_df(spark, synth_regions(25, seed=11))
    lgeoms = []
    for i in range(80):
        hy, hx = (40.71, -74.00) if i % 2 else (51.51, -0.13)
        g = regular_ngon(hx + (i % 9) * 0.25 - 1.0, hy + (i % 5) * 0.25 - 0.5,
                         0.1 + (i % 4) * 0.07, 4 + i % 5, theta0=i * 0.7)
        lgeoms.append((i, g))
    left = spark.createDataFrame(
        pd.DataFrame({"left_id": [i for i, _ in lgeoms],
                      "wkb": [to_wkb(g) for _, g in lgeoms]}),
        "left_id long, wkb binary",
    )
    a = {(r.left_id, r.region_id)
         for r in spatial_join_geom(left, right, left_id="left_id").collect()}
    b = {(r.left_id, r.region_id)
         for r in spatial_join_geom(left, right, left_id="left_id",
                                    broadcast=False).collect()}
    assert a == b and len(a) > 0


def _geom_df(spark, id_col, geoms):
    from shapely_spark.geo.wkb import to_wkb

    return spark.createDataFrame(
        [(i, to_wkb(g)) for i, g in enumerate(geoms)], f"{id_col} long, wkb binary")


def _geom_join_pairs(spark, lefts, rights, predicate, broadcast=True):
    from shapely_spark.spark.join import spatial_join_geom

    out = spatial_join_geom(_geom_df(spark, "left_id", lefts),
                            _geom_df(spark, "region_id", rights),
                            predicate=predicate, broadcast=broadcast)
    return {(r.left_id, r.region_id) for r in out.collect()}


def _brute_pairs(lefts, rights, predicate):
    from shapely_spark.geo import kernels as K

    fn = getattr(K, predicate)
    return {(i, j) for i, a in enumerate(lefts) for j, b in enumerate(rights)
            if fn(a, b)}


GEOM_JOIN_PREDICATES = [
    "intersects", "within", "covered_by", "contains", "covers",
    "contains_properly", "touches", "equals", "overlaps", "crosses",
]


def test_geom_join_rect_pairs_match_scalar_kernels(spark):
    """The JVM closed-form rect×rect tier (_rect_pred_col) must agree with
    the exact scalar kernels on every adversarial configuration, for every
    predicate spatial_join_geom supports: corner touch, shared edge,
    partial collinear edge, containment sharing a boundary, equality,
    interior containment, partial overlap, disjoint. `crosses` is False
    for every areal pair."""
    from shapely_spark.geo.geom import box

    rects = [
        (0, 0, 2, 2), (2, 2, 4, 4),      # corner touch
        (0, 0, 2, 2), (2, 0, 4, 2),      # full shared edge
        (0, 0, 4, 2), (2, 0, 6, 2),      # interiors overlap along the strip
        (0, 0, 4, 1), (4, 0.5, 6, 2),    # partial shared-edge segment
        (0, 0, 4, 4), (1, 1, 3, 3),      # interior containment
        (0, 0, 4, 4), (0, 0, 2, 4),      # containment sharing boundary
        (0, 0, 2, 2), (0, 0, 2, 2),      # equal
        (0, 0, 1, 1), (3, 3, 4, 4),      # disjoint
        (0, 0, 3, 3), (2, 2, 5, 5),      # partial overlap
    ]
    # pair k sits 10 units east of pair k-1: only (k, k) is bbox-near
    lefts = [box(x0 + 10 * k, y0, x1 + 10 * k, y1)
             for k, (x0, y0, x1, y1) in enumerate(rects[0::2])]
    rights = [box(x0 + 10 * k, y0, x1 + 10 * k, y1)
              for k, (x0, y0, x1, y1) in enumerate(rects[1::2])]
    for pred in GEOM_JOIN_PREDICATES:
        got = _geom_join_pairs(spark, lefts, rights, pred)
        assert got == _brute_pairs(lefts, rights, pred), pred
    assert _geom_join_pairs(spark, lefts, rights, "crosses") == set()


@pytest.mark.parametrize("broadcast", [True, False])
def test_geom_join_point_lefts_match_bruteforce(spark, broadcast):
    """POINT lefts against polygon rights take the group-kernel refine
    (no separate point stage). Points sit exactly on region vertices and
    edge midpoints as well as inside, outside and in a hole, so every
    point predicate, touches included, has pairs to find."""
    from shapely_spark.geo.geom import box, point, polygon

    rights = [
        box(0, 0, 4, 4),
        polygon([(10, 0), (12, 2), (10, 4), (8, 2), (10, 0)]),   # diamond
        polygon([(20, 0), (26, 0), (26, 6), (20, 6), (20, 0)],
                holes=[[(22, 2), (24, 2), (24, 4), (22, 4), (22, 2)]]),
    ]
    pts = [
        (2, 2), (0, 0), (4, 4), (2, 0), (4, 1.5), (5, 5), (-1, 2),  # box
        (10, 2), (12, 2), (10, 4), (9, 1), (11, 3), (12.5, 2),      # diamond
        (21, 1), (23, 3), (22, 3), (24, 4), (20, 6), (26, 3), (27, 3),
    ]
    lefts = [point(x, y) for x, y in pts]
    for pred in ("intersects", "within", "covered_by", "touches"):
        got = _geom_join_pairs(spark, lefts, rights, pred, broadcast)
        want = _brute_pairs(lefts, rights, pred)
        assert got == want, pred
        assert want, pred


@pytest.mark.parametrize("broadcast", [True, False])
def test_geom_join_line_rights_match_bruteforce(spark, broadcast):
    """A LINESTRING right layer has no batched group path: group_predicate
    answers it with the exact scalar kernel per left. Lines cross, touch
    at a vertex, run along an edge, end on a boundary and lie inside."""
    from shapely_spark.geo.geom import box, linestring, point

    lefts = [
        box(0, 0, 4, 4), box(10, 0, 14, 4), box(20, 0, 24, 4),
        box(30, 0, 34, 4), point(41, 1), linestring([(40, 0), (44, 4)]),
    ]
    rights = [
        linestring([(-1, 2), (5, 2)]),      # crosses box 0
        linestring([(14, 4), (16, 6)]),     # touches box 1 at a corner
        linestring([(20, 0), (24, 0)]),     # along box 2's bottom edge
        linestring([(32, 2), (36, 2)]),     # starts inside box 3, leaves it
        linestring([(30, 5), (32, 4)]),     # ends on box 3's top edge
        linestring([(1, 1), (3, 3)]),       # inside box 0
        linestring([(40, 4), (44, 0)]),     # crosses the left line
        linestring([(41, 0), (41, 2)]),     # through the left point
    ]
    for pred in ("crosses", "intersects", "touches"):
        got = _geom_join_pairs(spark, lefts, rights, pred, broadcast)
        want = _brute_pairs(lefts, rights, pred)
        assert got == want, pred
        assert want, pred


def test_spatial_join_geom_mixed_rects_and_ngons(spark):
    """Mixed batch: rect×rect pairs ride the JVM closed-form path while
    every pair with an n-gon or irregular region goes to the group-kernel
    refine — output must equal the O(n²) oracle for both."""
    import pandas as pd

    from shapely_spark.geo import kernels as K
    from shapely_spark.geo.geom import box, regular_ngon
    from shapely_spark.geo.wkb import to_wkb
    from shapely_spark.spark.join import spatial_join_geom
    from shapely_spark.spark.pages import regions_df, synth_regions

    rng_regions = synth_regions(25, seed=13)
    right = regions_df(spark, rng_regions)
    lgeoms = []
    for i in range(100):
        hy, hx = (40.71, -74.00) if i % 2 else (51.51, -0.13)
        x = hx + (i % 9) * 0.25 - 1.0
        y = hy + (i % 5) * 0.25 - 0.5
        if i % 3:
            g = box(x, y, x + 0.3 + (i % 4) * 0.1, y + 0.2 + (i % 3) * 0.1)
        else:
            g = regular_ngon(x, y, 0.2, 5 + i % 4, theta0=i * 0.7)
        lgeoms.append((i, g))
    left = spark.createDataFrame(
        pd.DataFrame({"left_id": [i for i, _ in lgeoms],
                      "wkb": [to_wkb(g) for _, g in lgeoms]}),
        "left_id long, wkb binary",
    )
    for pred in ["intersects", "within"]:
        got = {(r.left_id, r.region_id)
               for r in spatial_join_geom(left, right, left_id="left_id",
                                          predicate=pred).collect()}
        fn = getattr(K, pred)
        want = {(i, rid) for i, lg in lgeoms
                for rid, name, rg, kind in rng_regions
                if not rg.is_empty and fn(lg, rg)}
        assert got == want, pred


def test_ragged_layer_matches_prepared_classify():
    """RaggedPolygonLayer.classify_many (the broadcast-join refine kernel)
    must be bit-identical to a per-region bbox-masked
    points_in_rings_class over the full region zoo — interior/boundary/
    exterior, exact corner and edge hits, empties, holed and multi
    polygons, both layer layouts."""
    from shapely_spark.geo import kernels as K
    from shapely_spark.geo.kernels import RaggedPolygonLayer, points_in_rings_class

    for layout in ("hotspot", "uniform"):
        regions = synth_regions(600, seed=7, layout=layout)
        geoms = {rid: g for rid, _, g, _ in regions}
        layer = RaggedPolygonLayer(geoms)
        rng = np.random.RandomState(0)
        rids = rng.randint(0, 600, 5000).astype(np.int64)
        px = np.zeros(len(rids))
        py = np.zeros(len(rids))
        for i, r in enumerate(rids):
            bb = layer.bbox[r]
            if np.isnan(bb[0]):
                continue
            u = rng.uniform()
            if u < 0.1:  # exact corner → boundary for boxes
                px[i], py[i] = bb[0], bb[1]
            elif u < 0.2:  # exact bbox-edge midpoint
                px[i], py[i] = (bb[0] + bb[2]) / 2, bb[1]
            else:
                px[i] = rng.uniform(bb[0] - 0.2, bb[2] + 0.2)
                py[i] = rng.uniform(bb[1] - 0.2, bb[3] + 0.2)
        got = layer.classify_many(rids, px, py)
        exp = np.zeros(len(rids), dtype=np.int8)
        for r in np.unique(rids):
            g = geoms[r]
            if g is None or g.is_empty:
                continue
            bb = K.bounds(g)
            m = np.flatnonzero(rids == r)
            m = m[(px[m] >= bb[0]) & (px[m] <= bb[2])
                  & (py[m] >= bb[1]) & (py[m] <= bb[3])]
            exp[m] = points_in_rings_class(px[m], py[m], K._rings_of(g))
        assert (got == exp).all()
        # all three classes must actually occur for the test to mean anything
        assert set(np.unique(got)) == {0, 1, 2}


@pytest.mark.parametrize("eps", [0.0, 1e-3])
def test_ragged_layer_owners_of_any_type(eps):
    """One layer mixes polygons with lineal and puntal owners: a polygon
    classifies as points_in_rings_class with the boundary test at eps
    (points_on_segments(eps=)); a line or a point answers closure
    membership only (BOUNDARY on it, else EXTERIOR), a point by exact
    vertex equality at eps=0 and within eps per axis otherwise."""
    from shapely_spark.geo import kernels as K
    from shapely_spark.geo.geom import (
        box, empty, linestring, multilinestring, multipoint, polygon,
    )
    from shapely_spark.geo.kernels import (
        BOUNDARY, EXTERIOR, INTERIOR, RaggedPolygonLayer, points_in_rings_class,
        points_on_segments,
    )

    geoms = {
        0: polygon([(0, 0), (4, 0), (4, 4), (0, 4)], [[(1, 1), (1, 3), (3, 3), (3, 1)]]),
        1: linestring([(0, 0), (2, 1), (2, 3), (5, 3)]),
        3: point(1.5, 2.5),
        4: multipoint([(0, 0), (1.25, -0.5), (3, 3)]),
        5: box(-1, -1, 2, 1),
        6: multilinestring([[(0, 0), (0, 4)], [(-1, 2), (3, 2)]]),
        7: empty(),
        8: None,
    }
    layer = RaggedPolygonLayer(geoms)
    rng = np.random.RandomState(3)
    rids, px, py = [], [], []
    for rid, g in geoms.items():
        v = (np.zeros((0, 2)) if g is None or g.is_empty
             else g.all_coords()[:, :2])
        probes = [v, (v[:-1] + v[1:]) / 2 if len(v) > 1 else v,
                  v + [eps / 2, -eps / 2], v + [2 * eps, 0],
                  rng.uniform(-1.5, 5.5, (80, 2)), rng.randint(-1, 6, (40, 2))]
        pts = np.concatenate(probes, axis=0)
        rids += [rid] * len(pts)
        px.append(pts[:, 0])
        py.append(pts[:, 1])
    rids, px, py = np.array(rids), np.concatenate(px), np.concatenate(py)
    got = layer.classify_many(rids, px, py, eps)

    want = np.zeros(len(rids), dtype=np.int8)
    for rid, g in geoms.items():
        if g is None or g.is_empty:
            continue
        m = np.flatnonzero(rids == rid)
        x, y = px[m], py[m]
        if K._dim(g) == 2:
            bb = K.bounds(g)
            m = m[(x >= bb[0] - eps) & (x <= bb[2] + eps)
                  & (y >= bb[1] - eps) & (y <= bb[3] + eps)]
            x, y = px[m], py[m]
            cls = points_in_rings_class(x, y, K._rings_of(g))
            cls[points_on_segments(x, y, K._edges(g), eps=eps)] = BOUNDARY
        elif K._dim(g) == 1:
            cls = np.where(points_on_segments(x, y, K._edges(g), eps=eps),
                           BOUNDARY, EXTERIOR)
        else:
            v = K._points_of(g)
            near = ((np.abs(x[:, None] - v[None, :, 0]) <= eps)
                    & (np.abs(y[:, None] - v[None, :, 1]) <= eps))
            cls = np.where(near.any(axis=1), BOUNDARY, EXTERIOR)
        want[m] = cls
    np.testing.assert_array_equal(got, want)
    for rid in (0, 5):
        assert set(got[rids == rid]) == {EXTERIOR, BOUNDARY, INTERIOR}
    for rid in (1, 3, 4, 6):
        assert set(got[rids == rid]) == {EXTERIOR, BOUNDARY}
    assert not got[np.isin(rids, [7, 8])].any()


def test_group_intersects_matches_scalar_fuzz():
    """group_predicate("intersects") (the vectorized non-rect pair
    refine) agrees with the scalar intersects kernel over a mixed fuzz
    batch: rotated n-gons, segments, points, gapped multipolygons, mixed
    GeometryCollections, None, plus exact vertex-touch constructions;
    rights include a line and a mixed GeometryCollection."""
    from shapely_spark.geo import kernels as K
    from shapely_spark.geo.geom import (
        box, geometrycollection, linestring, multipolygon, point, polygon,
        regular_ngon,
    )
    from shapely_spark.geo.group_predicates import group_predicate

    rng = np.random.RandomState(7)
    for rgeom in (
        regular_ngon(0, 0, 3.0, 7, 0.3),
        linestring([[-4, -4], [4, 4], [6, -2]]),
        multipolygon([box(-3, -3, -1, -1), box(1, 1, 3, 3)]),
        geometrycollection([box(-3, -3, -1, -1), linestring([[2, -5], [2, 5]]),
                            point(5, 5)]),
    ):
        lefts = []
        for i in range(300):
            kind = i % 5
            cx, cy = rng.uniform(-8, 8, 2)
            if kind == 0:
                lefts.append(regular_ngon(cx, cy, rng.uniform(0.2, 4),
                                          int(rng.randint(3, 9)),
                                          rng.uniform(0, 3)))
            elif kind == 1:
                dx, dy = rng.uniform(-5, 5, 2)
                lefts.append(linestring([[cx, cy], [cx + dx, cy + dy]]))
            elif kind == 2:
                lefts.append(point(cx, cy))
            elif kind == 3:
                lefts.append(multipolygon([
                    box(cx, cy, cx + 1, cy + 1),
                    box(cx + 6, cy + 6, cx + 7, cy + 7)]))
            else:
                dx, dy = rng.uniform(-5, 5, 2)
                lefts.append(geometrycollection([
                    box(cx, cy, cx + 0.5, cy + 0.5),
                    linestring([[cx + 1, cy + 1], [cx + dx, cy + dy]])]))
        lefts[7] = None
        # exact touch: a triangle sharing exactly one right vertex
        rv = rgeom.all_coords()[0]
        lefts.append(polygon([[rv[0], rv[1]], [rv[0] + 9, rv[1] + 9],
                              [rv[0] + 10, rv[1] + 8], [rv[0], rv[1]]]))
        got = group_predicate("intersects", lefts, rgeom)
        want = np.array([False if g is None else K.intersects(g, rgeom)
                         for g in lefts])
        assert (got == want).all(), np.flatnonzero(got != want)[:5]
        assert want.any() and not want.all()


def test_intersects_mixed_geometrycollection_every_path(spark):
    """A GeometryCollection whose line member, not its polygon, meets the
    other side: the scalar kernel (both argument orders), disjoint, the
    group refine (both orientations), intersects_xy and the geometry join
    all see the line."""
    from shapely_spark.geo import from_wkt
    from shapely_spark.geo import kernels as K
    from shapely_spark.geo.group_predicates import group_predicate

    gc = from_wkt("GEOMETRYCOLLECTION (POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0)), "
                  "LINESTRING (5 5, 7 5))")
    pt = from_wkt("POINT (6 5)")
    assert K.intersects(gc, pt) and K.intersects(pt, gc)
    assert not K.disjoint(gc, pt)
    assert group_predicate("intersects", [gc], pt).tolist() == [True]
    assert group_predicate("intersects", [pt], gc).tolist() == [True]
    assert K.intersects_xy(gc, 6, 5).tolist() == [True]
    far = from_wkt("POINT (6 6)")
    assert _geom_join_pairs(spark, [gc, far], [pt], "intersects") == {(0, 0)}
    assert _geom_join_pairs(spark, [pt, far], [gc], "intersects") == {(0, 0)}


@pytest.mark.parametrize("broadcast", [True, False])
def test_contains_mixed_geometrycollection_every_path(spark, broadcast):
    """A GeometryCollection contains a point on its line member: the
    scalar kernels (contains, covers, within reversed), contains_xy, SQL
    st_contains and the geometry join all answer from the collection's
    DE-9IM matrix, its members' union."""
    from shapely_spark.geo import from_wkt
    from shapely_spark.geo import kernels as K
    from shapely_spark.geo.group_predicates import group_predicate
    from shapely_spark.spark.geometry_cols import register_sql_functions

    wkt = ("GEOMETRYCOLLECTION (POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0)), "
           "LINESTRING (5 5, 7 5))")
    gc, pt = from_wkt(wkt), from_wkt("POINT (6 5)")
    assert K.contains(gc, pt) and K.covers(gc, pt) and K.within(pt, gc)
    assert group_predicate("contains", [gc], pt).tolist() == [True]
    assert group_predicate("within", [pt], gc).tolist() == [True]
    assert K.contains_xy(gc, 6, 5).tolist() == [True]
    register_sql_functions(spark)
    row = spark.createDataFrame([(wkt, "POINT (6 5)")], "a string, b string").selectExpr(
        "st_contains(st_geomfromtext(a), st_geomfromtext(b)) AS c").first()
    assert row.c is True
    far = from_wkt("POINT (6 6)")
    assert _geom_join_pairs(spark, [gc, far], [pt], "contains", broadcast) == {(0, 0)}
    assert _geom_join_pairs(spark, [pt, far], [gc], "within", broadcast) == {(0, 0)}


@pytest.mark.parametrize("broadcast", [True, False])
def test_geom_join_starts_no_job_until_an_action(spark, broadcast):
    """Building the geometry-join plan runs nothing: the right layer's
    geometry joins in-plan on its id, so no driver collect starts a Spark
    job at call time. The pairs still match brute force with a NULL-WKB
    right row in the layer."""
    from shapely_spark.geo.geom import box, regular_ngon
    from shapely_spark.geo.wkb import to_wkb
    from shapely_spark.spark.join import spatial_join_geom

    lefts = [regular_ngon(i * 1.5, 0.0, 1.0, 5 + i % 3, i * 0.4) for i in range(12)]
    rights = [box(j * 4.0, -0.5, j * 4.0 + 2.0, 0.5) for j in range(5)]
    left = _geom_df(spark, "left_id", lefts)
    right = spark.createDataFrame(
        [(j, to_wkb(g)) for j, g in enumerate(rights)] + [(len(rights), None)],
        "region_id long, wkb binary")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"geom_join_no_job_{broadcast}"
    sc.setJobGroup(group, "spatial_join_geom call")
    try:
        out = spatial_join_geom(left, right, broadcast=broadcast)
        assert tracker.getJobIdsForGroup(group) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    got = {(r.left_id, r.region_id) for r in out.collect()}
    assert got == _brute_pairs(lefts, rights, "intersects") and got


def test_geom_join_rect_branch_has_no_udf(spark):
    """When both sides are axis-aligned rectangles the pair predicate
    evaluates JVM-side: those rows feed NULLs to the ONE refine UDF, the
    single-scan plan holds exactly one ArrowEvalPython node, and the
    whole-plan answer still matches brute force."""
    from shapely_spark.geo.geom import box
    from shapely_spark.geo.wkb import to_wkb
    from shapely_spark.spark.join import spatial_join_geom

    lrows = [(i, to_wkb(box(i * 3.0, 0.0, i * 3.0 + 4.0, 4.0)))
             for i in range(40)]
    rrows = [(j, to_wkb(box(j * 5.0, 2.0, j * 5.0 + 5.0, 8.0)))
             for j in range(20)]
    left = spark.createDataFrame(lrows, "left_id long, wkb binary")
    right = spark.createDataFrame(rrows, "region_id long, wkb binary")
    out = spatial_join_geom(left, right, predicate="intersects",
                            left_id="left_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    # one filter over one scan: the UDF appears once, not once per branch
    assert plan.count("ArrowEvalPython") == 1
    got = {(r.left_id, r.region_id) for r in out.collect()}
    want = {
        (i, j)
        for i in range(40) for j in range(20)
        if i * 3.0 <= j * 5.0 + 5.0 and j * 5.0 <= i * 3.0 + 4.0
        and 0.0 <= 8.0 and 2.0 <= 4.0
    }
    assert got == want


def test_geom_join_rejects_disjoint_predicate(spark):
    from shapely_spark.spark.join import spatial_join_geom

    df = spark.createDataFrame([(0, None)], "left_id long, wkb binary")
    with pytest.raises(ValueError, match="disjoint"):
        spatial_join_geom(df, df, predicate="disjoint")


def test_pair_refine_batch_makes_one_pair_predicate_call(monkeypatch):
    """The geometry-join refine decides a whole Arrow batch in ONE
    pair_predicate call over its factorized sides; rows with a NULL side
    (rect×rect pairs the JVM decided) stay False without reaching it."""
    import pandas as pd

    from shapely_spark.geo import group_predicates as gp
    from shapely_spark.geo import kernels as K
    from shapely_spark.geo.geom import box, linestring, regular_ngon
    from shapely_spark.geo.wkb import to_wkb
    from shapely_spark.spark.join import _pair_refine_batch

    lefts = [regular_ngon(x, 0, 1.5, 6) for x in range(0, 12, 2)]
    rights = [box(1, -1, 3, 1), box(5, 0, 6, 3), linestring([(-1, 0.5), (12, 0.5)])]
    li = [0, 1, 2, 3, 4, 5, 0, 1, 2, 3, 4, 5, 0, 1, 2, 3]
    ri = [0, 0, 1, 1, 2, 2, 2, 2, 0, 1, 0, 1, 1, 2, 2, 0]
    lw = [to_wkb(lefts[i]) for i in li]
    rw = [to_wkb(rights[j]) for j in ri]
    lw[3], rw[7], lw[11], rw[11] = None, None, None, None
    calls, real = [], gp.pair_predicate

    def counting(*args):
        calls.append(len(args[3]))
        return real(*args)

    monkeypatch.setattr(gp, "pair_predicate", counting)
    for pred in ("intersects", "touches", "crosses", "covers"):
        calls.clear()
        got = _pair_refine_batch(pred, pd.Series(lw, dtype=object), pd.Series(rw, dtype=object))
        want = [lw[k] is not None and rw[k] is not None
                and bool(getattr(K, pred)(lefts[li[k]], rights[ri[k]]))
                for k in range(len(li))]
        assert got.tolist() == want, pred
        assert calls == [len(li) - 3], pred
        assert not got[[3, 7, 11]].any()


def test_bbox_cover_rows_match_per_geometry_rule():
    """The geometry-join cover batch (one ragged pass for bounds and the
    rect flag) emits the rows of the per-geometry rule — from_wkb,
    kernels.bounds, kernels._axis_rect, cover_bbox_batch — with bit-equal
    bounds, the same rect flag and, on the left side, the row's WKB."""
    import pandas as pd

    from shapely_spark.geo import from_wkt, to_wkb
    from shapely_spark.geo import kernels as K
    from shapely_spark.geo.wkb import from_wkb
    from shapely_spark.index.cells import cover_bbox_batch
    from shapely_spark.spark.join import _bbox_cover_rows

    wkbs = [None, to_wkb(from_wkt("POLYGON EMPTY")), b"\x01\x03garbage"] + [
        to_wkb(from_wkt(w)) for w in (
            "POLYGON ((0 0, 4 0, 4 3, 0 3, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))",
            "POLYGON ((0.1 0.3, 2.7 0.3, 0.1 1.9, 0.1 0.3))",
            "POLYGON ((1 0, 1 0, 1 2, 1 2, 1 0))",
            "POLYGON ((-3.3 1.1, 0.7 1.1, 0.7 2.6, -3.3 2.6, -3.3 1.1))",
            "POLYGON ((0 1, 1 0, 2 1, 1 2, 0 1))",
            "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((5 5, 7 5, 7 6, 5 6, 5 5)))",
            "GEOMETRYCOLLECTION (POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0)), POINT (3 4))",
            "LINESTRING (-10.5 3, 20.25 7.125)", "POINT (2.5 2.5)")]
    pdf = pd.DataFrame({"left_id": pd.Series(np.arange(len(wkbs)) * 7 - 3, dtype="int64"),
                        "wkb": pd.Series(wkbs, dtype=object)})
    for side, res in (("l", 9), ("r", 5)):
        got = _bbox_cover_rows(pdf, "left_id", side, res)
        bnds = np.full((len(wkbs), 4), np.nan)
        rect = np.zeros(len(wkbs), dtype=bool)
        for i, b in enumerate(wkbs):
            g = None if b is None else from_wkb(bytes(b), on_invalid="ignore")
            if g is not None and not g.is_empty:
                bnds[i] = K.bounds(g)
                rect[i] = g.type_id == 3 and K._axis_rect(g) is not None
        ok = ~np.isnan(bnds[:, 0])
        cells, row = cover_bbox_batch(bnds[ok], res)
        src = np.flatnonzero(ok)[row]
        cols = [f"__{side}{c}" for c in ("x", "y", "x2", "y2")]
        assert got["left_id"].tolist() == pdf["left_id"].to_numpy()[src].tolist()
        assert got[f"__{side}c"].tolist() == cells.tolist()
        assert got[cols].to_numpy().tobytes() == bnds[src].tobytes()
        assert got[f"__{side}rect"].tolist() == rect[src].tolist()
        assert (f"__{side}wkb" in got) == (side == "l")
        if side == "l":
            assert got["__lwkb"].tolist() == [wkbs[k] for k in src]
    assert rect.tolist() == [False] * 6 + [True] + [False] * 5


def test_ragged_layer_empty_classifies_exterior():
    from shapely_spark.geo.kernels import EXTERIOR, RaggedPolygonLayer

    assert RaggedPolygonLayer({}).classify_many([0, -1], [0.0, 1.0], [0.0, 1.0]).tolist() \
        == [EXTERIOR, EXTERIOR]


def test_ragged_layer_rejects_negative_owner_id():
    """A negative id would index the owner list from its end and overwrite
    a real owner's segments: owner 0 read (0.5, 0.5) as EXTERIOR."""
    from shapely_spark.geo.geom import box
    from shapely_spark.geo.kernels import RaggedPolygonLayer

    with pytest.raises(ValueError, match="owner ids must be >= 0"):
        RaggedPolygonLayer({0: box(0, 0, 1, 1), -1: box(10, 10, 11, 11)})


@pytest.mark.parametrize("ids", [[-1, 0, 5, 2 ** 40], [-7, -2], [3, 3]])
def test_spatial_join_region_ids_of_any_value(spark, ids):
    """Both spatial_join modes give the same (point, region) pairs
    whatever the region ids: negative, zero, sparse or 2^40, a layer of
    negative ids only, and a repeated id, which matches each of its
    rows. Boundary points take the refine path."""
    import pandas as pd

    from shapely_spark.geo import box
    from shapely_spark.geo import kernels as K
    from shapely_spark.geo.wkb import to_wkb

    boxes = [box(10 * k, 0, 10 * k + 10, 10) for k in range(len(ids))]
    regions = spark.createDataFrame(pd.DataFrame({
        "region_id": pd.Series(ids, dtype="int64"), "wkb": [to_wkb(b) for b in boxes]}))
    pts = [(0, 5.0, 5.0), (1, 5.0, 10.0), (2, 0.0, 10.0), (3, 3.0, 20.0)]
    pts += [(4 + k, 5.0, 10.0 * k + 5.0) for k in range(len(ids))]
    pts.append((100, 5.0, 0.0))  # on the first box's edge only
    points = spark.createDataFrame(pd.DataFrame(pts, columns=["pid", "lat", "lon"]))
    want = {(p, r) for p, lat, lon in pts for r, b in zip(ids, boxes)
            if K.intersects(point(lon, lat), b)}
    assert (1, ids[1]) in want and (2, ids[0]) in want
    for broadcast in (True, False):
        got = spatial_join(points, regions, "intersects", broadcast=broadcast)
        assert {(r.pid, r.region_id) for r in got.collect()} == want, broadcast


# --- the broadcast join's probe UDF against the shuffle join and scalar kernels

_POINT_PREDICATES = ("intersects", "within", "touches", "covered_by")


def _point_join(spark, regions, pts, predicate, broadcast):
    """spatial_join pairs {(pid, region_id)} of pts [(pid, lat, lon)] and
    regions [(region_id, geometry or None)]."""
    import pandas as pd

    from shapely_spark.geo.wkb import to_wkb

    rdf = spark.createDataFrame(pd.DataFrame({
        "region_id": pd.Series([r for r, _ in regions], dtype="int64"),
        "wkb": [None if g is None else to_wkb(g) for _, g in regions]}),
        "region_id long, wkb binary")
    pdf = spark.createDataFrame(pts, "pid long, lat double, lon double")
    got = spatial_join(pdf, rdf, predicate, broadcast=broadcast)
    return {(r.pid, r.region_id) for r in got.collect()}


def _scalar_pairs(regions, pts, predicate):
    from shapely_spark.geo import kernels as K

    fn = getattr(K, predicate)
    return {(p, r) for p, lat, lon in pts
            if lat is not None and lon is not None and not np.isnan(lat) and not np.isnan(lon)
            for r, g in regions if g is not None and not g.is_empty and fn(point(lon, lat), g)}


def _check_point_join(spark, regions, pts):
    """Both modes equal the scalar kernel loop under every predicate;
    returns the intersects pairs."""
    for predicate in _POINT_PREDICATES:
        want = _scalar_pairs(regions, pts, predicate)
        for broadcast in (True, False):
            assert _point_join(spark, regions, pts, predicate, broadcast) == want, (
                predicate, broadcast)
    return _scalar_pairs(regions, pts, "intersects")


def test_probe_join_null_and_empty_layer(spark):
    """A layer of NULL and EMPTY geometries has no cover: nothing joins."""
    from shapely_spark.geo.geom import POLYGON, empty

    regions = [(0, None), (1, empty(POLYGON)), (2, None)]
    pts = [(0, 0.0, 0.0), (1, 40.7, -74.0)]
    assert _check_point_join(spark, regions, pts) == set()


def test_probe_join_full_cells_only(spark):
    """A grid-aligned box at JOIN_RES: every probe lands in a full cell,
    so the pairs come from the cover alone and no point is classified."""
    from shapely_spark.geo import box
    from shapely_spark.index.cells import cell_of, polygon_cover
    from shapely_spark.spark.join import JOIN_RES

    w, h = 360.0 / 2 ** JOIN_RES, 180.0 / 2 ** JOIN_RES
    g = box(-180.0 + 1000 * w, -90.0 + 1500 * h, -180.0 + 1006 * w, -90.0 + 1505 * h)
    # full cells touch no edge of the box: columns 1001-1004, rows 1501-1503
    rng = np.random.RandomState(5)
    lon = -180.0 + (1001.0 + 3.99 * rng.uniform(size=50)) * w
    lat = -90.0 + (1501.0 + 2.99 * rng.uniform(size=50)) * h
    cells, full = polygon_cover(g, JOIN_RES)
    assert np.isin(cell_of(lat, lon, JOIN_RES), cells[full]).all()
    pts = [(i, float(a), float(o)) for i, (a, o) in enumerate(zip(lat, lon))]
    assert len(_check_point_join(spark, [(3, g)], pts)) == 50


def test_probe_join_edge_cases(spark):
    """Region ids -7 and 2^40, a holed polygon and a MultiPolygon beside a
    NULL region; points with NULL and NaN coordinates, on a cell line, on
    a vertex, in a hole, and left of every region edge in their cell
    (once outside the region, once inside it)."""
    from shapely_spark.geo.geom import multipolygon, polygon
    from shapely_spark.spark.join import JOIN_RES

    w, h = 360.0 / 2 ** JOIN_RES, 180.0 / 2 ** JOIN_RES
    holed = polygon([(10, 10), (12, 10), (12, 12), (10, 12)],
                    [[(10.5, 10.5), (10.5, 11.5), (11.5, 11.5), (11.5, 10.5)]])
    # a cell line x0 = -180 + k·w runs through the two squares' shared gap
    x0 = -180.0 + 1200 * w
    multi = multipolygon([[(x0 - 0.5, 20), (x0, 20), (x0, 21), (x0 - 0.5, 21)],
                          [(x0 + 0.1, 20), (x0 + 0.6, 20), (x0 + 0.6, 21), (x0 + 0.1, 21)]])
    regions = [(-7, holed), (2 ** 40, multi), (5, None)]
    # left of every edge in its cell: the left edge x = 10 of `holed`
    # crosses the cell holding (lat 11, lon 10 - w / 4); the right edge
    # x = 12 crosses the cell holding (lat 11, lon 12 - w / 4)
    pts = [
        (0, None, 11.0), (1, 11.0, None), (2, float("nan"), 11.0), (3, 11.0, float("nan")),
        (4, 11.0, 10.0),            # on the left edge
        (5, 10.0, 10.0),            # on a vertex
        (6, 11.0, 11.0),            # in the hole
        (7, 10.5, 10.5),            # on a hole vertex
        (8, 10.25, 11.0),           # interior
        (9, 11.0, 10.0 - w / 4),    # left of the cell's edges, outside
        (10, 11.0, 12.0 - w / 4),   # left of the cell's edges, inside
        (11, 20.5, x0),             # on the cell line, on the first square's edge
        (12, 20.5, x0 + 0.05),      # on the cell line's cell, in the gap
        (13, 20.5, x0 + 0.3),       # in the second square
        (14, -90.0 + 1255 * h, x0 - 0.25),  # on a horizontal cell line, inside
    ]
    got = _check_point_join(spark, regions, pts)
    assert got == {(4, -7), (5, -7), (7, -7), (8, -7), (10, -7),
                   (11, 2 ** 40), (13, 2 ** 40), (14, 2 ** 40)}


def test_probe_join_hot_cell_spans_several_chunks(spark):
    """About 500 regions overlap inside one cell: every probe there has
    500 partial candidates, so its expansion runs in several _chunks
    slices. Both modes agree per region on (pairs, sum of point ids), and
    equal points_in_rings_class per region and the scalar kernel on a
    seeded sample of pairs."""
    import pandas as pd

    from shapely_spark.geo import kernels as K
    from shapely_spark.geo.geom import regular_ngon
    from shapely_spark.geo.kernels import _chunks, points_in_rings_class
    from shapely_spark.geo.wkb import to_wkb
    from shapely_spark.index.cells import cell_bounds, cell_of, polygon_cover_batch
    from shapely_spark.spark.join import JOIN_RES

    n_reg, n_pts = 500, 4500
    x0, y0, x1, y1 = cell_bounds(cell_of(40.7, -74.0, JOIN_RES), JOIN_RES)
    cx, cy = (x0 + x1) / 2, (y0 + y1) / 2
    rng = np.random.RandomState(11)
    geoms = [regular_ngon(cx + rng.uniform(-0.03, 0.03), cy + rng.uniform(-0.01, 0.01),
                          rng.uniform(0.005, 0.03), 6, rng.uniform(0, 1)) for _ in range(n_reg)]
    cells, full, _ = polygon_cover_batch(geoms, JOIN_RES)
    hot = cell_of(cy, cx, JOIN_RES)
    assert (cells == hot).sum() == n_reg and not full[cells == hot].any()
    lon = rng.uniform(x0, x1, n_pts)
    lat = rng.uniform(y0, y1, n_pts)
    assert (cell_of(lat, lon, JOIN_RES) == hot).all()
    assert len(list(_chunks(np.full(n_pts, n_reg)))) >= 3

    rdf = spark.createDataFrame(pd.DataFrame({
        "region_id": pd.Series(np.arange(n_reg) * 3 - 100, dtype="int64"),
        "wkb": [to_wkb(g) for g in geoms]}))
    pdf = spark.createDataFrame(pd.DataFrame({"pid": np.arange(n_pts), "lat": lat, "lon": lon}))

    def per_region(broadcast):
        j = spatial_join(pdf, rdf, "intersects", broadcast=broadcast)
        return {r[0]: (r[1], r[2]) for r in
                j.groupBy("region_id").agg(F.count("*"), F.sum("pid")).collect()}

    got = per_region(True)
    assert got == per_region(False)
    want = {}
    for k, g in enumerate(geoms):
        inside = np.flatnonzero(points_in_rings_class(lon, lat, K._rings_of(g)) >= 1)
        if len(inside):
            want[k * 3 - 100] = (len(inside), int(inside.sum()))
    assert got == want and sum(c for c, _ in got.values()) > n_pts
    # the vectorized reference against the scalar kernel on a sample
    for k, i in zip(rng.randint(0, n_reg, 300), rng.randint(0, n_pts, 300)):
        assert K.intersects(point(lon[i], lat[i]), geoms[k]) == bool(
            points_in_rings_class(lon[i:i + 1], lat[i:i + 1], K._rings_of(geoms[k]))[0])
