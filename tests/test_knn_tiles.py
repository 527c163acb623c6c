"""kNN join + tile aggregation vs single-node oracles (SURVEY.md §7 steps 5-6)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from shapely_spark.geo import kernels as K
from shapely_spark.spark.extract import with_geo
from shapely_spark.spark.knn import knn_join
from shapely_spark.spark.pages import HOTSPOTS, regions_df, synth_pages, synth_regions
from shapely_spark.spark.tiles import raster_vector_aggregate, region_tile_weights, tile_counts

RES = 9


@pytest.fixture(scope="module")
def pages(spark):
    return with_geo(synth_pages(spark, 2000), res=RES).cache()


@pytest.fixture(scope="module")
def targets(spark):
    rows = [(i, float(lat), float(lon)) for i, (lat, lon) in enumerate(HOTSPOTS)]
    return spark.createDataFrame(rows, "target_id long, t_lat double, t_lon double")


def brute_knn(pts_pdf: pd.DataFrame, targets, k: int):
    """Oracle: exact haversine over all pairs (reference expand-refine spec,
    benchmarks/benchmarks.py:282-319 — lexsort by (left, dist), group mins)."""
    out = {}
    tl = np.array([t[1] for t in targets])
    tn = np.array([t[2] for t in targets])
    tid = np.array([t[0] for t in targets])
    for _, r in pts_pdf.iterrows():
        d = K.haversine_km(r.lat, r.lon, tl, tn)
        order = np.lexsort((tid, d))
        out[r.url] = [(int(tid[i]), float(d[i])) for i in order[:k]]
    return out


def test_knn_matches_bruteforce(spark, pages, targets):
    got = knn_join(pages, targets, k=1, res=RES, k_ring=2).collect()
    got_map = {r.url: (r.target_id, r.dist_km) for r in got}

    pts = pages.select("url", "lat", "lon").where(F.col("lat").isNotNull()).toPandas()
    trows = [(r.target_id, r.t_lat, r.t_lon) for r in targets.collect()]
    want = brute_knn(pts, trows, 1)

    assert set(got_map) == set(want)
    for url, (t, d) in got_map.items():
        wt, wd = want[url][0]
        assert t == wt, (url, t, wt)
        assert d == pytest.approx(wd, rel=1e-9)


def test_knn_k3_counts(spark, pages, targets):
    got = knn_join(pages, targets, k=3, res=RES, k_ring=2)
    counts = got.groupBy("url").count().agg(F.min("count"), F.max("count")).collect()[0]
    assert counts[0] == 3 and counts[1] == 3


def test_knn_max_distance(spark, pages, targets):
    got = knn_join(pages, targets, k=1, res=RES, max_distance_km=50.0)
    assert got.agg(F.max("dist_km")).collect()[0][0] <= 50.0
    # uniform points far from every hotspot must drop out
    n_all = knn_join(pages, targets, k=1).count()
    assert got.count() < n_all


def test_tile_counts_match_groupby(spark, pages):
    tc = tile_counts(pages)
    direct = pages.where(F.col("cell_id") >= 0).groupBy("cell_id").count()
    j = tc.join(direct, "cell_id", "full")
    bad = j.where((F.col("n_pages") != F.col("count")) | F.col("n_pages").isNull() | F.col("count").isNull()).count()
    assert bad == 0


def test_region_tile_weights_sum_to_area(spark):
    regions = synth_regions(30, seed=7)
    rdf = regions_df(spark, regions)
    w = region_tile_weights(rdf, RES).toPandas()
    from shapely_spark.geo import kernels as K2

    for rid, name, g, kind in regions:
        if g.is_empty:
            continue
        total = K2.area(g)
        got = w[w.region_id == rid].clip_area.sum()
        assert got == pytest.approx(total, rel=1e-9), (rid, kind)
        frac = w[w.region_id == rid].area_frac.sum()
        assert frac == pytest.approx(1.0, rel=1e-9)


def test_raster_vector_aggregate_runs(spark, pages):
    rdf = regions_df(spark, synth_regions(30, seed=7))
    out = raster_vector_aggregate(pages, rdf, RES).collect()
    assert len(out) > 0
    for r in out:
        assert r.weighted_pages <= r.n_pages + 1e-9


def test_raster_vector_aggregate_keys_pages_at_its_res(spark):
    """Pages stored at res 9 aggregate at res 7 exactly as pages stored at
    res 7: the pages and the tile weights share raster_vector_aggregate's
    grid whatever cell_id the pages carry."""
    raw = synth_pages(spark, 2000)
    rdf = regions_df(spark, synth_regions(30, seed=7))

    def rows(store_res):
        return {r.region_id: r for r in raster_vector_aggregate(
            with_geo(raw, res=store_res), rdf, res=7).collect()}

    got, want = rows(9), rows(7)
    assert len(want) > 0 and set(got) == set(want)
    for rid, w in want.items():
        assert (got[rid].n_tiles, got[rid].n_pages) == (w.n_tiles, w.n_pages), rid
        assert got[rid].weighted_pages == pytest.approx(w.weighted_pages, rel=1e-12)


def test_knn_broadcast_equals_cell_path(spark, pages, targets, monkeypatch):
    from shapely_spark.spark import knn

    a_stats = {}
    a = knn_join(pages, targets, k=1, point_id="url", stats=a_stats)
    assert a_stats["dispatch"] == "broadcast"
    # SMALL_LAYER_MAX=0 keeps the 10-target layer off the broadcast
    # dispatch, so b runs the cell-disk passes
    monkeypatch.setattr(knn, "SMALL_LAYER_MAX", 0)
    stats = {}
    b = knn_join(pages, targets, k=1, k_ring=2, point_id="url", ties="break",
                 stats=stats)
    pa = {(r.url, r.target_id, round(r.dist_km, 9)) for r in a.collect()}
    pb = {(r.url, r.target_id, round(r.dist_km, 9)) for r in b.collect()}
    assert pa == pb
    assert "dispatch" not in stats
    assert stats["unsafe_after_pass_2"] < stats["points"]  # pass 2 certified some
    assert "unsafe_after_pass_8" in stats  # and the yield gate escalated


def test_knn_exclusive_self_join(spark, monkeypatch):
    """query_nearest(exclusive=True) semantics (shapely/strtree.py:409):
    a point's nearest neighbor among the targets is never itself."""
    import pandas as pd
    from pyspark.sql import functions as F

    from shapely_spark.spark import knn

    pdf = pd.DataFrame({
        "pid": list(range(6)),
        "lat": [0.0, 0.0, 1.1, 1.3, 2.0, 50.0],
        "lon": [0.0, 1.0, 0.2, 1.1, 2.2, 50.0],
    })
    pts = spark.createDataFrame(pdf, "pid long, lat double, lon double")
    tgts = pts.select(F.col("pid").alias("target_id"),
                      F.col("lat").alias("t_lat"), F.col("lon").alias("t_lon"))
    # six targets: both calls take the broadcast dispatch
    got = {r.pid: r.target_id for r in knn_join(
        pts, tgts, k=1, exclusive=True, point_id="pid").collect()}
    assert all(got[p] != p for p in got), got
    assert got[0] == 1  # (0,0) → nearest other is (0,1)
    # inclusive: nearest is itself at distance 0
    inc = {r.pid: r.target_id for r in knn_join(
        pts, tgts, k=1, exclusive=False, point_id="pid").collect()}
    assert all(inc[p] == p for p in inc)
    # cell-ring variant agrees: at res 7 (cells ~155 km tall) the first
    # disk pass certifies the five clustered points, so their answers come
    # through the disk pass's own dist_km > 0 filter
    monkeypatch.setattr(knn, "SMALL_LAYER_MAX", 0)
    stats = {}
    got2 = {r.pid: r.target_id for r in knn_join(
        pts, tgts, k=1, res=7, exclusive=True, point_id="pid",
        stats=stats).collect()}
    assert got2 == got
    assert "dispatch" not in stats
    assert stats["unsafe_after_pass_2"] < stats["points"]


def test_knn_polar_cluster(spark, monkeypatch):
    """Adversarial density (r3 verdict item 7): a target layer clustered at
    the pole makes the longitude guarantee collapse, so the first disk
    pass certifies no point. The yield gate must then skip the wider ring
    and send the whole remainder straight to the brute-force pass, whose
    answer must match brute force exactly."""
    rng = np.random.default_rng(11)
    n = 400
    pdf = pd.DataFrame({
        "pid": list(range(n)),
        "lat": 88.0 + 1.9 * rng.random(n),          # 88..89.9 — polar band
        "lon": -180.0 + 360.0 * rng.random(n),
    })
    pts = spark.createDataFrame(pdf, "pid long, lat double, lon double")
    tl = 89.0 + 0.95 * rng.random(40)
    tn = -180.0 + 360.0 * rng.random(40)
    tgts = spark.createDataFrame(
        pd.DataFrame({"target_id": list(range(40)), "t_lat": tl, "t_lon": tn}),
        "target_id long, t_lat double, t_lon double",
    )
    from shapely_spark.spark import knn

    monkeypatch.setattr(knn, "SMALL_LAYER_MAX", 0)
    stats = {}
    got = knn_join(pts, tgts, k=2, res=RES, k_ring=2, point_id="pid",
                   ties="break", stats=stats).collect()
    assert "dispatch" not in stats
    assert stats["unsafe_after_pass_2"] == stats["points"] == n
    assert "unsafe_after_pass_8" not in stats  # no escalation
    by_pid: dict[int, list] = {}
    for r in got:
        by_pid.setdefault(r.pid, []).append((r.knn_rank, r.target_id, r.dist_km))
    assert set(by_pid) == set(range(n))
    trows = list(zip(range(40), tl, tn))
    pts_pdf = pdf.rename(columns={"pid": "url"})
    want = brute_knn(pts_pdf, trows, 2)
    for pid, rows in by_pid.items():
        rows.sort()
        assert [t for _, t, _ in rows] == [t for t, _ in want[pid]], pid
        for (_, _, d), (_, wd) in zip(rows, want[pid]):
            assert d == pytest.approx(wd, rel=1e-9)


def test_knn_broadcast_exclusive_duplicate_targets(spark):
    """≥2 targets coinciding with the query point must still yield k
    neighbors in exclusive mode (regression: one reserved slot was eaten
    by the second zero-distance duplicate)."""
    pts = spark.createDataFrame([(1, 10.0, 20.0)], "pid long, lat double, lon double")
    tgts = spark.createDataFrame(
        [(100, 10.0, 20.0), (101, 10.0, 20.0), (102, 10.0, 20.0),
         (200, 10.5, 20.0), (201, 11.0, 20.0), (202, 11.5, 20.0)],
        "tid long, lat double, lon double",
    )
    out = knn_join(
        pts, tgts, k=2, point_id="pid", target_id="tid",
        point_cols=("lat", "lon"), target_cols=("lat", "lon"), exclusive=True,
    ).collect()
    got = sorted((r.knn_rank, r.tid) for r in out)
    assert got == [(1, 200), (2, 201)], got


def test_dwithin_join_matches_bruteforce(spark):
    """dwithin_join (r4): per-target adaptive cell rings must reproduce
    the exact haversine-radius pair set, including polar targets (ring
    saturates to the full circle) and antimeridian wrap."""
    import numpy as np
    import pandas as pd
    from shapely_spark.geo.kernels import haversine_km
    from shapely_spark.spark.knn import dwithin_join

    rng = np.random.default_rng(5)
    npts = 2500
    plat = rng.uniform(-89.9, 89.9, npts)
    plon = rng.uniform(-180, 180, npts)
    pts = spark.createDataFrame(
        pd.DataFrame({"url": np.arange(npts), "lat": plat, "lon": plon}),
        "url long, lat double, lon double")
    trows = [(0, 89.5, 10.0), (1, -88.0, -170.0), (2, 0.0, 179.9),
             (3, 62.0, -179.95), (4, 45.0, 0.0), (5, -45.0, 90.0)]
    tg = spark.createDataFrame(
        pd.DataFrame(trows, columns=["target_id", "t_lat", "t_lon"]),
        "target_id long, t_lat double, t_lon double")
    for radius in (150.0, 700.0, 3000.0):
        for bc in (True, False):
            got = {(r.url, r.target_id) for r in
                   dwithin_join(pts, tg, radius, point_id="url",
                                broadcast=bc).collect()}
            want = set()
            for tid, tla, tlo in trows:
                d = haversine_km(plat, plon, np.full(npts, tla),
                                 np.full(npts, tlo))
                want |= {(int(i), tid) for i in np.nonzero(d <= radius)[0]}
            assert got == want, (radius, bc, len(got), len(want))


def test_tile_rollup_equals_direct_coarse_counts(spark, pages):
    # pyramid rollup of the fine raster == rasterizing directly at the
    # parent resolution (the grid nests exactly; see cells.cell_parent)
    from shapely_spark.spark.columns import cell_col
    from shapely_spark.spark.tiles import tile_rollup

    fine = tile_counts(pages)
    rolled = tile_rollup(fine, res=RES, parent_res=RES - 2)
    direct = (
        pages.where(F.col("cell_id") >= 0)
        .withColumn("pcell", cell_col("lat", "lon", RES - 2))
        .groupBy("pcell").agg(F.count("*").alias("n_pages"))
    )
    got = {r.cell_id: r.n_pages for r in rolled.collect()}
    want = {r.pcell: r.n_pages for r in direct.collect()}
    assert got == want
    # n_tiles counts base cells under each parent
    n_fine = fine.count()
    assert sum(r.n_tiles for r in rolled.collect()) == n_fine


def test_tile_rollup_chaining_preserves_base_tile_count(spark, pages):
    from shapely_spark.spark.tiles import tile_rollup

    fine = tile_counts(pages)
    one = tile_rollup(fine, res=RES, parent_res=RES - 1)
    two_step = tile_rollup(one, res=RES - 1, parent_res=RES - 3)
    one_shot = tile_rollup(fine, res=RES, parent_res=RES - 3)
    a = {(r.cell_id, r.n_tiles, r.n_pages) for r in two_step.collect()}
    b = {(r.cell_id, r.n_tiles, r.n_pages) for r in one_shot.collect()}
    assert a == b
