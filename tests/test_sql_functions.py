"""ST_* SQL surface tests — the 'switch from the reference' story: run
geometry ops from plain Spark SQL over WKB columns."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from shapely_spark.spark.geometry_cols import register_sql_functions


@pytest.fixture(scope="module", autouse=True)
def register(spark):
    names = register_sql_functions(spark)
    assert "st_area" in names and len(names) >= 25
    return names


@pytest.fixture(scope="module")
def shapes(spark):
    rows = [
        (1, "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"),
        (2, "POINT (3 4)"),
        (3, "LINESTRING (0 0, 3 4)"),
        (4, "POLYGON ((0 0, 0 10, 10 10, 10 0, 0 0), (2 2, 2 4, 4 4, 4 2, 2 2))"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "id int, wkt string")
    df.createOrReplaceTempView("shapes")
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW geoms AS "
        "SELECT id, st_geomfromtext(wkt) AS g FROM shapes"
    )
    return df


def test_sql_area_length(spark, shapes):
    rows = {r.id: r for r in spark.sql(
        "SELECT id, st_area(g) AS a, st_length(g) AS l FROM geoms"
    ).collect()}
    assert rows[1].a == 4.0 and rows[1].l == 8.0
    assert rows[2].a == 0.0
    assert rows[3].l == 5.0
    assert rows[4].a == 96.0


def test_sql_predicates(spark, shapes):
    r = spark.sql("""
        SELECT st_contains(a.g, b.g) AS c, st_intersects(a.g, b.g) AS i,
               st_distance(a.g, b.g) AS d
        FROM (SELECT g FROM geoms WHERE id = 1) a,
             (SELECT g FROM geoms WHERE id = 2) b
    """).first()
    assert r.c is False and r.i is False
    assert r.d == pytest.approx(math.sqrt(1 + 4))


def test_sql_contains_xy_and_buffer(spark, shapes):
    r = spark.sql("""
        SELECT st_contains_xy(g, 1.0, 1.0) AS inside,
               st_contains_xy(g, 5.0, 5.0) AS outside,
               st_area(st_buffer(st_point(0.0, 0.0), 2.0, 8)) AS buf_area
        FROM geoms WHERE id = 1
    """).first()
    assert r.inside is True and r.outside is False
    assert r.buf_area == pytest.approx(0.5 * 32 * 4.0 * math.sin(2 * math.pi / 32))


# (wkt, probe points): on-vertex, interior and exterior probes per type.
_XY_CASES = [
    ("LINESTRING (0 0, 2 0)", [(1, 0), (0, 0), (1, 1)]),
    ("POINT (1 0)", [(1, 0), (1, 1)]),
    ("MULTIPOINT ((1 0), (3 3))", [(1, 0), (3, 3), (2, 2)]),
    ("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))", [(1, 1), (0, 1), (3, 3)]),
]


@pytest.mark.parametrize("wkt,pts", _XY_CASES, ids=[c[0].split(" ")[0] for c in _XY_CASES])
def test_contains_xy_matches_scalar_kernel_for_every_type(spark, wkt, pts):
    """contains_xy / intersects_xy / st_contains_xy agree with the scalar
    kernels on polygonal AND non-polygonal geometries."""
    from shapely_spark.geo import contains_xy, from_wkt, intersects_xy, point
    from shapely_spark.geo import kernels as K

    g = from_wkt(wkt)
    xs, ys = (np.array(c, dtype=float) for c in zip(*pts))
    want_c = [K.contains(g, point(x, y)) for x, y in pts]
    want_i = [K.intersects(g, point(x, y)) for x, y in pts]
    assert True in want_c and False in want_i
    assert contains_xy(g, xs, ys).tolist() == want_c
    assert intersects_xy(g, xs, ys).tolist() == want_i
    df = spark.createDataFrame([(i, wkt, float(x), float(y)) for i, (x, y) in enumerate(pts)],
                               "i int, wkt string, x double, y double")
    got = df.selectExpr("i", "st_contains_xy(st_geomfromtext(wkt), x, y) AS c").collect()
    assert [r.c for r in sorted(got)] == want_c


def test_sql_constructive_roundtrip(spark, shapes):
    r = spark.sql("""
        SELECT st_astext(st_centroid(g)) AS c,
               st_geometrytype(st_convexhull(g)) AS hull_t,
               st_npoints(g) AS np,
               st_bounds(g) AS b
        FROM geoms WHERE id = 1
    """).first()
    assert r.c == "POINT (1 1)"
    assert r.hull_t == "POLYGON"
    assert r.np == 5
    assert r.b == [0.0, 0.0, 2.0, 2.0]


def test_sql_null_and_invalid(spark, shapes):
    rows = {r.id: r for r in spark.sql(
        "SELECT id, st_is_empty(g) AS e, st_area(g) AS a FROM geoms"
    ).collect()}
    assert rows[5].e is None  # NULL wkt → NULL geom → NULL, never EMPTY
    r = spark.sql("SELECT st_area(st_geomfromtext('NOT A WKT')) AS a").first()
    assert r.a is None or math.isnan(r.a)


def test_sql_clip_and_simplify(spark, shapes):
    r = spark.sql("""
        SELECT st_area(st_clip_by_rect(g, 1.0, 1.0, 5.0, 5.0)) AS clipped,
               st_npoints(st_simplify(st_geomfromtext(
                   'LINESTRING (0 0, 1 0.01, 2 0)'), 0.5)) AS simp
        FROM geoms WHERE id = 1
    """).first()
    assert r.clipped == 1.0
    assert r.simp == 2


def test_dataframe_api_usage(spark, shapes):
    """Same functions compose in the DataFrame API."""
    from shapely_spark.spark import geometry_cols as GC

    out = (
        shapes.where(F.col("wkt").isNotNull())
        .withColumn("a", GC.st_area(GC.st_geomfromtext(F.col("wkt"))))
        .orderBy("id")
        .collect()
    )
    assert [r.a for r in out] == [4.0, 0.0, 0.0, 96.0]


def test_st_boundary_and_dwithin(register, spark):
    rows = spark.sql("""
        SELECT st_astext(st_boundary(st_geomfromtext(
                   'POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))'))) AS b_poly,
               st_astext(st_boundary(st_geomfromtext(
                   'LINESTRING (0 0, 1 0, 2 0)'))) AS b_line,
               st_dwithin(st_point(0.0, 0.0), st_point(3.0, 4.0), 5.001) AS near,
               st_dwithin(st_point(0.0, 0.0), st_point(3.0, 4.0), 4.999) AS far
    """).first()
    assert rows.b_poly.startswith("LINESTRING")
    assert "MULTIPOINT" in rows.b_line
    assert rows.near is True and rows.far is False


def test_st_cell_and_parent(register, spark):
    import numpy as np

    from shapely_spark.index.cells import cell_of, cell_parent

    row = spark.sql("""
        SELECT st_cell(48.85D, 2.35D, 9) AS c9,
               st_cell_parent(st_cell(48.85D, 2.35D, 9), 9, 7) AS p7,
               st_cell(CAST('nan' AS DOUBLE), 2.35D, 9) AS bad
    """).first()
    assert row.c9 == int(cell_of(48.85, 2.35, 9))
    assert row.p7 == int(cell_of(48.85, 2.35, 7))
    assert row.p7 == int(cell_parent(np.int64(row.c9), 9, 7))
    assert row.bad == -1


def test_st_cell_answers_each_resolution_of_a_batch(register, spark):
    from shapely_spark.index.cells import cell_of, cell_parent

    rows = [(i, 48.85, 2.35, r, p) for i, (r, p) in enumerate([(9, 7), (7, 3), (9, 5), (5, 5)])]
    df = spark.createDataFrame(rows, "i int, lat double, lon double, r int, p int").coalesce(1)
    got = sorted(df.selectExpr(
        "i", "st_cell(lat, lon, r) AS c", "st_cell_parent(st_cell(lat, lon, r), r, p) AS pc"
    ).collect())
    for (i, lat, lon, r, p), row in zip(rows, got):
        assert row.c == int(cell_of(lat, lon, r)), (i, r)
        assert row.pc == int(cell_parent(np.int64(row.c), r, p)) == int(cell_of(lat, lon, p))


def _registry():
    from shapely_spark.spark.geometry_cols import REGISTRY

    return REGISTRY


@pytest.mark.parametrize("name", sorted(_registry()))
def test_all_null_arguments_give_null(register, spark, name):
    """The NULL rule: every function, on a row whose arguments are all
    NULL, completes and returns NULL."""
    text_in = name in ("st_geomfromtext", "st_geomfromgeojson")
    args = ", ".join("CAST(NULL AS BINARY)" if k == "g" else
                     "CAST(NULL AS STRING)" if text_in else "CAST(NULL AS DOUBLE)"
                     for k in _registry()[name].args)
    assert spark.sql(f"SELECT {name}({args}) AS r").first().r is None


_PREDICATES = ["intersects", "contains", "within", "covers", "touches",
               "crosses", "overlaps", "equals", "disjoint"]


def test_sql_predicates_equal_scalar_kernels(register, spark):
    """The nine SQL predicates over every pair of the 19-geometry fixture
    (EMPTYs and a GeometryCollection included), in one query, equal the
    scalar kernels pair for pair."""
    from shapely_spark.geo import kernels as K
    from shapely_spark.geo.wkt import from_wkt
    from tests.test_group_predicates import FIXTURE_WKTS

    geoms = [from_wkt(w) for w in FIXTURE_WKTS]
    df = spark.createDataFrame(list(enumerate(FIXTURE_WKTS)), "i int, w string")
    df.selectExpr("i", "st_geomfromtext(w) AS g").createOrReplaceTempView("fixture")
    cols = ", ".join(f"st_{p}(a.g, b.g) AS {p}" for p in _PREDICATES)
    rows = spark.sql(f"SELECT a.i AS a, b.i AS b, {cols} FROM fixture a, fixture b").collect()
    assert len(rows) == len(geoms) ** 2
    bad = [(r.a, r.b, p) for r in rows for p in _PREDICATES
           if r[p] is None or r[p] != bool(getattr(K, p)(geoms[r.a], geoms[r.b]))]
    assert not bad, bad


def _wkbs(*wkts):
    import pandas as pd

    from shapely_spark.geo.wkb import to_wkb
    from shapely_spark.geo.wkt import from_wkt

    return pd.Series([None if w is None else to_wkb(from_wkt(w)) for w in wkts])


def test_maximum_inscribed_circle_of_empty_and_non_polygon():
    """EMPTY in gives LINESTRING EMPTY (it raised IndexError); a POINT
    raises a ValueError that names the polygon requirement (it raised
    'argmin of an empty sequence')."""
    from shapely_spark.geo.wkb import from_wkb
    from shapely_spark.geo.wkt import to_wkt
    from shapely_spark.spark.geometry_cols import REGISTRY, _evaluate

    e = REGISTRY["st_maximuminscribedcircle"]
    out = _evaluate(e, [_wkbs("POLYGON EMPTY", None, "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")])
    assert to_wkt(from_wkb(out[0])) == "LINESTRING EMPTY"
    assert out[1] is None
    assert to_wkt(from_wkb(out[2])) == "LINESTRING (2 2, 2 0)"
    with pytest.raises(ValueError, match="requires a polygon"):
        _evaluate(e, [_wkbs("POINT (1 1)")])


def test_row_kernel_runs_once_per_distinct_argument_tuple():
    """A row entry's kernel runs once per distinct (geometry, value) tuple
    of a batch; -0.0 and 0.0 are distinct values."""
    import pandas as pd

    from shapely_spark.spark.geometry_cols import Entry, _evaluate

    calls = []

    def kernel(g, d):
        calls.append((g.type_id, d))
        return math.copysign(1.0, d)

    e = Entry(kernel, "double", "gv")
    out = _evaluate(e, [_wkbs("POINT (1 1)", "POINT (1 1)", "POINT (1 1)", "POINT (2 2)", None),
                        pd.Series([0.0, 0.0, -0.0, 0.0, 0.0])])
    assert list(out[:4]) == [1.0, 1.0, -1.0, 1.0] and out[4] is None
    assert len(calls) == 3
