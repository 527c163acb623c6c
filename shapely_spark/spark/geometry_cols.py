"""ST_* column/SQL function surface over WKB geometry columns.

The user-facing function layer: every reference operation that makes sense
as a per-row column function is exposed as an Arrow-batched pandas UDF over
BinaryType WKB (the engine's canonical geometry encoding, SURVEY.md §1.4),
and `register_sql_functions(spark)` installs them in the session's
FunctionRegistry so plain Spark SQL works:

    SELECT st_area(st_buffer(st_point(lon, lat), 0.1)) FROM pages

Each UDF decodes WKB per batch with the NumPy codec and runs the kernel —
no GEOS, no per-row Python. Cited reference semantics per function.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..geo import constructive as C
from ..geo import kernels as K
from ..geo.geom import point as make_point
from ..geo.wkb import from_wkb, to_wkb
from ..geo.wkt import from_wkt, to_wkt


_CACHE: dict | None = None


def _build() -> dict:
    """UDF construction is deferred — pyspark 4 requires an active
    SparkSession to create pandas UDFs, so import must stay session-free."""
    def _geoms(col: pd.Series):
        return [None if b is None else from_wkb(bytes(b), on_invalid="ignore") for b in col]


    # ---- constructors ----------------------------------------------------------

    @F.pandas_udf("binary")
    def st_point(x: pd.Series, y: pd.Series) -> pd.Series:
        return pd.Series([
            None if (a is None or b is None) else to_wkb(make_point(a, b))
            for a, b in zip(x, y)
        ])


    @F.pandas_udf("binary")
    def st_geomfromtext(wkt: pd.Series) -> pd.Series:
        """reference: shapely/io.py:269 from_wkt."""
        return pd.Series([None if t is None else to_wkb(from_wkt(t, on_invalid="ignore")) for t in wkt])


    @F.pandas_udf("string")
    def st_astext(wkb: pd.Series) -> pd.Series:
        """reference: shapely/io.py:33 to_wkt."""
        return pd.Series([None if g is None else to_wkt(g) for g in _geoms(wkb)])

    @F.pandas_udf("string")
    def st_asgeojson(wkb: pd.Series) -> pd.Series:
        """reference: shapely/io.py:206 to_geojson."""
        from ..geo.geojson import to_geojson

        return pd.Series([None if g is None else to_geojson(g) for g in _geoms(wkb)])

    @F.pandas_udf("binary")
    def st_geomfromgeojson(txt: pd.Series) -> pd.Series:
        """reference: shapely/io.py:362 from_geojson."""
        from ..geo.geojson import from_geojson

        out = []
        for t in txt:
            g = from_geojson(t, on_invalid="ignore") if t is not None else None
            out.append(None if g is None else to_wkb(g))
        return pd.Series(out)


    # ---- measurement (reference: shapely/measurement.py) ------------------------

    @F.pandas_udf("double")
    def st_area(wkb: pd.Series) -> pd.Series:
        return pd.Series([K.area(g) for g in _geoms(wkb)], dtype="float64")


    @F.pandas_udf("double")
    def st_length(wkb: pd.Series) -> pd.Series:
        return pd.Series([K.length(g) for g in _geoms(wkb)], dtype="float64")


    @F.pandas_udf("array<double>")
    def st_bounds(wkb: pd.Series) -> pd.Series:
        return pd.Series([K.bounds(g).tolist() for g in _geoms(wkb)])


    @F.pandas_udf("double")
    def st_distance(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(
            [K.distance(g, h) for g, h in zip(_geoms(a), _geoms(b))], dtype="float64"
        )


    # ---- predicates (reference: shapely/predicates.py) ---------------------------

    def _binary_pred(fn):
        @F.pandas_udf("boolean")
        def pred(a: pd.Series, b: pd.Series) -> pd.Series:
            return pd.Series([fn(g, h) for g, h in zip(_geoms(a), _geoms(b))], dtype="bool")

        return pred


    @F.pandas_udf("long")
    def st_cell(lat: pd.Series, lon: pd.Series, res: pd.Series) -> pd.Series:
        """Grid cell id at resolution `res` (engine-owned index; mirrors
        index.cells.cell_of / columns.cell_col bit-exactly — prefer the
        Catalyst builder in DataFrame code, this is the SQL-surface twin)."""
        from ..index.cells import cell_of

        return pd.Series(
            cell_of(lat.to_numpy(dtype="float64"), lon.to_numpy(dtype="float64"),
                    int(res.iloc[0])),
            dtype="int64")

    @F.pandas_udf("long")
    def st_cell_parent(cell: pd.Series, res: pd.Series, parent_res: pd.Series) -> pd.Series:
        """Containing cell at a coarser resolution (H3 cell_to_parent analog;
        mirrors index.cells.cell_parent / columns.cell_parent_col)."""
        from ..index.cells import cell_parent

        return pd.Series(
            cell_parent(cell.to_numpy(dtype="int64"), int(res.iloc[0]),
                        int(parent_res.iloc[0])),
            dtype="int64")

    st_intersects = _binary_pred(K.intersects)
    st_contains = _binary_pred(K.contains)
    st_within = _binary_pred(K.within)
    st_covers = _binary_pred(K.covers)
    st_touches = _binary_pred(K.touches)
    st_crosses = _binary_pred(K.crosses)
    st_overlaps = _binary_pred(K.overlaps)
    st_equals = _binary_pred(K.equals)
    st_disjoint = _binary_pred(K.disjoint)


    @F.pandas_udf("boolean")
    def st_contains_xy(wkb: pd.Series, x: pd.Series, y: pd.Series) -> pd.Series:
        """reference: shapely/predicates.py:1311 — K.contains_xy once per
        distinct geometry of the batch."""
        out = np.zeros(len(wkb), dtype=bool)
        xs = x.to_numpy(np.float64)
        ys = y.to_numpy(np.float64)
        codes, uniques = pd.factorize(wkb)
        for u_idx, u in enumerate(uniques):
            if u is None:
                continue
            sel = codes == u_idx
            g = from_wkb(bytes(u), on_invalid="ignore")
            out[sel] = K.contains_xy(g, xs[sel], ys[sel])
        return pd.Series(out)


    @F.pandas_udf("boolean")
    def st_is_valid(wkb: pd.Series) -> pd.Series:
        return pd.Series([g is not None and K.is_valid(g) for g in _geoms(wkb)], dtype="bool")


    @F.pandas_udf("boolean")
    def st_is_empty(wkb: pd.Series) -> pd.Series:
        return pd.Series([g is None or g.is_empty for g in _geoms(wkb)], dtype="bool")


    # ---- constructive (reference: shapely/constructive.py) -----------------------

    def _unary_geom(fn):
        @F.pandas_udf("binary")
        def udf(wkb: pd.Series) -> pd.Series:
            out = []
            for g in _geoms(wkb):
                try:
                    r = fn(g)
                except NotImplementedError:
                    r = None
                out.append(None if r is None else to_wkb(r))
            return pd.Series(out)

        return udf


    st_centroid = _unary_geom(C.centroid)
    st_convexhull = _unary_geom(C.convex_hull)
    st_envelope = _unary_geom(C.envelope)
    st_orientedenvelope = _unary_geom(C.oriented_envelope)
    st_minimumboundingcircle = _unary_geom(C.minimum_bounding_circle)


    @F.pandas_udf("binary")
    def st_buffer(wkb: pd.Series, dist: pd.Series, quad_segs: pd.Series) -> pd.Series:
        out = []
        for g, d, qs in zip(_geoms(wkb), dist, quad_segs):
            try:
                out.append(None if g is None else to_wkb(C.buffer(g, float(d), int(qs))))
            except NotImplementedError:
                out.append(None)
        return pd.Series(out)


    @F.pandas_udf("binary")
    def st_offsetcurve(wkb: pd.Series, dist: pd.Series) -> pd.Series:
        out = []
        for g, d in zip(_geoms(wkb), dist):
            try:
                out.append(None if g is None else to_wkb(C.offset_curve(g, float(d))))
            except NotImplementedError:
                out.append(None)
        return pd.Series(out)

    @F.pandas_udf("binary")
    def st_simplify(wkb: pd.Series, tol: pd.Series) -> pd.Series:
        return pd.Series(
            [None if g is None else to_wkb(C.simplify(g, float(t)))
             for g, t in zip(_geoms(wkb), tol)]
        )


    @F.pandas_udf("binary")
    def st_clip_by_rect(wkb: pd.Series, xmin: pd.Series, ymin: pd.Series,
                        xmax: pd.Series, ymax: pd.Series) -> pd.Series:
        return pd.Series(
            [
                None if g is None
                else to_wkb(C.clip_by_rect(g, float(a), float(b), float(c2), float(d)))
                for g, a, b, c2, d in zip(_geoms(wkb), xmin, ymin, xmax, ymax)
            ]
        )


    # ---- set operations / overlay (reference: shapely/set_operations.py) ---------

    def _binary_geom(fn):
        @F.pandas_udf("binary")
        def udf(a: pd.Series, b: pd.Series) -> pd.Series:
            out = []
            for g, h in zip(_geoms(a), _geoms(b)):
                try:
                    r = fn(g, h)
                except NotImplementedError:
                    r = None
                out.append(None if r is None else to_wkb(r))
            return pd.Series(out)

        return udf

    from ..geo import overlay as O

    st_intersection = _binary_geom(O.intersection)
    st_union = _binary_geom(O.union)
    st_difference = _binary_geom(O.difference)
    st_symdifference = _binary_geom(O.symmetric_difference)
    st_pointonsurface = _unary_geom(C.point_on_surface)
    st_reverse = _unary_geom(C.reverse)
    # reference: shapely/constructive.py:92 boundary (mod-2 endpoints,
    # polygon rings as (multi)linestring)
    st_boundary = _unary_geom(C.boundary)
    # reference: shapely/validation.py:30 make_valid; constructive.py:654
    # build_area; :884 polygonize (per-row over a (multi)linestring)
    st_makevalid = _unary_geom(O.make_valid)
    st_buildarea = _unary_geom(O.build_area)
    st_polygonize = _unary_geom(lambda g: O.polygonize([g]))

    from ..geo import triangulate as T

    # reference: shapely/constructive.py:794 normalize; :491 delaunay;
    # :1270 voronoi; :1473 maximum_inscribed_circle; ops.py:287
    # shortest_line; measurement.py:289 minimum_clearance
    st_normalize = _unary_geom(C.normalize)
    st_delaunaytriangles = _unary_geom(T.delaunay_triangles)
    st_constraineddelaunaytriangles = _unary_geom(T.constrained_delaunay_triangles)
    st_voronoipolygons = _unary_geom(T.voronoi_polygons)
    st_maximuminscribedcircle = _unary_geom(T.maximum_inscribed_circle)
    st_shortestline = _binary_geom(C.shortest_line)
    # reference: shapely/ops.py:311 split; linear.py:172 shared_paths
    st_split = _binary_geom(O.split)
    st_sharedpaths = _binary_geom(O.shared_paths)
    # reference: constructive.py:850 node; :431 concave_hull; :1434
    # minimum_width; :758 minimum_clearance_line; _geometry.py:982 force_3d
    st_node = _unary_geom(O.node)
    st_concavehull = _unary_geom(O.concave_hull)
    st_minimumwidth = _unary_geom(C.minimum_width)
    st_minimumclearanceline = _unary_geom(C.minimum_clearance_line)
    st_force3d = _unary_geom(C.force_3d)

    @F.pandas_udf("double")
    def st_minimumclearance(wkb: pd.Series) -> pd.Series:
        return pd.Series(
            [C.minimum_clearance(g) for g in _geoms(wkb)], dtype="float64"
        )

    # ---- inspection ---------------------------------------------------------------

    @F.pandas_udf("double")
    def st_x(wkb: pd.Series) -> pd.Series:
        """reference: shapely/_geometry.py:274 get_x."""
        return pd.Series(
            [np.nan if g is None or g.is_empty or g.type_id != 0 else float(g.coords[0, 0])
             for g in _geoms(wkb)], dtype="float64"
        )

    @F.pandas_udf("double")
    def st_y(wkb: pd.Series) -> pd.Series:
        """reference: shapely/_geometry.py:302 get_y."""
        return pd.Series(
            [np.nan if g is None or g.is_empty or g.type_id != 0 else float(g.coords[0, 1])
             for g in _geoms(wkb)], dtype="float64"
        )

    @F.pandas_udf("double")
    def st_z(wkb: pd.Series) -> pd.Series:
        """reference: shapely/_geometry.py:330 get_z (nan for 2-D points)."""
        from ..geo.geom import get_z

        return pd.Series([get_z(g) for g in _geoms(wkb)], dtype="float64")

    @F.pandas_udf("double")
    def st_m(wkb: pd.Series) -> pd.Series:
        """reference: shapely/_geometry.py:362 get_m."""
        from ..geo.geom import get_m

        return pd.Series([get_m(g) for g in _geoms(wkb)], dtype="float64")

    @F.pandas_udf("int")
    def st_numgeometries(wkb: pd.Series) -> pd.Series:
        """reference: shapely/_geometry.py:790 get_num_geometries."""
        return pd.Series(
            [0 if g is None else g.num_geometries() for g in _geoms(wkb)], dtype="int32"
        )

    @F.pandas_udf("binary")
    def st_geometryn(wkb: pd.Series, n: pd.Series) -> pd.Series:
        """reference: shapely/_geometry.py:595 get_geometry (0-based)."""
        out = []
        for g, i in zip(_geoms(wkb), n):
            r = None if g is None else g.get_geometry(int(i))
            out.append(None if r is None else to_wkb(r))
        return pd.Series(out)

    # ---- DE-9IM / distance predicates ---------------------------------------------

    @F.pandas_udf("string")
    def st_relate(a: pd.Series, b: pd.Series) -> pd.Series:
        """reference: shapely/predicates.py:1194 — 9-char DE-9IM matrix."""
        return pd.Series(
            [None if g is None or h is None else K.relate(g, h)
             for g, h in zip(_geoms(a), _geoms(b))]
        )

    @F.pandas_udf("boolean")
    def st_dwithin(a: pd.Series, b: pd.Series, d: pd.Series) -> pd.Series:
        """reference: shapely/predicates.py:1269."""
        return pd.Series(
            [g is not None and h is not None and K.dwithin(g, h, float(dd))
             for g, h, dd in zip(_geoms(a), _geoms(b), d)], dtype="bool"
        )

    @F.pandas_udf("double")
    def st_hausdorffdistance(a: pd.Series, b: pd.Series) -> pd.Series:
        """reference: shapely/measurement.py:200."""
        return pd.Series(
            [np.nan if g is None or h is None else K.hausdorff_distance(g, h)
             for g, h in zip(_geoms(a), _geoms(b))], dtype="float64"
        )

    # ---- linear referencing (reference: shapely/linear.py) ------------------------

    @F.pandas_udf("binary")
    def st_lineinterpolatepoint(wkb: pd.Series, frac: pd.Series) -> pd.Series:
        """reference: shapely/linear.py:26 (normalized=True)."""
        out = []
        for g, t in zip(_geoms(wkb), frac):
            r = None if g is None else C.line_interpolate_point(g, float(t), normalized=True)
            out.append(None if r is None else to_wkb(r))
        return pd.Series(out)

    @F.pandas_udf("double")
    def st_linelocatepoint(wkb: pd.Series, pt: pd.Series) -> pd.Series:
        """reference: shapely/linear.py:78 (normalized=True)."""
        return pd.Series(
            [np.nan if g is None or p is None
             else C.line_locate_point(g, p, normalized=True)
             for g, p in zip(_geoms(wkb), _geoms(pt))], dtype="float64"
        )

    st_linemerge = _unary_geom(C.line_merge)

    @F.pandas_udf("binary")
    def st_snap(a: pd.Series, b: pd.Series, tol: pd.Series) -> pd.Series:
        """reference: shapely/constructive.py:1171."""
        out = []
        for g, h, t in zip(_geoms(a), _geoms(b), tol):
            r = None if g is None or h is None else C.snap(g, h, float(t))
            out.append(None if r is None else to_wkb(r))
        return pd.Series(out)

    @F.pandas_udf("binary")
    def st_segmentize(wkb: pd.Series, maxlen: pd.Series) -> pd.Series:
        """reference: shapely/constructive.py:1070."""
        out = []
        for g, m in zip(_geoms(wkb), maxlen):
            r = None if g is None else C.segmentize(g, float(m))
            out.append(None if r is None else to_wkb(r))
        return pd.Series(out)

    @F.pandas_udf("int")
    def st_npoints(wkb: pd.Series) -> pd.Series:
        """reference: shapely/_geometry.py:173 get_num_coordinates."""
        return pd.Series(
            [0 if g is None else g.num_coordinates() for g in _geoms(wkb)], dtype="int32"
        )


    @F.pandas_udf("string")
    def st_geometrytype(wkb: pd.Series) -> pd.Series:
        from ..geo.geom import TYPE_NAMES

        return pd.Series([None if g is None else TYPE_NAMES[g.type_id] for g in _geoms(wkb)])


    ALL_FUNCTIONS = {
        "st_point": st_point,
        "st_geomfromtext": st_geomfromtext,
        "st_astext": st_astext,
        "st_asgeojson": st_asgeojson,
        "st_geomfromgeojson": st_geomfromgeojson,
        "st_area": st_area,
        "st_length": st_length,
        "st_bounds": st_bounds,
        "st_distance": st_distance,
        "st_relate": st_relate,
        "st_intersects": st_intersects,
        "st_dwithin": st_dwithin,
        "st_cell": st_cell,
        "st_cell_parent": st_cell_parent,
        "st_boundary": st_boundary,
        "st_contains": st_contains,
        "st_within": st_within,
        "st_covers": st_covers,
        "st_touches": st_touches,
        "st_crosses": st_crosses,
        "st_overlaps": st_overlaps,
        "st_equals": st_equals,
        "st_disjoint": st_disjoint,
        "st_contains_xy": st_contains_xy,
        "st_is_valid": st_is_valid,
        "st_is_empty": st_is_empty,
        "st_centroid": st_centroid,
        "st_convexhull": st_convexhull,
        "st_envelope": st_envelope,
        "st_orientedenvelope": st_orientedenvelope,
        "st_minimumboundingcircle": st_minimumboundingcircle,
        "st_buffer": st_buffer,
        "st_simplify": st_simplify,
        "st_offsetcurve": st_offsetcurve,
        "st_clip_by_rect": st_clip_by_rect,
        "st_npoints": st_npoints,
        "st_geometrytype": st_geometrytype,
        "st_intersection": st_intersection,
        "st_union": st_union,
        "st_difference": st_difference,
        "st_symdifference": st_symdifference,
        "st_pointonsurface": st_pointonsurface,
        "st_reverse": st_reverse,
        "st_makevalid": st_makevalid,
        "st_buildarea": st_buildarea,
        "st_polygonize": st_polygonize,
        "st_normalize": st_normalize,
        "st_delaunaytriangles": st_delaunaytriangles,
        "st_constraineddelaunaytriangles": st_constraineddelaunaytriangles,
        "st_voronoipolygons": st_voronoipolygons,
        "st_maximuminscribedcircle": st_maximuminscribedcircle,
        "st_shortestline": st_shortestline,
        "st_minimumclearance": st_minimumclearance,
        "st_split": st_split,
        "st_sharedpaths": st_sharedpaths,
        "st_node": st_node,
        "st_concavehull": st_concavehull,
        "st_minimumwidth": st_minimumwidth,
        "st_minimumclearanceline": st_minimumclearanceline,
        "st_force3d": st_force3d,
        "st_x": st_x,
        "st_y": st_y,
        "st_z": st_z,
        "st_m": st_m,
        "st_numgeometries": st_numgeometries,
        "st_geometryn": st_geometryn,
        "st_hausdorffdistance": st_hausdorffdistance,
        "st_lineinterpolatepoint": st_lineinterpolatepoint,
        "st_linelocatepoint": st_linelocatepoint,
        "st_linemerge": st_linemerge,
        "st_snap": st_snap,
        "st_segmentize": st_segmentize,
    }


    return ALL_FUNCTIONS


def get_functions() -> dict:
    global _CACHE
    if _CACHE is None:
        _CACHE = _build()
    return _CACHE


def __getattr__(name):
    if name.startswith("__"):  # import machinery probes (__path__ etc.)
        raise AttributeError(name)
    fns = get_functions()
    if name in fns:
        return fns[name]
    raise AttributeError(name)


def register_sql_functions(spark):
    """Install every ST_ function into the session FunctionRegistry so they
    are callable from spark.sql(...). Returns the registered names."""
    fns = get_functions()
    for name, udf in fns.items():
        spark.udf.register(name, udf)
    return sorted(fns)
