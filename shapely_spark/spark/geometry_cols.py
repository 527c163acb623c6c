"""ST_* column/SQL function surface over WKB geometry columns.

Every reference operation that makes sense as a per-row column function is
one entry of REGISTRY: its kernel, its result type and which of its
arguments are geometries (BinaryType WKB, the engine's canonical geometry
encoding, SURVEY.md §1.4). One UDF factory, `_udf`, turns each entry into
an Arrow-batched pandas UDF, and `register_sql_functions(spark)` installs them
in the session's FunctionRegistry so plain Spark SQL works:

    SELECT st_area(st_buffer(st_point(lon, lat), 0.1, 8)) FROM pages

Its batch evaluator, `_evaluate`, owns everything but the kernel:

- each distinct WKB of a batch is parsed once, through the executor cache
  the geometry join uses (join._geom_from_wkb_cached);
- the NULL rule: a NULL in any argument gives SQL NULL, and WKB that does
  not parse counts as NULL. A NULL geometry is never read as EMPTY (the
  reference's None is not an empty geometry). Arrow hands a NULL double
  to pandas as NaN, so a NaN value argument reads as NULL too. The one
  exception is st_cell, which keeps the grid's -1 for NULL or NaN
  coordinates;
- a kernel that raises NotImplementedError gives NULL;
- geometry results are encoded as WKB.

Row entries run their scalar kernel once per non-NULL row. Batch entries
take the whole non-NULL part of the batch: the nine predicates decide all
its pairs in one pair_predicate call through join._pair_refine, the
function the geometry join's refine calls.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from ..geo import constructive as C
from ..geo import kernels as K
from ..geo import overlay as O
from ..geo import triangulate as T
from ..geo.geojson import from_geojson, to_geojson
from ..geo.geom import TYPE_NAMES, get_m, get_x, get_y, get_z
from ..geo.geom import point as make_point
from ..geo.inspection import get_num_coordinates, get_num_geometries, is_empty
from ..geo.wkb import to_wkb
from ..geo.wkt import from_wkt, to_wkt
from ..index.cells import cell_of, cell_parent
from .join import _pair_refine, _wkb_codes


class Entry(NamedTuple):
    kernel: Callable
    type: str  # Spark SQL result type
    # one letter per argument: "g" a WKB geometry, "v" a value, "n" a
    # value passed on to the kernel even when NULL
    args: str
    # False: kernel(*row) per non-NULL row, geometries parsed. True:
    # kernel(*columns) once over the non-NULL rows, a geometry column as
    # (codes, distinct geometries) and a value column as an array
    batch: bool = False


def _pred(name: str) -> Entry:
    """reference: shapely/predicates.py (disjoint: NOT intersects)."""
    if name == "disjoint":
        return Entry(lambda a, b: ~_pair_refine("intersects", a, b), "boolean", "gg", True)
    return Entry(lambda a, b: _pair_refine(name, a, b), "boolean", "gg", True)


def _contains_xy(g, x, y) -> np.ndarray:
    """reference: shapely/predicates.py:1311 — K.contains_xy once per
    distinct geometry of the batch."""
    codes, geoms = g
    out = np.zeros(len(codes), dtype=bool)
    for c in np.unique(codes):
        sel = codes == c
        out[sel] = K.contains_xy(geoms[c], x[sel].astype(np.float64),
                                 y[sel].astype(np.float64))
    return out


def _per_res(fn: Callable, n_res: int) -> Callable:
    """A batch kernel calling fn(*values, *resolutions) once per distinct
    tuple of its last n_res (resolution) arguments in the batch."""
    def kernel(*cols):
        res = np.stack(cols[-n_res:], axis=1).astype(np.int64)
        keys, inv = np.unique(res, axis=0, return_inverse=True)
        inv = inv.ravel()
        out = np.empty(len(res), dtype=np.int64)
        for k, r in enumerate(keys.tolist()):
            sel = inv == k
            out[sel] = fn(*(v[sel] for v in cols[:-n_res]), *r)
        return out

    return kernel


REGISTRY: dict[str, Entry] = {
    # ---- constructors and formats (reference: shapely/io.py) -----------------
    "st_point": Entry(make_point, "binary", "vv"),
    "st_geomfromtext": Entry(lambda t: from_wkt(t, on_invalid="ignore"), "binary", "v"),
    "st_astext": Entry(to_wkt, "string", "g"),
    "st_asgeojson": Entry(to_geojson, "string", "g"),
    "st_geomfromgeojson": Entry(lambda t: from_geojson(t, on_invalid="ignore"), "binary", "v"),
    # ---- measurement (reference: shapely/measurement.py) ---------------------
    "st_area": Entry(K.area, "double", "g"),
    "st_length": Entry(K.length, "double", "g"),
    "st_bounds": Entry(lambda g: K.bounds(g).tolist(), "array<double>", "g"),
    "st_distance": Entry(K.distance, "double", "gg"),
    "st_hausdorffdistance": Entry(K.hausdorff_distance, "double", "gg"),
    "st_minimumclearance": Entry(C.minimum_clearance, "double", "g"),
    # ---- predicates (reference: shapely/predicates.py) -----------------------
    **{f"st_{p}": _pred(p) for p in (
        "intersects", "contains", "within", "covers", "touches", "crosses",
        "overlaps", "equals", "disjoint")},
    "st_contains_xy": Entry(_contains_xy, "boolean", "gvv", True),
    "st_dwithin": Entry(lambda g, h, d: K.dwithin(g, h, float(d)), "boolean", "ggv"),
    "st_relate": Entry(K.relate, "string", "gg"),
    "st_is_valid": Entry(K.is_valid, "boolean", "g"),
    "st_is_empty": Entry(is_empty, "boolean", "g"),
    # ---- grid cells (engine-owned index; mirror index.cells.cell_of and
    # cell_parent, as columns.cell_col / cell_parent_col do in Catalyst) -------
    "st_cell": Entry(_per_res(lambda lat, lon, r: cell_of(
        lat.astype(np.float64), lon.astype(np.float64), r), 1), "long", "nnv", True),
    "st_cell_parent": Entry(_per_res(lambda c, r, p: cell_parent(
        c.astype(np.int64), r, p), 2), "long", "vvv", True),
    # ---- constructive (reference: shapely/constructive.py) -------------------
    "st_boundary": Entry(C.boundary, "binary", "g"),
    "st_centroid": Entry(C.centroid, "binary", "g"),
    "st_convexhull": Entry(C.convex_hull, "binary", "g"),
    "st_envelope": Entry(C.envelope, "binary", "g"),
    "st_orientedenvelope": Entry(C.oriented_envelope, "binary", "g"),
    "st_minimumboundingcircle": Entry(C.minimum_bounding_circle, "binary", "g"),
    "st_pointonsurface": Entry(C.point_on_surface, "binary", "g"),
    "st_reverse": Entry(C.reverse, "binary", "g"),
    "st_normalize": Entry(C.normalize, "binary", "g"),
    "st_minimumwidth": Entry(C.minimum_width, "binary", "g"),
    "st_minimumclearanceline": Entry(C.minimum_clearance_line, "binary", "g"),
    "st_force3d": Entry(C.force_3d, "binary", "g"),
    "st_linemerge": Entry(C.line_merge, "binary", "g"),
    "st_shortestline": Entry(C.shortest_line, "binary", "gg"),
    "st_buffer": Entry(lambda g, d, q: C.buffer(g, float(d), int(q)), "binary", "gvv"),
    "st_offsetcurve": Entry(lambda g, d: C.offset_curve(g, float(d)), "binary", "gv"),
    "st_simplify": Entry(lambda g, t: C.simplify(g, float(t)), "binary", "gv"),
    "st_clip_by_rect": Entry(lambda g, *r: C.clip_by_rect(g, *map(float, r)), "binary", "gvvvv"),
    "st_segmentize": Entry(lambda g, m: C.segmentize(g, float(m)), "binary", "gv"),
    "st_snap": Entry(lambda g, h, t: C.snap(g, h, float(t)), "binary", "ggv"),
    # ---- overlay and validity (reference: shapely/set_operations.py,
    # validation.py:30 make_valid, constructive.py:654 build_area, :884
    # polygonize per row, :850 node, :431 concave_hull, ops.py:311 split,
    # linear.py:172 shared_paths) ----------------------------------------------
    "st_intersection": Entry(O.intersection, "binary", "gg"),
    "st_union": Entry(O.union, "binary", "gg"),
    "st_difference": Entry(O.difference, "binary", "gg"),
    "st_symdifference": Entry(O.symmetric_difference, "binary", "gg"),
    "st_split": Entry(O.split, "binary", "gg"),
    "st_sharedpaths": Entry(O.shared_paths, "binary", "gg"),
    "st_makevalid": Entry(O.make_valid, "binary", "g"),
    "st_buildarea": Entry(O.build_area, "binary", "g"),
    "st_polygonize": Entry(lambda g: O.polygonize([g]), "binary", "g"),
    "st_node": Entry(O.node, "binary", "g"),
    "st_concavehull": Entry(O.concave_hull, "binary", "g"),
    # ---- triangulation (reference: constructive.py:491 delaunay, :1270
    # voronoi, :1473 maximum_inscribed_circle) ---------------------------------
    "st_delaunaytriangles": Entry(T.delaunay_triangles, "binary", "g"),
    "st_constraineddelaunaytriangles": Entry(T.constrained_delaunay_triangles, "binary", "g"),
    "st_voronoipolygons": Entry(T.voronoi_polygons, "binary", "g"),
    "st_maximuminscribedcircle": Entry(T.maximum_inscribed_circle, "binary", "g"),
    # ---- inspection (reference: shapely/_geometry.py) ------------------------
    "st_x": Entry(get_x, "double", "g"),
    "st_y": Entry(get_y, "double", "g"),
    "st_z": Entry(get_z, "double", "g"),
    "st_m": Entry(get_m, "double", "g"),
    "st_npoints": Entry(get_num_coordinates, "int", "g"),
    "st_numgeometries": Entry(get_num_geometries, "int", "g"),
    "st_geometryn": Entry(lambda g, i: g.get_geometry(int(i)), "binary", "gv"),
    "st_geometrytype": Entry(lambda g: TYPE_NAMES[g.type_id], "string", "g"),
    # ---- linear referencing (reference: shapely/linear.py:26, :78) -----------
    "st_lineinterpolatepoint": Entry(lambda g, t: C.line_interpolate_point(
        g, float(t), normalized=True), "binary", "gv"),
    "st_linelocatepoint": Entry(lambda g, p: C.line_locate_point(
        g, p, normalized=True), "double", "gg"),
}


def _evaluate(e: Entry, cols) -> pd.Series:
    """One Arrow batch of entry e: the NULL rule, then the kernel over the
    batch's non-NULL rows, then WKB encoding of geometry results."""
    null = np.zeros(len(cols[0]), dtype=bool)
    args = []
    for col, kind in zip(cols, e.args):
        if kind == "g":
            codes, geoms = _wkb_codes(col)
            # code -1 (NULL) reads the trailing True, as does a WKB that
            # did not parse
            null |= np.array([g is None for g in geoms] + [True])[codes]
            args.append((codes, geoms))
        else:
            if kind == "v":
                null |= col.isna().to_numpy()
            args.append(col.to_numpy())
    live = np.flatnonzero(~null)
    args = [(a[0][live], a[1]) if k == "g" else a[live] for a, k in zip(args, e.args)]
    out = np.full(len(null), None, dtype=object)
    if e.batch:
        if len(live):
            out[live] = e.kernel(*args)
    else:
        rows = [[a[1][c] for c in a[0]] if k == "g" else a for a, k in zip(args, e.args)]
        for i, row in zip(live, zip(*rows)):
            try:
                out[i] = e.kernel(*row)
            except NotImplementedError:
                pass
    if e.type == "binary":
        out = [None if r is None else to_wkb(r) for r in out]
    return pd.Series(out)


def _udf(e: Entry):
    @F.pandas_udf(e.type)
    def udf(*cols: pd.Series) -> pd.Series:
        return _evaluate(e, cols)

    return udf


_CACHE: dict | None = None


def get_functions() -> dict:
    """{name: pandas UDF} for every REGISTRY entry. Built on first call:
    pyspark 4 needs an active SparkSession to create a pandas UDF, so
    import stays session-free."""
    global _CACHE
    if _CACHE is None:
        _CACHE = {name: _udf(e) for name, e in REGISTRY.items()}
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
