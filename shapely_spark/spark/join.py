"""Spatial join: pages (points) ⋈ regions (polygons) — the engine's core plan.

Semantics pinned to STRtree.query(points, predicate=...) inner-join pair
semantics (shapely/strtree.py:229-266): output = every (point, region) pair
satisfying the predicate; points with NULL coordinates drop out (the
reference skips None/empty inputs, strtree.py:376).

The broadcast plan (SURVEY.md §3.3), the default:

  driver: regions ──collect──▶ parse ──▶ RaggedPolygonLayer + its cell
          cover (one layer_cover pass), sorted by cell ──▶ ONE sc.broadcast
  points ──ArrowEvalPython(match(lon, lat))──▶ explode ──▶ (point…, region_id)

  match, per Arrow batch of points: cell_of (bit for bit as cell_sql) →
  binary search of the sorted cover → full cells emit their region
  directly (the broadcast-side analog of prepared containment; touches
  never) → the partial ones get ONE classify_many ray-cast → an
  array<long> of region ids per point.

The region layer is built ONCE driver side (the Spark analog of GEOS
prepared geometries, shapely/creation.py:735) and probed per batch, like
knn._knn_broadcast: no join node, no exchange, no candidate rows. Only
the points' (lon, lat) cross Arrow, once.

For region layers too big to collect, pass broadcast=False: the shuffle
plan

  regions ──mapInPandas──▶ covers(region_id, cell_id, full, wkb)    [fan-out]
  points ──withColumn(cell)──▶ ⋈ covers ON cell                   [shuffle]
  full cells ──▶ emit; partial cells ──▶ ONE pandas-UDF refine per batch

shuffles both sides on the cell with AQE skew splitting; the partial
cells carry their region WKB, and the refine builds a RaggedPolygonLayer
per Arrow batch from the batch's distinct WKBs (parsed once per executor
through _geom_from_wkb_cached).

Geometry×geometry (spatial_join_geom) is one plan in both modes:

  left, right ──mapInPandas──▶ bbox covers(id, cell_id, bbox, is_rect)
  lcov (+ left WKB) ⋈ rcov ON cell_id, owner-cell + bbox filters
      ⋈ right(right_id, wkb) ON right_id        [each right WKB once]
  rect×rect ──▶ closed form, JVM-side; the rest ──▶ ONE pandas-UDF refine
      (one pair_predicate call per Arrow batch decides all its pairs)

broadcast=True only hints both right-side joins as broadcast; nothing is
collected to the driver, so building the plan starts no Spark job.
"""

from __future__ import annotations

import weakref
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..geo.kernels import RaggedPolygonLayer, _chunks, _expand
from ..index.cells import (
    DEFAULT_RES, areal_layer, cell_of, cover_bbox_batch, layer_cover, polygon_cover_batch,
)
from .columns import cell_col, cell_sql

# Map engine predicates (evaluated as predicate(point, region), matching
# STRtree.query(points, predicate)) to the point-classification test:
#   intersects / covered_by: interior or boundary
#   within: interior only (DE-9IM T*F**F***, predicates.py:1013)
#   touches: boundary only (predicates.py:968)
_PREDICATES = {"intersects", "within", "covered_by", "touches"}
_FULL_OK = {"intersects", "within", "covered_by"}  # full cell ⊂ interior

# Join-time cover resolution, finer than the storage grid (DEFAULT_RES=9):
# at res 11 (0.18°×0.09° cells) 54% of cover cells are fully interior for
# the synthetic region mix vs 13% at res 9, so most candidates take the
# full-cell fast path and are never classified. The cover stays small
# (~60k rows per 1000 regions) and cheap to build: one layer_cover pass,
# no per-cell Python. Result set is res-invariant — res only moves work
# between prune and refine.
JOIN_RES = DEFAULT_RES + 2


def covers_df(regions: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    """regions(region_id, wkb) → exploded cell cover (region_id, cell_id,
    full, wkb), the region WKB inlined on partial cells only: the shuffle
    join's build side, where no driver broadcast of geometry exists.
    Distributed fan-out (mapInPandas): one polygon_cover_batch call per
    Arrow batch."""
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..geo.wkb import from_wkb

        for pdf in batches:
            wkbs = pdf["wkb"].to_numpy(dtype=object)
            cells, full, row = polygon_cover_batch(
                [None if w is None else from_wkb(bytes(w)) for w in wkbs], res)
            yield pd.DataFrame({
                "region_id": pd.Series(pdf["region_id"].to_numpy()[row], dtype="int64"),
                "cell_id": cells,
                "full": full,
                "wkb": np.where(full, None, wkbs[row]),
            })

    return regions.select("region_id", "wkb").mapInPandas(
        gen, "region_id long, cell_id long, full boolean, wkb binary")


_GEOM_BY_WKB: dict[bytes, object] = {}


def _geom_from_wkb_cached(wkb: bytes):
    """Executor-local parsed-geometry cache: a geometry that appears in
    many candidate pairs (or across batches/tasks) is decoded once."""
    g = _GEOM_BY_WKB.get(wkb)
    if g is None:
        from ..geo.wkb import from_wkb

        if len(_GEOM_BY_WKB) > 65536:
            _GEOM_BY_WKB.clear()
        g = from_wkb(wkb, on_invalid="ignore")
        _GEOM_BY_WKB[wkb] = g
    return g


def _classify_to_bool(cls: np.ndarray, predicate: str) -> np.ndarray:
    if predicate in ("intersects", "covered_by"):
        return cls >= 1
    if predicate == "within":
        return cls == 2
    return cls == 1  # touches


def _region_index(regions: DataFrame, res: int) -> tuple:
    """The broadcast join's region index, built driver side in one pass
    over the collected rows: (ids, layer, cells, start, full, owner).
    Owner k of the layer is the k-th row with a geometry and ids[k] its
    region id, so an id of any value (negative, or 2^40) sizes nothing
    and a repeated id matches each of its rows, as in the shuffle join.
    The cover rows are sorted by cell: cell cells[j] owns rows
    start[j]:start[j + 1] of (full, owner)."""
    from ..geo.wkb import from_wkb

    rows = [r for r in regions.select("region_id", "wkb").collect() if r.wkb is not None]
    ids = np.array([r.region_id for r in rows], dtype=np.int64)
    layer = areal_layer([from_wkb(bytes(r.wkb)) for r in rows])
    cell, full, owner = layer_cover(layer, res)
    order = np.argsort(cell, kind="stable")
    cells, start = np.unique(cell[order], return_index=True)
    return (ids, layer, cells, np.append(start, len(order)).astype(np.int64),
            full[order], owner[order])


def _match(index: tuple, predicate: str, res: int, x: np.ndarray, y: np.ndarray):
    """(row, region id) of every pair of point (x[row], y[row]) and an
    index region satisfying the predicate, in row order: the point's
    cell_of cell finds its cover rows by binary search; a full cell is a
    hit (never, for touches), and the partial ones are classified in one
    classify_many call per _chunks-bounded slice, so a hot cell shared by
    many regions cannot allocate without bound."""
    ids, layer, cells, start, full, owner = index
    if not len(cells):
        return np.zeros(0, np.int64), np.zeros(0, np.int64)
    pc = cell_of(y, x, res)
    at = np.minimum(np.searchsorted(cells, pc), len(cells) - 1)
    pts = np.flatnonzero(cells[at] == pc)
    rows, regs = [np.zeros(0, np.int64)], [np.zeros(0, np.int64)]
    for s in _chunks((start[1:] - start[:-1])[at[pts]]):
        row, j = _expand(start, at[pts[s]])
        row = pts[s][row]
        hit = full[j] if predicate in _FULL_OK else np.zeros(len(j), dtype=bool)
        part = np.flatnonzero(~full[j])
        hit[part] = _classify_to_bool(layer.classify_many(
            owner[j[part]], x[row[part]], y[row[part]]), predicate)
        rows.append(row[hit])
        regs.append(ids[owner[j[hit]]])
    return np.concatenate(rows), np.concatenate(regs)


def _probe_join(points: DataFrame, regions: DataFrame, predicate: str, res: int,
                lat_c: str, lon_c: str) -> DataFrame:
    """broadcast=True: the region index rides one broadcast, and ONE Arrow
    UDF over the points' (lon, lat) probes it per batch; explode turns its
    per-point region-id lists into pairs. No join node, no cover job, no
    exchange: the only rows that cross Arrow are the points, once."""
    bc = points.sparkSession.sparkContext.broadcast(_region_index(regions, res))

    @F.arrow_udf("array<long>")
    def match(lon: pa.Array, lat: pa.Array) -> pa.Array:
        row, reg = _match(bc.value, predicate, res,
                          lon.to_numpy(zero_copy_only=False),
                          lat.to_numpy(zero_copy_only=False))
        offsets = np.searchsorted(row, np.arange(len(lon) + 1)).astype(np.int32)
        return pa.ListArray.from_arrays(pa.array(offsets), pa.array(reg, pa.int64()))

    return points.select(*[points[c] for c in points.columns], F.explode(match(
        F.col(lon_c).cast("double"), F.col(lat_c).cast("double"))).alias("region_id"))


def spatial_join(
    points: DataFrame,
    regions: DataFrame,
    predicate: str = "intersects",
    res: int = JOIN_RES,
    broadcast: bool = True,
    point_cols: tuple[str, str] = ("lat", "lon"),
) -> DataFrame:
    """points(…, lat, lon) ⋈ regions(region_id, wkb) → all point columns +
    region_id, one row per qualifying pair. A point's cell is always
    derived fresh from (lat, lon) at `res`, so it never depends on — or
    clashes with — a storage-resolution cell column."""
    if predicate not in _PREDICATES:
        raise ValueError(
            f"predicate {predicate!r} is not a valid option for point-in-region "
            f"spatial_join; valid: {sorted(_PREDICATES)}"
        )
    lat_c, lon_c = point_cols
    if broadcast:
        return _probe_join(points, regions, predicate, res, lat_c, lon_c)

    # shuffle join on cell_id: no driver collect; partial cells carry their
    # region WKB through the shuffle, and each Arrow batch builds a layer
    # over its own distinct WKBs (each parsed once per executor)
    covers = covers_df(regions, res).select(
        "region_id", F.col("cell_id").alias("__cover_cell"),
        F.col("full").alias("__full"), F.col("wkb").alias("__wkb"))

    @F.pandas_udf("boolean")
    def refine(wkb: pd.Series, lon: pd.Series, lat: pd.Series) -> pd.Series:
        # full-cell rows arrive with wkb NULL-masked JVM-side (see the
        # single-plan filter below): first move is one vectorized null
        # mask, so bypass rows cost no kernel work and no dispatch.
        mask = wkb.notna().to_numpy()
        out = np.zeros(len(wkb), dtype=bool)
        if mask.any():
            codes, uniq = pd.factorize(wkb[mask])
            layer = RaggedPolygonLayer({
                i: _geom_from_wkb_cached(bytes(w)) for i, w in enumerate(uniq)})
            cls = layer.classify_many(
                codes,
                lon[mask].to_numpy(dtype=np.float64),
                lat[mask].to_numpy(dtype=np.float64),
            )
            out[mask] = _classify_to_bool(cls, predicate)
        return pd.Series(out)

    pts = points.withColumn("__jcell", cell_col(lat_c, lon_c, res))
    j = pts.join(covers, pts["__jcell"] == covers["__cover_cell"], "inner")
    refine_call = refine(F.when(~F.col("__full"), F.col("__wkb")), F.col(lon_c), F.col(lat_c))

    # ONE plan, ONE pages scan. An earlier two-branch full/partial Union
    # re-ran the pages scan + geotag extraction once PER BRANCH (the
    # "union branches re-execute their whole upstream" trap). Instead
    # full-cell rows bypass via `__full | refine(NULL-fed args)`: the
    # refine UDF's first move is a vectorized null mask, so the bypass
    # rows cost one Arrow transfer of nulls, and the upstream runs once.
    # Spark evaluates a Python UDF for every row of the filter's input
    # (ExtractPythonUDFs hoists it out of the when-chain), so full-cell
    # candidates ride the Arrow transfer (~24 B/row of dense buffers even
    # when null); the broadcast mode has no candidate rows at all.
    out_cols = [pts[c] for c in points.columns] + [covers["region_id"]]
    if predicate in _FULL_OK:
        cond = F.col("__full") | refine_call
    else:  # touches: full-interior cells can never touch the boundary
        cond = ~F.col("__full") & refine_call
    return j.where(cond).select(*out_cols)


def _wkb_codes(col: pd.Series) -> tuple[np.ndarray, list]:
    """A batch's WKB column factorized: per-row codes (-1 for NULL) into
    its distinct geometries, each parsed once per executor through
    _geom_from_wkb_cached (None where the WKB does not parse)."""
    codes, uniq = pd.factorize(col)
    return codes, [_geom_from_wkb_cached(bytes(w)) for w in uniq]


def _pair_refine(predicate: str, left: tuple, right: tuple) -> np.ndarray:
    """predicate per row over two _wkb_codes columns: ONE pair_predicate
    call decides every row with both sides present (geo/group_predicates.py
    owns every evaluation choice, scalar fallbacks included); a row with a
    NULL side is False. The geometry join's refine and the SQL st_*
    predicates both decide their pairs here."""
    from ..geo.group_predicates import pair_predicate

    (lcodes, lgeoms), (rcodes, rgeoms) = left, right
    out = np.zeros(len(lcodes), dtype=bool)
    idx = np.flatnonzero((lcodes >= 0) & (rcodes >= 0))
    out[idx] = pair_predicate(predicate, lgeoms, rgeoms, lcodes[idx], rcodes[idx])
    return out


def _pair_refine_batch(predicate: str, lwkb: pd.Series, rwkb: pd.Series) -> np.ndarray:
    """Batch refine for candidate (left WKB, right WKB) pairs: each unique
    geometry of a side is parsed ONCE per batch (and cached per executor
    across batches), then _pair_refine decides every pair. Rows with a
    NULL side (rect×rect pairs the JVM already decided) are False. No
    bbox mask here: the JVM bbox-overlap filter ran before the UDF and
    pair_predicate gates on bboxes itself."""
    return _pair_refine(predicate, _wkb_codes(lwkb), _wkb_codes(rwkb))


# bbox interval tests over the two bbox column sets, as SQL
_BBOX_CLOSED = "__lx <= __rx2 AND __rx <= __lx2 AND __ly <= __ry2 AND __ry <= __ly2"
_BBOX_INTERIORS = "__lx < __rx2 AND __rx < __lx2 AND __ly < __ry2 AND __ry < __ly2"
_A_IN_B = "__lx >= __rx AND __lx2 <= __rx2 AND __ly >= __ry AND __ly2 <= __ry2"
_B_IN_A = "__rx >= __lx AND __rx2 <= __lx2 AND __ry >= __ly AND __ry2 <= __ly2"
_RECT_PRED_SQL = {
    "intersects": _BBOX_CLOSED,
    "within": _A_IN_B,
    "covered_by": _A_IN_B,
    "contains": _B_IN_A,
    "covers": _B_IN_A,
    "contains_properly":
        "__rx > __lx AND __rx2 < __lx2 AND __ry > __ly AND __ry2 < __ly2",
    "touches": f"({_BBOX_CLOSED}) AND NOT ({_BBOX_INTERIORS})",
    "equals": "__lx = __rx AND __ly = __ry AND __lx2 = __rx2 AND __ly2 = __ry2",
    "overlaps":
        f"({_BBOX_INTERIORS}) AND NOT ({_A_IN_B}) AND NOT ({_B_IN_A})",
    # False for every areal×areal pair (kernels.crosses)
    "crosses": "false",
}


def _rect_pred_col(predicate: str):
    """Closed-form rect×rect predicate as a pure Catalyst expression over
    the two bbox column sets (an axis-aligned rectangle IS its bbox; exact
    — rectangle DE-9IM reduces to interval arithmetic, incl. collinear-edge
    and corner touches). One SQL string for the chosen predicate only: a
    py4j Column chain over every family cost 0.1-0.15 s per call."""
    return F.expr(_RECT_PRED_SQL[predicate])


# SparkContext -> {predicate: refine pandas UDF}: a UDF pickles its function
# and creates a JVM UserDefinedPythonFunction on first use, so each call
# reuses one. That JVM object belongs to one context (and its JVM), so a
# UDF serves only the context it was made for; a stopped context's entry
# goes with the context.
_REFINE_UDFS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _refine_udf(sc, predicate: str):
    udfs = _REFINE_UDFS.setdefault(sc, {})
    if predicate not in udfs:
        @F.pandas_udf("boolean")
        def refine(lwkb: pd.Series, rwkb: pd.Series) -> pd.Series:
            return pd.Series(_pair_refine_batch(predicate, lwkb, rwkb))

        udfs[predicate] = refine
    return udfs[predicate]


# predicates spatial_join_geom supports: every one implies the pair shares
# a point (or, for touches/equals/overlaps, overlapping bboxes), so the
# JVM bbox-overlap prefilter below is semantics-preserving. `disjoint` is
# rejected: a cell-cover join only ever SEES bbox-nearby candidates, so a
# disjoint join would silently return near-misses only.
_GEOM_JOIN_PREDICATES = {
    "intersects", "within", "covered_by", "contains", "covers",
    "contains_properly", "touches", "equals", "overlaps", "crosses",
}


def _bbox_cover_rows(pdf: pd.DataFrame, id_col: str, side: str, res: int) -> pd.DataFrame:
    """One Arrow batch of the spatial_join_geom cover under the plan's
    column names (__<side>c, __<side>x ...): every geometry's bbox cells
    with its bounds and axis-rectangle flag, and on the left side its WKB.
    NULL, EMPTY and unparsable WKB give no rows. Per geometry only the
    parse and a coordinate gather run; bounds (bit for bit as
    kernels.bounds) and the rect flag (as kernels._axis_rect) come from
    one ragged pass over the batch's coordinates, the cover and fan-out
    from one cover_bbox_batch pass."""
    from ..geo.geom import POLYGON
    from ..geo.kernels import _ragged, _ragged_bounds
    from ..geo.wkb import from_wkb

    wkbs = pdf["wkb"].to_numpy(dtype=object)
    coords, five = [np.zeros((0, 2))] * len(wkbs), np.zeros(len(wkbs), dtype=bool)
    for i, b in enumerate(wkbs):
        g = None if b is None else from_wkb(bytes(b), on_invalid="ignore")
        if g is not None and not g.is_empty:
            coords[i] = g.all_coords()[:, :2]
            five[i] = g.type_id == POLYGON and len(g.rings) == 1 and len(coords[i]) == 5
    start, xy = _ragged(coords, 2)
    bnds = _ragged_bounds(start, xy)
    # an axis-aligned rectangle IS its bbox, so the bbox columns drive the
    # closed-form JVM predicate: one 5-point ring of axis-parallel edges
    # with positive width and height
    rect = five.copy()
    if five.any():
        d = np.diff(xy[start[:-1][five, None] + np.arange(5)], axis=1)
        rect[five] = (((d[..., 0] == 0) | (d[..., 1] == 0)).all(axis=1)
                      & (bnds[five, 2] > bnds[five, 0]) & (bnds[five, 3] > bnds[five, 1]))
    src = np.flatnonzero(~np.isnan(bnds[:, 0]))
    cells, row = cover_bbox_batch(bnds[src], res)
    src = src[row]
    out = {id_col: pd.Series(pdf[id_col].to_numpy(dtype=np.int64)[src], dtype="int64"),
           f"__{side}c": pd.Series(cells, dtype="int64")}
    for k, c in enumerate(("x", "y", "x2", "y2")):
        out[f"__{side}{c}"] = pd.Series(bnds[src, k], dtype="float64")
    out[f"__{side}rect"] = pd.Series(rect[src], dtype="bool")
    if side == "l":
        out["__lwkb"] = pd.Series(wkbs[src], dtype="object")
    return pd.DataFrame(out)


def spatial_join_geom(
    left: DataFrame,
    right: DataFrame,
    predicate: str = "intersects",
    res: int = JOIN_RES - 2,
    left_id: str = "left_id",
    right_id: str = "region_id",
    broadcast: bool = True,
) -> DataFrame:
    """Geometry×geometry spatial join: left(left_id, wkb) ⋈ right(right_id,
    wkb) → (left_id, right_id) pairs satisfying the predicate. Right ids
    must be unique: a repeated id joins every candidate of that id once
    per right row.

    Semantics: STRtree.query(geoms, predicate) pair semantics generalized
    to arbitrary geometry on BOTH sides (shapely/strtree.py:229-266) —
    point-side joins should use spatial_join (cheaper: no left geometry).

    Plan: both sides explode to their bbox cell covers at `res`; equi-join
    on cell. A pair that shares k cells would appear k times, so each
    candidate is emitted only in ONE deterministic cell — the cell of the
    lower-left corner of the bbox intersection (computable from the two
    bbox columns JVM-side, no dedup shuffle). The surviving candidates
    join the right side's (right_id, wkb) on right_id, so each right WKB
    enters the plan once, not once per cover cell; the left WKB rides the
    left cover rows. Refine: rect×rect pairs are decided JVM-side in
    closed form (_rect_pred_col); every other candidate goes through ONE
    pandas UDF that makes one pair_predicate call per Arrow batch.
    broadcast=True only adds a broadcast hint to the right cover rows and
    to the right_id join; nothing is collected to the driver.
    """
    if predicate not in _GEOM_JOIN_PREDICATES:
        raise ValueError(
            f"predicate {predicate!r} is not supported by spatial_join_geom; "
            f"valid: {sorted(_GEOM_JOIN_PREDICATES)}")

    def covers(df: DataFrame, id_col: str, side: str) -> DataFrame:
        # the UDF emits the plan's final column names: no aliasing select
        schema = (f"{id_col} long, __{side}c long, __{side}x double,"
                  f" __{side}y double, __{side}x2 double, __{side}y2 double,"
                  f" __{side}rect boolean" + (", __lwkb binary" if side == "l" else ""))

        def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                yield _bbox_cover_rows(pdf, id_col, side, res)

        return df.select(id_col, "wkb").mapInPandas(gen, schema)

    lcov = covers(left, left_id, "l")
    rcov = covers(right, right_id, "r")
    rgeo = right.select(F.col(right_id), F.col("wkb").alias("__rwkb"))
    if broadcast:
        rcov, rgeo = F.broadcast(rcov), F.broadcast(rgeo)

    # one join condition: the cell equi-key, then emit each candidate pair
    # exactly once (in the cell holding the lower-left corner of the bbox
    # intersection), then the JVM bbox-overlap prefilter: bbox-disjoint
    # candidates are False under every supported predicate, so they never
    # reach the Python refine
    owner = cell_sql("greatest(__ly, __ry)", "greatest(__lx, __rx)", res)
    j = lcov.join(rcov, F.expr(f"__lc = __rc AND __lc = {owner} AND {_BBOX_CLOSED}"),
                  "inner").join(rgeo, right_id, "inner")

    # rect×rect rows are decided by pure-JVM interval arithmetic and ship
    # NULL into the refine UDF (no geometry bytes over Arrow, no kernel
    # work — _pair_refine_batch returns False for null rows in one
    # vectorized mask). ONE scan: an earlier two-branch union re-executed
    # the whole cover fan-out per branch, which at 100 TB doubles the
    # dominant cost (measured 6.6 s → 3.7 s on the all-non-rect n-gon
    # battery query, and strictly less work for mixed layers).
    both_rect = "__lrect AND __rrect"
    py_call = _refine_udf(left.sparkSession.sparkContext, predicate)(
        F.expr(f"IF({both_rect}, NULL, __lwkb)"), F.expr(f"IF({both_rect}, NULL, __rwkb)"))
    # an OR, not a CASE: Catalyst copies its JVM-only half into the cell
    # join's condition, so rect×rect pairs the closed form rejects are
    # dropped before the Python node
    return j.where(
        (F.expr(both_rect) & _rect_pred_col(predicate))
        | (F.expr(f"NOT ({both_rect})") & py_call)
    ).select(left_id, right_id)
