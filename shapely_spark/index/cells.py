"""H3/S2-style discrete global grid for partition-pruned spatial joins.

Engine-owned design (no reference analog — shapely has no index grid; this
replaces the STRtree envelope prune, shapely/strtree.py:30, at cluster
scale): a 2^r × 2^r rectangular grid over lon ∈ [-180,180), lat ∈ [-90,90),
row-major cell ids ``cell = iy * 2^r + ix``.

Why row-major and not Hilbert/Morton for the *id*: the id must be
reproducible as a plain SQL arithmetic expression (both Spark Catalyst and
the DuckDB oracle compute it bit-identically — see sql_cell_expr), and
equi-join pruning only needs equality. The data layout uses the same id:
pages.write_pages_clustered partitions the pages table by a cell-id prefix
and sorts each partition by cell_id (row-major order), so parquet min/max
column stats on cell_id prune scans.

All functions are vectorized NumPy; the Spark-side builders that produce the
equivalent Catalyst Column expressions live in shapely_spark/spark/columns.py.
"""

from __future__ import annotations

import numpy as np

from ..geo.geom import GEOMETRYCOLLECTION, MULTIPOLYGON, POLYGON
from ..geo.kernels import RaggedPolygonLayer, _chunks

DEFAULT_RES = 9  # 512×512 grid → cell ≈ 0.70° lon × 0.35° lat


def grid_n(res: int) -> int:
    return 1 << res


def cell_of(lat, lon, res: int = DEFAULT_RES):
    """(lat, lon) → cell id. NaN-safe: returns -1 for NaN coordinates.
    Mirrors sql_cell_expr() exactly — same arithmetic, same clamping."""
    n = grid_n(res)
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    ix = np.floor((lon + 180.0) / 360.0 * n)
    iy = np.floor((lat + 90.0) / 180.0 * n)
    bad = np.isnan(lat) | np.isnan(lon)
    ix = np.clip(np.where(bad, 0.0, ix), 0, n - 1)
    iy = np.clip(np.where(bad, 0.0, iy), 0, n - 1)
    cell = (iy * n + ix).astype(np.int64)
    return np.where(bad, np.int64(-1), cell)


def sql_cell_expr(lat_col: str, lon_col: str, res: int = DEFAULT_RES) -> str:
    """The SAME cell computation as ANSI SQL, runnable by both Spark SQL and
    DuckDB — used by the driver's oracle comparison. Arithmetic kept
    identical (same op order) so IEEE-754 results match bit-exactly."""
    n = grid_n(res)
    ix = f"least({n - 1}, greatest(0, cast(floor(({lon_col} + 180.0) / 360.0 * {n}) as bigint)))"
    iy = f"least({n - 1}, greatest(0, cast(floor(({lat_col} + 90.0) / 180.0 * {n}) as bigint)))"
    return f"({iy} * {n} + {ix})"


def cell_xy(cell, res: int = DEFAULT_RES):
    n = grid_n(res)
    cell = np.asarray(cell, dtype=np.int64)
    return cell % n, cell // n


def cell_bounds(cell, res: int = DEFAULT_RES):
    """cell → (lon_min, lat_min, lon_max, lat_max), vectorized."""
    n = grid_n(res)
    ix, iy = cell_xy(cell, res)
    w, h = 360.0 / n, 180.0 / n
    return (-180.0 + ix * w, -90.0 + iy * h, -180.0 + (ix + 1) * w, -90.0 + (iy + 1) * h)


def cell_parent(cell, res: int = DEFAULT_RES, parent_res: int | None = None):
    """Containing cell at a coarser resolution (H3 cell_to_parent analog).
    Exact on the nested binary grid: ``(lon+180)/360 * 2^r`` differs from
    the parent-res value only by a power-of-two factor, which is exact in
    IEEE-754, so floor-then-shift equals floor-at-parent-res — verified
    against cell_of for clamped extremes in tests. -1 (NULL island)
    stays -1. Vectorized; pure bit arithmetic mirrored by
    spark/columns.cell_parent_col and the DuckDB oracle SQL."""
    if parent_res is None:
        parent_res = res - 1
    if not 0 <= parent_res <= res:
        raise ValueError(f"parent_res {parent_res} not in [0, {res}]")
    d = res - parent_res
    cell = np.asarray(cell, dtype=np.int64)
    ix, iy = cell & (grid_n(res) - 1), cell >> res
    parent = ((iy >> d) << parent_res) + (ix >> d)
    return np.where(cell < 0, np.int64(-1), parent)


def cell_children(cell: int, res: int = DEFAULT_RES, child_res: int | None = None) -> np.ndarray:
    """All 4^Δ children at a finer resolution (H3 cell_to_children analog);
    inverse of cell_parent (parent of every child is `cell`). The -1
    NULL-island sentinel has no children: it propagates as a single -1,
    mirroring cell_parent's sentinel handling."""
    if child_res is None:
        child_res = res + 1
    if child_res < res:
        raise ValueError(f"child_res {child_res} < res {res}")
    if int(cell) < 0:
        return np.array([-1], dtype=np.int64)
    s = 1 << (child_res - res)
    n = grid_n(res)
    ix, iy = int(cell % n), int(cell // n)
    xs = np.arange(ix * s, (ix + 1) * s, dtype=np.int64)
    ys = np.arange(iy * s, (iy + 1) * s, dtype=np.int64)
    return (ys[:, None] * (n * s) + xs[None, :]).ravel()


def disk(cell: int, k: int, res: int = DEFAULT_RES) -> np.ndarray:
    """All cells within Chebyshev distance k (the kNN candidate expansion
    neighborhood — analog of H3 kRing). Longitude wraps; latitude clamps."""
    n = grid_n(res)
    ix, iy = int(cell % n), int(cell // n)
    xs = (np.arange(ix - k, ix + k + 1)) % n
    ys = np.arange(max(0, iy - k), min(n - 1, iy + k) + 1)
    gx, gy = np.meshgrid(xs, ys)
    return (gy.ravel() * n + gx.ravel()).astype(np.int64)


def ring(cell: int, k: int, res: int = DEFAULT_RES) -> np.ndarray:
    """Hollow ring at exactly Chebyshev distance k."""
    if k == 0:
        return np.array([cell], dtype=np.int64)
    inner = set(disk(cell, k - 1, res).tolist())
    return np.array([c for c in disk(cell, k, res).tolist() if c not in inner], dtype=np.int64)


_ORIGIN = np.array([180.0, 90.0, 180.0, 90.0])
_SPAN = np.array([360.0, 180.0, 360.0, 180.0])


def _grid_index(b, n: int):
    """Clamped cell indices (ix0, iy0, ix1, iy1) of (m, 4) bounds rows,
    with cell_of's arithmetic (a bound on a grid line maps exactly)."""
    i = np.floor((b + _ORIGIN) / _SPAN * n)
    return np.minimum(np.maximum(i, 0), n - 1).astype(np.int64).T


def _expand_ranges(x0, nx, y0, ny):
    """Every grid index (x, y) of each [x0, x0+nx) × [y0, y0+ny) range,
    row-major within a range: flat (x, y, range_index) arrays."""
    counts = nx * ny
    row = np.repeat(np.arange(len(counts), dtype=np.int64), counts)
    t = np.arange(int(counts.sum()), dtype=np.int64) - np.repeat(np.cumsum(counts) - counts, counts)
    return x0[row] + t % nx[row], y0[row] + t // nx[row], row


def cover_bbox_batch(bounds: np.ndarray, res: int = DEFAULT_RES):
    """All cells intersecting each lon/lat bbox row of a (m, 4) bounds
    matrix (no wrap across the antimeridian): returns
    (cells, row_index) flat arrays — cells[k] belongs to input row
    row_index[k]. One pass of integer arithmetic for the whole batch;
    the per-geometry meshgrid loop was the cover stage's hot spot in the
    geometry×geometry join (≈50µs per geometry → ~0 amortized)."""
    n = grid_n(res)
    b = np.asarray(bounds, dtype=np.float64)
    if not len(b):
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    ix0, iy0, ix1, iy1 = _grid_index(b, n)
    ix, iy, row = _expand_ranges(ix0, ix1 - ix0 + 1, iy0, iy1 - iy0 + 1)
    return iy * n + ix, row


def polygon_cover(geom, res: int = DEFAULT_RES):
    """Polygon → (cells, full) cover: polygon_cover_batch of one geometry."""
    cells, full, _ = polygon_cover_batch([geom], res)
    return cells, full


def polygon_cover_batch(geoms, res: int = DEFAULT_RES):
    """Exact cell covers of a batch of polygonal geometries: flat (cells,
    full, row) arrays, row[k] the index in `geoms` of cells[k] (as in
    cover_bbox_batch), each geometry's cells in cover_bbox_batch order. A
    cell is kept iff its closed rectangle meets the polygon; ``full=True``
    cells lie inside it (the join skips their refine — the broadcast-side
    analog of GEOS prepared containment). None, empty and non-polygonal
    geometries get no cells. No per-cell Python, two ragged passes:
    - each bbox's grid vertices get their ray-cast parity (bit for bit as
      points_in_rings_class). An odd corner keeps its cell; four odd
      corners and no edge bbox touching the cell make it full;
    - each ring edge expands to the cells of its bbox range (one cell of
      slack absorbs index rounding; the exact closed-rect bbox test
      filters). Such a cell meets the polygon iff its corners are not all
      strictly on one side of the edge's line (segment-vs-rect separating
      axes), so a cell strictly inside a hole is dropped.
    Both expansions run in bounded chunks: a continent-sized polygon never
    allocates a dense cells × edges matrix."""
    return layer_cover(areal_layer(geoms), res)


def areal_layer(geoms) -> RaggedPolygonLayer:
    """The point locator of geoms[i] as owner i, polygonal ones only (of
    a collection it keeps the polygon members): the layer takes owners of
    any type, and the cover covers areas."""
    return RaggedPolygonLayer({
        i: g for i, g in enumerate(geoms) if g is not None
        and g.type_id in (POLYGON, MULTIPOLYGON, GEOMETRYCOLLECTION)})


def layer_cover(layer: RaggedPolygonLayer, res: int = DEFAULT_RES):
    """polygon_cover_batch over an areal_layer: its owners' (cells, full,
    owner) cover. A caller that also probes the layer builds it once."""
    n = grid_n(res)
    w, h = 360.0 / n, 180.0 / n
    n_bnd = np.diff(layer.start)
    ok = ~np.isnan(layer.bbox[:, 0]) & (n_bnd > 0)
    live = np.flatnonzero(ok)
    ix0, iy0, ix1, iy1 = _grid_index(layer.bbox[live], n)
    nx, ny = ix1 - ix0 + 1, iy1 - iy0 + 1
    # pass 1: ray-cast parity of every vertex of each bbox's cell grid
    vx, vy, vrow = _expand_ranges(ix0, nx + 1, iy0, ny + 1)
    odd = layer.odd_crossings(live[vrow], -180.0 + vx * w, -90.0 + vy * h)
    cx, cy, crow = _expand_ranges(ix0, nx, iy0, ny)
    v = (np.cumsum((nx + 1) * (ny + 1)) - (nx + 1) * (ny + 1))[crow] + (
        cy - iy0[crow]) * (nx[crow] + 1) + cx - ix0[crow]
    corner = odd[np.stack([v, v + 1, v + nx[crow] + 1, v + nx[crow] + 2])]
    keep, full = corner.any(axis=0), corner.all(axis=0)
    # pass 2: (cell, edge) pairs over each edge's own cell range
    seg = layer.seg[np.repeat(ok, n_bnd)]
    eg = np.repeat(np.arange(len(live), dtype=np.int64), n_bnd[live])
    eb = np.hstack([np.minimum(seg[:, :2], seg[:, 2:]), np.maximum(seg[:, :2], seg[:, 2:])])
    ex0, ey0, ex1, ey1 = _grid_index(eb, n)
    ex0, ey0 = np.maximum(ex0 - 1, ix0[eg]), np.maximum(ey0 - 1, iy0[eg])
    cstart = np.cumsum(nx * ny) - nx * ny
    near = np.zeros(len(cx), dtype=bool)
    for s in _chunks((ex1 - ex0 + 1) * (ey1 - ey0 + 1)):
        px, py, e = _expand_ranges(ex0[s], ex1[s] - ex0[s] + 1, ey0[s], ey1[s] - ey0[s] + 1)
        e += s.start
        x = -180.0 + np.stack([px, px + 1]) * w  # cell sides, as cell_bounds
        y = -90.0 + np.stack([py, py + 1]) * h
        b, g = eb[e], eg[e]
        hit = (b[:, 0] <= x[1]) & (b[:, 2] >= x[0]) & (b[:, 1] <= y[1]) & (b[:, 3] >= y[0])
        pos = cstart[g] + (py - iy0[g]) * nx[g] + px - ix0[g]
        near[pos[hit]] = True
        t = hit & ~keep[pos]
        (sx, sy, sx2, sy2), x, y = seg[e[t]].T, x[:, t], y[:, t]
        # points_on_segments' cross product at the four corners
        side = (sx2 - sx) * (y[[0, 0, 1, 1]] - sy) - (sy2 - sy) * (x[[0, 1, 1, 0]] - sx)
        keep[pos[t][~((side > 0).all(axis=0) | (side < 0).all(axis=0))]] = True
    return (cy * n + cx)[keep], (full & ~near)[keep], live[crow][keep]
