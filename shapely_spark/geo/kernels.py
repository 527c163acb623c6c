"""NumPy geometry kernels — the engine's compute core.

Each kernel reimplements the *semantics* of the corresponding reference
operation (cited file:line) from scratch as vectorized NumPy; these run
inside Arrow-batched pandas UDFs on Spark executors and stand alone as the
single-node oracle in tests. No GEOS, no shapely import.

Hot path design (reference: shapely/predicates.py:1311 contains_xy /
:1367 intersects_xy): the point side stays as bare float64 (x, y) arrays
end-to-end — geometry objects are only materialized for the (small,
broadcast) polygon side, which is "prepared" once per executor
(reference prepared-geometry semantics: shapely/creation.py:735 prepare).
"""

from __future__ import annotations

import math

import numpy as np

from .geom import (
    GEOMETRYCOLLECTION,
    LINEARRING,
    LINESTRING,
    MULTILINESTRING,
    MULTIPOINT,
    MULTIPOLYGON,
    POINT,
    POLYGON,
    Geometry,
    empty,
    point,
    polygon as make_polygon,
)

EARTH_RADIUS_KM = 6371.0088

# ---------------------------------------------------------------------------
# Bounds / measurement  (reference: shapely/measurement.py)
# ---------------------------------------------------------------------------

def bounds(geom: Geometry | None) -> np.ndarray:
    """(minx, miny, maxx, maxy); NaN for empty/None.
    reference: shapely/measurement.py:85 (ufunc '()->(4)' src/ufuncs.c:2304)."""
    if geom is None or geom.is_empty:
        return np.array([np.nan] * 4)
    c = geom.all_coords()
    return np.array([c[:, 0].min(), c[:, 1].min(), c[:, 0].max(), c[:, 1].max()])


def total_bounds(geoms) -> np.ndarray:
    """reference: shapely/measurement.py:114 — reduce of bounds."""
    bs = np.array([bounds(g) for g in geoms if g is not None], dtype=np.float64)
    if bs.size == 0 or np.all(np.isnan(bs)):
        return np.array([np.nan] * 4)
    return np.array([
        np.nanmin(bs[:, 0]), np.nanmin(bs[:, 1]),
        np.nanmax(bs[:, 2]), np.nanmax(bs[:, 3]),
    ])


def signed_ring_area(ring: np.ndarray) -> float:
    """Shoelace; CCW positive. reference: shapely/algorithms/cga.py:8.
    Coordinates are translated to the first vertex before summing —
    mathematically identical, avoids catastrophic cancellation when the
    ring is far from the origin (lon/lat polygons always are)."""
    if len(ring) < 3:
        return 0.0
    x = ring[:, 0] - ring[0, 0]
    y = ring[:, 1] - ring[0, 1]
    return 0.5 * float(np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]))


def area(geom: Geometry | None) -> float:
    """reference: shapely/measurement.py:24 (0.0 for non-areal/empty/None
    matches GEOSArea; NaN for None in reference — we return nan for None)."""
    if geom is None:
        return float("nan")
    tid = geom.type_id
    if tid == POLYGON:
        if not geom.rings:
            return 0.0
        a = abs(signed_ring_area(geom.rings[0]))
        for h in geom.rings[1:]:
            a -= abs(signed_ring_area(h))
        return a
    if tid in (MULTIPOLYGON, GEOMETRYCOLLECTION):
        return sum(area(p) for p in (geom.parts or []))
    return 0.0


def length(geom: Geometry | None) -> float:
    """reference: shapely/measurement.py:167 — sum of segment norms.
    For polygons GEOS returns the ring perimeter sum."""
    if geom is None:
        return float("nan")
    tid = geom.type_id
    if tid in (LINESTRING, LINEARRING):
        c = geom.coords
        if c is None or len(c) < 2:
            return 0.0
        d = np.diff(c[:, :2], axis=0)
        return float(np.sqrt((d**2).sum(axis=1)).sum())
    if tid == POLYGON:
        total = 0.0
        for r in geom.rings or []:
            d = np.diff(np.asarray(r)[:, :2], axis=0)
            total += float(np.sqrt((d**2).sum(axis=1)).sum())
        return total
    if tid in (MULTILINESTRING, MULTIPOLYGON, GEOMETRYCOLLECTION):
        return sum(length(p) for p in (geom.parts or []))
    return 0.0


def haversine_km(lat1, lon1, lat2, lon2):
    """Great-circle distance in km, vectorized (engine addition for kNN
    refine over web-page coordinates; no reference analog — reference is
    planar, measurement.py:54)."""
    lat1, lon1, lat2, lon2 = (np.radians(np.asarray(v, dtype=np.float64)) for v in (lat1, lon1, lat2, lon2))
    dlat = lat2 - lat1
    dlon = lon2 - lon1
    a = np.sin(dlat / 2.0) ** 2 + np.cos(lat1) * np.cos(lat2) * np.sin(dlon / 2.0) ** 2
    return 2.0 * EARTH_RADIUS_KM * np.arcsin(np.sqrt(np.clip(a, 0.0, 1.0)))


# ---------------------------------------------------------------------------
# Point-segment distance machinery
# ---------------------------------------------------------------------------

def _seg_point_dist2(px, py, x1, y1, x2, y2):
    """Squared distance from points (px,py) to segments, fully broadcast."""
    dx, dy = x2 - x1, y2 - y1
    seg_len2 = dx * dx + dy * dy
    # parameter of projection clamped to [0,1]; guard zero-length segments
    t = np.where(seg_len2 > 0, ((px - x1) * dx + (py - y1) * dy) / np.where(seg_len2 > 0, seg_len2, 1.0), 0.0)
    t = np.clip(t, 0.0, 1.0)
    cx, cy = x1 + t * dx, y1 + t * dy
    return (px - cx) ** 2 + (py - cy) ** 2


def _edges(geom: Geometry):
    """All boundary segments of a geometry as (x1,y1,x2,y2) float64 arrays."""
    segs = []
    for seq in geom.coord_seqs():
        c = np.asarray(seq)[:, :2]
        if len(c) >= 2:
            segs.append(np.column_stack([c[:-1], c[1:]]))
    if not segs:
        return np.zeros((0, 4))
    return np.concatenate(segs, axis=0)


def distance(a: Geometry | None, b: Geometry | None) -> float:
    """Cartesian min distance. reference: shapely/measurement.py:54.
    Supported: any combination of point/line/polygon (incl. multis);
    0.0 when interiors overlap; nan for None/empty (GEOS raises on empty —
    the reference returns nan via ufunc; we return nan)."""
    if a is None or b is None or a.is_empty or b.is_empty:
        return float("nan")
    # interiors overlap → 0
    if intersects(a, b):
        return 0.0
    ea, eb = _edges(a), _edges(b)
    ca, cb = a.all_coords()[:, :2], b.all_coords()[:, :2]
    best = np.inf
    if len(eb):
        d2 = _seg_point_dist2(ca[:, 0:1], ca[:, 1:2], eb[None, :, 0], eb[None, :, 1], eb[None, :, 2], eb[None, :, 3])
        best = min(best, float(d2.min()))
    if len(ea):
        d2 = _seg_point_dist2(cb[:, 0:1], cb[:, 1:2], ea[None, :, 0], ea[None, :, 1], ea[None, :, 2], ea[None, :, 3])
        best = min(best, float(d2.min()))
    if not len(ea) and not len(eb):
        dx = ca[:, None, 0] - cb[None, :, 0]
        dy = ca[:, None, 1] - cb[None, :, 1]
        best = float((dx * dx + dy * dy).min())
    return math.sqrt(best)


# ---------------------------------------------------------------------------
# Point-in-ring / point-in-polygon — the join refine workhorse
# ---------------------------------------------------------------------------

EXTERIOR, BOUNDARY, INTERIOR = 0, 1, 2


def _on_segment(px, py, x1, y1, x2, y2, eps=0.0, cross=None):
    """Elementwise (broadcasting): point on segment within eps, i.e. a
    |cross product| <= eps (pass `cross` if already computed) and the
    point inside the segment's bbox widened by eps. At eps=0 a
    zero-length segment is exact equality."""
    if cross is None:
        cross = (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)
    return ((np.abs(cross) <= eps)
            & (px >= np.minimum(x1, x2) - eps) & (px <= np.maximum(x1, x2) + eps)
            & (py >= np.minimum(y1, y2) - eps) & (py <= np.maximum(y1, y2) + eps))


def points_on_segments(px, py, segs, eps=0.0):
    """Boolean: is each point on any segment (collinear + in range)."""
    if len(segs) == 0:
        return np.zeros(np.shape(px), dtype=bool)
    px = np.asarray(px, dtype=np.float64)[:, None]
    py = np.asarray(py, dtype=np.float64)[:, None]
    return _on_segment(px, py, *segs.T, eps).any(axis=1)


def points_in_rings_class(px, py, rings) -> np.ndarray:
    """Classify points vs a polygon's ring set: 0 exterior / 1 boundary /
    2 interior. Even-odd ray casting (half-open rule) + exact on-boundary
    test; shell/holes handled by parity so holed polygons work directly.
    Semantics: DE-9IM interior/boundary/exterior split used by
    contains (predicates.py:556 'T*****FF*') vs covers (:729).
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    out = np.zeros(px.shape, dtype=np.int8)
    if not rings:
        return out
    segs_all = []
    inside = np.zeros(px.shape, dtype=bool)
    for ring in rings:
        c = np.asarray(ring)[:, :2]
        if len(c) < 4:
            # degenerate ring: boundary-only
            if len(c) >= 2:
                segs_all.append(np.column_stack([c[:-1], c[1:]]))
            continue
        x1, y1 = c[:-1, 0], c[:-1, 1]
        x2, y2 = c[1:, 0], c[1:, 1]
        segs_all.append(np.column_stack([c[:-1], c[1:]]))
        # half-open crossing rule: count edges where (y1 > py) != (y2 > py)
        PX, PY = px[:, None], py[:, None]
        cond = (y1[None, :] > PY) != (y2[None, :] > PY)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = x1[None, :] + (PY - y1[None, :]) * (x2[None, :] - x1[None, :]) / (y2[None, :] - y1[None, :])
        crossings = np.sum(cond & (PX < xint), axis=1)
        inside ^= (crossings % 2).astype(bool)
    out[inside] = INTERIOR
    if segs_all:
        onb = points_on_segments(px, py, np.concatenate(segs_all, axis=0))
        out[onb] = BOUNDARY
    return out


def _chunks(weight: np.ndarray, limit: int = 1 << 20):
    """Slices of consecutive items whose weights sum to at most `limit`
    (a heavier item gets a slice of its own): bounds the memory of a
    ragged pair expansion whatever the size of one geometry."""
    cum = np.cumsum(weight)
    s = 0
    while s < len(cum):
        e = max(int(np.searchsorted(cum, (cum[s - 1] if s else 0) + limit, "right")), s + 1)
        yield slice(s, e)
        s = e


def _expand(start: np.ndarray, ids: np.ndarray):
    """(row, item): the ragged range start[ids[row]]:start[ids[row] + 1]
    of every row, concatenated in row order."""
    cnt = start[ids + 1] - start[ids]
    total = int(cnt.sum())
    if total == 0:
        return np.zeros(0, np.int64), np.zeros(0, np.int64)
    row = np.repeat(np.arange(len(ids), dtype=np.int64), cnt)
    return row, np.arange(total, dtype=np.int64) + np.repeat(
        start[ids] - (np.cumsum(cnt) - cnt), cnt)


_NO_SEGS = np.zeros((0, 4))
_NO_CROSS = np.zeros(0, dtype=bool)


def _ragged(arrays: list, width: int):
    """Stack per-owner (k, width) arrays: (offsets of n + 1, stacked)."""
    start = np.zeros(len(arrays) + 1, dtype=np.int64)
    np.cumsum([len(a) for a in arrays], out=start[1:])
    keep = [a for a in arrays if len(a)]
    return start, (np.concatenate(keep) if keep else np.zeros((0, width)))


def _ragged_bounds(start: np.ndarray, xy: np.ndarray) -> np.ndarray:
    """Per-owner bounds of ragged (x, y) points, bit for bit as bounds();
    NaN for an owner with no points."""
    out = np.full((len(start) - 1, 4), np.nan)
    has = start[1:] > start[:-1]
    if has.any():
        out[has, :2] = np.minimum.reduceat(xy, start[:-1][has])
        out[has, 2:] = np.maximum.reduceat(xy, start[:-1][has])
    return out


class RaggedPolygonLayer:
    """Whole-layer prepared structure for owner-heterogeneous point
    batches: all owners' segments concatenated into flat arrays with
    per-owner offsets, so classify_many vectorizes the ray-cast across
    EVERY (point, its-owner) pair in one shot (the north-star
    'vectorized ray-casting' form; reference per-geometry analog:
    shapely/creation.py:735 prepare). It is the engine's one owner-tagged
    point locator: the point join, the cell cover and every stage of the
    pair predicates (geo/group_predicates.py) classify through it.

    Why it exists: a per-region classify costs ~20 µs of Python dispatch
    per distinct region per batch. At a 100k-region layer each Arrow
    batch holds ~1 candidate per region, so a per-group path degenerates
    to per-row Python. Here the work per batch is a fixed handful of
    NumPy ops over the expanded (candidate, segment) pairs, in chunks of
    bounded size — identical FLOPs, no per-region dispatch.

    One segment array holds every owner's boundary; a per-segment flag
    marks the ones the ray-cast counts. Owners of any type:
    - areal (Polygon, MultiPolygon; a GeometryCollection counts its
      polygon members only, the cell cover's rule) give ring edges, all
      flagged crossing. Semantics are bit-identical to
      points_in_rings_class: half-open even-odd crossing parity XOR-ed
      across rings == parity of total crossings over all non-degenerate
      ring edges; the on-segment boundary test overrides; degenerate
      rings (<4 pts) give unflagged (boundary-only) edges;
    - lineal owners give unflagged edges, and puntal owners unflagged
      zero-length segments, so at eps=0 their on-segment test is exact
      vertex equality. They answer closure membership only: BOUNDARY
      means on the geometry, never INTERIOR.

    Built ONCE per layer (the broadcast join builds it driver side and
    ships plain arrays): workers pay zero per-owner construction."""

    __slots__ = ("n", "bbox", "start", "seg", "cross", "ylo", "yhi")

    def __init__(self, geoms_by_id: dict[int, "Geometry"]):
        """Owner ids index the layer's arrays: each must be >= 0, and ids
        missing below the largest are owners without segments."""
        if geoms_by_id and min(geoms_by_id) < 0:
            raise ValueError(f"RaggedPolygonLayer owner ids must be >= 0, "
                             f"got {min(geoms_by_id)}")
        n = (max(geoms_by_id) + 1) if geoms_by_id else 0
        segs = [(_NO_SEGS, _NO_CROSS)] * n
        for rid, g in geoms_by_id.items():
            segs[rid] = _owner_segments(g)
        self._build(segs)

    @classmethod
    def from_owner_segments(cls, segs: list) -> "RaggedPolygonLayer":
        """The layer of owners 0..n-1 from each one's (segments, crossing
        flags) arrays, as _owner_segments gives them."""
        layer = cls.__new__(cls)
        layer._build(segs)
        return layer

    def _build(self, segs: list) -> None:
        self.n = n = len(segs)
        self.start, self.seg = _ragged([s for s, _ in segs], 4)
        self.cross = np.concatenate([c for _, c in segs] + [_NO_CROSS])
        # each segment's y-range: the pass gates on it before gathering x
        self.ylo = np.minimum(self.seg[:, 1], self.seg[:, 3])
        self.yhi = np.maximum(self.seg[:, 1], self.seg[:, 3])
        # per-owner bbox of its segments; owners without segments keep
        # NaN: nothing is on them
        self.bbox = np.full((n, 4), np.nan)
        has = np.diff(self.start) > 0
        if len(self.seg):
            s, at = self.seg, self.start[:-1][has]
            self.bbox[has, :2] = np.minimum.reduceat(np.minimum(s[:, :2], s[:, 2:]), at)
            self.bbox[has, 2:] = np.maximum.reduceat(np.maximum(s[:, :2], s[:, 2:]), at)

    def _pass(self, rids, px, py, eps, boundary: bool):
        """One (point, segment) pass: (odd, on) with odd[i] the half-open
        crossing parity of point i vs owner rids[i] (bit for bit as
        points_in_rings_class) and, if `boundary`, on[i] whether the point
        lies on one of its owner's segments within eps. The expansion runs
        in _chunks-bounded slices and gathers only y first: a pair whose
        segment y-range, widened by eps, misses the point can neither
        cross its ray nor hold it, so x is gathered for the rest only."""
        odd = np.zeros(len(rids), dtype=bool)
        on = np.zeros(len(rids), dtype=bool)
        count = self.start[1:] - self.start[:-1]
        for s in _chunks(count[rids]):
            k = count[rids[s]]
            end = np.cumsum(k)
            if not end[-1]:
                continue
            # pair i is (point row, segment e[i]); only y is gathered here
            e = np.arange(end[-1]) + np.repeat(self.start[rids[s]] - (end - k), k)
            y, lo, hi = np.repeat(py[s], k), self.ylo[e], self.yhi[e]
            if boundary:
                ep = np.repeat(eps[s], k) if eps.ndim else eps
                i = np.flatnonzero((lo - ep <= y) & (y <= hi + ep))
                if eps.ndim:
                    ep = ep[i]
            else:
                i = np.flatnonzero((lo <= y) & (y < hi))
            row, e, y = np.searchsorted(end, i, "right"), e[i], y[i]
            x = px[s][row]
            x1, y1, x2, y2 = self.seg[e].T
            c = self.cross[e] & ((y1 > y) != (y2 > y))
            hit = x[c] < x1[c] + (y[c] - y1[c]) * (x2[c] - x1[c]) / (y2[c] - y1[c])
            odd[s] = np.bincount(row[c][hit], minlength=len(k)) % 2 == 1
            if boundary:
                on[s] = np.bincount(row[_on_segment(x, y, x1, y1, x2, y2, ep)],
                                    minlength=len(k)) > 0
        return odd, on

    def odd_crossings(self, rids, px, py) -> np.ndarray:
        """Half-open even-odd ray-cast parity of point i vs region rids[i]
        (True = odd crossing count), bit for bit as points_in_rings_class."""
        return self._pass(np.asarray(rids, dtype=np.int64), np.asarray(px, dtype=np.float64),
                          np.asarray(py, dtype=np.float64), None, False)[0]

    def classify_many(self, rids, px, py, eps: float = 0.0) -> np.ndarray:
        """0 exterior / 1 boundary / 2 interior of point i vs owner
        rids[i] — one vectorized pass for the whole heterogeneous batch.
        `eps` (>= 0, a scalar or one per point) loosens the on-boundary
        test exactly as points_on_segments(eps=) (fp-noded probes need it);
        points outside their owner's bbox widened by eps are EXTERIOR
        unexamined, and so is every point of an owner not in the layer."""
        rids = np.asarray(rids, dtype=np.int64)
        px = np.asarray(px, dtype=np.float64)
        py = np.asarray(py, dtype=np.float64)
        eps = np.asarray(eps, dtype=np.float64)
        out = np.zeros(len(rids), dtype=np.int8)
        ok = (rids >= 0) & (rids < self.n)
        if not ok.any():
            return out
        bb = self.bbox[np.where(ok, rids, 0)]
        live = (ok & (px >= bb[:, 0] - eps) & (px <= bb[:, 2] + eps)
                & (py >= bb[:, 1] - eps) & (py <= bb[:, 3] + eps))
        if not live.any():
            return out
        li = np.nonzero(live)[0]
        odd, on = self._pass(rids[li], px[li], py[li], eps[li] if eps.ndim else eps, True)
        out[li[odd]] = INTERIOR
        out[li[on]] = BOUNDARY
        return out


def _owner_segments(g) -> tuple:
    """(segments, crossing flags) of g for RaggedPolygonLayer: polygon
    rings give crossing segments (rings of <4 points boundary-only ones),
    lineal edges and puntal zero-length segments boundary-only ones.
    Members of a multi or a collection count only if areal."""
    segs: list[np.ndarray] = []
    cross: list[np.ndarray] = []
    _append_segments(g, segs, cross)
    return (np.concatenate(segs) if segs else _NO_SEGS,
            np.concatenate(cross) if cross else _NO_CROSS)


def _append_segments(g, segs: list, cross: list, areal_only: bool = False) -> None:
    if g is None or g.is_empty:
        return
    tid = g.type_id
    if tid == POLYGON:
        for r in g.rings or []:
            c = np.asarray(r)[:, :2]
            if len(c) >= 2:
                segs.append(np.column_stack([c[:-1], c[1:]]))
                cross.append(np.full(len(c) - 1, len(c) >= 4))
    elif tid in (MULTIPOLYGON, GEOMETRYCOLLECTION):
        for p in g.parts or []:
            _append_segments(p, segs, cross, True)
    elif areal_only:
        return
    else:
        seg = (np.hstack([_points_of(g)] * 2) if tid in (POINT, MULTIPOINT)
               else _edges(g))
        segs.append(seg)
        cross.append(np.zeros(len(seg), dtype=bool))


def _predicate_xy(geom: Geometry | None, x, y, predicate: str, scalar) -> np.ndarray:
    """Polygons classify the whole point batch (rings extracted once per
    call); any other type runs the scalar DE-9IM kernel per point."""
    x, y = np.atleast_1d(x).astype(np.float64), np.atleast_1d(y).astype(np.float64)
    if geom is None or geom.type_id in (POLYGON, MULTIPOLYGON):
        cls = RaggedPolygonLayer({0: geom}).classify_many(
            np.zeros(x.size, dtype=np.int64), x.ravel(), y.ravel()).reshape(x.shape)
        return cls == INTERIOR if predicate == "contains" else cls >= BOUNDARY
    return np.array([scalar(geom, point(px, py)) for px, py in zip(x.ravel(), y.ravel())],
                    dtype=bool).reshape(x.shape)


def contains_xy(geom: Geometry | None, x, y) -> np.ndarray:
    """reference: shapely/predicates.py:1311 — vectorized point fast path."""
    return _predicate_xy(geom, x, y, "contains", contains)


def intersects_xy(geom: Geometry | None, x, y) -> np.ndarray:
    """reference: shapely/predicates.py:1367."""
    return _predicate_xy(geom, x, y, "intersects", intersects)


# ---------------------------------------------------------------------------
# Segment-segment intersection (for line/polygon predicates)
# ---------------------------------------------------------------------------

_EDGE_CHUNK = 1 << 22  # cap the (segment × segment) outer product rows


def _segments_intersect_pairs(sa: np.ndarray, sb: np.ndarray, owner=None,
                              n: int = 1, proper: bool = False) -> np.ndarray:
    """Per owner: does any segment of sa (owner[i] owns sa[i]; None = one
    owner, 0) meet any segment of sb? Met = a proper crossing or, unless
    `proper`, a touch (an endpoint of one on the other, collinear overlap
    included). Chunked so the outer product stays bounded."""
    out = np.zeros(n, dtype=bool)
    if len(sa) == 0 or len(sb) == 0:
        return out
    if owner is None:
        owner = np.zeros(len(sa), dtype=np.int64)
    b = tuple(sb[:, i][None, :] for i in range(4))
    rows = max(1, _EDGE_CHUNK // len(sb))
    for s in range(0, len(sa), rows):
        hit = _segments_meet(tuple(sa[s:s + rows, i][:, None] for i in range(4)),
                             b, proper)
        out[np.unique(owner[s:s + rows][hit.any(axis=1)])] = True
    return out


def _segments_meet(a, b, proper: bool = False) -> np.ndarray:
    """Elementwise (broadcasting) over the coordinate columns a = (x1, y1,
    x2, y2) and b: does segment a meet segment b? Met is as in
    _segments_intersect_pairs."""
    ax1, ay1, ax2, ay2 = a
    bx1, by1, bx2, by2 = b
    d1 = (ax2 - ax1) * (by1 - ay1) - (ay2 - ay1) * (bx1 - ax1)
    d2 = (ax2 - ax1) * (by2 - ay1) - (ay2 - ay1) * (bx2 - ax1)
    d3 = (bx2 - bx1) * (ay1 - by1) - (by2 - by1) * (ax1 - bx1)
    d4 = (bx2 - bx1) * (ay2 - by1) - (by2 - by1) * (ax2 - bx1)
    hit = (((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0))
           & (d1 != 0) & (d2 != 0) & (d3 != 0) & (d4 != 0))
    if not proper:
        hit |= (_on_segment(bx1, by1, ax1, ay1, ax2, ay2, cross=d1)
                | _on_segment(bx2, by2, ax1, ay1, ax2, ay2, cross=d2)
                | _on_segment(ax1, ay1, bx1, by1, bx2, by2, cross=d3)
                | _on_segment(ax2, ay2, bx1, by1, bx2, by2, cross=d4))
    return hit


# ---------------------------------------------------------------------------
# Binary predicates — general dispatch (reference: shapely/predicates.py)
# ---------------------------------------------------------------------------

def _dim(geom: Geometry) -> int:
    tid = geom.type_id
    if tid in (POINT, MULTIPOINT):
        return 0
    if tid in (LINESTRING, LINEARRING, MULTILINESTRING):
        return 1
    if tid in (POLYGON, MULTIPOLYGON):
        return 2
    return max((_dim(p) for p in (geom.parts or [])), default=-1)


def _points_of(geom: Geometry) -> np.ndarray:
    return geom.all_coords()[:, :2]


def _rings_of(geom: Geometry) -> list[np.ndarray]:
    rings = []
    if geom.type_id == POLYGON:
        rings = [np.asarray(r)[:, :2] for r in geom.rings or []]
    elif geom.type_id in (MULTIPOLYGON, GEOMETRYCOLLECTION):
        for p in geom.parts or []:
            rings.extend(_rings_of(p))
    return rings


def _bbox_disjoint(a: Geometry, b: Geometry) -> bool:
    ba, bb = bounds(a), bounds(b)
    if np.isnan(ba[0]) or np.isnan(bb[0]):
        return True
    return ba[0] > bb[2] or bb[0] > ba[2] or ba[1] > bb[3] or bb[1] > ba[3]


def intersects(a: Geometry | None, b: Geometry | None) -> bool:
    """reference: shapely/predicates.py:865 — share any point.
    Covers all type combinations of point/line/polygon (+multis)."""
    if a is None or b is None or a.is_empty or b.is_empty:
        return False
    if _bbox_disjoint(a, b):
        return False
    if b.type_id == GEOMETRYCOLLECTION:
        a, b = b, a
    if a.type_id == GEOMETRYCOLLECTION:
        # exact member by member: the dim dispatch below would read a mixed
        # collection as areal and drop its lines and points
        return any(intersects(m, b) for m in a.parts or [])
    da, db = _dim(a), _dim(b)
    if da > db:
        return intersects(b, a)
    pa = _points_of(a)
    if da == 0:
        if db == 0:
            pb = _points_of(b)
            return bool(
                np.any((pa[:, None, 0] == pb[None, :, 0]) & (pa[:, None, 1] == pb[None, :, 1]))
            )
        if db == 1:
            return bool(points_on_segments(pa[:, 0], pa[:, 1], _edges(b)).any())
        return bool((points_in_rings_class(pa[:, 0], pa[:, 1], _rings_of(b)) >= BOUNDARY).any())
    ea, eb = _edges(a), _edges(b)
    if da == 1:
        if db == 1:
            return bool(_segments_intersect_pairs(ea, eb)[0])
        # line vs polygon: edge crossing or any line vertex inside
        if _segments_intersect_pairs(ea, eb)[0]:
            return True
        return bool((points_in_rings_class(pa[:, 0], pa[:, 1], _rings_of(b)) >= BOUNDARY).any())
    # polygon vs polygon: with no boundary crossing, every CONNECTED
    # component of each side is wholly inside or wholly outside the other —
    # but a multipolygon has several components, so EVERY part must be
    # probed (the r3 fuzz caught a one-vertex probe missing a multipolygon
    # whose first part lies outside while the second sits inside)
    if _segments_intersect_pairs(ea, eb)[0]:
        return True
    pb = _points_of(b)
    if (points_in_rings_class(pb[:, 0], pb[:, 1], _rings_of(a)) >= BOUNDARY).any():
        return True
    return bool((points_in_rings_class(pa[:, 0], pa[:, 1], _rings_of(b)) >= BOUNDARY).any())


def disjoint(a, b) -> bool:
    """reference: shapely/predicates.py:783 (empty is disjoint from all)."""
    if a is None or b is None:
        return False
    return not intersects(a, b)


def _all_class(points: np.ndarray, container: Geometry) -> np.ndarray:
    """Exact class of each point of `points` in container (any dim): a
    line's interior excludes its mod-2 boundary points (shared endpoints
    of a connected multiline are interior — reference boundary-node rule),
    a point set's interior is its points."""
    from .arrangement import _Side

    return _Side(container).locate(points[:, 0], points[:, 1], 0.0)


def _hole_rings(geom: Geometry) -> list[np.ndarray]:
    holes: list[np.ndarray] = []
    if geom.type_id == POLYGON:
        holes = [np.asarray(r)[:, :2] for r in (geom.rings or [])[1:]]
    elif geom.type_id in (MULTIPOLYGON, GEOMETRYCOLLECTION):
        for p in geom.parts or []:
            holes.extend(_hole_rings(p))
    return holes


def _noded_class(g: Geometry, areal: Geometry) -> np.ndarray:
    """Class in `areal` of every fragment of g's edges NODED at ∂areal.
    Raw edge midpoints are not enough: an edge of g bridging the gap
    between two parts of `areal` can have BOTH endpoints and its midpoint
    on the closure while its interior crosses the exterior (the r3 fuzz
    counterexample: two abutting boxes vs two boxes with a gap), and the
    un-noded midpoint of a corner-to-corner transit lands back on the
    boundary. After noding, each fragment lies in a single DE-9IM class,
    so midpoints classify exactly."""
    from .arrangement import _overlay_tol, label

    eg, ea = _edges(g), _edges(areal)
    if not len(eg) or not len(ea):
        return np.zeros(0, dtype=np.int8)
    return label(eg, ea, _overlay_tol(ea, eg), _rings_of(areal))[1]


def _holes_clear_of(a: Geometry, b: Geometry) -> bool:
    """True iff no hole of A admits closure(B) into A's exterior: a hole
    whose interior meets closure(B) breaks covers(A, B) even when ∂B
    never enters it (B blankets the hole). Each hole is probed at an
    interior representative; a probe that lands INTERIOR to A means an
    island sits inside the hole — settled exactly by the overlay engine
    (area(B \\ A) > 0)."""
    holes = _hole_rings(a)
    if not holes:
        return True
    from .constructive import point_on_surface

    for ring in holes:
        hole_poly = Geometry(POLYGON, rings=[ring])
        rp = point_on_surface(hole_poly)
        if rp is None or rp.is_empty:
            continue
        px, py = float(rp.coords[0, 0]), float(rp.coords[0, 1])
        cls_a = points_in_rings_class(np.array([px]), np.array([py]), _rings_of(a))[0]
        if cls_a == EXTERIOR:
            if points_in_rings_class(np.array([px]), np.array([py]), _rings_of(b))[0] >= BOUNDARY:
                return False
        else:
            # island-inside-hole nesting: exact fallback through overlay
            from .overlay import difference

            d = difference(b, a)
            return d is None or d.is_empty or area(d) <= 1e-12 * max(1.0, area(b))
    return True


def contains(a: Geometry | None, b: Geometry | None) -> bool:
    """B lies in A, interiors intersect: DE-9IM 'T*****FF*'.
    reference: shapely/predicates.py:556. All point/line/polygon
    combinations; closure containment is exact (noded-fragment
    classification + hole probes), interior witness per dimension."""
    if a is None or b is None or a.is_empty or b.is_empty:
        return False
    if _bbox_disjoint(a, b):
        return False
    if _has_gc(a, b):
        return _by_matrix("contains", a, b)
    da, db = _dim(a), _dim(b)
    if db > da:
        return False
    pb = _points_of(b)
    cls = _all_class(pb, a)
    if (cls == EXTERIOR).any():
        return False
    if db == 0:
        return bool((cls == INTERIOR).any())
    if da == 2:
        if not covers(a, b):
            return False
        if db == 2:
            # closure(b) ⊆ closure(a) and b has area; ∂a has none, so
            # interiors must meet — contains(a, a) is True in the
            # reference (DE-9IM 2FFF1FFF2 matches 'T*****FF*')
            return True
        # line in polygon: need a witness of b in int(a)
        if (cls == INTERIOR).any():
            return True
        mcls = _noded_class(b, a)
        return bool((mcls == INTERIOR).any())
    # line-in-line: vertex sampling misses collinear spans (equal lines have
    # all vertices on ∂) — require closure containment plus interior witness
    # ('T*****FF*' == covers ∧ interiors-intersect)
    return covers(a, b) and _interiors_intersect(a, b)


def within(a, b) -> bool:
    """reference: shapely/predicates.py:1013 — within(a,b)==contains(b,a)."""
    return contains(b, a)


def covers(a: Geometry | None, b: Geometry | None) -> bool:
    """B in closure of A ('******FF*'). reference: shapely/predicates.py:729."""
    if a is None or b is None or a.is_empty or b.is_empty:
        return False
    if _bbox_disjoint(a, b):
        return False
    if _has_gc(a, b):
        return _by_matrix("covers", a, b)
    da, db = _dim(a), _dim(b)
    if db > da:
        return False
    pb = _points_of(b)
    cls = _all_class(pb, a)
    if (cls == EXTERIOR).any():
        return False
    if db >= 1 and da == 2:
        # exact: node ∂B at ∂A so every fragment sits in one class — raw
        # midpoints miss an edge of B bridging a gap between parts of A
        # through A's exterior with all samples on A's closure
        if (_noded_class(b, a) == EXTERIOR).any():
            return False
        if db == 2 and not _holes_clear_of(a, b):
            return False
    if da == 1 and db == 1:
        # vertex sampling misses spans of b that leave a between a-vertices:
        # node b's edges at a's, then EVERY fragment midpoint must lie on a
        from .arrangement import _overlay_tol, label

        ea, eb = _edges(a), _edges(b)
        if not len(ea):
            return False
        if len(eb) and (label(eb, ea, _overlay_tol(ea, eb))[1] != BOUNDARY).any():
            return False
    return True


def covered_by(a, b) -> bool:
    """reference: shapely/predicates.py:674."""
    return covers(b, a)


def contains_properly(a: Geometry | None, b: Geometry | None) -> bool:
    """B intersects interior of A only ('T**FF*FF*').
    reference: shapely/predicates.py:619."""
    if a is None or b is None or a.is_empty or b.is_empty:
        return False
    if _has_gc(a, b):
        return _by_matrix("contains_properly", a, b)
    pb = _points_of(b)
    cls = _all_class(pb, a)
    if not (cls == INTERIOR).all():
        return False
    if _dim(b) >= 1 and _dim(a) == 2:
        mcls = _noded_class(b, a)
        if not (mcls == INTERIOR).all():
            return False
        if _dim(b) == 2 and not _holes_clear_of(a, b):
            return False
    return True


def touches(a: Geometry | None, b: Geometry | None) -> bool:
    """Boundaries intersect, interiors don't ('FT*******'|'F**T*****'|
    'F***T****'). reference: shapely/predicates.py:968. Supported for
    point-vs-(line|polygon) and polygon-vs-polygon edge-touch cases."""
    if a is None or b is None or a.is_empty or b.is_empty:
        return False
    if _has_gc(a, b):
        return _by_matrix("touches", a, b)
    da, db = _dim(a), _dim(b)
    if da > db:
        return touches(b, a)
    if da == 0:
        pa = _points_of(a)
        cls = _all_class(pa, b)
        return bool((cls == BOUNDARY).any() and not (cls == INTERIOR).any())
    if not intersects(a, b):
        return False
    # line/polygon combos: touching = intersecting but no interior overlap
    return not _interiors_intersect(a, b)


def _axis_rect(g: Geometry):
    """(xmin, ymin, xmax, ymax) if g is a single axis-aligned rectangle
    ring (hole-free), else None."""
    if g.type_id != POLYGON or not g.rings or len(g.rings) != 1:
        return None
    c = np.asarray(g.rings[0])[:, :2]
    if len(c) != 5:
        return None
    d = np.diff(c, axis=0)
    if not np.all((d[:, 0] == 0) | (d[:, 1] == 0)):
        return None
    xmin, ymin = c[:, 0].min(), c[:, 1].min()
    xmax, ymax = c[:, 0].max(), c[:, 1].max()
    if xmax <= xmin or ymax <= ymin:
        return None
    return float(xmin), float(ymin), float(xmax), float(ymax)


def _interiors_intersect(a: Geometry, b: Geometry) -> bool:
    """int(a) ∩ int(b) ≠ ∅ — the DE-9IM II cell as a boolean. Witnesses are
    found by noding each boundary against the other (same fragment machinery
    as overlay), so collinear-boundary configurations (equal polygons,
    congruent offset boxes, containment sharing an edge, a line through a
    polygon corner-to-corner) classify correctly — vertex/midpoint sampling
    alone misses them."""
    from .arrangement import (
        _crossing_touch_points, _edges_of, _overlay_tol, _poly_rings_oriented,
        label, sides,
    )

    da, db = _dim(a), _dim(b)
    if da == 0 or db == 0:
        # a point's interior is the point itself: witness = any point of the
        # puntal side classified INTERIOR against the other geometry
        pts, other = (a, b) if da == 0 else (b, a)
        pp = _points_of(pts)
        return bool((_all_class(pp, other) == INTERIOR).any())
    if da == 2 and db == 2:
        # axis-aligned-rectangle fast path (GEOS RectangleIntersects
        # analog): open-interval overlap on both axes
        ra_box = _axis_rect(a)
        rb_box = _axis_rect(b)
        if ra_box is not None and rb_box is not None:
            return (min(ra_box[2], rb_box[2]) > max(ra_box[0], rb_box[0])
                    and min(ra_box[3], rb_box[3]) > max(ra_box[1], rb_box[1]))
        # cheap witnesses first: a vertex strictly inside, or a proper cross
        for g, h in ((a, b), (b, a)):
            pg = _points_of(g)
            if (points_in_rings_class(pg[:, 0], pg[:, 1], _rings_of(h)) == INTERIOR).any():
                return True
        if _segments_intersect_pairs(_edges(a), _edges(b), proper=True)[0]:
            return True
        # collinear-boundary overlaps: node ∂g against ∂h; a fragment of ∂g
        # strictly inside h witnesses the overlap (every neighbourhood of
        # ∂g meets int(g), and int(h) is open); a fragment ON ∂h witnesses
        # it iff g's interior side (left of the oriented fragment) is
        # inside h — the side probe separates equal/contained-sharing-an-
        # edge (overlap) from edge-adjacent (touch).
        ra, rb = _poly_rings_oriented(a), _poly_rings_oriented(b)
        eao, ebo = _edges_of(ra), _edges_of(rb)
        if not len(eao) or not len(ebo):
            return False
        tol = _overlay_tol(eao, ebo)
        for eg, eh, rh in ((eao, ebo, rb), (ebo, eao, ra)):
            fr, cls = label(eg, eh, tol, rh)
            if (cls == INTERIOR).any():
                return True
            on = cls == BOUNDARY
            if on.any() and (sides(fr[on], rh, tol)[0] == INTERIOR).any():
                return True
        return False
    if db == 2:  # line or point vs polygon
        pa = _points_of(a)
        if (points_in_rings_class(pa[:, 0], pa[:, 1], _rings_of(b)) == INTERIOR).any():
            return True
        cls = _noded_class(a, b)
        return bool((cls == INTERIOR).any())
    # line vs line: collinear overlap, proper crossing, or a crossing pinned
    # at a vertex that is interior (non-endpoint) to both lines. Overlap
    # witnesses come from NODED fragment midpoints: an un-noded midpoint can
    # land exactly on the other line's endpoint (T-junction → int∩∂, not
    # int∩int), and can miss partial collinear spans entirely.
    if _lines_overlap(a, b):
        return True
    ea, eb = _edges(a), _edges(b)
    tol = _overlay_tol(ea, eb)
    # 0-dim witnesses: every crossing/touch point that is a boundary point
    # of NEITHER line (a proper edge crossing can still land exactly on the
    # other line's mod-2 endpoint — e.g. a self-crossing polyline — so a
    # bare proper-crossing boolean is not a valid witness)
    pts = _crossing_touch_points(ea, eb, tol)
    if len(pts):
        ba, bb_ = _line_boundary_points(a), _line_boundary_points(b)
        for p in pts:
            on_ba = len(ba) and (np.abs(ba - p).max(axis=1) < tol * 10).any()
            on_bb = len(bb_) and (np.abs(bb_ - p).max(axis=1) < tol * 10).any()
            if not on_ba and not on_bb:
                return True
    return False


def crosses(a: Geometry | None, b: Geometry | None) -> bool:
    """Interiors intersect, neither contains the other, dim of intersection
    < max dim. reference: shapely/predicates.py:500. Supported: line-line
    (proper crossing), line-polygon, point(s)-line/polygon."""
    if a is None or b is None or a.is_empty or b.is_empty:
        return False
    if _has_gc(a, b):
        return _by_matrix("crosses", a, b)
    da, db = _dim(a), _dim(b)
    if da > db:
        return crosses(b, a)
    if da == 0 and db >= 1:
        pa = _points_of(a)
        cls = _all_class(pa, b)
        return bool((cls == INTERIOR).any() and (cls == EXTERIOR).any())
    if da == 1 and db == 1:
        if not _interiors_intersect(a, b):
            return False
        # crossing (dim 0 intersection): not collinear-overlapping
        return not (contains(a, b) or contains(b, a) or _lines_overlap(a, b))
    if da == 1 and db == 2:
        # 'T*T******': the line must meet both int(b) and ext(b); classify
        # boundary-noded fragments so corner transits count
        cls = _noded_class(a, b)
        return bool((cls == INTERIOR).any() and (cls == EXTERIOR).any())
    return False


def _lines_overlap(a: Geometry, b: Geometry) -> bool:
    """Do lineal a and b share a segment of positive length? Post-noding,
    a fragment of a lying on b is strictly between nodes, so it is
    interior to BOTH lines."""
    from .arrangement import _overlay_tol, label

    ea, eb = _edges(a), _edges(b)
    if not len(ea) or not len(eb):
        return False
    return bool((label(ea, eb, _overlay_tol(ea, eb))[1] == BOUNDARY).any())


def overlaps(a: Geometry | None, b: Geometry | None) -> bool:
    """Same-dim, interiors intersect, neither contains the other.
    reference: shapely/predicates.py:905."""
    if a is None or b is None or a.is_empty or b.is_empty:
        return False
    if _dim(a) != _dim(b):
        return False
    if _has_gc(a, b):
        return _by_matrix("overlaps", a, b)
    if _dim(a) == 1:
        # lineal pattern is '1*T***T**': the interior intersection must be
        # 1-dimensional — segments crossing at a point are crosses, not
        # overlaps. A dim-1 intersection of polylines forces some edge pair
        # collinear with positive overlap.
        if not _lines_overlap(a, b):
            return False
    elif not _interiors_intersect(a, b):
        return False
    return not (covers(a, b) or covers(b, a))


def equals(a: Geometry | None, b: Geometry | None) -> bool:
    """Topological equality = within ∧ contains-closure.
    reference: shapely/predicates.py:830 (doc: a.within(b) && a.contains(b))."""
    if a is None or b is None:
        return False
    if a.is_empty and b.is_empty:
        return True
    if not (a.is_empty or b.is_empty) and _has_gc(a, b):
        return _by_matrix("equals", a, b)
    return covers(a, b) and covers(b, a)


_distance_of = distance  # dwithin's reference-named parameter shadows the kernel


def dwithin(a: Geometry | None, b: Geometry | None, distance: float) -> bool:
    """distance(a,b) <= distance without materializing it when the bbox
    prune fails. reference: shapely/predicates.py:1269 (same parameter
    name for keyword compatibility; the kernel is _distance_of here
    because the parameter shadows it)."""
    if a is None or b is None or a.is_empty or b.is_empty:
        return False
    d = distance
    ba, bb = bounds(a), bounds(b)
    if (
        ba[0] - d > bb[2] or bb[0] - d > ba[2]
        or ba[1] - d > bb[3] or bb[1] - d > ba[3]
    ):
        return False
    return _distance_of(a, b) <= d


def _boundary_dim(g: Geometry) -> int:
    """Dimension of ∂g: polygon→1, open line→0, closed line/point→-1."""
    d = _dim(g)
    if d == 2:
        return 1
    if d == 1:
        return 0 if len(_line_boundary_points(g)) else -1
    return -1


def _line_boundary_points(g: Geometry) -> np.ndarray:
    """Mod-2 boundary of lineal g: endpoints occurring an odd number of
    times (closed rings contribute none)."""
    from collections import Counter

    cnt: Counter = Counter()
    at: dict = {}
    stack = [g]
    while stack:
        x = stack.pop()
        if x.type_id in (LINESTRING, LINEARRING) and x.coords is not None and len(x.coords) >= 2:
            for c in (x.coords[0, :2], x.coords[-1, :2]):
                k = tuple(np.round(c, 12))
                cnt[k] += 1
                at.setdefault(k, c)  # the exact coordinates of its first copy
        for p in x.parts or []:
            stack.append(p)
    pts = [at[p] for p, k in cnt.items() if k % 2 == 1]
    return np.array(pts, dtype=np.float64) if pts else np.zeros((0, 2))


def relate(a: Geometry | None, b: Geometry | None) -> str | None:
    """DE-9IM matrix string for any pair, collections included (each the
    union of its members). reference: shapely/predicates.py:1194. Every
    cell is read from one labelled arrangement (geo/arrangement.py)."""
    if a is None or b is None:
        return None
    if a.is_empty or b.is_empty:
        m = np.full((3, 3), -1)
        m[2, 2] = 2
        if not b.is_empty:
            m[2, :2] = _dim(b), _boundary_dim(b)
        if not a.is_empty:
            m[:2, 2] = _dim(a), _boundary_dim(a)
    else:
        from .arrangement import Arrangement

        m = Arrangement(a, b).matrix()
    return "".join("F" if v < 0 else str(v) for v in m.ravel())


def _matches(matrix: str, pattern: str) -> bool:
    return all(p == "*" or (m != "F" if p == "T" else m == p)
               for m, p in zip(matrix, pattern))


def relate_pattern(a, b, pattern: str) -> bool:
    """reference: shapely/predicates.py:1226 — T/F/0/1/2/* matching; the
    pattern is 9 symbols of TtFf*012 (GEOS raises otherwise)."""
    from .errors import GEOSException

    if len(pattern) != 9 or any(c not in "TtFf*012" for c in pattern):
        raise GEOSException(f"IllegalArgumentException: Invalid DE-9IM pattern: {pattern!r}")
    m = relate(a, b)
    return m is not None and _matches(m, pattern.upper())


# Named predicates as DE-9IM patterns (reference: shapely/predicates.py);
# a collection side answers from relate: its members' union has no
# single-dimension decision logic.
_PATTERNS = {
    "contains": ("T*****FF*",),
    "covers": ("T*****FF*", "*T****FF*", "***T**FF*", "****T*FF*"),
    "contains_properly": ("T**FF*FF*",),
    "touches": ("FT*******", "F**T*****", "F***T****"),
    "equals": ("T*F**FFF*",),
}


def _by_matrix(pred: str, a: Geometry, b: Geometry) -> bool:
    da, db = _dim(a), _dim(b)
    if pred == "crosses":
        pats = (("0********",) if da == db == 1 else () if da == db
                else ("T*T******",) if da < db else ("T*****T**",))
    elif pred == "overlaps":
        pats = () if da != db else ("1*T***T**",) if da == 1 else ("T*T***T**",)
    else:
        pats = _PATTERNS[pred]
    m = relate(a, b)
    return any(_matches(m, p) for p in pats)


def _has_gc(a: Geometry, b: Geometry) -> bool:
    return GEOMETRYCOLLECTION in (a.type_id, b.type_id)


# ---------------------------------------------------------------------------
# Unary predicates (reference: shapely/predicates.py)
# ---------------------------------------------------------------------------

def is_ccw(geom: Geometry | None) -> bool:
    """reference: shapely/predicates.py:113 (signed area > 0); False for
    non-rings/None."""
    if geom is None or geom.type_id not in (LINEARRING, LINESTRING):
        return False
    c = geom.coords
    if c is None or len(c) < 4 or not np.array_equal(c[0, :2], c[-1, :2]):
        return False
    return signed_ring_area(c[:, :2]) > 0


def is_closed(geom: Geometry | None) -> bool:
    """reference: shapely/predicates.py:152."""
    if geom is None or geom.type_id not in (LINESTRING, LINEARRING, MULTILINESTRING):
        return False
    if geom.type_id == MULTILINESTRING:
        return all(is_closed(p) for p in (geom.parts or [])) and bool(geom.parts)
    c = geom.coords
    if c is None or len(c) == 0:
        return False
    return bool(np.array_equal(c[0, :2], c[-1, :2]))


def is_ring(geom: Geometry | None) -> bool:
    """closed + simple. reference: shapely/predicates.py:354."""
    return is_closed(geom) and is_simple(geom)


def is_simple(geom: Geometry | None) -> bool:
    """No self-intersection (lines). reference: shapely/predicates.py:392.
    Point/polygon types return True like GEOS (validity is separate)."""
    if geom is None:
        return False
    if geom.type_id not in (LINESTRING, LINEARRING, MULTILINESTRING):
        return geom.type_id != GEOMETRYCOLLECTION
    segs = _edges(geom)
    n = len(segs)
    closed = is_closed(geom)
    for i in range(n - 1):
        # which later segments meet segment i (each its own owner)
        a, rest = segs[i : i + 1], segs[i + 1 :]
        hit = _segments_intersect_pairs(rest, a, np.arange(len(rest)), len(rest))
        for j in i + 1 + np.flatnonzero(hit):
            if not (j == i + 1 or (closed and i == 0 and j == n - 1)):
                return False
            # adjacent: sharing one endpoint is fine; overlap is not
            b = segs[j]
            if points_on_segments(np.array([(b[0] + b[2]) / 2.0]),
                                  np.array([(b[1] + b[3]) / 2.0]), a).any():
                return False
    return True


def is_valid(geom: Geometry | None) -> bool:
    """OGC validity (subset): rings closed, >=4 points, no ring
    self-intersection, holes inside shell. reference: shapely/predicates.py:431."""
    return is_valid_reason(geom) == "Valid Geometry"


def is_valid_reason(geom: Geometry | None) -> str | None:
    """reference: shapely/predicates.py:468."""
    if geom is None:
        return None
    if geom.type_id == POLYGON:
        for r in geom.rings or []:
            c = np.asarray(r)
            if len(c) and not np.array_equal(c[0, :2], c[-1, :2]):
                return "Ring Not Closed"
            if 0 < len(c) < 4:
                return "Too Few Points"
            ring_geom = Geometry(LINEARRING, coords=c)
            if not is_simple(ring_geom):
                return "Self-intersection"
        if geom.rings and len(geom.rings) > 1:
            shell = [geom.rings[0]]
            for h in geom.rings[1:]:
                hc = np.asarray(h)[:, :2]
                if (points_in_rings_class(hc[:, 0], hc[:, 1], shell) == EXTERIOR).any():
                    return "Hole Lies Outside Shell"
        return "Valid Geometry"
    if geom.type_id in (MULTIPOLYGON, GEOMETRYCOLLECTION):
        parts = [p for p in geom.parts or [] if not p.is_empty]
        for p in parts:
            r = is_valid_reason(p)
            if r != "Valid Geometry":
                return r
        if geom.type_id == MULTIPOLYGON:
            # parts may meet at points only: interiors disjoint, and
            # boundaries sharing no segment
            from .arrangement import Arrangement

            for i, p in enumerate(parts):
                for q in parts[i + 1:]:
                    if not _bbox_disjoint(p, q):
                        m = Arrangement(p, q).matrix()
                        if m[0, 0] >= 0 or m[1, 1] >= 1:
                            return "Self-intersection"
    return "Valid Geometry"


# ---------------------------------------------------------------------------
# Discrete Hausdorff / Fréchet (reference: shapely/measurement.py:200,245)
# ---------------------------------------------------------------------------

def _densified_points(geom: Geometry, densify: float | None) -> np.ndarray:
    pts = geom.all_coords()[:, :2]
    if densify is None:
        return pts
    if math.isnan(densify):
        # reference: densify=nan propagates to a nan distance, not an
        # error (tests/test_measurement.py::test_hausdorff_densify_nan)
        return None
    if not 0 < densify <= 1:
        raise ValueError("densify must be in (0, 1]")
    segs = _edges(geom)
    out = [pts]
    for x1, y1, x2, y2 in segs:
        n = max(1, int(math.ceil(1.0 / densify)) - 1)
        t = np.linspace(0, 1, n + 2)[1:-1]
        out.append(np.column_stack([x1 + t * (x2 - x1), y1 + t * (y2 - y1)]))
    return np.concatenate(out, axis=0)


def hausdorff_distance(a: Geometry | None, b: Geometry | None, densify: float | None = None) -> float:
    """Discrete (vertex/densified) Hausdorff distance, max of directed
    point-to-geometry distances. reference: shapely/measurement.py:200
    (GEOSHausdorffDistance uses the same discrete algorithm)."""
    if a is None or b is None or a.is_empty or b.is_empty:
        return float("nan")
    pa = _densified_points(a, densify)
    pb = _densified_points(b, densify)
    if pa is None or pb is None:  # densify=nan
        return float("nan")

    def directed(p, q):
        d2 = (p[:, None, 0] - q[None, :, 0]) ** 2 + (p[:, None, 1] - q[None, :, 1]) ** 2
        return float(np.sqrt(d2.min(axis=1)).max())

    return max(directed(pa, pb), directed(pb, pa))


def frechet_distance(a: Geometry | None, b: Geometry | None, densify: float | None = None) -> float:
    """Discrete Fréchet distance (dynamic program over vertex sequences).
    reference: shapely/measurement.py:245."""
    if a is None or b is None or a.is_empty or b.is_empty:
        return float("nan")
    p = _densified_points(a, densify)
    q = _densified_points(b, densify)
    if p is None or q is None:  # densify=nan
        return float("nan")
    n, m = len(p), len(q)
    d = np.sqrt((p[:, None, 0] - q[None, :, 0]) ** 2 + (p[:, None, 1] - q[None, :, 1]) ** 2)
    ca = np.full((n, m), -1.0)
    ca[0, 0] = d[0, 0]
    for i in range(1, n):
        ca[i, 0] = max(ca[i - 1, 0], d[i, 0])
    for j in range(1, m):
        ca[0, j] = max(ca[0, j - 1], d[0, j])
    for i in range(1, n):
        for j in range(1, m):
            ca[i, j] = max(min(ca[i - 1, j], ca[i - 1, j - 1], ca[i, j - 1]), d[i, j])
    return float(ca[n - 1, m - 1])


def minimum_bounding_radius(geom: Geometry | None) -> float:
    """reference: shapely/measurement.py:326."""
    from .constructive import minimum_bounding_circle

    if geom is None or geom.is_empty:
        return float("nan") if geom is None else 0.0
    c, r = minimum_bounding_circle(geom, return_center=True)
    return r


def explain_validity(geom: Geometry | None) -> str | None:
    """reference: shapely/validation.py explain_validity — alias of
    is_valid_reason (GEOSisValidReason)."""
    return is_valid_reason(geom)


def prepare(geom: Geometry | None) -> None:
    """reference: shapely/prepared.py / _geometry.py prepare. In this
    engine preparation is an executor-side cache keyed by geometry
    (spark/join.py:100) — kernel-level prepare is a documented no-op."""
    return None


def destroy_prepared(geom: Geometry | None) -> None:
    """reference: shapely/_geometry.py destroy_prepared — no-op (see
    prepare)."""
    return None


def is_prepared(geom: Geometry | None) -> bool:
    """reference: shapely/predicates.py is_prepared — kernel-side objects
    carry no prepared state (the executor cache holds it), so False."""
    return False


def validate(geom: Geometry | None) -> str | None:
    """reference: shapely/ops.py:211 ops.validate — returns the validity
    reason string (the reference delegates to is_valid_reason)."""
    return is_valid_reason(geom)
