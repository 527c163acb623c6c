"""Triangulation & derived constructions — pure NumPy/Python.

Reference semantics: shapely/constructive.py:491 delaunay_triangles, :1270
voronoi_polygons, algorithms/polylabel.py:7 polylabel, constructive.py:1473
maximum_inscribed_circle. Independent implementations: Bowyer–Watson for
Delaunay (O(n²), fine for per-row UDF workloads), half-plane intersection
for Voronoi cells (robust, no dual bookkeeping), quadtree refinement for
the pole of inaccessibility.
"""

from __future__ import annotations

import math

import numpy as np

from . import kernels as K
from .geom import (
    GEOMETRYCOLLECTION,
    LINESTRING,
    MULTILINESTRING,
    MULTIPOLYGON,
    POLYGON,
    TYPE_NAMES,
    Geometry,
    empty,
    point as make_point,
)


def _unique_points(geom: Geometry, tolerance: float = 0.0) -> np.ndarray:
    c = np.asarray(geom.all_coords())[:, :2]
    if len(c) == 0:
        return c
    if tolerance > 0:
        # GEOS snapping semantics: a vertex within tolerance of an
        # already-accepted vertex is merged into it (keep-first, input order)
        kept: list[np.ndarray] = []
        for p in c:
            if not any((p[0] - q[0]) ** 2 + (p[1] - q[1]) ** 2 <= tolerance * tolerance
                       for q in kept):
                kept.append(p)
        c = np.array(kept)
    return np.unique(c, axis=0)


def _circumcircle(a, b, c):
    """(center, r²) of the triangle abc; None for degenerate."""
    ax, ay = a
    bx, by = b
    cx, cy = c
    d = 2.0 * (ax * (by - cy) + bx * (cy - ay) + cx * (ay - by))
    if d == 0:
        return None
    ux = ((ax * ax + ay * ay) * (by - cy) + (bx * bx + by * by) * (cy - ay)
          + (cx * cx + cy * cy) * (ay - by)) / d
    uy = ((ax * ax + ay * ay) * (cx - bx) + (bx * bx + by * by) * (ax - cx)
          + (cx * cx + cy * cy) * (bx - ax)) / d
    r2 = (ax - ux) ** 2 + (ay - uy) ** 2
    return (ux, uy), r2


def _delaunay(pts: np.ndarray) -> list[tuple[int, int, int]]:
    """Bowyer–Watson incremental triangulation; returns index triples.

    Degeneracy handling: exactly-cocircular inputs (regular n-gons) make
    the incircle sign ambiguous and can leave holes in the cavity. A
    deterministic per-index jitter (≈1e-9 of the span) is applied to the
    PREDICATE copy of the points only — emitted triangles use the original
    coordinates — the cheap form of simulation-of-simplicity."""
    n = len(pts)
    if n < 3:
        return []
    # super-triangle containing everything
    cx, cy = pts[:, 0].mean(), pts[:, 1].mean()
    span = max(np.ptp(pts[:, 0]), np.ptp(pts[:, 1]), 1.0) * 100.0
    P = np.vstack([pts, [[cx - 2 * span, cy - span], [cx + 2 * span, cy - span],
                         [cx, cy + 2 * span]]])
    eps = max(np.ptp(pts[:, 0]), np.ptp(pts[:, 1]), 1.0) * 1e-9
    idx = np.arange(len(P), dtype=np.int64)
    jx = (((idx * 2654435761) % 1013) / 1013.0 - 0.5) * eps
    jy = (((idx * 40503 + 7) % 997) / 997.0 - 0.5) * eps
    P = P + np.column_stack([jx, jy])
    s0, s1, s2 = n, n + 1, n + 2
    tris = [(s0, s1, s2)]
    circ = {(s0, s1, s2): _circumcircle(P[s0], P[s1], P[s2])}
    for i in range(n):
        px, py = P[i]
        bad, polygon_edges = [], {}
        for t in tris:
            cc = circ[t]
            if cc is None:
                continue
            (ux, uy), r2 = cc
            if (px - ux) ** 2 + (py - uy) ** 2 <= r2 * (1 + 1e-12):
                bad.append(t)
                for e in ((t[0], t[1]), (t[1], t[2]), (t[2], t[0])):
                    k = (min(e), max(e))
                    polygon_edges[k] = polygon_edges.get(k, 0) + 1
        for t in bad:
            tris.remove(t)
            del circ[t]
        boundary = [e for e, cnt in polygon_edges.items() if cnt == 1]
        for (a, b) in boundary:
            t = (a, b, i)
            tris.append(t)
            circ[t] = _circumcircle(P[a], P[b], P[i])
    out = []
    for t in tris:
        if s0 in t or s1 in t or s2 in t:
            continue
        out.append(t)
    return out


def delaunay_triangles(geom: Geometry | None, tolerance: float = 0.0,
                       only_edges: bool = False) -> Geometry | None:
    """reference: shapely/constructive.py:491 — GeometryCollection of CCW
    triangles (or MultiLineString of unique edges with only_edges)."""
    if geom is None:
        return None
    pts = _unique_points(geom, tolerance)
    tris = _delaunay(pts)
    if only_edges:
        edges = set()
        for a, b, c in tris:
            for e in ((a, b), (b, c), (c, a)):
                edges.add((min(e), max(e)))
        lines = [
            Geometry(LINESTRING, coords=np.vstack([pts[a], pts[b]]))
            for a, b in sorted(edges)
        ]
        if not lines:
            return empty(MULTILINESTRING)
        return Geometry(MULTILINESTRING, parts=lines)
    polys = []
    for a, b, c in tris:
        ring = np.vstack([pts[a], pts[b], pts[c], pts[a]])
        if K.signed_ring_area(ring) < 0:
            ring = ring[::-1]
        polys.append(Geometry(POLYGON, rings=[ring]))
    return Geometry(GEOMETRYCOLLECTION, parts=polys)


def voronoi_polygons(geom: Geometry | None, tolerance: float = 0.0,
                     extend_to: Geometry | None = None,
                     only_edges: bool = False) -> Geometry | None:
    """reference: shapely/constructive.py:1270 — same parameter ORDER
    (tolerance second; the r3 parity audit caught ours taking extend_to
    second, so a reference-style positional call would misbind).
    Each input point's cell is
    the intersection of the (expanded) envelope with the half-planes closer
    to it than to every other point — O(n²) half-plane clipping instead of
    the dual-graph walk, trivially robust for UDF-scale inputs. Envelope
    matches GEOS: input envelope expanded by ~50% of its larger span
    (or the extend_to geometry's envelope)."""
    from .constructive import _clip_halfplane

    if geom is None:
        return None
    pts = _unique_points(geom, tolerance)
    if len(pts) == 0:
        return empty(GEOMETRYCOLLECTION)
    if extend_to is not None:
        bb = K.bounds(extend_to)
    else:
        bb = np.array([pts[:, 0].min(), pts[:, 1].min(), pts[:, 0].max(), pts[:, 1].max()])
        pad = max(bb[2] - bb[0], bb[3] - bb[1], 1.0) * 0.5
        bb = np.array([bb[0] - pad, bb[1] - pad, bb[2] + pad, bb[3] + pad])
    env = np.array([[bb[0], bb[1]], [bb[2], bb[1]], [bb[2], bb[3]], [bb[0], bb[3]]])
    cells = []
    edge_set = set()
    for i, p in enumerate(pts):
        cell = env
        for j, q in enumerate(pts):
            if i == j or cell is None:
                continue
            # bisector half-plane keeping the side of p: edge through the
            # midpoint, direction perpendicular to (q-p) rotated so that
            # "inside" (left) contains p
            mid = (p + q) / 2.0
            d = q - p
            # left of (e0→e1) must contain p: choose e1-e0 = rotate90(d)
            e0 = mid
            e1 = mid + np.array([-d[1], d[0]])
            # inside test in _clip_halfplane keeps left side; check p is left
            if (e1[0] - e0[0]) * (p[1] - e0[1]) - (e1[1] - e0[1]) * (p[0] - e0[0]) < 0:
                e0, e1 = e1, e0
            cell = _clip_halfplane(cell, e0, e1)
        if cell is None or len(cell) < 3:
            continue
        ring = np.vstack([cell, cell[:1]])
        if K.signed_ring_area(ring) < 0:
            ring = ring[::-1]
        cells.append(Geometry(POLYGON, rings=[ring]))
        if only_edges:
            for k in range(len(ring) - 1):
                a, b = tuple(np.round(ring[k], 9)), tuple(np.round(ring[k + 1], 9))
                edge_set.add((min(a, b), max(a, b)))
    if only_edges:
        lines = [Geometry(LINESTRING, coords=np.array([a, b])) for a, b in sorted(edge_set)]
        if not lines:
            return empty(MULTILINESTRING)
        return Geometry(MULTILINESTRING, parts=lines)
    return Geometry(GEOMETRYCOLLECTION, parts=cells)


# ---------------------------------------------------------------------------
# pole of inaccessibility / maximum inscribed circle
# ---------------------------------------------------------------------------

def polylabel(geom: Geometry, tolerance: float = 1.0) -> Geometry:
    """Pole of inaccessibility via quadtree refinement (reference:
    shapely/algorithms/polylabel.py:7 — same cell-queue algorithm).
    Returns the Point, exactly like the reference (the r3 parity sweep
    caught this returning a (point, distance) tuple — distance callers
    use _polylabel_with_distance)."""
    return _polylabel_with_distance(geom, tolerance)[0]


def _polylabel_with_distance(geom: Geometry, tolerance: float = 1.0):
    """(point, clearance distance) — the internal variant
    maximum_inscribed_circle builds its radius from.

    Rings and edges are extracted once per call and every refinement
    evaluates its 4 children in one broadcast signed-distance batch —
    the per-push geometry re-extraction was the dominant cost of the
    inscribed-circle battery query."""
    b = K.bounds(geom)
    w, h = b[2] - b[0], b[3] - b[1]
    size = min(w, h)
    if size == 0:
        return make_point(b[0], b[1]), 0.0
    rings = K._rings_of(geom)
    segs = K._edges(geom)

    def dists(xs: np.ndarray, ys: np.ndarray) -> np.ndarray:
        """Signed distance (positive inside) for a batch of candidates."""
        if len(segs):
            d2 = K._seg_point_dist2(
                xs[:, None], ys[:, None],
                segs[None, :, 0], segs[None, :, 1],
                segs[None, :, 2], segs[None, :, 3],
            )
            d = np.sqrt(d2.min(axis=1))
        else:
            d = np.zeros(len(xs))
        cls = K.points_in_rings_class(xs, ys, rings)
        return np.where(cls == K.INTERIOR, d,
                        np.where(cls == K.BOUNDARY, 0.0, -d))

    half = size / 2.0
    root2 = math.sqrt(2)

    seed_x, seed_y = [], []
    x = b[0]
    while x < b[2]:
        y = b[1]
        while y < b[3]:
            seed_x.append(x + half)
            seed_y.append(y + half)
            y += size
        x += size
    xs = np.asarray(seed_x, dtype=np.float64)
    ys = np.asarray(seed_y, dtype=np.float64)
    ds = dists(xs, ys)
    # centroid seed (the reference seeds with the centroid too)
    from .constructive import centroid

    c = centroid(geom)
    best_x, best_y = float(c.coords[0, 0]), float(c.coords[0, 1])
    best_d = float(dists(np.array([best_x]), np.array([best_y]))[0])
    hh = half
    # level-synchronous branch-and-bound: the whole surviving frontier is
    # subdivided at once and its children evaluated in ONE broadcast
    # batch per level (~log2(size/tol) batches total) — same pruning rule
    # as the reference's best-first cell queue, so the same ±tolerance
    # guarantee, but without thousands of tiny per-cell numpy calls
    while len(xs):
        i = int(np.argmax(ds))
        if ds[i] > best_d:
            best_x, best_y, best_d = float(xs[i]), float(ys[i]), float(ds[i])
        keep = (ds + hh * root2) - best_d > tolerance
        if not keep.any():
            break
        kx, ky = xs[keep], ys[keep]
        q = hh / 2.0
        xs = np.concatenate([kx - q, kx - q, kx + q, kx + q])
        ys = np.concatenate([ky - q, ky + q, ky - q, ky + q])
        ds = dists(xs, ys)
        hh = q
    return make_point(best_x, best_y), best_d


def maximum_inscribed_circle(geom: Geometry, tolerance: float | None = None) -> Geometry:
    """Center→boundary 2-point linestring, like GEOS (reference:
    shapely/constructive.py:1473). Radius = polylabel distance. EMPTY
    gives LINESTRING EMPTY; a non-polygonal input raises ValueError."""
    if geom is None:
        return None
    if geom.is_empty:
        return empty(LINESTRING)
    if geom.type_id not in (POLYGON, MULTIPOLYGON):
        raise ValueError("maximum_inscribed_circle requires a polygon, "
                         f"got {TYPE_NAMES[geom.type_id]}")
    if tolerance is None:
        b = K.bounds(geom)
        tolerance = max(b[2] - b[0], b[3] - b[1]) / 1000.0
    center, r = _polylabel_with_distance(geom, tolerance)
    cx, cy = float(center.coords[0, 0]), float(center.coords[0, 1])
    # nearest boundary point
    segs = K._edges(geom)
    d2 = K._seg_point_dist2(cx, cy, segs[:, 0], segs[:, 1], segs[:, 2], segs[:, 3])
    i = int(np.argmin(d2))
    x1, y1, x2, y2 = segs[i]
    dx, dy = x2 - x1, y2 - y1
    L2 = dx * dx + dy * dy
    t = 0.0 if L2 == 0 else max(0.0, min(1.0, ((cx - x1) * dx + (cy - y1) * dy) / L2))
    bx, by = x1 + t * dx, y1 + t * dy
    return Geometry(LINESTRING, coords=np.array([[cx, cy], [bx, by]]))


def constrained_delaunay_triangles(geom: Geometry | None) -> Geometry | None:
    """Triangulation of a polygon's interior (reference:
    shapely/constructive.py:546 constrained_delaunay_triangles): ear
    clipping over the shell with holes bridged in, then Lawson edge flips
    toward the Delaunay criterion where flips keep triangles inside.
    Returns a GeometryCollection of triangles whose union is the input."""
    if geom is None:
        return None
    if geom.is_empty:
        return Geometry(GEOMETRYCOLLECTION, parts=[])
    if geom.type_id == MULTIPOLYGON:
        parts = []
        for p in geom.parts or []:
            sub = constrained_delaunay_triangles(p)
            parts.extend(sub.parts or [])
        return Geometry(GEOMETRYCOLLECTION, parts=parts)
    if geom.type_id != POLYGON:
        # points/lines: plain Delaunay (GEOS behavior for non-areal input)
        return delaunay_triangles(geom)

    # bridge holes into the shell (simple polygon) — connect each hole's
    # rightmost vertex to a visible shell vertex (Held's bridging)
    shell = np.asarray(geom.rings[0])[:, :2]
    if K.signed_ring_area(shell) < 0:
        shell = shell[::-1]
    ring = list(map(tuple, shell[:-1]))
    holes = []
    for h in (geom.rings or [])[1:]:
        hh = np.asarray(h)[:, :2]
        if K.signed_ring_area(hh) > 0:
            hh = hh[::-1]  # holes CW for bridging
        holes.append(hh[:-1])
    for hole in sorted(holes, key=lambda h: -h[:, 0].max()):
        hi = int(np.argmax(hole[:, 0]))
        hx, hy = hole[hi]
        # nearest shell vertex to the right-ish (simple visibility choice:
        # minimize distance among vertices with x >= hx, fall back to all)
        cand = [(j, (vx - hx) ** 2 + (vy - hy) ** 2)
                for j, (vx, vy) in enumerate(ring)]
        right = [c for c in cand if ring[c[0]][0] >= hx]
        j = min(right or cand, key=lambda c: c[1])[0]
        bridge = [ring[j]] + [tuple(p) for p in np.roll(hole, -hi, axis=0)] \
            + [tuple(hole[hi]), ring[j]]
        ring = ring[: j + 1] + bridge[1:] + ring[j + 1:]

    pts = np.array(ring, dtype=np.float64)
    n = len(pts)
    if n < 3:
        return Geometry(GEOMETRYCOLLECTION, parts=[])
    idx = list(range(n))
    tris = []

    def cross(o, a, b):
        return (pts[a, 0] - pts[o, 0]) * (pts[b, 1] - pts[o, 1]) - \
               (pts[a, 1] - pts[o, 1]) * (pts[b, 0] - pts[o, 0])

    guard = 0
    while len(idx) > 3 and guard < 10 * n * n:
        guard += 1
        ear_found = False
        for k in range(len(idx)):
            i0, i1, i2 = idx[k - 1], idx[k], idx[(k + 1) % len(idx)]
            if cross(i0, i1, i2) <= 1e-14:
                continue  # reflex or degenerate
            # no other vertex strictly inside the candidate ear
            ax, ay = pts[i0]
            bx, by = pts[i1]
            cx, cy = pts[i2]
            ok = True
            for j in idx:
                if j in (i0, i1, i2):
                    continue
                px, py = pts[j]
                d1 = (bx - ax) * (py - ay) - (by - ay) * (px - ax)
                d2 = (cx - bx) * (py - by) - (cy - by) * (px - bx)
                d3 = (ax - cx) * (py - cy) - (ay - cy) * (px - cx)
                if d1 > 1e-14 and d2 > 1e-14 and d3 > 1e-14:
                    ok = False
                    break
            if ok:
                tris.append((i0, i1, i2))
                idx.pop(k)
                ear_found = True
                break
        if not ear_found:
            break
    if len(idx) == 3:
        tris.append((idx[0], idx[1], idx[2]))

    # Lawson flips toward Delaunay (bounded passes; constraint edges —
    # consecutive ring indices — never flip)
    constrained = {(min(a, b), max(a, b)) for a, b in zip(range(n), list(range(1, n)) + [0])}
    for _ in range(4):
        edge_tris = {}
        for t in tris:
            for e in ((t[0], t[1]), (t[1], t[2]), (t[2], t[0])):
                edge_tris.setdefault((min(e), max(e)), []).append(t)
        flipped = False
        for e, ts in edge_tris.items():
            if len(ts) != 2 or e in constrained:
                continue
            t1, t2 = ts
            if t1 not in tris or t2 not in tris:
                continue
            o1 = [v for v in t1 if v not in e][0]
            o2 = [v for v in t2 if v not in e][0]
            cc = _circumcircle(pts[t1[0]], pts[t1[1]], pts[t1[2]])
            if cc is None:
                continue
            (ux, uy), r2 = cc
            if (pts[o2, 0] - ux) ** 2 + (pts[o2, 1] - uy) ** 2 < r2 * (1 - 1e-12):
                na = (o1, e[0], o2)
                nb = (o1, o2, e[1])
                # only flip if both new triangles are non-degenerate & CCW-able
                if abs(cross(*na)) > 1e-14 and abs(cross(*nb)) > 1e-14:
                    tris.remove(t1)
                    tris.remove(t2)
                    tris.extend([na, nb])
                    flipped = True
        if not flipped:
            break

    out = []
    for a, b, c in tris:
        tri_ring = np.vstack([pts[a], pts[b], pts[c], pts[a]])
        if K.signed_ring_area(tri_ring) < 0:
            tri_ring = tri_ring[::-1]
        out.append(Geometry(POLYGON, rings=[tri_ring]))
    return Geometry(GEOMETRYCOLLECTION, parts=out)


def voronoi_diagram(geom: Geometry | None, envelope: Geometry | None = None,
                    tolerance: float = 0.0, edges: bool = False) -> Geometry | None:
    """Legacy shapely.ops name + signature (reference: shapely/ops.py:291
    voronoi_diagram(geom, envelope=None, tolerance=0.0, edges=False))."""
    return voronoi_polygons(geom, tolerance=tolerance, extend_to=envelope,
                            only_edges=edges)
