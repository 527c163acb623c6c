"""Boolean overlay (set operations) and planar faces — pure NumPy.

Reference semantics: shapely/set_operations.py:114 intersection, :41
difference, :247 symmetric_difference, :395 union, :465 union_all. The
reference delegates to GEOS overlayng; this is an independent
implementation for the engine (SURVEY.md §2.5): boundary-fragment
selection + face-left stitching.

Algorithm (polygon × polygon, holes and multi-parts included):
  1. node and label (geo/arrangement.py): rings oriented so every
     directed edge has its interior on the LEFT, each side's edges
     split at the other's, each fragment classed in the other polygon
     (interior / exterior / boundary), a shared boundary fragment also
     on its left and right;
  2. select fragments per op (Arrangement.select, the standard
     boundary-algebra rules), e.g. intersection = A-frags in int(B) +
     B-frags in int(A) + shared fragments with both interiors on the
     same side; symmetric_difference is ONE selection over the same
     arrangement (fragments in the other's interior reversed, shared
     fragments dropped);
  3. stitch selected fragments into rings by walking most-clockwise turns
     (face-to-the-left traversal); split pinch nodes; CCW rings are shells,
     CW rings are holes; assign holes to containing shells.

Line×line and line×polygon ops select line fragments from the same
arrangement; mixed GeometryCollections overlay per dimension pair.
"""

from __future__ import annotations

import math

import numpy as np

from . import kernels as K
from .arrangement import (
    Arrangement, _edges_of, _line_edges, _noded,
    _overlay_tol, _poly_rings_oriented, _split_params,
)
from .geom import (
    GEOMETRYCOLLECTION,
    MULTIPOINT,
    MULTIPOLYGON,
    POINT,
    POLYGON,
    Geometry,
    empty,
    multipolygon,
    point,
)
from .kernels import BOUNDARY, EXTERIOR, INTERIOR, signed_ring_area


# ---------------------------------------------------------------------------
# stitching
# ---------------------------------------------------------------------------

def _stitch(frags: np.ndarray, tol: float) -> list[np.ndarray]:
    """Walk directed fragments into closed rings (face kept on the LEFT):
    at each node continue with the most-clockwise outgoing fragment
    relative to the reversed incoming direction. Pinch nodes (visited
    twice) are split into separate rings."""
    if len(frags) == 0:
        return []

    def key(x, y):
        return (round(x / tol), round(y / tol))

    starts = {}
    for i, (x1, y1, x2, y2) in enumerate(frags):
        starts.setdefault(key(x1, y1), []).append(i)

    def outgoing(x, y):
        """Fragments starting within tol of (x, y). Quantized keys alone
        are not enough: two fp-computed copies of the same node can
        straddle a bucket boundary (they differ by ulps but round to
        adjacent keys), so probe the 3×3 key neighbourhood and confirm
        with a real distance check."""
        kx, ky = key(x, y)
        out = []
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                for j in starts.get((kx + dx, ky + dy), ()):
                    if (abs(frags[j, 0] - x) <= 2 * tol
                            and abs(frags[j, 1] - y) <= 2 * tol):
                        out.append(j)
        return out

    used = np.zeros(len(frags), dtype=bool)
    ang = np.arctan2(frags[:, 3] - frags[:, 1], frags[:, 2] - frags[:, 0])
    rings = []
    for s in range(len(frags)):
        if used[s]:
            continue
        path = [s]
        used[s] = True
        cur = s
        closed = False
        for _ in range(len(frags) + 1):
            ex, ey = frags[cur, 2], frags[cur, 3]
            if (abs(ex - frags[path[0], 0]) <= 2 * tol
                    and abs(ey - frags[path[0], 1]) <= 2 * tol):
                closed = True
                break
            cands = [j for j in outgoing(ex, ey) if not used[j]]
            if not cands:
                break
            if len(cands) == 1:
                nxt = cands[0]
            else:
                back = ang[cur] + math.pi  # reversed incoming direction
                # most-clockwise turn: smallest positive (back - angle) mod 2π.
                # The immediate backtrack's turn is 0 only in exact math —
                # atan2 of the reversed edge differs from ang+π by ulps, so
                # a bare `or 2π` guard misses +2e-16 and the walk reverses
                # into itself (r3 fuzz: polygonize of off-grid rings came
                # back empty); anything under 1e-9 rad IS the backtrack.
                def _turn(j):
                    t = (back - ang[j]) % (2 * math.pi)
                    return t if t > 1e-9 else 2 * math.pi

                nxt = min(cands, key=_turn)
            used[nxt] = True
            path.append(nxt)
            cur = nxt
        if not closed:
            continue
        pts = np.vstack([frags[path, 0:2], frags[path[0], 0:2][None, :]])
        rings.extend(_split_pinches(pts, tol))
    return rings


def _split_pinches(ring: np.ndarray, tol: float) -> list[np.ndarray]:
    """Split a closed ring at repeated nodes into simple rings (same
    bucket-neighbourhood matching as _stitch: ulp-separated copies of a
    node may round to adjacent keys)."""
    seen: dict[tuple, int] = {}
    for i in range(len(ring) - 1):
        kx, ky = round(ring[i, 0] / tol), round(ring[i, 1] / tol)
        j = None
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                jj = seen.get((kx + dx, ky + dy))
                if jj is not None and (abs(ring[jj, 0] - ring[i, 0]) <= 2 * tol
                                       and abs(ring[jj, 1] - ring[i, 1]) <= 2 * tol):
                    j = jj
                    break
            if j is not None:
                break
        if j is not None:
            inner = np.vstack([ring[j:i], ring[j : j + 1]])
            outer = np.vstack([ring[:j], ring[i:]])
            return _split_pinches(inner, tol) + _split_pinches(outer, tol)
        seen[(kx, ky)] = i
    return [ring] if len(ring) >= 4 else []


def _assemble(rings: list[np.ndarray], tol: float) -> Geometry:
    """CCW rings are shells, CW rings are holes; nest holes in shells."""
    area_tol = tol * tol * 100
    shells, holes = [], []
    for r in rings:
        a = signed_ring_area(r)
        if abs(a) <= area_tol:
            continue
        (shells if a > 0 else holes).append((r, abs(a)))
    if not shells:
        return empty(POLYGON)
    shells.sort(key=lambda t: t[1])  # smallest first → innermost shell wins
    polys = [[s] for s, _ in shells]
    for h, _ in holes:
        # A hole may touch its shell at a node whose two fp-computed copies
        # differ by ulps, so its first vertex can classify as EXTERIOR by
        # 1e-16. Probe every vertex and edge midpoint: the hole nests in the
        # first shell that holds one of them in its interior (or, for a hole
        # lying wholly on shell boundaries, none of them outside).
        probe = np.vstack([h[:-1], (h[:-1] + h[1:]) * 0.5])
        for i, (s, _) in enumerate(shells):
            cls = K.points_in_rings_class(probe[:, 0], probe[:, 1], [s])
            if (cls == INTERIOR).any() or (cls >= BOUNDARY).all():
                polys[i].append(h)
                break
    if len(polys) == 1:
        return Geometry(POLYGON, rings=polys[0])
    return multipolygon([Geometry(POLYGON, rings=p) for p in polys])


# ---------------------------------------------------------------------------
# public ops
# ---------------------------------------------------------------------------

def _tolerance(a: Geometry, b: Geometry) -> float:
    ca, cb = a.all_coords(), b.all_coords()
    span = 1.0
    for c in (ca, cb):
        if len(c):
            span = max(span, float(np.ptp(c[:, 0])), float(np.ptp(c[:, 1])),
                       float(np.abs(c[:, :2]).max()))
    return span * 1e-12 * 100  # ~1e-10 relative


def _is_polygonal(g: Geometry) -> bool:
    if g.type_id == GEOMETRYCOLLECTION:
        return all(_is_polygonal(p) for p in (g.parts or []))
    return g.type_id in (POLYGON, MULTIPOLYGON)


def _is_pointish(g: Geometry) -> bool:
    return g.type_id in (POINT, MULTIPOINT)


def _points_on(pc: np.ndarray, g: Geometry) -> np.ndarray:
    """Is each point of pc on g: in the closure of a polygonal g, on a
    lineal g within the noding tolerance, equal to a point of a puntal g."""
    if _is_polygonal(g):
        return K.points_in_rings_class(pc[:, 0], pc[:, 1], _poly_rings_oriented(g)) >= BOUNDARY
    if _is_lineal(g):
        el = _line_edges(g)
        return K.points_on_segments(pc[:, 0], pc[:, 1], el, eps=_overlay_tol(el))
    pb = K._points_of(g)
    return ((pc[:, None, 0] == pb[None, :, 0]) & (pc[:, None, 1] == pb[None, :, 1])).any(axis=1)


def _combine_parts(a: Geometry, b: Geometry) -> Geometry:
    """Union of KNOWN-disjoint polygonal geometries: concatenate parts."""
    parts = []
    for g in (a, b):
        if g.type_id == POLYGON:
            parts.append(g)
        else:
            parts.extend(p for p in (g.parts or []) if p.type_id == POLYGON)
    return multipolygon(parts) if len(parts) != 1 else parts[0]


def _overlay(a: Geometry, b: Geometry, op: str) -> Geometry:
    # bbox short-circuit: disjoint envelopes decide every op in O(1) —
    # turns union_all over disjoint inputs (dissolve of a coverage) from
    # O(n²) noding into part concatenation
    ba, bb = K.bounds(a), K.bounds(b)
    if ba[2] < bb[0] or bb[2] < ba[0] or ba[3] < bb[1] or bb[3] < ba[1]:
        if op == "intersection":
            return empty(POLYGON)
        if op == "difference":
            return a
        return _combine_parts(a, b)
    tol = _tolerance(a, b)
    arr = Arrangement(a, b, tol)
    if not arr.a.rings:
        return empty(POLYGON) if op in ("intersection", "difference") else b
    if not arr.b.rings:
        return empty(POLYGON) if op == "intersection" else a
    rings = _stitch(arr.select(op), max(tol, 1e-11))
    return _assemble(rings, max(tol, 1e-11))


# ---------------------------------------------------------------------------
# lineal overlay (reference: shapely/set_operations.py:114,41,247,395 —
# GEOS OverlayNG supports every type combo; these cover line×line,
# line×polygon, point×line and the degenerate polygon×polygon results)
# ---------------------------------------------------------------------------

def _is_lineal(g: Geometry) -> bool:
    from .geom import LINESTRING, MULTILINESTRING

    if g.type_id in (LINESTRING, MULTILINESTRING):
        return True
    if g.type_id == GEOMETRYCOLLECTION:
        return bool(g.parts) and all(_is_lineal(p) for p in g.parts)
    return False


def _lines_from_frags(frags: np.ndarray) -> Geometry:
    """Fragment segments → merged (Multi)LineString via line_merge."""
    from .constructive import line_merge
    from .geom import LINESTRING, MULTILINESTRING

    if len(frags) == 0:
        return empty(LINESTRING)
    parts = [Geometry(LINESTRING, coords=f.reshape(2, 2)) for f in frags]
    merged = line_merge(Geometry(MULTILINESTRING, parts=parts))
    return merged


def _points_geom(pts: np.ndarray) -> Geometry:
    if len(pts) == 0:
        return empty(POINT)
    if len(pts) == 1:
        return point(pts[0, 0], pts[0, 1])
    return Geometry(MULTIPOINT, parts=[point(x, y) for x, y in pts])


def _mixed_result(lines: Geometry, pts: np.ndarray, empty_type: int) -> Geometry:
    """Combine 1-D and 0-D pieces per GEOS conventions: homogeneous when
    possible, GEOMETRYCOLLECTION when genuinely mixed."""
    from .geom import LINESTRING

    has_lines = lines is not None and not lines.is_empty
    if has_lines and len(pts):
        return Geometry(GEOMETRYCOLLECTION,
                        parts=[*_as_parts(lines), *(point(x, y) for x, y in pts)])
    if has_lines:
        return lines
    if len(pts):
        return _points_geom(pts)
    return empty(empty_type if empty_type is not None else LINESTRING)


def _as_parts(g: Geometry) -> list[Geometry]:
    from .geom import MULTILINESTRING

    if g.type_id in (MULTIPOINT, MULTIPOLYGON, GEOMETRYCOLLECTION, MULTILINESTRING):
        return list(g.parts or [])
    return [g]


def _line_line_intersection(a: Geometry, b: Geometry) -> Geometry:
    from .geom import LINESTRING

    arr = Arrangement(a, b)
    shared = arr.fa.frags[arr.fa.loc != EXTERIOR]
    pts = arr.nodes()
    if len(pts) and len(shared):
        pts = pts[~K.points_on_segments(pts[:, 0], pts[:, 1], shared, eps=arr.tol)]
    return _mixed_result(_lines_from_frags(shared), pts, LINESTRING)


def _line_union(a: Geometry, b: Geometry) -> Geometry:
    """Noded union of the combined linework (GEOS union of lines)."""
    from .geom import MULTILINESTRING

    out = _lines_from_frags(_self_noded([a, b])[0])
    if out.is_empty:
        return Geometry(MULTILINESTRING, parts=[])
    return out


def _line_poly_intersection(line: Geometry, poly: Geometry) -> Geometry:
    from .geom import LINESTRING

    arr = Arrangement(line, poly)
    lines = _lines_from_frags(arr.fa.frags[arr.fa.loc != EXTERIOR])
    if not lines.is_empty:
        return lines
    # isolated boundary touches only (no 1-D part)
    return _mixed_result(lines, arr.nodes(), LINESTRING)


def _line_difference(line: Geometry, other: Geometry) -> Geometry:
    """Line fragments in the exterior of a lineal or areal `other`."""
    arr = Arrangement(line, other)
    return _lines_from_frags(arr.fa.frags[arr.fa.loc == EXTERIOR])


def _convex_single_ring(g: Geometry) -> np.ndarray | None:
    """The CCW shell if g is a single-ring convex polygon, else None."""
    if g.type_id != POLYGON or not g.rings or len(g.rings) != 1:
        return None
    r = np.asarray(g.rings[0], dtype=np.float64)[:, :2]
    if len(r) < 4:
        return None
    a = signed_ring_area(r)
    if a == 0:
        return None
    if a < 0:
        r = r[::-1]
    e = r[1:] - r[:-1]
    cross = e[:-1, 0] * e[1:, 1] - e[:-1, 1] * e[1:, 0]
    wrap = e[-1, 0] * e[0, 1] - e[-1, 1] * e[0, 0]
    eps = -1e-12 * max(1.0, float(np.abs(r).max())) ** 2
    if (cross < eps).any() or wrap < eps:
        return None
    return r


def _sutherland_hodgman(subject: np.ndarray, clip: np.ndarray) -> Geometry:
    """Convex ∩ convex via Sutherland–Hodgman half-plane clipping — the
    rectangle/convex fast path real engines special-case (GEOS has
    RectangleIntersection); ~10× cheaper than the general noding overlay
    for the box-pair workloads. Degenerate (zero-area) results come back
    EMPTY so the caller's lower-dimensional handler still applies."""
    out = subject[:-1].tolist()
    for i in range(len(clip) - 1):
        if not out:
            break
        x1, y1 = clip[i]
        x2, y2 = clip[i + 1]
        ex, ey = x2 - x1, y2 - y1
        nxt = []
        prev = out[-1]
        prev_in = ex * (prev[1] - y1) - ey * (prev[0] - x1) >= 0
        for cur in out:
            cur_in = ex * (cur[1] - y1) - ey * (cur[0] - x1) >= 0
            if cur_in != prev_in:
                dsp = ex * (prev[1] - y1) - ey * (prev[0] - x1)
                dsc = ex * (cur[1] - y1) - ey * (cur[0] - x1)
                t = dsp / (dsp - dsc)
                nxt.append([prev[0] + t * (cur[0] - prev[0]),
                            prev[1] + t * (cur[1] - prev[1])])
            if cur_in:
                nxt.append(list(cur))
            prev, prev_in = cur, cur_in
        out = nxt
    if len(out) < 3:
        return empty(POLYGON)
    ring = np.asarray(out + out[:1], dtype=np.float64)
    span = max(1.0, float(np.abs(ring).max()))
    if abs(signed_ring_area(ring)) <= span * span * 1e-15:
        return empty(POLYGON)
    return Geometry(POLYGON, rings=[ring])


def _collection(parts: list[Geometry]) -> Geometry:
    parts = [p for p in parts if p is not None and not p.is_empty]
    if not parts:
        return empty(GEOMETRYCOLLECTION)
    if len(parts) == 1:
        return parts[0]
    return Geometry(GEOMETRYCOLLECTION, parts=parts)


# ---------------------------------------------------------------------------
# heterogeneous GeometryCollection overlay (reference:
# shapely/set_operations.py:114 — GEOS overlayng treats a collection input
# as the union of its elements and returns the point-set result). The
# homogeneous dispatch above already routes all-polygonal / all-lineal
# collections; this layer handles collections whose parts span dimensions
# (or contain nested collections / multipoints) by overlaying each
# dimension pair and dissolving lower-dimensional pieces covered by
# higher-dimensional results.
# ---------------------------------------------------------------------------

def _is_hetero(g: Geometry) -> bool:
    """A non-empty GEOMETRYCOLLECTION the homogeneous dispatch can't route
    (mixed dimensions, nested collections of points, …)."""
    return (g.type_id == GEOMETRYCOLLECTION and bool(g.parts)
            and not (_is_polygonal(g) or _is_lineal(g)))


def _split_dims(g: Geometry | None):
    """Flatten any geometry into canonical homogeneous groups
    (points, lines, polys) — each None when absent — recursing through
    nested collections. Point coordinates are deduplicated."""
    from .geom import LINEARRING, LINESTRING, MULTILINESTRING

    pts: list[np.ndarray] = []
    lines: list[Geometry] = []
    polys: list[Geometry] = []

    def walk(x):
        if x is None or x.is_empty:
            return
        t = x.type_id
        if t == POINT:
            pts.append(np.asarray(x.coords, dtype=np.float64)[:, :2])
        elif t in (LINESTRING, LINEARRING):
            lines.append(x)
        elif t == POLYGON:
            polys.append(x)
        else:
            for p in x.parts or []:
                walk(p)

    walk(g)
    P = _points_geom(np.unique(np.vstack(pts), axis=0)) if pts else None
    if not lines:
        L = None
    elif len(lines) == 1:
        L = lines[0]
    else:  # parts of one collection may coincide/overlap: node + dedupe
        L = _lines_from_frags(_line_edges(
            node(Geometry(MULTILINESTRING, parts=lines))))
    if not polys:
        G = None
    elif len(polys) == 1:
        G = polys[0]
    else:  # parts of one collection may overlap: dissolve to a valid area
        G = union_all(polys)
    return P, L, G


def _canonical_dims(g: Geometry):
    """(points, lines, polys) of g as one closed point set: each
    dimension group dissolved (_split_dims), line parts in the area
    dropped, points on a line or in the area dropped; each None when
    absent."""
    P, L, G = _split_dims(g)
    if L is not None and G is not None and not K._bbox_disjoint(L, G):
        L = difference(L, G)
    if P is not None:
        for higher in (G, L):
            if higher is not None and not P.is_empty and not K._bbox_disjoint(P, higher):
                P = difference(P, higher)
    return P, L, G


def _dissolve_mixed(pieces: list[Geometry | None]) -> Geometry:
    """Combine overlay pieces of mixed dimension into the canonical closed
    point-set result (_canonical_dims). Output ordered highest dimension
    first; homogeneous results collapse to a single (multi)geometry like
    GEOS overlayng."""
    P, L, G = _canonical_dims(_collection([p for p in pieces if p is not None]))
    present = [g for g in (G, L, P) if g is not None and not g.is_empty]
    if not present:
        return empty(GEOMETRYCOLLECTION)
    if len(present) == 1:
        return present[0]
    parts: list[Geometry] = []
    for g in present:
        parts.extend(_as_parts(g))
    return Geometry(GEOMETRYCOLLECTION, parts=parts)


def _gc_overlay(a: Geometry, b: Geometry, op: str) -> Geometry:
    """Overlay with at least one heterogeneous collection input: overlay
    per dimension pair, then dissolve (point-set semantics,
    shapely/set_operations.py:114)."""
    ap, al, ag = _split_dims(a)
    bp, bl, bg = _split_dims(b)
    a_dims = [x for x in (ag, al, ap) if x is not None]
    b_dims = [y for y in (bg, bl, bp) if y is not None]
    if op == "intersection":
        pieces = [intersection(x, y) for x in a_dims for y in b_dims]
    elif op == "union":
        pieces = a_dims + b_dims
    else:  # difference: subtract every dimension of B from each part of A
        pieces = []
        for x in a_dims:
            r = x
            for y in b_dims:
                if r is None or r.is_empty:
                    break
                r = difference(r, y)
            pieces.append(r)
    return _dissolve_mixed(pieces)


def _z_along(geom: Geometry, x: float, y: float) -> float | None:
    """Z of the nearest point on `geom`'s 3-D segments to (x, y),
    linearly interpolated within the hit segment."""
    best_z, best_d2 = None, np.inf
    seqs = [np.asarray(c) for c in geom.coord_seqs()]
    for c in seqs:
        if c.shape[0] < 2 or c.shape[1] < 3:
            continue
        x1, y1, x2, y2 = c[:-1, 0], c[:-1, 1], c[1:, 0], c[1:, 1]
        dx, dy = x2 - x1, y2 - y1
        L2 = dx * dx + dy * dy
        t = np.clip(((x - x1) * dx + (y - y1) * dy)
                    / np.where(L2 > 0, L2, 1.0), 0.0, 1.0)
        d2 = (x1 + t * dx - x) ** 2 + (y1 + t * dy - y) ** 2
        i = int(np.argmin(d2))
        if d2[i] < best_d2:
            best_d2 = d2[i]
            best_z = float(c[i, 2] + t[i] * (c[i + 1, 2] - c[i, 2]))
    return best_z


def _interpolate_point_z(out: Geometry, a: Geometry, b: Geometry) -> Geometry:
    """GEOS zInterpolate analog for lineal×lineal intersections whose
    result is a (multi)point: each intersection point's Z is the mean of
    the Z linearly interpolated along each 3-D input at that point
    (reference behavior pinned by legacy/test_products_z.py). Line-
    dimensional overlap results stay 2-D — a documented narrowing."""
    if out is None or out.is_empty or not (a.has_z or b.has_z):
        return out
    if out.type_id not in (POINT, MULTIPOINT):
        return out

    def lift(pt: Geometry) -> Geometry:
        x, y = float(pt.coords[0][0]), float(pt.coords[0][1])
        zs = [z for g in (a, b) if g.has_z
              for z in [_z_along(g, x, y)] if z is not None]
        if not zs:
            return pt
        return Geometry(POINT,
                        coords=np.array([[x, y, float(np.mean(zs))]]),
                        has_z=True)

    if out.type_id == POINT:
        return lift(out)
    return Geometry(MULTIPOINT, parts=[lift(p) for p in out.parts or []],
                    has_z=True)


def intersection(a: Geometry, b: Geometry, grid_size: float = 0.0) -> Geometry:
    """reference: shapely/set_operations.py:114."""
    if grid_size:
        from .constructive import set_precision

        a = set_precision(a, grid_size)
        b = set_precision(b, grid_size)
    if a is None or b is None:
        return None
    if a.is_empty or b.is_empty:
        return empty(POLYGON)
    if _is_hetero(a) or _is_hetero(b):
        return _gc_overlay(a, b, "intersection")
    if _is_pointish(a) or _is_pointish(b):
        pts_g, other = (a, b) if _is_pointish(a) else (b, a)
        pc = K._points_of(pts_g)
        return _points_geom(pc[_points_on(pc, other)])
    if _is_polygonal(a) and _is_polygonal(b):
        ra_c = _convex_single_ring(a)
        rb_c = _convex_single_ring(b)
        if ra_c is not None and rb_c is not None:
            out = _sutherland_hodgman(ra_c, rb_c)
        else:
            out = _overlay(a, b, "intersection")
        if out is not None and not out.is_empty:
            return out
        # interiors disjoint: closed-set intersection degenerates to the
        # shared boundary (edge → LineString, corner → Point; GEOS
        # overlayng returns the lower-dimensional geometry, not EMPTY).
        # bbox-disjoint pairs can't touch — skip the boundary noding.
        if K._bbox_disjoint(a, b):
            return out if out is not None else empty(POLYGON)
        from .geom import LINESTRING, MULTILINESTRING

        ba, bb = (Geometry(MULTILINESTRING, parts=[
            Geometry(LINESTRING, coords=r) for r in _poly_rings_oriented(g)])
            for g in (a, b))
        deg = _line_line_intersection(ba, bb)
        return deg if not deg.is_empty else out
    if _is_lineal(a) and _is_lineal(b):
        out = _line_line_intersection(a, b)
        return _interpolate_point_z(out, a, b)
    if _is_lineal(a) and _is_polygonal(b):
        return _line_poly_intersection(a, b)
    if _is_polygonal(a) and _is_lineal(b):
        return _line_poly_intersection(b, a)
    raise NotImplementedError(
        f"intersection: unsupported type combination ({a.type_id}, {b.type_id})"
    )


def union(a: Geometry, b: Geometry, grid_size: float = 0.0) -> Geometry:
    """reference: shapely/set_operations.py:395."""
    if grid_size:
        from .constructive import set_precision

        a = set_precision(a, grid_size)
        b = set_precision(b, grid_size)
    if a is None:
        return b
    if b is None:
        return a
    if a.is_empty:
        return b
    if b.is_empty:
        return a
    if _is_hetero(a) or _is_hetero(b):
        return _gc_overlay(a, b, "union")
    if _is_polygonal(a) and _is_polygonal(b):
        return _overlay(a, b, "union")
    if _is_pointish(a) and _is_pointish(b):
        pts = np.vstack([K._points_of(a), K._points_of(b)])
        pts = np.unique(pts, axis=0)
        return Geometry(MULTIPOINT, parts=[point(x, y) for x, y in pts])
    if _is_lineal(a) and _is_lineal(b):
        return _line_union(a, b)
    if _is_lineal(a) and _is_polygonal(b):
        return _collection([b, _line_difference(a, b)])
    if _is_polygonal(a) and _is_lineal(b):
        return _collection([a, _line_difference(b, a)])
    if _is_pointish(a) and not _is_pointish(b):
        return union(b, a)
    if _is_pointish(b):
        # higher-dim ∪ points: points already covered by `a` dissolve
        leftover = difference(b, a)
        return _collection([a, leftover])
    raise NotImplementedError(
        f"union: unsupported type combination ({a.type_id}, {b.type_id})"
    )


def difference(a: Geometry, b: Geometry, grid_size: float = 0.0) -> Geometry:
    """reference: shapely/set_operations.py:41."""
    if grid_size:
        from .constructive import set_precision

        a = set_precision(a, grid_size)
        b = set_precision(b, grid_size)
    if a is None or b is None:
        return None
    if a.is_empty:
        return empty(POLYGON)
    if b.is_empty:
        return a
    if _is_hetero(a) or _is_hetero(b):
        return _gc_overlay(a, b, "difference")
    if _is_polygonal(a) and _is_polygonal(b):
        return _overlay(a, b, "difference")
    if _is_pointish(a):
        pc = K._points_of(a)
        return _points_geom(pc[~_points_on(pc, b)])
    if _is_lineal(a) and (_is_lineal(b) or _is_polygonal(b)):
        return _line_difference(a, b)
    if _is_polygonal(a) and (_is_lineal(b) or _is_pointish(b)):
        return a  # lower-dimensional subtrahend removes no area
    if _is_lineal(a) and _is_pointish(b):
        return a  # points remove no length
    raise NotImplementedError(
        f"difference: unsupported type combination ({a.type_id}, {b.type_id})"
    )


def symmetric_difference(a: Geometry, b: Geometry, grid_size: float = 0.0) -> Geometry:
    """reference: shapely/set_operations.py:247 — (A−B) ⊎ (B−A)."""
    if grid_size:
        from .constructive import set_precision

        a = set_precision(a, grid_size)
        b = set_precision(b, grid_size)
    if a is None or b is None:
        return None
    if not (_is_hetero(a) or _is_hetero(b)):
        if a.is_empty or b.is_empty:
            return b if a.is_empty else a
        # two areal or two lineal inputs: one selection over one arrangement
        if _is_polygonal(a) and _is_polygonal(b):
            return _overlay(a, b, "symmetric_difference")
        if _is_lineal(a) and _is_lineal(b):
            arr = Arrangement(a, b)
            return _lines_from_frags(np.concatenate([
                arr.fa.frags[arr.fa.loc == EXTERIOR], arr.fb.frags[arr.fb.loc == EXTERIOR]]))
    d1 = difference(a, b)
    d2 = difference(b, a)
    if _is_hetero(a) or _is_hetero(b):
        # (A−B) and (B−A) are disjoint point sets; flatten + canonicalize
        return _dissolve_mixed([d1, d2])
    # mixed dimension: disjoint pieces, grouped as a collection
    return _collection([d1, d2])


def union_all(geoms) -> Geometry:
    """reference: shapely/set_operations.py:465 — cascaded (tree) union.
    Pairwise tree fold keeps intermediate results small; inputs are
    pre-sorted by bbox x so unions merge spatial neighbors first."""
    gs = [g for g in geoms if g is not None and not g.is_empty]
    if not gs:
        return empty(GEOMETRYCOLLECTION)
    gs = sorted(gs, key=lambda g: float(K.bounds(g)[0]))
    while len(gs) > 1:
        nxt = []
        for i in range(0, len(gs) - 1, 2):
            nxt.append(union(gs[i], gs[i + 1]))
        if len(gs) % 2:
            nxt.append(gs[-1])
        gs = nxt
    return gs[0]


# ---------------------------------------------------------------------------
# planar face extraction: polygonize / build_area / make_valid
# ---------------------------------------------------------------------------

def _self_noded(geoms) -> tuple[np.ndarray, float]:
    """(fragments, tol): the linework of `geoms` noded against itself,
    each undirected fragment once (shared boundaries contribute twice)."""
    segs = [_line_edges(g) for g in geoms if g is not None and not g.is_empty]
    segments = np.concatenate(segs) if segs else np.zeros((0, 4))
    tol = _overlay_tol(segments)
    frags = _noded(segments, segments, tol)[0]
    if not len(frags):
        return frags, tol
    key = np.round(frags / max(tol, 1e-12)).astype(np.int64)
    swap = (key[:, 0] > key[:, 2]) | ((key[:, 0] == key[:, 2]) & (key[:, 1] > key[:, 3]))
    a = np.where(swap[:, None], key[:, 2:], key[:, :2])
    b = np.where(swap[:, None], key[:, :2], key[:, 2:])
    _, uniq = np.unique(np.concatenate([a, b], axis=1), axis=0, return_index=True)
    return frags[np.sort(uniq)], tol


def _ring_strictly_contains(shell: np.ndarray, ring: np.ndarray) -> bool:
    """True iff some vertex of `ring` that is NOT on `shell`'s boundary lies
    strictly inside `shell` (GEOS EdgeRing-style containment probe: rings of
    the same noded arrangement never properly cross, so one off-boundary
    vertex decides containment)."""
    cls = K.points_in_rings_class(ring[:-1, 0], ring[:-1, 1], [shell])
    off = cls != BOUNDARY
    if not off.any():
        return False  # same linework (a face and its own reverse walk)
    return bool(cls[off][0] == INTERIOR)


def _nest_faces(rings: list[np.ndarray], tol: float) -> list[Geometry]:
    """Ring-containment nesting (GEOS polygonizer EdgeRing tree,
    reference: shapely/constructive.py:884 semantics): CCW walks are face
    shells; CW walks are either the unbounded face of their component
    (discarded) or the boundary between a containing face and a nested
    component — assigned as a hole of the SMALLEST shell that strictly
    contains them (the immediate parent face; exactly one assignment, so
    nothing is double-subtracted under deeper nesting). A hole is smaller
    than its shell, so shells no larger than the CW walk are skipped: a
    split node a few ulps inside a face must not hang the component's own
    outline on that face."""
    eps = tol * tol * 100
    shells, hole_rings = [], []
    for r in rings:
        a = signed_ring_area(r)
        if a > eps:
            shells.append((a, r))
        elif a < -eps:
            hole_rings.append((-a, r))
    shells.sort(key=lambda t: t[0])  # smallest-area-first → innermost parent
    rings_per_shell: list[list[np.ndarray]] = [[s] for _, s in shells]
    for ah, h in hole_rings:
        for i, (a, s) in enumerate(shells):
            if a > ah and _ring_strictly_contains(s, h):
                rings_per_shell[i].append(h)  # CW walk is already hole-oriented
                break
        # no strict container → the global unbounded face: discard
    return [Geometry(POLYGON, rings=rs) for rs in rings_per_shell]


def polygonize(lines) -> Geometry:
    """Lines → maximal planar faces (reference: shapely/constructive.py:884;
    ops.py:44 polygonize). Returns a GeometryCollection of polygons, like
    the reference's collection output. Nested (non-crossing) rings nest as
    holes of their immediate parent face — two concentric squares yield an
    annulus face plus the inner face, not two overlapping filled faces.
    Each noded fragment is walked as two directed half-edges, faces to the
    left: every bounded face comes out once as a CCW ring (the unbounded
    face walks CW)."""
    return _face_collection(_faces(lines)[0])


def _face_collection(faces: list[Geometry]) -> Geometry:
    if not faces:
        return empty(GEOMETRYCOLLECTION)
    return Geometry(GEOMETRYCOLLECTION, parts=faces)


def _faces(lines) -> tuple[list[Geometry], np.ndarray, float]:
    """(faces, frags, tol): polygonize's faces, the noded fragments they
    were walked from, and the noding tolerance."""
    frags, tol = _self_noded(lines)
    if not len(frags):
        return [], frags, tol
    rings = _stitch(np.concatenate([frags, frags[:, [2, 3, 0, 1]]]), max(tol, 1e-11))
    return _nest_faces(rings, tol), frags, tol


def _edge_groups(faces: list[Geometry], tol: float) -> list[list[int]]:
    """Indices of `faces` grouped into edge-connected components. Faces
    of one noded arrangement share an edge only as one whole fragment,
    walked once by each, so a shared edge is a ring edge of one face
    whose endpoints match a ring edge of the other within 2·tol (split
    nodes computed from different segments differ by ulps). Faces that
    meet at a vertex only stay apart."""
    tol2 = 2 * max(tol, 1e-11)
    cell = 2 * tol2  # matching midpoints lie in the same or adjacent cells
    parent = list(range(len(faces)))

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    seen: dict[tuple, list[tuple]] = {}
    for i, f in enumerate(faces):
        for r in f.rings:
            pts = np.asarray(r)[:, :2].tolist()
            for (x1, y1), (x2, y2) in zip(pts, pts[1:]):
                kx = math.floor((x1 + x2) / (2 * cell))
                ky = math.floor((y1 + y2) / (2 * cell))
                for dx in (-1, 0, 1):
                    for dy in (-1, 0, 1):
                        for j, a1, b1, a2, b2 in seen.get((kx + dx, ky + dy), ()):
                            if j != i and (
                                    max(abs(a1 - x2), abs(b1 - y2),
                                        abs(a2 - x1), abs(b2 - y1)) <= tol2
                                    or max(abs(a1 - x1), abs(b1 - y1),
                                           abs(a2 - x2), abs(b2 - y2)) <= tol2):
                                parent[find(j)] = find(i)
                seen.setdefault((kx, ky), []).append((i, x1, y1, x2, y2))
    groups: dict[int, list[int]] = {}
    for i in range(len(faces)):
        groups.setdefault(find(i), []).append(i)
    return list(groups.values())


def build_area(geom: Geometry) -> Geometry:
    """Form polygons from the constituent linework of the input
    (reference: shapely/constructive.py:654 GEOSBuildArea): faces at even
    nesting depth in the shell-containment tree become area (keeping their
    immediate holes); faces at odd depth are holes and are dropped. Two
    concentric squares → the holed annulus; three → annulus + filled core."""
    if geom is None or geom.is_empty:
        return empty(POLYGON)
    faces, _, tol = _faces([geom])
    if not faces:
        return empty(POLYGON)
    from .constructive import point_on_surface

    # a shell that contains p's rep point contains p, so its bbox covers
    # p's: faces no other shell bbox covers sit at depth 0 untested
    box = np.array([[r[:, 0].min(), r[:, 1].min(), r[:, 0].max(), r[:, 1].max()]
                    for r in (np.asarray(f.rings[0]) for f in faces)])
    slack = 2 * max(tol, 1e-11)
    covers = ((box[None, :, :2] <= box[:, None, :2] + slack).all(axis=2)
              & (box[:, None, 2:] <= box[None, :, 2:] + slack).all(axis=2))
    np.fill_diagonal(covers, False)
    out = []
    for i, p in enumerate(faces):
        depth = 0
        cand = np.flatnonzero(covers[i])
        if len(cand):
            x, y = point_on_surface(p).coords[0][:2]
            for j in cand:
                # depth counts SHELL containment only (the hole regions of
                # q still nest p's rep point inside q's shell ring)
                cls = K.points_in_rings_class(
                    np.array([x]), np.array([y]), [faces[j].rings[0]]
                )[0]
                if cls == INTERIOR:
                    depth += 1
        if depth % 2 == 0:
            out.append(p)
    if not out:
        return empty(POLYGON)
    if len(out) == 1:
        return out[0]
    # kept faces may share edges (a multipolygon whose parts overlap or
    # abut): dissolve each edge-connected group, as GEOS BuildArea ends
    # with a union; faces that touch the rest at vertices only (a
    # bowtie's two triangles) are already the parts
    parts = []
    for grp in _edge_groups(out, tol):
        if len(grp) == 1:
            parts.append(out[grp[0]])
            continue
        u = union_all([out[i] for i in grp])
        parts.extend(u.parts if u.type_id == MULTIPOLYGON else [u])
    return parts[0] if len(parts) == 1 else multipolygon(parts)


def make_valid(geom: Geometry) -> Geometry:
    """Repair invalid polygons (self-intersections, bowties) by re-building
    area from the noded linework (reference: shapely/validation.py:30
    make_valid(method='linework' behavior for polygons)). Valid inputs pass
    through structurally unchanged (same area)."""
    if geom is None or geom.is_empty:
        return geom
    if geom.type_id not in (POLYGON, MULTIPOLYGON):
        return geom
    if K.is_valid(geom):
        return geom
    return build_area(geom)


# ---------------------------------------------------------------------------
# split / shared_paths (reference: shapely/ops.py:311 SplitOp,
# shapely/linear.py:172 shared_paths)
# ---------------------------------------------------------------------------

def split(geom: Geometry, splitter: Geometry) -> Geometry:
    """Split geom by splitter (reference: shapely/ops.py:311): polygon by
    line → faces of the noded linework classified inside the polygon;
    line by line/point → fragments between intersection points. Returns a
    GeometryCollection (reference always returns a collection)."""
    from .geom import LINESTRING, MULTILINESTRING, MULTIPOINT

    if geom is None or geom.is_empty:
        return Geometry(GEOMETRYCOLLECTION, parts=[])
    if geom.type_id in (POLYGON, MULTIPOLYGON):
        # polygon by line: polygonize(boundary ∪ splitter), keep faces
        # whose interior point is inside the original polygon
        faces = polygonize([geom, splitter])
        rings_src = _poly_rings_oriented(geom)
        kept = []
        from .constructive import point_on_surface

        for p in (faces.parts or []):
            rp = point_on_surface(p).coords[0]
            cls = K.points_in_rings_class(
                np.array([rp[0]]), np.array([rp[1]]), rings_src
            )[0]
            if cls == INTERIOR:
                kept.append(p)
        return Geometry(GEOMETRYCOLLECTION, parts=kept)
    if geom.type_id in (LINESTRING, MULTILINESTRING):
        out = []
        line_list = [geom] if geom.type_id == LINESTRING else list(geom.parts or [])
        for line in line_list:
            c = np.asarray(line.coords)[:, :2]
            if len(c) < 2:
                continue
            edges = np.column_stack([c[:-1], c[1:]])
            if splitter.type_id in (POINT, MULTIPOINT):
                pts = (
                    splitter.coords
                    if splitter.type_id == POINT
                    else np.concatenate([p.coords for p in splitter.parts or []], axis=0)
                )
                # treat each split point as a degenerate segment
                other = np.column_stack([pts[:, :2], pts[:, :2]])
            else:
                other = _edges_of(
                    [np.asarray(s)[:, :2] for s in splitter.coord_seqs()]
                    if splitter.type_id not in (POLYGON, MULTIPOLYGON)
                    else _poly_rings_oriented(splitter)
                )
            span = max(1.0, float(np.abs(c).max()))
            tol = span * 1e-10
            params = _split_params(edges, other, tol)
            # walk edges, breaking the polyline at any interior split param
            pieces, cur = [], [c[0]]
            for i in range(len(edges)):
                x1, y1, x2, y2 = edges[i]
                for t in params[i]:
                    px, py = x1 + t * (x2 - x1), y1 + t * (y2 - y1)
                    cur.append([px, py])
                    pieces.append(np.array(cur))
                    cur = [[px, py]]
                cur.append([x2, y2])
            pieces.append(np.array(cur))
            out.extend(
                Geometry(LINESTRING, coords=p) for p in pieces if len(p) >= 2
            )
        return Geometry(GEOMETRYCOLLECTION, parts=out)
    raise NotImplementedError("split supports (multi)polygon and (multi)linestring")


def shared_paths(a: Geometry, b: Geometry) -> Geometry:
    """Collinear shared segments of two lines, grouped by direction
    (reference: shapely/linear.py:172): GEOMETRYCOLLECTION(
    MULTILINESTRING same-direction, MULTILINESTRING opposite)."""
    from .geom import LINESTRING, MULTILINESTRING

    arr = Arrangement(a, b)
    shared = arr.fa.frags[arr.fa.loc != EXTERIOR]
    same, opp = [], []
    if len(shared):
        # the direction of b's first edge under each shared fragment's midpoint
        eb = arr.b.edges
        mx, my = (shared[:, 0] + shared[:, 2]) / 2.0, (shared[:, 1] + shared[:, 3]) / 2.0
        j = K._on_segment(mx[:, None], my[:, None], *eb.T[:, None, :], arr.tol).argmax(axis=1)
        dot = ((shared[:, 2] - shared[:, 0]) * (eb[j, 2] - eb[j, 0])
               + (shared[:, 3] - shared[:, 1]) * (eb[j, 3] - eb[j, 1]))
        for f, d in zip(shared, dot):
            (same if d > 0 else opp).append(Geometry(LINESTRING, coords=f.reshape(2, 2)))
    return Geometry(
        GEOMETRYCOLLECTION,
        parts=[
            Geometry(MULTILINESTRING, parts=same),
            Geometry(MULTILINESTRING, parts=opp),
        ],
    )


def node(geom: Geometry) -> Geometry:
    """Node linework: split all constituent segments at every intersection
    and return the unique fragments as a MultiLineString (reference:
    shapely/constructive.py:850 GEOSNode)."""
    from .geom import LINESTRING, MULTILINESTRING

    frags, _ = _self_noded([geom])
    return Geometry(
        MULTILINESTRING,
        parts=[Geometry(LINESTRING, coords=f.reshape(2, 2)) for f in frags],
    )


def concave_hull(geom: Geometry, ratio: float = 0.0, allow_holes: bool = False) -> Geometry:
    """Concave hull via Delaunay border erosion (reference:
    shapely/constructive.py:431; same chi-shape family as GEOS
    ConcaveHull): triangulate the points, repeatedly remove border
    triangles whose border edge is longer than the length threshold
    interpolated by `ratio` between the longest and shortest edge
    (ratio=1 → convex hull). The surviving triangles' outer boundary is
    stitched into the hull polygon."""
    from .triangulate import _delaunay, _unique_points

    pts = _unique_points(geom)
    if len(pts) < 3:
        return empty(POLYGON)
    tris = _delaunay(pts)
    if not tris:
        return empty(POLYGON)

    def elen(e):
        return float(np.hypot(*(pts[e[0]] - pts[e[1]])))

    all_edges = {}
    for t in tris:
        for e in ((t[0], t[1]), (t[1], t[2]), (t[2], t[0])):
            k = (min(e), max(e))
            all_edges.setdefault(k, []).append(t)
    lens = [elen(k) for k in all_edges]
    lo, hi = min(lens), max(lens)
    threshold = lo + max(0.0, min(1.0, ratio)) * (hi - lo)
    alive = set(tris)
    # erode: border edges (in exactly one alive triangle) longer than
    # threshold remove their triangle, unless that would orphan a vertex
    changed = True
    while changed:
        changed = False
        counts = {}
        for t in alive:
            for e in ((t[0], t[1]), (t[1], t[2]), (t[2], t[0])):
                k = (min(e), max(e))
                counts[k] = counts.get(k, 0) + 1
        border = sorted(
            (k for k, c in counts.items() if c == 1 and elen(k) > threshold),
            key=elen, reverse=True,
        )
        for k in border:
            owners = [t for t in all_edges[k] if t in alive]
            if len(owners) != 1:
                continue
            t = owners[0]
            # removing t must not disconnect: keep if the opposite vertex
            # would lose all its alive triangles
            opp = [v for v in t if v not in k][0]
            deg = sum(1 for tt in alive if opp in tt)
            if deg <= 1 and len(alive) > 1:
                continue
            alive.discard(t)
            changed = True
            break  # recompute border after each removal (chi-shape order)
    # boundary = edges used once, directed per CCW triangles → stitch
    dir_edges = {}
    for t in alive:
        ring = np.vstack([pts[t[0]], pts[t[1]], pts[t[2]], pts[t[0]]])
        if signed_ring_area(ring) < 0:
            t = (t[0], t[2], t[1])
        for e in ((t[0], t[1]), (t[1], t[2]), (t[2], t[0])):
            k = (min(e), max(e))
            dir_edges.setdefault(k, []).append(e)
    boundary = [es[0] for es in dir_edges.values() if len(es) == 1]
    if not boundary:
        return empty(POLYGON)
    frags = np.array([[*pts[a], *pts[b]] for a, b in boundary])
    span = max(1.0, float(np.abs(pts).max()))
    rings = _stitch(frags, span * 1e-10)
    shells = [r for r in rings if signed_ring_area(r) > 0]
    holes = [r for r in rings if signed_ring_area(r) < 0]
    if not shells:
        return empty(POLYGON)
    out_rings = [max(shells, key=signed_ring_area)]
    if allow_holes:
        out_rings.extend(holes)
    return Geometry(POLYGON, rings=out_rings)


def polygonize_full(lines):
    """Like polygonize, but also reports the leftover linework (reference:
    shapely/constructive.py:939 polygonize_full): returns (polygons,
    cut_edges, dangles, invalid_rings) as GeometryCollections /
    MultiLineStrings. Dangles have a free endpoint; cut edges are
    connected at both ends but border no face. invalid_rings is always
    empty here (noding repairs crossing rings before face extraction)."""
    from .geom import LINESTRING, MULTILINESTRING

    face_list, frags, tol = _faces(lines)
    faces = _face_collection(face_list)
    if not len(frags):
        return faces, Geometry(MULTILINESTRING, parts=[]), \
            Geometry(MULTILINESTRING, parts=[]), Geometry(MULTILINESTRING, parts=[])

    def ekey(x1, y1, x2, y2):
        a = (round(x1 / tol), round(y1 / tol))
        b = (round(x2 / tol), round(y2 / tol))
        return (a, b) if a <= b else (b, a)

    used = set()
    for p in (faces.parts or []):
        r = p.rings[0]
        for i in range(len(r) - 1):
            used.add(ekey(r[i, 0], r[i, 1], r[i + 1, 0], r[i + 1, 1]))
    leftover = {}
    for f in frags:
        k = ekey(*f)
        if k not in used and k not in leftover:
            leftover[k] = f
    # endpoint degrees over the leftover subgraph + face-ring nodes
    deg = {}
    for k in leftover:
        for node in k:
            deg[node] = deg.get(node, 0) + 1
    face_nodes = set()
    for p in (faces.parts or []):
        r = p.rings[0]
        for i in range(len(r) - 1):
            face_nodes.add((round(r[i, 0] / tol), round(r[i, 1] / tol)))
    dangles, cuts = [], []
    for k, f in leftover.items():
        free_end = any(deg.get(node, 0) == 1 and node not in face_nodes for node in k)
        seg = Geometry(LINESTRING, coords=f.reshape(2, 2))
        (dangles if free_end else cuts).append(seg)
    return (
        faces,
        Geometry(MULTILINESTRING, parts=cuts),
        Geometry(MULTILINESTRING, parts=dangles),
        Geometry(MULTILINESTRING, parts=[]),
    )
