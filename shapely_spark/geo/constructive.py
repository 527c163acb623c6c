"""Constructive geometry kernels (reference: shapely/constructive.py).

Pure NumPy; run inside pandas UDFs on executors. Each function cites the
reference operation whose semantics it reimplements.
"""

from __future__ import annotations

import math
from enum import Enum as _Enum

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
    TYPE_NAMES,
    Geometry,
    box as make_box,
    empty,
    linestring,
    multipoint,
    multipolygon,
    point as make_point,
    polygon as make_polygon,
)
from .kernels import area, bounds, length, signed_ring_area

# ---------------------------------------------------------------------------
# Envelope / centroid
# ---------------------------------------------------------------------------

def envelope(geom: Geometry | None) -> Geometry | None:
    """Bounding box polygon (point for degenerate).
    reference: shapely/constructive.py:593."""
    if geom is None:
        return None
    if geom.is_empty:
        return empty(geom.type_id if geom.type_id == POINT else POLYGON)
    b = bounds(geom)
    if b[0] == b[2] and b[1] == b[3]:
        return make_point(b[0], b[1])
    return make_box(b[0], b[1], b[2], b[3], ccw=False)


def centroid(geom: Geometry | None) -> Geometry | None:
    """Area-weighted (polygons) / length-weighted (lines) / mean (points).
    reference: shapely/constructive.py:347 (GEOSGetCentroid)."""
    if geom is None:
        return None
    if geom.is_empty:
        return empty(POINT)
    tid = geom.type_id
    if tid in (POLYGON, MULTIPOLYGON):
        sa, sx, sy = 0.0, 0.0, 0.0
        rings = []
        stack = [geom]
        while stack:
            g = stack.pop()
            if g.type_id == POLYGON:
                for i, r in enumerate(g.rings or []):
                    rings.append((np.asarray(r)[:, :2], i == 0))
            for p in g.parts or []:
                stack.append(p)
        if rings:
            # translate everything to the first shell vertex for numerical
            # stability (same trick as kernels.signed_ring_area)
            ox, oy = rings[0][0][0, 0], rings[0][0][0, 1]
        for r, is_shell in rings:
            a_signed = signed_ring_area(r)
            if a_signed == 0.0:
                continue
            x, y = r[:, 0] - ox, r[:, 1] - oy
            cross = x[:-1] * y[1:] - x[1:] * y[:-1]
            # first moments (about the origin ox,oy); Sx/a is orientation-free
            mom_x = float(np.sum((x[:-1] + x[1:]) * cross)) / 6.0
            mom_y = float(np.sum((y[:-1] + y[1:]) * cross)) / 6.0
            ring_sign = math.copysign(1.0, a_signed)
            sa += abs(a_signed) if is_shell else -abs(a_signed)
            sx += ring_sign * mom_x * (1.0 if is_shell else -1.0)
            sy += ring_sign * mom_y * (1.0 if is_shell else -1.0)
        if sa == 0.0:
            c = geom.all_coords()[:, :2]
            return make_point(float(c[:, 0].mean()), float(c[:, 1].mean()))
        return make_point(ox + sx / sa, oy + sy / sa)
    if tid in (LINESTRING, LINEARRING, MULTILINESTRING):
        segs = []
        stack = [geom]
        while stack:
            g = stack.pop()
            if g.type_id in (LINESTRING, LINEARRING) and g.coords is not None and len(g.coords) >= 2:
                segs.append(np.asarray(g.coords)[:, :2])
            for p in g.parts or []:
                stack.append(p)
        tot, sx, sy = 0.0, 0.0, 0.0
        for c in segs:
            d = np.sqrt((np.diff(c, axis=0) ** 2).sum(axis=1))
            mid = (c[:-1] + c[1:]) / 2.0
            tot += d.sum()
            sx += (mid[:, 0] * d).sum()
            sy += (mid[:, 1] * d).sum()
        if tot == 0:
            c = geom.all_coords()[:, :2]
            return make_point(float(c[:, 0].mean()), float(c[:, 1].mean()))
        return make_point(sx / tot, sy / tot)
    c = geom.all_coords()[:, :2]
    return make_point(float(c[:, 0].mean()), float(c[:, 1].mean()))


# ---------------------------------------------------------------------------
# Convex hull — Andrew monotone chain (reference: shapely/constructive.py:467)
# ---------------------------------------------------------------------------

def convex_hull(geom: Geometry | None) -> Geometry | None:
    if geom is None:
        return None
    pts = np.unique(geom.all_coords()[:, :2], axis=0)
    if len(pts) == 0:
        return empty(GEOMETRYCOLLECTION)
    if len(pts) == 1:
        return make_point(*pts[0])
    if len(pts) == 2:
        return linestring(pts)
    order = np.lexsort((pts[:, 1], pts[:, 0]))
    p = pts[order]
    xs, ys = p[:, 0].tolist(), p[:, 1].tolist()

    def half(idx):
        # monotone chain; the turn test is np.cross's 2-D product
        # a0·b1 − a1·b0 in its operation order, on Python floats
        h: list[int] = []
        for i in idx:
            x, y = xs[i], ys[i]
            while len(h) >= 2:
                ax, ay = xs[h[-2]], ys[h[-2]]
                if (xs[h[-1]] - ax) * (y - ay) - (ys[h[-1]] - ay) * (x - ax) > 0:
                    break
                h.pop()
            h.append(i)
        return h

    lower = half(range(len(p)))
    upper = half(range(len(p) - 1, -1, -1))
    ring = p[lower[:-1] + upper[:-1]]
    if len(ring) < 3:  # collinear
        return linestring(np.array([p[0], p[-1]]))
    ring = np.vstack([ring, ring[:1]])
    # GEOS returns CCW shell for convex_hull
    if signed_ring_area(ring) < 0:
        ring = ring[::-1]
    return Geometry(POLYGON, rings=[ring])


# ---------------------------------------------------------------------------
# Buffer (reference: shapely/constructive.py:142 — quad_segs=8 default,
# cap_style round). Point/multipoint buffers are exact 4*quad_segs-gons
# with vertices on the circle (matching GEOS vertex placement); polygon
# and line buffers (all cap/join styles, mitre_limit, single_sided) go
# through offset-curve construction + union below.
# ---------------------------------------------------------------------------

_CAP_STYLES = {1: "round", 2: "flat", 3: "square",
               "round": "round", "flat": "flat", "square": "square"}
_JOIN_STYLES = {1: "round", 2: "mitre", 3: "bevel",
                "round": "round", "mitre": "mitre", "bevel": "bevel"}


def buffer(
    geom: Geometry | None,
    distance: float,
    quad_segs: int = 8,
    cap_style: str | int = "round",
    join_style: str | int = "round",
    mitre_limit: float = 5.0,
    single_sided: bool = False,
) -> Geometry | None:
    """reference: shapely/constructive.py:142-251 (GEOSBufferWithParams).
    Default round/round is the analytic capsule-union path; named styles
    (flat/square caps, mitre/bevel joins, single-sided strips) build
    explicit rectangle + join-wedge + cap pieces and union them."""
    cap = _CAP_STYLES.get(cap_style)
    join = _JOIN_STYLES.get(join_style)
    if cap is None:
        raise ValueError(f"invalid cap_style: {cap_style!r}")
    if join is None:
        raise ValueError(f"invalid join_style: {join_style!r}")
    if geom is None:
        return None
    if geom.is_empty or distance == 0:
        return geom
    # every path below draws a quarter circle in quad_segs >= 1 steps
    quad_segs = max(1, int(quad_segs))
    n = 4 * quad_segs
    if single_sided or cap != "round" or join != "round":
        return _styled_buffer(geom, distance, n, cap, join, mitre_limit, single_sided)
    if geom.type_id == POINT:
        cx, cy = geom.coords[0, 0], geom.coords[0, 1]
        ang = 2.0 * math.pi * np.arange(n) / n
        ring = np.column_stack([cx + distance * np.cos(ang), cy + distance * np.sin(ang)])
        ring = np.vstack([ring, ring[:1]])
        return Geometry(POLYGON, rings=[ring])
    if geom.type_id == MULTIPOINT:
        return multipolygon([buffer(p, distance, quad_segs) for p in geom.parts])
    if geom.type_id == POLYGON and distance > 0 and len(geom.rings or []) == 1:
        # convex fast path: direct arc-offset ring, no overlay needed
        shell = np.asarray(geom.rings[0])[:, :2]
        if signed_ring_area(shell) < 0:
            shell = shell[::-1]
        out = _offset_convex_ring(shell, distance, quad_segs)
        if out is not None:
            return Geometry(POLYGON, rings=[out])
    return _buffer_general(geom, distance, quad_segs)


def _arc_points(cx: float, cy: float, d: float, a0: float, a1: float, n: int) -> np.ndarray:
    """Points on the circle (cx,cy,d) from angle a0 to a1 (CCW), step 2π/n."""
    if a1 < a0:
        a1 += 2.0 * math.pi
    steps = max(1, int(math.ceil((a1 - a0) / (2.0 * math.pi / n))))
    ang = a0 + (a1 - a0) * np.arange(steps + 1) / steps
    return np.column_stack([cx + d * np.cos(ang), cy + d * np.sin(ang)])


def _quad_piece(pts: list) -> Geometry:
    ring = np.asarray(pts, dtype=np.float64)
    ring = np.vstack([ring, ring[:1]])
    if signed_ring_area(ring) < 0:
        ring = ring[::-1]
    return Geometry(POLYGON, rings=[ring])


def _join_piece(v, t_in, t_out, d: float, n: int, join: str, mitre_limit: float):
    """Convex wedge filling the outer gap at vertex v between segment
    directions t_in (arriving) and t_out (leaving), at offset d."""
    cross = t_in[0] * t_out[1] - t_in[1] * t_out[0]
    if abs(cross) < 1e-14:
        return None  # collinear: no gap
    # outward normals on the OUTER side of the turn
    if cross < 0:  # right turn → outer side is the left of travel
        n1 = np.array([-t_in[1], t_in[0]])
        n2 = np.array([-t_out[1], t_out[0]])
    else:  # left turn → outer side is the right of travel
        n1 = np.array([t_in[1], -t_in[0]])
        n2 = np.array([t_out[1], -t_out[0]])
    c1 = v + d * n1
    c2 = v + d * n2
    if join == "round":
        a1 = math.atan2(n1[1], n1[0])
        a2 = math.atan2(n2[1], n2[0])
        if cross < 0:
            arc = _arc_points(v[0], v[1], d, a1, a2, n)
        else:
            arc = _arc_points(v[0], v[1], d, a2, a1, n)[::-1]
        return _quad_piece([v, *arc])
    if join == "bevel":
        return _quad_piece([v, c1, c2])
    # mitre: apex along the bisector at d/cos(θ/2), truncated at mitre_limit·d
    bis = n1 + n2
    bl = np.hypot(bis[0], bis[1])
    if bl < 1e-14:
        return _quad_piece([v, c1, c2])  # 180° spike: bevel
    bis /= bl
    cos_half = float(np.clip(np.dot(n1, bis), 1e-12, 1.0))
    r = 1.0 / cos_half
    apex = v + d * r * bis
    if r <= mitre_limit:
        return _quad_piece([v, c1, apex, c2])
    # truncate the spike where the bisector distance reaches mitre_limit·d
    t = (mitre_limit - cos_half) / max(r - cos_half, 1e-12)
    q1 = c1 + t * (apex - c1)
    q2 = c2 + t * (apex - c2)
    return _quad_piece([v, c1, q1, q2, c2])


def _cap_piece(p, t_away, d: float, n: int, cap: str):
    """End cap at endpoint p; t_away = unit direction pointing AWAY from
    the line (outward past the end)."""
    if cap == "flat":
        return None
    nl = np.array([-t_away[1], t_away[0]])
    if cap == "square":
        return _quad_piece([p + d * nl, p + d * nl + d * t_away,
                            p - d * nl + d * t_away, p - d * nl])
    a0 = math.atan2(nl[1], nl[0])
    arc = _arc_points(p[0], p[1], d, a0, a0 + math.pi, n)[::-1]
    return _quad_piece(list(arc))


def _styled_line_pieces(c2: np.ndarray, d: float, n: int, cap: str, join: str,
                        mitre_limit: float, single_sided: bool) -> list[Geometry]:
    pieces: list[Geometry] = []
    closed = len(c2) >= 3 and np.allclose(c2[0], c2[-1])
    m = len(c2)
    side = 1.0 if d > 0 else -1.0  # single-sided: +d → left, −d → right
    ad = abs(d)
    for i in range(m - 1):
        p1, p2 = c2[i], c2[i + 1]
        dx, dy = p2 - p1
        L = math.hypot(dx, dy)
        if L == 0:
            continue
        t = np.array([dx / L, dy / L])
        nl = np.array([-t[1], t[0]]) * side
        if single_sided:
            pieces.append(_quad_piece([p1, p2, p2 + ad * nl, p1 + ad * nl]))
        else:
            pieces.append(_quad_piece([p1 + ad * nl, p2 + ad * nl,
                                       p2 - ad * nl, p1 - ad * nl]))
    # joins at interior vertices (all vertices for closed rings)
    vidx = range(1, m - 1) if not closed else range(m - 1)
    for i in vidx:
        v = c2[i]
        pprev = c2[i - 1] if i > 0 else c2[m - 2]
        pnext = c2[i + 1]
        d1 = v - pprev
        d2 = pnext - v
        l1, l2 = math.hypot(*d1), math.hypot(*d2)
        if l1 == 0 or l2 == 0:
            continue
        t_in, t_out = d1 / l1, d2 / l2
        if single_sided:
            # join only when the offset side is the outer side of the turn
            cross = t_in[0] * t_out[1] - t_in[1] * t_out[0]
            outer_is_left = cross < 0
            if (side > 0) != outer_is_left:
                continue
        p = _join_piece(v, t_in, t_out, ad, n, join, mitre_limit)
        if p is not None:
            pieces.append(p)
    if not closed and not single_sided:
        d1 = c2[1] - c2[0]
        d2 = c2[-1] - c2[-2]
        l1, l2 = math.hypot(*d1), math.hypot(*d2)
        if l1 > 0:
            p = _cap_piece(c2[0], -d1 / l1, ad, n, cap)
            if p is not None:
                pieces.append(p)
        if l2 > 0:
            p = _cap_piece(c2[-1], d2 / l2, ad, n, cap)
            if p is not None:
                pieces.append(p)
    return pieces


def _styled_buffer(geom: Geometry, distance: float, n: int, cap: str,
                   join: str, mitre_limit: float, single_sided: bool) -> Geometry:
    """Styled buffer as a union of convex pieces: per-segment rectangles +
    join wedges (round arc / bevel triangle / truncated mitre) + end caps
    (round / flat / square). Single-sided offsets strip on the signed side
    with flat ends (GEOS single-sided semantics)."""
    from . import overlay as O

    tid = geom.type_id
    if tid == POINT:
        if single_sided:
            return empty(POLYGON)
        return buffer(geom, abs(distance), max(1, n // 4))
    if tid == MULTIPOINT:
        return O.union_all([
            _styled_buffer(p, distance, n, cap, join, mitre_limit, single_sided)
            for p in (geom.parts or [])
        ])
    if tid in (LINESTRING, LINEARRING, MULTILINESTRING):
        pieces: list[Geometry] = []
        for c in geom.coord_seqs():
            c2 = np.asarray(c, dtype=np.float64)[:, :2]
            if len(c2) >= 2:
                pieces.extend(_styled_line_pieces(
                    c2, distance, n, cap, join, mitre_limit, single_sided))
        return O.union_all(pieces) if pieces else empty(POLYGON)
    if tid in (POLYGON, MULTIPOLYGON):
        pieces = []
        for c in geom.coord_seqs():
            c2 = np.asarray(c, dtype=np.float64)[:, :2]
            if len(c2) >= 3:
                pieces.extend(_styled_line_pieces(
                    c2, abs(distance), n, cap, join, mitre_limit, False))
        band = O.union_all(pieces) if pieces else empty(POLYGON)
        if distance > 0:
            return O.union(geom, band)
        return O.difference(geom, band)
    if tid == GEOMETRYCOLLECTION:
        parts = [
            _styled_buffer(p, distance, n, cap, join, mitre_limit, single_sided)
            for p in (geom.parts or [])
        ]
        parts = [p for p in parts if p is not None and not p.is_empty]
        return O.union_all(parts) if parts else empty(POLYGON)
    raise NotImplementedError(f"buffer for type {tid}")


def _circle_ngon(cx: float, cy: float, d: float, n: int) -> Geometry:
    ang = 2.0 * math.pi * np.arange(n) / n
    ring = np.column_stack([cx + d * np.cos(ang), cy + d * np.sin(ang)])
    return Geometry(POLYGON, rings=[np.vstack([ring, ring[:1]])])


def _segment_capsule(p1, p2, d: float, n: int) -> list[Geometry]:
    """The d-neighborhood of segment p1→p2 as ONE analytic capsule ring:
    rectangle sides + two semicircular caps of n/2 arc steps each (the
    caps' vertices lie on the circles at 2π/n spacing, so the two caps
    together enclose exactly the inscribed n-gon area — same closed form
    as the point-buffer n-gon, no overlay needed)."""
    dx, dy = p2[0] - p1[0], p2[1] - p1[1]
    L = math.hypot(dx, dy)
    if L == 0:
        return [_circle_ngon(p1[0], p1[1], d, n)]
    phi = math.atan2(dy, dx)
    steps = max(2, n // 2)
    # cap at p2: phi-90° → phi+90°; cap at p1: phi+90° → phi+270°
    a2 = phi - math.pi / 2 + math.pi * np.arange(steps + 1) / steps
    a1 = phi + math.pi / 2 + math.pi * np.arange(steps + 1) / steps
    pts = np.concatenate([
        np.column_stack([p2[0] + d * np.cos(a2), p2[1] + d * np.sin(a2)]),
        np.column_stack([p1[0] + d * np.cos(a1), p1[1] + d * np.sin(a1)]),
    ])
    ring = np.vstack([pts, pts[:1]])
    if signed_ring_area(ring) < 0:
        ring = ring[::-1]
    return [Geometry(POLYGON, rings=[ring])]


def _boundary_buffer_pieces(geom: Geometry, d: float, n: int) -> list[Geometry]:
    pieces: list[Geometry] = []
    for c in geom.coord_seqs():
        c2 = np.asarray(c)[:, :2]
        for i in range(len(c2) - 1):
            pieces.extend(_segment_capsule(c2[i], c2[i + 1], d, n))
    return pieces


def _buffer_general(geom: Geometry, distance: float, quad_segs: int) -> Geometry:
    """General buffer via capsule union (reference semantics:
    shapely/constructive.py:142; vertex placement matches the point-buffer
    n-gon discretization so areas agree with the closed-form
    2dL + n_cap·d²·sin(2π/n_cap)/2 capsule formula for a single segment):

      line      → ⋃ segment capsules
      polygon+d → polygon ∪ boundary-capsules
      polygon−d → polygon ∖ boundary-capsules
    """
    from . import overlay as O

    n = 4 * quad_segs
    tid = geom.type_id
    if tid in (LINESTRING, LINEARRING, MULTILINESTRING):
        if distance < 0:
            return empty(POLYGON)
        return O.union_all(_boundary_buffer_pieces(geom, distance, n))
    if tid in (POLYGON, MULTIPOLYGON):
        band = O.union_all(_boundary_buffer_pieces(geom, abs(distance), n))
        if distance > 0:
            return O.union(geom, band)
        return O.difference(geom, band)
    if tid == GEOMETRYCOLLECTION:
        parts = [buffer(p, distance, quad_segs) for p in (geom.parts or [])]
        parts = [p for p in parts if p is not None and not p.is_empty]
        return O.union_all(parts) if parts else empty(POLYGON)
    raise NotImplementedError(f"buffer for type {tid}")


def _offset_convex_ring(ring: np.ndarray, d: float, quad_segs: int) -> np.ndarray | None:
    """Outward offset of a CCW convex ring with round joins."""
    c = ring[:-1]
    m = len(c)
    # convexity check
    nxt = np.roll(c, -1, axis=0)
    prv = np.roll(c, 1, axis=0)
    cross = np.cross(c - prv, nxt - c)
    if (cross < -1e-12).any():
        return None
    pts: list[np.ndarray] = []
    for i in range(m):
        p_prev, p, p_next = prv[i], c[i], nxt[i]
        d_in = p - p_prev
        d_out = p_next - p
        # CCW traversal keeps the interior on the LEFT, so the outward
        # normal is the RIGHT normal (dy, -dx) — unnegated (the r3 fuzz
        # caught this path offsetting inward: buffer(+d) shrank convex
        # polygons; every gate query buffered only points/lines)
        n_in = np.array([d_in[1], -d_in[0]])
        n_out = np.array([d_out[1], -d_out[0]])
        n_in = n_in / (np.linalg.norm(n_in) or 1.0)
        n_out = n_out / (np.linalg.norm(n_out) or 1.0)
        a0 = math.atan2(n_in[1], n_in[0])
        a1 = math.atan2(n_out[1], n_out[0])
        while a1 < a0:
            a1 += 2 * math.pi
        steps = max(1, int(math.ceil((a1 - a0) / (math.pi / 2 / quad_segs))))
        for s in range(steps + 1):
            a = a0 + (a1 - a0) * s / steps
            pts.append(p + d * np.array([math.cos(a), math.sin(a)]))
    out = np.array(pts)
    return np.vstack([out, out[:1]])


# ---------------------------------------------------------------------------
# clip_by_rect — Sutherland–Hodgman (reference: shapely/constructive.py:380)
# — the tile-clipping primitive for raster↔vector aggregation.
# ---------------------------------------------------------------------------

def clip_ring_by_rect(ring: np.ndarray, xmin, ymin, xmax, ymax) -> np.ndarray | None:
    out = np.asarray(ring, dtype=np.float64)[:, :2]
    if len(out) and np.array_equal(out[0], out[-1]):
        out = out[:-1]
    for edge in range(4):
        if len(out) == 0:
            return None
        inp = out
        out_list = []
        for i in range(len(inp)):
            cur, prv = inp[i], inp[i - 1]
            if edge == 0:
                cin, pin = cur[0] >= xmin, prv[0] >= xmin
            elif edge == 1:
                cin, pin = cur[0] <= xmax, prv[0] <= xmax
            elif edge == 2:
                cin, pin = cur[1] >= ymin, prv[1] >= ymin
            else:
                cin, pin = cur[1] <= ymax, prv[1] <= ymax
            if cin != pin:
                if edge == 0:
                    t = (xmin - prv[0]) / (cur[0] - prv[0])
                elif edge == 1:
                    t = (xmax - prv[0]) / (cur[0] - prv[0])
                elif edge == 2:
                    t = (ymin - prv[1]) / (cur[1] - prv[1])
                else:
                    t = (ymax - prv[1]) / (cur[1] - prv[1])
                out_list.append(prv + t * (cur - prv))
            if cin:
                out_list.append(cur)
        out = np.array(out_list) if out_list else np.zeros((0, 2))
    if len(out) < 3:
        return None
    return np.vstack([out, out[:1]])


def clip_by_rect(geom: Geometry | None, xmin, ymin, xmax, ymax) -> Geometry | None:
    """reference: shapely/constructive.py:380 (GEOSClipByRect). Polygons:
    Sutherland–Hodgman per ring — each hole is itself clipped to the rect
    and subtracted, so holes fully inside and holes straddling tile edges
    are both exact. Points/lines: coordinate filtering / segment
    clipping."""
    if geom is None:
        return None
    if geom.is_empty:
        return empty(geom.type_id)
    tid = geom.type_id
    if tid == POINT:
        x, y = geom.coords[0, :2]
        if xmin <= x <= xmax and ymin <= y <= ymax:
            return geom
        return empty(POINT)
    if tid == POLYGON:
        shell = clip_ring_by_rect(geom.rings[0], xmin, ymin, xmax, ymax)
        if shell is None:
            return empty(POLYGON)
        rings = [shell]
        for h in geom.rings[1:]:
            hc = clip_ring_by_rect(h, xmin, ymin, xmax, ymax)
            if hc is not None:
                rings.append(hc)
        return Geometry(POLYGON, rings=rings)
    if tid in (MULTIPOLYGON, GEOMETRYCOLLECTION, MULTIPOINT):
        parts = []
        for p in geom.parts or []:
            cp = clip_by_rect(p, xmin, ymin, xmax, ymax)
            if cp is not None and not cp.is_empty:
                parts.append(cp)
        if not parts:
            return empty(tid)
        return Geometry(tid, parts=parts)
    if tid in (LINESTRING, LINEARRING, MULTILINESTRING):
        # Cohen–Sutherland-ish per segment; emit clipped polyline pieces
        segs = []
        stack = [geom]
        while stack:
            g = stack.pop()
            if g.coords is not None and len(g.coords) >= 2:
                segs.append(np.asarray(g.coords)[:, :2])
            for p in g.parts or []:
                stack.append(p)
        pieces = []
        for c in segs:
            cur: list[np.ndarray] = []
            for i in range(len(c) - 1):
                clipped = _clip_segment(c[i], c[i + 1], xmin, ymin, xmax, ymax)
                if clipped is None:
                    if len(cur) >= 2:
                        pieces.append(np.array(cur))
                    cur = []
                    continue
                p0, p1 = clipped
                if cur and np.allclose(cur[-1], p0):
                    cur.append(p1)
                else:
                    if len(cur) >= 2:
                        pieces.append(np.array(cur))
                    cur = [p0, p1]
            if len(cur) >= 2:
                pieces.append(np.array(cur))
        if not pieces:
            return empty(LINESTRING)
        if len(pieces) == 1:
            return Geometry(LINESTRING, coords=pieces[0])
        return Geometry(MULTILINESTRING, parts=[Geometry(LINESTRING, coords=p) for p in pieces])
    raise NotImplementedError(f"clip_by_rect for type {tid}")


def _clip_segment(p0, p1, xmin, ymin, xmax, ymax):
    t0, t1 = 0.0, 1.0
    d = p1 - p0
    for p, q in (
        (-d[0], p0[0] - xmin),
        (d[0], xmax - p0[0]),
        (-d[1], p0[1] - ymin),
        (d[1], ymax - p0[1]),
    ):
        if p == 0:
            if q < 0:
                return None
            continue
        r = q / p
        if p < 0:
            if r > t1:
                return None
            t0 = max(t0, r)
        else:
            if r < t0:
                return None
            t1 = min(t1, r)
    return p0 + t0 * d, p0 + t1 * d


# ---------------------------------------------------------------------------
# Simplify — Douglas–Peucker (reference: shapely/constructive.py:1118)
# ---------------------------------------------------------------------------

def _dp(coords: np.ndarray, tol: float) -> np.ndarray:
    if len(coords) <= 2:
        return coords
    keep = np.zeros(len(coords), dtype=bool)
    keep[0] = keep[-1] = True
    stack = [(0, len(coords) - 1)]
    while stack:
        i, j = stack.pop()
        if j <= i + 1:
            continue
        p0, p1 = coords[i], coords[j]
        seg = p1 - p0
        pts = coords[i + 1 : j]
        L2 = seg @ seg
        if L2 == 0:
            d = np.sqrt(((pts - p0) ** 2).sum(axis=1))
        else:
            t = np.clip(((pts - p0) @ seg) / L2, 0, 1)
            proj = p0 + t[:, None] * seg
            d = np.sqrt(((pts - proj) ** 2).sum(axis=1))
        k = int(np.argmax(d))
        if d[k] > tol:
            keep[i + 1 + k] = True
            stack.append((i, i + 1 + k))
            stack.append((i + 1 + k, j))
    return coords[keep]


def simplify(geom: Geometry | None, tolerance: float, preserve_topology: bool = True) -> Geometry | None:
    """reference: shapely/constructive.py:1118."""
    if geom is None or geom.is_empty:
        return geom
    tid = geom.type_id
    if tid in (LINESTRING, LINEARRING):
        return Geometry(tid, coords=_dp(np.asarray(geom.coords)[:, :2], tolerance))
    if tid == POLYGON:
        rings = []
        for r in geom.rings:
            rc = np.asarray(r)[:, :2]
            s = _dp(rc, tolerance)
            if len(s) >= 4:
                rings.append(s)
            elif not rings:  # shell collapsed
                return empty(POLYGON)
        return Geometry(POLYGON, rings=rings)
    if tid in (MULTIPOINT, MULTILINESTRING, MULTIPOLYGON, GEOMETRYCOLLECTION):
        return Geometry(tid, parts=[simplify(p, tolerance, preserve_topology) for p in geom.parts])
    return geom


# ---------------------------------------------------------------------------
# Segmentize (reference: shapely/constructive.py:1070)
# ---------------------------------------------------------------------------

def segmentize(geom: Geometry | None, max_segment_length: float) -> Geometry | None:
    """reference: shapely/constructive.py:1244 (max_segment_length must be
    greater than 0)."""
    if not max_segment_length > 0:
        raise ValueError(f"max_segment_length must be greater than 0, got {max_segment_length}")
    if geom is None or geom.is_empty:
        return geom

    def seg_coords(c):
        c = np.asarray(c)[:, :2]
        out = [c[:1]]
        for i in range(len(c) - 1):
            d = math.dist(c[i], c[i + 1])
            n = max(1, int(math.ceil(d / max_segment_length)))
            t = np.linspace(0, 1, n + 1)[1:]
            out.append(c[i] + t[:, None] * (c[i + 1] - c[i]))
        return np.concatenate(out, axis=0)

    tid = geom.type_id
    if tid in (LINESTRING, LINEARRING):
        return Geometry(tid, coords=seg_coords(geom.coords))
    if tid == POLYGON:
        return Geometry(POLYGON, rings=[seg_coords(r) for r in geom.rings])
    if tid in (MULTILINESTRING, MULTIPOLYGON, GEOMETRYCOLLECTION):
        return Geometry(tid, parts=[segmentize(p, max_segment_length) for p in geom.parts])
    return geom


# ---------------------------------------------------------------------------
# Orientation / normalize-ish / misc coordinate ops
# ---------------------------------------------------------------------------

def orient_polygons(geom: Geometry | None, exterior_cw: bool = False) -> Geometry | None:
    """reference: shapely/constructive.py:1529 + algorithms/cga.py:29 —
    shells CCW (default), holes opposite."""
    if geom is None or geom.is_empty:
        return geom
    if geom.type_id == POLYGON:
        rings = []
        for i, r in enumerate(geom.rings):
            rc = np.asarray(r)
            want_ccw = (i == 0) != exterior_cw
            if (signed_ring_area(rc[:, :2]) > 0) != want_ccw:
                rc = rc[::-1]
            rings.append(rc)
        return Geometry(POLYGON, rings=rings, has_z=geom.has_z, has_m=geom.has_m)
    if geom.type_id in (MULTIPOLYGON, GEOMETRYCOLLECTION):
        return Geometry(geom.type_id, parts=[orient_polygons(p, exterior_cw) for p in geom.parts])
    return geom


def reverse(geom: Geometry | None) -> Geometry | None:
    """reference: shapely/constructive.py:1035."""
    if geom is None or geom.is_empty:
        return geom
    tid = geom.type_id
    if tid in (POINT,):
        return geom
    if tid in (LINESTRING, LINEARRING):
        return Geometry(tid, coords=np.asarray(geom.coords)[::-1], has_z=geom.has_z, has_m=geom.has_m)
    if tid == POLYGON:
        return Geometry(POLYGON, rings=[np.asarray(r)[::-1] for r in geom.rings])
    return Geometry(tid, parts=[reverse(p) for p in geom.parts])


def remove_repeated_points(geom: Geometry | None, tolerance: float = 0.0) -> Geometry | None:
    """reference: shapely/constructive.py:1003."""
    if geom is None or geom.is_empty:
        return geom

    def dedup(c):
        c = np.asarray(c)
        if len(c) < 2:
            return c
        d = np.sqrt(((np.diff(c[:, :2], axis=0)) ** 2).sum(axis=1))
        keep = np.concatenate([[True], d > tolerance])
        out = c[keep]
        return out

    tid = geom.type_id
    if tid in (LINESTRING, LINEARRING):
        return Geometry(tid, coords=dedup(geom.coords), has_z=geom.has_z)
    if tid == POLYGON:
        rings = []
        for r in geom.rings:
            rr = dedup(r)
            if not np.array_equal(rr[0], rr[-1]):
                rr = np.vstack([rr, rr[:1]])
            rings.append(rr)
        return Geometry(POLYGON, rings=rings)
    if tid in (MULTIPOINT, MULTILINESTRING, MULTIPOLYGON, GEOMETRYCOLLECTION):
        return Geometry(tid, parts=[remove_repeated_points(p, tolerance) for p in geom.parts])
    return geom


def extract_unique_points(geom: Geometry | None) -> Geometry | None:
    """reference: shapely/constructive.py:621."""
    if geom is None:
        return None
    c = geom.all_coords()[:, :2]
    if len(c) == 0:
        return empty(MULTIPOINT)
    _, idx = np.unique(c, axis=0, return_index=True)
    uniq = c[np.sort(idx)]
    return multipoint([tuple(p) for p in uniq])


def set_precision(geom: Geometry | None, grid_size: float) -> Geometry | None:
    """Snap coordinates to grid. reference: shapely/_geometry.py:868.
    The grid size is stored on the result so get_precision
    (shapely/_geometry.py:824) can read it back."""
    if geom is None or geom.is_empty or grid_size == 0:
        return geom

    def snap(c):
        return np.round(np.asarray(c, dtype=np.float64) / grid_size) * grid_size

    tid = geom.type_id
    if tid in (POINT, LINESTRING, LINEARRING):
        return Geometry(tid, coords=snap(geom.coords), has_z=geom.has_z,
                        precision=grid_size)
    if tid == POLYGON:
        return Geometry(POLYGON, rings=[snap(r) for r in geom.rings],
                        precision=grid_size)
    return Geometry(tid, parts=[set_precision(p, grid_size) for p in geom.parts],
                    precision=grid_size)


def force_2d(geom: Geometry | None) -> Geometry | None:
    """reference: shapely/_geometry.py:952."""
    if geom is None:
        return None
    tid = geom.type_id
    if tid in (POINT, LINESTRING, LINEARRING):
        c = geom.coords
        return Geometry(tid, coords=None if c is None else np.asarray(c)[:, :2])
    if tid == POLYGON:
        return Geometry(POLYGON, rings=[np.asarray(r)[:, :2] for r in geom.rings or []])
    return Geometry(tid, parts=[force_2d(p) for p in (geom.parts or [])])


def transform_coords(geom: Geometry | None, func) -> Geometry | None:
    """Apply func((n,2) array) -> (n,2) array to every coordinate sequence.
    Z/M columns ride through unchanged (reference 2-D affinity semantics:
    shapely/affinity.py transforms xy and carries z when present).
    reference: shapely/coordinates.py:28-70 transform / ops.py:216."""
    if geom is None or geom.is_empty:
        return geom

    def tc(c: np.ndarray) -> np.ndarray:
        c = np.asarray(c, dtype=np.float64)
        xy = np.asarray(func(c[:, :2]), dtype=np.float64)
        if c.shape[1] > 2:
            return np.column_stack([xy, c[:, 2:]])
        return xy

    tid = geom.type_id
    if tid in (POINT, LINESTRING, LINEARRING):
        return Geometry(tid, coords=tc(geom.coords),
                        has_z=geom.has_z, has_m=geom.has_m)
    if tid == POLYGON:
        return Geometry(POLYGON, rings=[tc(r) for r in geom.rings],
                        has_z=geom.has_z, has_m=geom.has_m)
    return Geometry(tid, parts=[transform_coords(p, func) for p in geom.parts],
                    has_z=geom.has_z, has_m=geom.has_m)


def affine_transform(geom: Geometry | None, matrix) -> Geometry | None:
    """matrix = [a,b,d,e,xoff,yoff] per shapely/affinity.py:12."""
    a, b, d, e, xoff, yoff = matrix

    def f(c):
        x, y = c[:, 0], c[:, 1]
        return np.column_stack([a * x + b * y + xoff, d * x + e * y + yoff])

    return transform_coords(geom, f)


def interpret_origin(geom, origin, ndim: int = 2):
    """'center' → 2D bbox center, 'centroid' → centroid, Point geometry or
    coordinate tuple pass through (reference: shapely/affinity.py:93)."""
    if origin == "center":
        b = bounds(geom)
        origin = ((b[0] + b[2]) / 2.0, (b[1] + b[3]) / 2.0)
    elif origin == "centroid":
        c = centroid(geom)
        origin = (float(c.coords[0, 0]), float(c.coords[0, 1]))
    elif isinstance(origin, str):
        raise ValueError(f"'origin' keyword {origin!r} is not recognized")
    elif isinstance(origin, Geometry):
        origin = tuple(float(v) for v in origin.coords[0][:3])
    origin = tuple(origin)
    if len(origin) not in (2, 3):
        raise ValueError("Expected number of items in 'origin' to be either 2 or 3")
    if ndim == 2:
        return origin[:2]
    return origin if len(origin) == 3 else origin + (0.0,)


def _transform_z(geom, f):
    """Apply f(z array) -> z array to the Z column only."""
    if geom is None or geom.is_empty or not geom.has_z:
        return geom

    def tz(c):
        c = np.asarray(c, dtype=np.float64).copy()
        c[:, 2] = f(c[:, 2])
        return c

    tid = geom.type_id
    if geom.rings is not None:
        return Geometry(tid, rings=[tz(r) for r in geom.rings],
                        has_z=True, has_m=geom.has_m, srid=geom.srid)
    if geom.parts is not None:
        return Geometry(tid, parts=[_transform_z(p, f) for p in geom.parts],
                        has_z=True, has_m=geom.has_m, srid=geom.srid)
    return Geometry(tid, coords=tz(geom.coords),
                    has_z=True, has_m=geom.has_m, srid=geom.srid)


def translate(geom, xoff=0.0, yoff=0.0, zoff=0.0):
    """reference: shapely/affinity.py:247 (zoff shifts Z when present)."""
    out = affine_transform(geom, [1, 0, 0, 1, xoff, yoff])
    if zoff and out is not None and out.has_z:
        out = _transform_z(out, lambda z: z + zoff)
    return out


def scale(geom, xfact=1.0, yfact=1.0, zfact=1.0, origin="center"):
    """reference: shapely/affinity.py:169 — origin defaults to the 2D
    bbox 'center' (r3 parity audit: ours defaulted to (0,0), so default
    calls scaled about the wrong point); zfact scales Z about the
    origin's z (0 for keyword origins)."""
    ox, oy, oz = interpret_origin(geom, origin, 3)
    out = affine_transform(geom, [xfact, 0, 0, yfact, ox - xfact * ox, oy - yfact * oy])
    if zfact != 1.0 and out is not None and out.has_z:
        out = _transform_z(out, lambda z: zfact * z + oz - zfact * oz)
    return out


def rotate(geom, angle, origin="center", use_radians=False):
    """reference: shapely/affinity.py:126 — same signature: angle in
    degrees unless use_radians, origin defaults to the bbox center."""
    th = angle if use_radians else math.radians(angle)
    c, s = math.cos(th), math.sin(th)
    ox, oy = interpret_origin(geom, origin, 2)
    return affine_transform(geom, [c, -s, s, c, ox - ox * c + oy * s, oy - ox * s - oy * c])


def skew(geom, xs=0.0, ys=0.0, origin="center", use_radians=False):
    """Shear by angles along x/y (reference: shapely/affinity.py:204):
    x' = x + tan(xs)·(y − oy), y' = y + tan(ys)·(x − ox)."""
    if not use_radians:
        xs, ys = math.radians(xs), math.radians(ys)
    tx, ty = math.tan(xs), math.tan(ys)
    ox, oy = interpret_origin(geom, origin, 2)
    return affine_transform(geom, [1, tx, ty, 1, -tx * oy, -ty * ox])


# ---------------------------------------------------------------------------
# Linear referencing (reference: shapely/linear.py)
# ---------------------------------------------------------------------------

def line_interpolate_point(line: Geometry | None, distance: float, normalized: bool = False) -> Geometry | None:
    """reference: shapely/linear.py:26 (negative distance measures from
    end). Distance is measured in XY; Z/M ride along and interpolate
    linearly within the hit segment (GEOS LengthIndexedLine semantics).

    Edge contract pinned to shapely/tests/test_linear.py: None input or
    NaN distance → None; non-lineal input (point/polygon/multi thereof)
    → TypeError; empty lineal input, a multi whose FIRST part is empty,
    or an empty/leading-empty-line collection → POINT EMPTY; a
    MultiLineString interpolates over its concatenated parts."""
    if line is None or (isinstance(distance, float) and math.isnan(distance)):
        return None
    tid = line.type_id
    if tid in (MULTILINESTRING, GEOMETRYCOLLECTION):
        parts = line.parts or []
        if not parts:
            return empty(POINT)
        first = parts[0]
        if tid == GEOMETRYCOLLECTION and first.type_id not in (LINESTRING, LINEARRING):
            raise TypeError(
                "line_interpolate_point takes lineal geometries")
        if first.is_empty:
            # GEOS quirk the reference tests pin: a leading empty part
            # empties the whole result (MULTILINESTRING (EMPTY, ...))
            return empty(POINT)
        if tid == GEOMETRYCOLLECTION and any(
                p.type_id not in (LINESTRING, LINEARRING) for p in parts):
            raise TypeError(
                "line_interpolate_point takes lineal geometries")
        # the length index spans parts WITHOUT bridge segments between a
        # part's end and the next part's start (GEOS LengthIndexedLine)
        live = [p for p in parts if p.coords is not None and len(p.coords) >= 2]
        lens = []
        for p in live:
            pc = np.asarray(p.coords, dtype=np.float64)
            lens.append(float(np.sqrt(
                (np.diff(pc[:, :2], axis=0) ** 2).sum(axis=1)).sum()))
        total = sum(lens)
        if not live:
            return empty(POINT)
        if normalized:
            distance = distance * total
        if distance < 0:
            distance = max(0.0, total + distance)
        distance = min(max(distance, 0.0), total)
        for p, ln in zip(live, lens):
            if distance <= ln or p is live[-1]:
                return line_interpolate_point(p, distance)
            distance -= ln
    if tid not in (LINESTRING, LINEARRING):
        raise TypeError("line_interpolate_point takes lineal geometries")
    c = np.asarray(line.coords, dtype=np.float64)
    if len(c) == 0:
        return empty(POINT)
    seg = np.sqrt((np.diff(c[:, :2], axis=0) ** 2).sum(axis=1))
    total = seg.sum()
    if normalized:
        distance = distance * total
    if distance < 0:
        distance = max(0.0, total + distance)
    distance = min(max(distance, 0.0), total)
    cum = np.concatenate([[0.0], np.cumsum(seg)])
    i = int(np.searchsorted(cum, distance, side="right") - 1)
    i = min(i, len(seg) - 1)
    t = 0.0 if seg[i] == 0 else (distance - cum[i]) / seg[i]
    p = c[i] + t * (c[i + 1] - c[i])
    return Geometry(POINT, coords=p.reshape(1, -1), has_z=line.has_z,
                    has_m=line.has_m)


def line_locate_point(line: Geometry | None, other: Geometry | None, normalized: bool = False) -> float:
    """reference: shapely/linear.py:78 — distance along line to nearest
    point. None/empty inputs → nan; a non-lineal line or non-point other
    raises (tests/test_linear.py::test_line_locate_point_*)."""
    if line is None or other is None:
        return float("nan")
    if line.type_id not in (LINESTRING, LINEARRING):
        raise TypeError("line_locate_point takes a lineal geometry")
    if other.type_id != POINT:
        raise TypeError("line_locate_point locates a point")
    if line.is_empty or other.is_empty:
        return float("nan")
    c = np.asarray(line.coords)[:, :2]
    p = other.all_coords()[0, :2]
    seg = np.diff(c, axis=0)
    seg_len = np.sqrt((seg**2).sum(axis=1))
    L2 = (seg**2).sum(axis=1)
    t = np.where(L2 > 0, ((p - c[:-1]) * seg).sum(axis=1) / np.where(L2 > 0, L2, 1.0), 0.0)
    t = np.clip(t, 0, 1)
    proj = c[:-1] + t[:, None] * seg
    d2 = ((proj - p) ** 2).sum(axis=1)
    i = int(np.argmin(d2))
    cum = np.concatenate([[0.0], np.cumsum(seg_len)])
    dist = cum[i] + t[i] * seg_len[i]
    if normalized:
        total = seg_len.sum()
        return float(dist / total) if total else 0.0
    return float(dist)


def line_merge(geom: Geometry | None, directed: bool = False) -> Geometry | None:
    """Stitch multilinestring parts at shared endpoints.
    reference: shapely/linear.py:119 (directed=True forbids reversing a
    part to make the join)."""
    if geom is None or geom.type_id != MULTILINESTRING:
        return geom
    lines = [np.asarray(p.coords)[:, :2] for p in geom.parts or [] if p.coords is not None and len(p.coords) >= 2]
    merged = True
    while merged and len(lines) > 1:
        merged = False
        for i in range(len(lines)):
            for j in range(i + 1, len(lines)):
                a, b = lines[i], lines[j]
                if np.array_equal(a[-1], b[0]):
                    lines[i] = np.vstack([a, b[1:]])
                elif np.array_equal(a[0], b[-1]):
                    lines[i] = np.vstack([b, a[1:]])
                elif not directed and np.array_equal(a[-1], b[-1]):
                    lines[i] = np.vstack([a, b[::-1][1:]])
                elif not directed and np.array_equal(a[0], b[0]):
                    lines[i] = np.vstack([b[::-1], a[1:]])
                else:
                    continue
                lines.pop(j)
                merged = True
                break
            if merged:
                break
    if len(lines) == 1:
        return Geometry(LINESTRING, coords=lines[0])
    return Geometry(MULTILINESTRING, parts=[Geometry(LINESTRING, coords=l) for l in lines])


def nearest_points(a: Geometry, b: Geometry):
    """reference: shapely/ops.py:287 nearest_points / linear.py:206
    shortest_line. Returns (point_on_a, point_on_b)."""
    from .kernels import _edges, _seg_point_dist2, intersects

    ca, cb = a.all_coords()[:, :2], b.all_coords()[:, :2]
    ea, eb = _edges(a), _edges(b)
    best = (np.inf, None, None)
    # vertices of a vs segments of b
    if len(eb):
        for p in ca:
            d2 = _seg_point_dist2(p[0], p[1], eb[:, 0], eb[:, 1], eb[:, 2], eb[:, 3])
            k = int(np.argmin(d2))
            if d2[k] < best[0]:
                x1, y1, x2, y2 = eb[k]
                dx, dy = x2 - x1, y2 - y1
                L2 = dx * dx + dy * dy
                t = 0.0 if L2 == 0 else np.clip(((p[0] - x1) * dx + (p[1] - y1) * dy) / L2, 0, 1)
                best = (d2[k], p, np.array([x1 + t * dx, y1 + t * dy]))
    if len(ea):
        for p in cb:
            d2 = _seg_point_dist2(p[0], p[1], ea[:, 0], ea[:, 1], ea[:, 2], ea[:, 3])
            k = int(np.argmin(d2))
            if d2[k] < best[0]:
                x1, y1, x2, y2 = ea[k]
                dx, dy = x2 - x1, y2 - y1
                L2 = dx * dx + dy * dy
                t = 0.0 if L2 == 0 else np.clip(((p[0] - x1) * dx + (p[1] - y1) * dy) / L2, 0, 1)
                best = (d2[k], np.array([x1 + t * dx, y1 + t * dy]), p)
    if not len(ea) and not len(eb):
        dx = ca[:, None, 0] - cb[None, :, 0]
        dy = ca[:, None, 1] - cb[None, :, 1]
        d2 = dx * dx + dy * dy
        i, j = np.unravel_index(np.argmin(d2), d2.shape)
        best = (d2[i, j], ca[i], cb[j])
    return make_point(*best[1]), make_point(*best[2])


# ---------------------------------------------------------------------------
# snap (reference: shapely/constructive.py:1171 / ops.py:269)
# ---------------------------------------------------------------------------

def snap(geom: Geometry | None, reference: Geometry | None, tolerance: float) -> Geometry | None:
    """Snap vertices of geom to the nearest reference vertex within
    tolerance (vertex-to-vertex snapping, the dominant GEOSSnap case)."""
    if geom is None or reference is None or geom.is_empty or reference.is_empty:
        return geom
    ref = reference.all_coords()[:, :2]

    def f(c):
        d2 = (c[:, None, 0] - ref[None, :, 0]) ** 2 + (c[:, None, 1] - ref[None, :, 1]) ** 2
        j = d2.argmin(axis=1)
        hit = np.sqrt(d2[np.arange(len(c)), j]) <= tolerance
        out = c.copy()
        out[hit] = ref[j[hit]]
        return out

    return transform_coords(geom, f)


# ---------------------------------------------------------------------------
# substring (reference: shapely/ops.py:509)
# ---------------------------------------------------------------------------

def substring(line: Geometry, start_dist: float, end_dist: float, normalized: bool = False) -> Geometry:
    """Sub-linestring between two distances along the line (reference:
    shapely/ops.py:553, LineString input only)."""
    if line is None:
        return None
    if line.type_id != LINESTRING:
        raise TypeError(f"substring takes a LineString, got {TYPE_NAMES[line.type_id]}")
    if line.is_empty:
        return line
    c = np.asarray(line.coords)[:, :2]
    seg = np.sqrt((np.diff(c, axis=0) ** 2).sum(axis=1))
    total = float(seg.sum())
    if normalized:
        start_dist, end_dist = start_dist * total, end_dist * total
    for_neg = lambda d: total + d if d < 0 else d
    s, e = for_neg(start_dist), for_neg(end_dist)
    s, e = max(0.0, min(s, total)), max(0.0, min(e, total))
    if s == e:
        return line_interpolate_point(line, s)
    rev = s > e
    if rev:
        s, e = e, s
    cum = np.concatenate([[0.0], np.cumsum(seg)])
    pts = [line_interpolate_point(line, s).coords[0]]
    for i in range(len(c)):
        if s < cum[i] < e:
            pts.append(c[i])
    pts.append(line_interpolate_point(line, e).coords[0])
    out = np.array(pts)
    if rev:
        out = out[::-1]
    return Geometry(LINESTRING, coords=out)


# ---------------------------------------------------------------------------
# oriented envelope / min rotated rectangle (reference:
# shapely/constructive.py:1344 + pure-Python algorithms/_oriented_envelope.py)
# ---------------------------------------------------------------------------

def oriented_envelope(geom: Geometry | None) -> Geometry | None:
    """Rotating calipers over the convex hull: the minimum-area rotated
    rectangle containing the geometry."""
    if geom is None or geom.is_empty:
        return geom
    h = convex_hull(geom)
    if h.type_id != POLYGON:
        return h  # degenerate: point or line
    ring = h.rings[0][:-1]
    best = (np.inf, None)
    m = len(ring)
    for i in range(m):
        d = ring[(i + 1) % m] - ring[i]
        L = np.hypot(*d)
        if L == 0:
            continue
        ux, uy = d / L
        # rotate all points into edge frame
        xs = ring @ np.array([ux, uy])
        ys = ring @ np.array([-uy, ux])
        area = (xs.max() - xs.min()) * (ys.max() - ys.min())
        if area < best[0]:
            corners_frame = np.array(
                [
                    [xs.min(), ys.min()],
                    [xs.max(), ys.min()],
                    [xs.max(), ys.max()],
                    [xs.min(), ys.max()],
                ]
            )
            R = np.array([[ux, -uy], [uy, ux]])
            corners = corners_frame @ R.T
            best = (area, corners)
    if best[1] is None:
        return h
    ringc = np.vstack([best[1], best[1][:1]])
    return Geometry(POLYGON, rings=[ringc])


# ---------------------------------------------------------------------------
# minimum bounding circle — Welzl (reference: shapely/constructive.py:1398)
# ---------------------------------------------------------------------------

def minimum_bounding_circle(geom: Geometry | None, return_center: bool = False):
    """Smallest enclosing circle; returns a 32-gon polygon approximation of
    the circle like GEOS (or (center, radius) with return_center=True)."""
    if geom is None or geom.is_empty:
        return (None, float("nan")) if return_center else geom
    pts = np.unique(geom.all_coords()[:, :2], axis=0)

    def circle_two(a, b):
        c = (a + b) / 2.0
        return c, float(np.hypot(*(a - b)) / 2.0)

    def circle_three(a, b, c):
        ax, ay = a
        bx, by = b
        cx, cy = c
        d = 2.0 * (ax * (by - cy) + bx * (cy - ay) + cx * (ay - by))
        if d == 0:
            return None
        ux = ((ax**2 + ay**2) * (by - cy) + (bx**2 + by**2) * (cy - ay) + (cx**2 + cy**2) * (ay - by)) / d
        uy = ((ax**2 + ay**2) * (cx - bx) + (bx**2 + by**2) * (ax - cx) + (cx**2 + cy**2) * (bx - ax)) / d
        ctr = np.array([ux, uy])
        return ctr, float(np.hypot(*(a - ctr)))

    def contains_all(c, r, P):
        return bool((np.hypot(P[:, 0] - c[0], P[:, 1] - c[1]) <= r * (1 + 1e-12)).all())

    # deterministic Welzl-ish: iterate over points, grow the circle
    c, r = pts[0].astype(float), 0.0
    for i in range(1, len(pts)):
        if np.hypot(*(pts[i] - c)) <= r * (1 + 1e-12):
            continue
        c, r = pts[i].astype(float), 0.0
        for j in range(i):
            if np.hypot(*(pts[j] - c)) <= r * (1 + 1e-12):
                continue
            c, r = circle_two(pts[i], pts[j])
            for k in range(j):
                if np.hypot(*(pts[k] - c)) <= r * (1 + 1e-12):
                    continue
                res = circle_three(pts[i], pts[j], pts[k])
                if res is not None:
                    c, r = res
    if return_center:
        return c, r
    if r == 0:
        return make_point(float(c[0]), float(c[1]))
    ang = 2.0 * math.pi * np.arange(32) / 32
    ring = np.column_stack([c[0] + r * np.cos(ang), c[1] + r * np.sin(ang)])
    return Geometry(POLYGON, rings=[np.vstack([ring, ring[:1]])])


def _clip_halfplane(poly_pts: np.ndarray, e0, e1):
    """Sutherland–Hodgman single edge clip; poly_pts open ring (CCW)."""
    if poly_pts is None or len(poly_pts) == 0:
        return None
    if np.array_equal(poly_pts[0], poly_pts[-1]):
        poly_pts = poly_pts[:-1]
    out = []
    n = len(poly_pts)
    ex, ey = e1[0] - e0[0], e1[1] - e0[1]

    def inside(p):
        return ex * (p[1] - e0[1]) - ey * (p[0] - e0[0]) >= 0

    for i in range(n):
        cur, prv = poly_pts[i], poly_pts[i - 1]
        ci, pi = inside(cur), inside(prv)
        if ci != pi:
            d = cur - prv
            denom = ex * d[1] - ey * d[0]
            t = (ey * (prv[0] - e0[0]) - ex * (prv[1] - e0[1])) / denom if denom else 0.0
            out.append(prv + t * d)
        if ci:
            out.append(cur)
    if len(out) < 3:
        return None
    return np.array(out)


def point_on_surface(geom: Geometry | None) -> Geometry | None:
    """A point guaranteed on the geometry: for polygons, the midpoint of the
    widest interior scanline interval at the bbox-middle y (the GEOS
    interior-point strategy); for lines, the middle vertex; for points, the
    first point. reference: shapely/constructive.py:822
    point_on_surface / geometry/base.py:392 representative_point."""
    import numpy as np

    from . import kernels as K
    from .geom import LINESTRING, MULTILINESTRING, MULTIPOINT, MULTIPOLYGON

    if geom is None:
        return None
    if geom.is_empty:
        return empty(POINT)
    tid = geom.type_id
    if tid == POINT:
        return make_point(geom.coords[0, 0], geom.coords[0, 1])
    if tid in (MULTIPOINT,):
        p0 = (geom.parts or [])[0]
        return make_point(p0.coords[0, 0], p0.coords[0, 1])
    if tid in (LINESTRING, MULTILINESTRING):
        c = geom.coords if tid == LINESTRING else (geom.parts or [])[0].coords
        return make_point(c[len(c) // 2, 0], c[len(c) // 2, 1])
    if tid in (POLYGON, MULTIPOLYGON):
        rings = K._rings_of(geom)
        b = K.bounds(geom)

        def scan(ym: float):
            xs = []
            for r in rings:
                c = np.asarray(r)[:, :2]
                y1, y2 = c[:-1, 1], c[1:, 1]
                x1, x2 = c[:-1, 0], c[1:, 0]
                cond = (y1 > ym) != (y2 > ym)
                with np.errstate(divide="ignore", invalid="ignore"):
                    xi = x1 + (ym - y1) * (x2 - x1) / (y2 - y1)
                xs.append(xi[cond])
            xs = np.sort(np.concatenate(xs)) if xs else np.zeros(0)
            if len(xs) >= 2 and len(xs) % 2 == 0:
                widths = xs[1::2] - xs[0::2]
                i = int(np.argmax(widths))
                if widths[i] > 0:
                    px = (xs[2 * i] + xs[2 * i + 1]) / 2.0
                    # verify strict interiority: a scanline THROUGH a
                    # vertex y can pair crossings across a hole edge and
                    # land the midpoint ON the boundary (the holed-box
                    # fuzz counterexample: bbox-middle y == the hole's
                    # top edge y → midpoint == the hole corner)
                    if K.points_in_rings_class(
                            np.array([px]), np.array([ym]),
                            rings)[0] == K.INTERIOR:
                        return make_point(px, ym)
            return None

        p = scan((b[1] + b[3]) / 2.0)
        if p is not None:
            return p
        # degenerate bbox-middle scanline: GEOS-style safe bisectors —
        # midpoints of adjacent DISTINCT vertex-y gaps (no vertex and no
        # horizontal edge can lie on such a line), nearest to centre first
        vy = np.unique(np.concatenate(
            [np.asarray(r)[:, 1] for r in rings])) if rings else np.zeros(0)
        if len(vy) >= 2:
            mids = (vy[:-1] + vy[1:]) / 2.0
            for gi in np.argsort(np.abs(mids - (b[1] + b[3]) / 2.0),
                                 kind="stable"):
                p = scan(float(mids[gi]))
                if p is not None:
                    return p
        # zero-area polygon: fall back to first shell vertex
        return make_point(rings[0][0, 0], rings[0][0, 1])
    # collections: first part
    return point_on_surface((geom.parts or [None])[0])


# ---------------------------------------------------------------------------
# canonical form + clearance (reference: shapely/constructive.py:794
# normalize; measurement.py:289 minimum_clearance; ops.py:287 shortest_line)
# ---------------------------------------------------------------------------

def _coords_key(g: Geometry) -> tuple:
    return tuple(map(tuple, np.asarray(g.all_coords())[:, :2]))


def normalize(geom: Geometry | None) -> Geometry | None:
    """GEOS strict canonical form (reference: shapely/constructive.py:794;
    golden: tests/test_constructive.py test_normalize — MultiLineString
    parts sort DESCENDING, lines flip so the smaller endpoint comes first;
    doc example constructive.py:523 pins shells CW starting at the min
    vertex). Used with equals_exact for output comparison."""
    from .geom import (
        GEOMETRYCOLLECTION,
        LINEARRING,
        LINESTRING,
        MULTILINESTRING,
        MULTIPOINT,
        MULTIPOLYGON,
    )

    if geom is None or geom.is_empty:
        return geom
    tid = geom.type_id
    if tid == POINT:
        return geom
    if tid in (LINESTRING, LINEARRING):
        c = np.asarray(geom.coords)
        if len(c) >= 2 and tuple(c[0][:2]) > tuple(c[-1][:2]):
            c = c[::-1]
        return Geometry(tid, coords=c, has_z=geom.has_z, has_m=geom.has_m)
    if tid == POLYGON:
        rings = []
        for i, r in enumerate(geom.rings or []):
            c = np.asarray(r, dtype=np.float64)
            if len(c) < 2:
                rings.append(c)
                continue
            open_ = c[:-1]
            start = int(np.lexsort((open_[:, 1], open_[:, 0]))[0])
            open_ = np.roll(open_, -start, axis=0)
            c = np.vstack([open_, open_[:1]])
            a = signed_ring_area(c)
            want_cw = i == 0  # shell CW, holes CCW (GEOS canonical form)
            if (a < 0) != want_cw and a != 0:
                open_r = c[:-1][::-1]
                start = int(np.lexsort((open_r[:, 1], open_r[:, 0]))[0])
                open_r = np.roll(open_r, -start, axis=0)
                c = np.vstack([open_r, open_r[:1]])
            rings.append(c)
        return Geometry(POLYGON, rings=rings)
    if tid in (MULTIPOINT, MULTILINESTRING, MULTIPOLYGON, GEOMETRYCOLLECTION):
        parts = [normalize(p) for p in (geom.parts or [])]
        parts.sort(key=_coords_key, reverse=True)  # descending (GEOS order)
        return Geometry(tid, parts=parts)
    return geom


def shortest_line(a: Geometry | None, b: Geometry | None) -> Geometry | None:
    """The segment between the nearest points of a and b (reference:
    shapely/ops.py:287 shortest_line / linear.py:206)."""
    if a is None or b is None or a.is_empty or b.is_empty:
        return None
    pa, pb = nearest_points(a, b)
    return Geometry(
        LINESTRING,
        coords=np.array([[pa.coords[0, 0], pa.coords[0, 1]],
                         [pb.coords[0, 0], pb.coords[0, 1]]]),
    )


def minimum_clearance(geom: Geometry | None) -> float:
    """Smallest vertex-to-nonadjacent-edge / vertex-to-vertex distance —
    the largest amount the geometry's vertices can move before it becomes
    invalid (reference: shapely/measurement.py:289, GEOSMinimumClearance).
    inf for degenerate inputs (reference returns inf for points)."""
    from . import kernels as K

    if geom is None or geom.is_empty:
        return math.inf
    best = math.inf
    for c in geom.coord_seqs():
        c2 = np.asarray(c)[:, :2]
        n = len(c2)
        if n < 2:
            continue
        closed = bool(np.all(c2[0] == c2[-1]))
        pts = c2[:-1] if closed else c2
        m = len(pts)
        # vertex-vertex distances (distinct vertices)
        d2 = ((pts[:, None, :] - pts[None, :, :]) ** 2).sum(axis=2)
        iu = np.triu_indices(m, k=1)
        vv = d2[iu]
        vv = vv[vv > 0]
        if len(vv):
            best = min(best, float(np.sqrt(vv.min())))
        # vertex-to-nonadjacent-edge
        segs = np.column_stack([c2[:-1], c2[1:]])
        for vi in range(m):
            px, py = pts[vi]
            dd = K._seg_point_dist2(px, py, segs[:, 0], segs[:, 1], segs[:, 2], segs[:, 3])
            # mask out the (up to two) edges incident to this vertex
            for ei in range(len(segs)):
                p1 = segs[ei, 0:2]
                p2 = segs[ei, 2:4]
                if np.all(p1 == pts[vi]) or np.all(p2 == pts[vi]):
                    dd[ei] = np.inf
            if np.isfinite(dd).any():
                best = min(best, float(np.sqrt(np.nanmin(np.where(np.isfinite(dd), dd, np.nan)))))
    return best


# ---------------------------------------------------------------------------
# *_all reduces (reference: shapely/set_operations.py:182 intersection_all,
# :315 symmetric_difference_all, :560 coverage_union_all)
# ---------------------------------------------------------------------------

def intersection_all(geoms) -> Geometry:
    """Fold of intersection (reference: shapely/set_operations.py:182)."""
    from . import overlay as O

    gs = [g for g in geoms if g is not None]
    if not gs:
        return empty(GEOMETRYCOLLECTION)
    acc = gs[0]
    for g in gs[1:]:
        if acc.is_empty:
            return acc
        acc = O.intersection(acc, g)
    return acc


def symmetric_difference_all(geoms) -> Geometry:
    """Fold of symmetric_difference (reference: set_operations.py:315)."""
    from . import overlay as O

    gs = [g for g in geoms if g is not None]
    if not gs:
        return empty(GEOMETRYCOLLECTION)
    acc = gs[0]
    for g in gs[1:]:
        acc = O.symmetric_difference(acc, g)
    return acc


def coverage_union_all(geoms) -> Geometry:
    """Union of non-overlapping coverage polygons (reference:
    set_operations.py:609). Shares the overlay union path — the
    non-overlap assumption just makes every fragment exterior."""
    from . import overlay as O

    return O.union_all(geoms)


def minimum_clearance_line(geom: Geometry | None) -> Geometry | None:
    """The 2-point line realizing minimum_clearance (reference:
    shapely/constructive.py:758 GEOSMinimumClearanceLine)."""
    from . import kernels as K

    if geom is None or geom.is_empty:
        return None
    best = math.inf
    best_pair = None
    for c in geom.coord_seqs():
        c2 = np.asarray(c)[:, :2]
        n = len(c2)
        if n < 2:
            continue
        closed = bool(np.all(c2[0] == c2[-1]))
        pts = c2[:-1] if closed else c2
        segs = np.column_stack([c2[:-1], c2[1:]])
        for vi in range(len(pts)):
            px, py = pts[vi]
            for ei in range(len(segs)):
                p1, p2 = segs[ei, 0:2], segs[ei, 2:4]
                if np.all(p1 == pts[vi]) or np.all(p2 == pts[vi]):
                    continue
                dx, dy = p2 - p1
                L2 = dx * dx + dy * dy
                t = 0.0 if L2 == 0 else max(0.0, min(1.0, ((px - p1[0]) * dx + (py - p1[1]) * dy) / L2))
                qx, qy = p1[0] + t * dx, p1[1] + t * dy
                d = math.hypot(px - qx, py - qy)
                if 0 < d < best:
                    best = d
                    best_pair = ((px, py), (qx, qy))
    if best_pair is None:
        return None
    return Geometry(LINESTRING, coords=np.array(best_pair))


def minimum_width(geom: Geometry | None) -> Geometry | None:
    """Rotating-calipers minimum width of the convex hull, returned as the
    realizing 2-point line (reference: shapely/constructive.py:1434
    minimum_width / GEOSMinimumWidth)."""
    if geom is None or geom.is_empty:
        return None
    hull = convex_hull(geom)
    if hull.type_id != POLYGON:
        return None
    ring = np.asarray(hull.rings[0])[:, :2]
    pts = ring[:-1]
    n = len(pts)
    best = math.inf
    best_line = None
    for i in range(n):
        p1, p2 = ring[i], ring[i + 1]
        d = p2 - p1
        L = math.hypot(*d)
        if L == 0:
            continue
        # farthest hull point from the edge line
        dist = np.abs((d[0] * (pts[:, 1] - p1[1]) - d[1] * (pts[:, 0] - p1[0])) / L)
        j = int(np.argmax(dist))
        w = float(dist[j])
        if w < best:
            best = w
            # foot of perpendicular from pts[j] onto the edge line
            t = ((pts[j, 0] - p1[0]) * d[0] + (pts[j, 1] - p1[1]) * d[1]) / (L * L)
            foot = p1 + t * d
            best_line = (tuple(foot), tuple(pts[j]))
    if best_line is None:
        return None
    return Geometry(LINESTRING, coords=np.array(best_line))


def force_3d(geom: Geometry | None, z: float = 0.0) -> Geometry | None:
    """Pad coordinates to XYZ (reference: shapely/_geometry.py:982)."""
    if geom is None:
        return None
    if geom.has_z:
        return geom

    def pad(c):
        return np.column_stack([np.asarray(c)[:, :2], np.full(len(c), z)])

    if geom.type_id in (POINT, LINESTRING):
        return Geometry(geom.type_id, coords=pad(geom.coords), has_z=True)
    if geom.type_id == POLYGON:
        return Geometry(POLYGON, rings=[pad(r) for r in (geom.rings or [])], has_z=True)
    return Geometry(
        geom.type_id, parts=[force_3d(p, z) for p in (geom.parts or [])], has_z=True
    )


def get_segments(geom: Geometry | None):
    """(n,4) array of 2-point segments (reference: shapely/_geometry.py:1020
    get_segments)."""
    from . import kernels as K

    if geom is None or geom.is_empty:
        return np.zeros((0, 4))
    return K._edges(geom)


def set_coordinates(geom: Geometry, coords: np.ndarray) -> Geometry:
    """Replace all coordinates in-order (reference:
    shapely/coordinates.py:398 set_coordinates) — the inverse of
    get_coordinates for an unchanged structure."""
    coords = np.asarray(coords, dtype=np.float64)
    pos = [0]

    def take(n):
        c = coords[pos[0] : pos[0] + n]
        pos[0] += n
        return c.copy()

    def rebuild(g: Geometry) -> Geometry:
        if g.type_id in (POINT, LINESTRING):
            return Geometry(g.type_id, coords=take(len(g.coords)))
        if g.type_id == POLYGON:
            return Geometry(POLYGON, rings=[take(len(r)) for r in (g.rings or [])])
        return Geometry(g.type_id, parts=[rebuild(p) for p in (g.parts or [])])

    return rebuild(geom)


# ---------------------------------------------------------------------------
# offset_curve
# ---------------------------------------------------------------------------

def _offset_polyline(c: np.ndarray, d: float, n: int, join: str,
                     mitre_limit: float) -> np.ndarray | None:
    """Offset an open/closed polyline by signed d (+left / −right of
    travel), direction preserved. Inner corners trim at the offset-line
    intersection; outer corners join round / limit-truncated mitre /
    bevel."""
    keep = [0]
    for i in range(1, len(c)):
        if not np.allclose(c[i], c[keep[-1]]):
            keep.append(i)
    c = c[keep]
    m = len(c)
    if m < 2:
        return None
    closed = np.allclose(c[0], c[-1]) and m >= 4
    t = np.diff(c, axis=0)
    L = np.hypot(t[:, 0], t[:, 1])
    t = t / L[:, None]
    nl = np.column_stack([-t[:, 1], t[:, 0]])  # left normal per segment
    ad = abs(d)

    def vertex_points(i_in: int, i_out: int, v: np.ndarray) -> list[np.ndarray]:
        t_in, t_out = t[i_in], t[i_out]
        p1 = v + d * nl[i_in]
        p2 = v + d * nl[i_out]
        cross = float(t_in[0] * t_out[1] - t_in[1] * t_out[0])
        if abs(cross) < 1e-14:
            return [p1] if np.dot(t_in, t_out) > 0 else [p1, p2]
        if cross * d > 0:
            # inner corner: offset lines converge — trim at intersection
            w = p2 - p1
            s = (w[0] * t_out[1] - w[1] * t_out[0]) / cross
            return [p1 + s * t_in]
        # outer corner
        if join == "bevel":
            return [p1, p2]
        if join == "mitre":
            n1 = (p1 - v) / ad
            n2 = (p2 - v) / ad
            bis = n1 + n2
            bl = math.hypot(bis[0], bis[1])
            if bl < 1e-14:
                return [p1, p2]
            bis = bis / bl
            cos_half = float(np.clip(np.dot(n1, bis), 1e-12, 1.0))
            r = 1.0 / cos_half
            apex = v + ad * r * bis
            if r <= mitre_limit:
                return [p1, apex, p2]
            # clamp: a mitre_limit below cos_half (e.g. < 1) must degrade
            # to the plain bevel, not extrapolate beyond p1/p2 (GEOS
            # behavior for sub-unit mitre limits)
            frac = (mitre_limit - cos_half) / max(r - cos_half, 1e-12)
            frac = min(1.0, max(0.0, frac))
            return [p1, p1 + frac * (apex - p1), p2 + frac * (apex - p2), p2]
        # round
        a1 = math.atan2(p1[1] - v[1], p1[0] - v[0])
        a2 = math.atan2(p2[1] - v[1], p2[0] - v[0])
        if cross < 0:  # sweep clockwise: reverse the CCW arc a2→a1
            arc = _arc_points(v[0], v[1], ad, a2, a1, n)[::-1]
        else:
            arc = _arc_points(v[0], v[1], ad, a1, a2, n)
        return [np.asarray(p) for p in arc]

    out: list[np.ndarray] = []
    if closed:
        out.extend(vertex_points(m - 2, 0, c[0]))
        for i in range(1, m - 1):
            out.extend(vertex_points(i - 1, i, c[i]))
        out.append(out[0])
    else:
        out.append(c[0] + d * nl[0])
        for i in range(1, m - 1):
            out.extend(vertex_points(i - 1, i, c[i]))
        out.append(c[-1] + d * nl[-1])
    return np.asarray(out, dtype=np.float64)


def offset_curve(geom: Geometry | None, distance: float, quad_segs: int = 8,
                 join_style: str = "round", mitre_limit: float = 5.0) -> Geometry | None:
    """reference: shapely/constructive.py:272 — (Multi)LineString offset
    |distance| to the left (positive) / right (negative) of the input,
    direction preserved (the GEOS >= 3.11 contract). Like GEOS, offsets
    larger than the local feature size are not guaranteed globally
    simple; the result is not re-noded."""
    if geom is None:
        return None
    if geom.is_empty:
        return empty(LINESTRING)
    tid = geom.type_id
    if tid in (MULTILINESTRING, GEOMETRYCOLLECTION):
        parts = [offset_curve(p, distance, quad_segs, join_style, mitre_limit)
                 for p in (geom.parts or [])]
        parts = [p for p in parts if p is not None and not p.is_empty]
        if not parts:
            return empty(MULTILINESTRING)
        return parts[0] if len(parts) == 1 else Geometry(MULTILINESTRING, parts=parts)
    if tid not in (LINESTRING, LINEARRING):
        raise NotImplementedError("offset_curve supports lineal input")
    c = np.asarray(geom.coords, dtype=np.float64)[:, :2]
    if len(c) < 2:
        return empty(LINESTRING)
    if distance == 0:
        return Geometry(LINESTRING, coords=c.copy())
    n = max(1, int(quad_segs) * 4)
    out = _offset_polyline(c, float(distance), n, join_style, mitre_limit)
    if out is None or len(out) < 2:
        return empty(LINESTRING)
    return Geometry(LINESTRING, coords=out)


def coverage_union(a: Geometry | None, b: Geometry | None) -> Geometry:
    """reference: shapely/set_operations.py:560 — union of two members of
    a valid (non-overlapping, edge-matched) coverage. Shares the overlay
    union path; the non-overlap assumption just makes every fragment
    exterior."""
    from . import overlay as O

    return O.union(a, b)


def disjoint_subset_union(a: Geometry | None, b: Geometry | None) -> Geometry:
    """reference: shapely/set_operations.py:638 — like coverage_union but
    inputs may be MultiPolygons whose parts are disjoint."""
    from . import overlay as O

    return O.union(a, b)


def disjoint_subset_union_all(geoms) -> Geometry:
    """reference: shapely/set_operations.py:684."""
    return coverage_union_all(geoms)


class BufferCapStyle(str, _Enum):
    """reference: shapely/constructive.py:30 — accepted anywhere buffer()
    takes cap_style (values compare equal to their string forms)."""

    round = "round"
    flat = "flat"
    square = "square"


class BufferJoinStyle(str, _Enum):
    """reference: shapely/constructive.py:37."""

    round = "round"
    mitre = "mitre"
    bevel = "bevel"


def transform_coordseq(geom: Geometry | None, transformation, *,
                       include_z: bool | None = False,
                       interleaved: bool = True) -> Geometry | None:
    """reference: shapely/coordinates.py:177 — per-coordinate-sequence
    transform that may CHANGE the number of coordinate pairs. Our
    transform_coords already applies per sequence (ring / part) and
    allows count changes, so this is the scalar-geometry entry point.
    interleaved=False passes (xs, ys) column tuples like the reference."""
    if geom is None:
        return None

    def fn(xy):
        if interleaved:
            return np.asarray(transformation(xy), dtype=np.float64)
        xs, ys = transformation((xy[:, 0], xy[:, 1]))
        return np.column_stack([xs, ys])

    return transform_coords(geom, fn)


def boundary(geom: Geometry | None) -> Geometry | None:
    """Topological boundary (reference: shapely/constructive.py:92 —
    GEOSBoundary semantics, pinned to the reference docstring examples):

    - POINT / MULTIPOINT        -> GEOMETRYCOLLECTION EMPTY
    - LINESTRING / LINEARRING / MULTILINESTRING -> MULTIPOINT of the
      endpoints that occur an ODD number of times (the mod-2 rule);
      closed rings therefore yield MULTIPOINT EMPTY. Points sorted
      lexicographically like GEOS output.
    - POLYGON                   -> exterior ring as LINESTRING, or
      MULTILINESTRING of all rings when holes are present
    - MULTIPOLYGON              -> MULTILINESTRING of every ring
    - GEOMETRYCOLLECTION        -> None (reference returns None)
    """
    if geom is None:
        return None
    tid = geom.type_id
    if tid == GEOMETRYCOLLECTION:
        return None
    if tid in (POINT, MULTIPOINT):
        return empty(GEOMETRYCOLLECTION)
    if tid in (LINESTRING, LINEARRING, MULTILINESTRING):
        counts: dict[tuple, int] = {}
        lines = geom.parts if tid == MULTILINESTRING else [geom]
        for ln in lines:
            c = ln.coords
            if c is None or len(c) < 2:
                continue
            for end in (c[0], c[-1]):
                k = (float(end[0]), float(end[1]))
                counts[k] = counts.get(k, 0) + 1
        pts = sorted(k for k, n in counts.items() if n % 2 == 1)
        if not pts:
            return Geometry(MULTIPOINT, parts=[])
        return multipoint([make_point(x, y) for x, y in pts])
    # POLYGON / MULTIPOLYGON -> rings as lines
    rings = []
    polys = geom.parts if tid == MULTIPOLYGON else [geom]
    for p in polys:
        for r in p.rings or []:
            rings.append(linestring(np.asarray(r)[:, :2]))
    if tid == POLYGON and len(rings) == 1:
        return rings[0]
    if not rings:
        return (Geometry(MULTILINESTRING, parts=[]) if tid == MULTIPOLYGON
                or tid == POLYGON else Geometry(MULTIPOINT, parts=[]))
    return Geometry(MULTILINESTRING, parts=rings)


def minimum_rotated_rectangle(geom: Geometry | None) -> Geometry | None:
    """reference: shapely/constructive.py oriented_envelope alias
    (minimum_rotated_rectangle is the historical name)."""
    return oriented_envelope(geom)
