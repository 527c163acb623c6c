"""Polygonal-coverage operations.

Reference: shapely/_coverage.py:12 coverage_is_valid, :55
coverage_invalid_edges, :101 coverage_simplify (GEOS CoverageValidator /
CoverageSimplifier). A valid coverage is a set of polygons whose interiors
are pairwise disjoint and whose shared boundaries are vertex-identical
(exactly-matched edges — no crossing, no partially-matched collinear
segments).

coverage_simplify performs topology-preserving simplification: the shared
linework is decomposed into chains between junction nodes, each chain is
Douglas-Peucker-simplified ONCE (both polygons sharing it get the same
simplified chain), and the rings are reassembled — neighbors stay
edge-matched by construction.

Limitations vs GEOS (documented, not silent): `gap_width` narrow-gap
detection is not implemented (0 = default behavior is matched); invalid
edges are reported as the offending fragments, which GEOS also does, but
fragment noding may differ in vertex placement.
"""

from __future__ import annotations

import numpy as np

from . import kernels as K
from .geom import (
    GEOMETRYCOLLECTION, LINESTRING, MULTILINESTRING, MULTIPOLYGON, POLYGON,
    Geometry, empty,
)
from .kernels import BOUNDARY, INTERIOR


def _rings_of_all(geoms: list[Geometry]) -> list[list[np.ndarray]]:
    from .arrangement import _poly_rings_oriented

    return [_poly_rings_oriented(g) if g is not None and not g.is_empty else []
            for g in geoms]


def _seg_key(p, q, scale: float):
    a = (round(p[0] * scale), round(p[1] * scale))
    b = (round(q[0] * scale), round(q[1] * scale))
    return (a, b) if a <= b else (b, a)


def _coverage_scale(rings_per: list[list[np.ndarray]]) -> float:
    span = 1.0
    for rings in rings_per:
        for r in rings:
            if len(r):
                span = max(span, float(np.abs(r).max()))
    return 1e9 / span


def _invalid_fragments(geoms: list[Geometry]) -> list[list[np.ndarray]]:
    """Per input polygon: boundary fragments violating coverage validity
    (inside a neighbor's interior, crossing a neighbor's boundary, or
    collinear with a neighbor's boundary without being an exactly-matched
    segment)."""
    from .arrangement import _edges_of, _overlay_tol, label

    rings_per = _rings_of_all(geoms)
    scale = _coverage_scale(rings_per)
    edge_sets = []
    seg_keys: list[set] = []
    for rings in rings_per:
        e = _edges_of(rings)
        edge_sets.append(e)
        seg_keys.append({_seg_key(s[:2], s[2:], scale) for s in e})
    bounds = [K.bounds(g) if g is not None and not g.is_empty else None for g in geoms]
    out: list[list[np.ndarray]] = [[] for _ in geoms]
    n = len(geoms)
    for i in range(n):
        if bounds[i] is None or not len(edge_sets[i]):
            continue
        for j in range(n):
            if i == j or bounds[j] is None or not len(edge_sets[j]):
                continue
            bi, bj = bounds[i], bounds[j]
            if bi[0] > bj[2] or bj[0] > bi[2] or bi[1] > bj[3] or bj[1] > bi[3]:
                continue
            tol = _overlay_tol(edge_sets[i], edge_sets[j])
            fa, cls = label(edge_sets[i], edge_sets[j], tol, rings_per[j])
            for k in range(len(fa)):
                if cls[k] == BOUNDARY:
                    # collinear with j's boundary: valid only if this
                    # fragment comes from an exactly-matched segment
                    key = _seg_key(fa[k, :2], fa[k, 2:], scale)
                    if key not in seg_keys[j] or key not in seg_keys[i]:
                        out[i].append(fa[k])
                elif cls[k] == INTERIOR:
                    out[i].append(fa[k])  # overlap: inside neighbor
    return out


def coverage_is_valid(geoms: list[Geometry], gap_width: float = 0.0) -> bool:
    """reference: shapely/_coverage.py:12."""
    return all(not f for f in _invalid_fragments(list(geoms)))


def coverage_invalid_edges(geoms: list[Geometry], gap_width: float = 0.0) -> list[Geometry]:
    """reference: shapely/_coverage.py:55 — per input, a (Multi)LineString
    of the offending boundary fragments, or LINESTRING EMPTY if valid."""
    out = []
    for frags in _invalid_fragments(list(geoms)):
        if not frags:
            out.append(empty(LINESTRING))
            continue
        parts = [Geometry(LINESTRING, coords=f.reshape(2, 2)) for f in frags]
        out.append(parts[0] if len(parts) == 1
                   else Geometry(MULTILINESTRING, parts=parts))
    return out


def _dp_keep(chain: np.ndarray, tol: float) -> np.ndarray:
    """Douglas-Peucker keep-mask over an open chain (endpoints kept)."""
    n = len(chain)
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[-1] = True
    stack = [(0, n - 1)]
    while stack:
        i, j = stack.pop()
        if j <= i + 1:
            continue
        p, q = chain[i], chain[j]
        d = q - p
        L = np.hypot(d[0], d[1])
        seg = chain[i + 1:j]
        if L == 0:
            dist = np.hypot(seg[:, 0] - p[0], seg[:, 1] - p[1])
        else:
            dist = np.abs(d[0] * (seg[:, 1] - p[1]) - d[1] * (seg[:, 0] - p[0])) / L
        kmax = int(np.argmax(dist))
        if dist[kmax] > tol:
            k = i + 1 + kmax
            keep[k] = True
            stack.append((i, k))
            stack.append((k, j))
    return keep


def coverage_simplify(
    geoms: list[Geometry], tolerance: float, simplify_boundary: bool = True
) -> list[Geometry]:
    """reference: shapely/_coverage.py:101 — shared-edge simplification:
    every chain between junction nodes is simplified once and substituted
    into every ring that traverses it, so adjacent polygons remain
    exactly edge-matched. simplify_boundary=False leaves chains used by
    only one polygon (the coverage's outer boundary) untouched."""
    geoms = list(geoms)
    rings_per = _rings_of_all(geoms)
    scale = _coverage_scale(rings_per)

    def vkey(p):
        return (round(p[0] * scale), round(p[1] * scale))

    # vertex degree + segment usage over the whole coverage
    neighbors: dict = {}
    seg_count: dict = {}
    for rings in rings_per:
        for r in rings:
            for a, b in zip(r[:-1], r[1:]):
                ka, kb = vkey(a), vkey(b)
                neighbors.setdefault(ka, set()).add(kb)
                neighbors.setdefault(kb, set()).add(ka)
                sk = (ka, kb) if ka <= kb else (kb, ka)
                seg_count[sk] = seg_count.get(sk, 0) + 1

    def is_node(k):
        return len(neighbors.get(k, ())) != 2

    chain_cache: dict = {}

    def simplified_chain(chain: np.ndarray) -> np.ndarray:
        """Simplify once per canonical chain identity; reverse-stable."""
        fwd = tuple(vkey(p) for p in chain)
        rev = fwd[::-1]
        canon, flip = (fwd, False) if fwd <= rev else (rev, True)
        got = chain_cache.get(canon)
        if got is None:
            work = chain[::-1] if flip else chain
            if not simplify_boundary:
                shared = all(
                    seg_count.get((min(a, b), max(a, b)), 0) >= 2
                    for a, b in zip(canon[:-1], canon[1:])
                )
                if not shared:
                    got = np.asarray(work)
                    chain_cache[canon] = got
                    return got[::-1] if flip else got
            got = np.asarray(work)[_dp_keep(np.asarray(work), tolerance)]
            chain_cache[canon] = got
        return got[::-1] if flip else got

    out = []
    for g, rings in zip(geoms, rings_per):
        if not rings:
            out.append(g)
            continue
        new_rings = []
        for r in rings:
            keys = [vkey(p) for p in r[:-1]]
            m = len(keys)
            node_pos = [i for i in range(m) if is_node(keys[i])]
            pieces = []
            if not node_pos:
                # isolated ring: anchor two farthest-apart-ish vertices
                anchors = [0, m // 2] if m >= 2 else [0]
                node_pos = anchors
            start_list = node_pos
            for a_i, b_i in zip(start_list, start_list[1:] + [start_list[0] + m]):
                idx = [(x % m) for x in range(a_i, b_i + 1)]
                chain = r[idx]
                pieces.append(simplified_chain(chain))
            ring = np.vstack([p[:-1] for p in pieces] + [pieces[0][:1]])
            if len(ring) >= 4:
                new_rings.append(ring)
        if not new_rings:
            out.append(empty(POLYGON))
        elif g.type_id == POLYGON or len(new_rings) == len(rings):
            # reassemble with the original shell/hole split
            shells_holes = []
            ri = 0
            if g.type_id == POLYGON:
                out.append(Geometry(POLYGON, rings=new_rings))
                continue
            for p in (g.parts or []):
                cnt = len(p.rings or [])
                take = new_rings[ri:ri + cnt]
                ri += cnt
                if take:
                    shells_holes.append(Geometry(POLYGON, rings=take))
            out.append(Geometry(MULTIPOLYGON, parts=shells_holes)
                       if len(shells_holes) != 1 else shells_holes[0])
        else:
            out.append(Geometry(POLYGON, rings=new_rings))
    return out
