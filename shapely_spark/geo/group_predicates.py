"""Group-vectorized binary predicates: a batch of left geometries vs ONE
right geometry — the spatial_join_geom refine hot path for every
supported predicate (r4 verdict item: the non-rect remainder ran the
scalar kernel per candidate pair).

Semantics are pinned to the scalar kernels (geo/kernels.py), which pin
the reference (shapely/predicates.py:556 contains, :729 covers, :905
overlaps, :968 touches, :500 crosses) — agreement is enforced by a fuzz
test (tests/test_group_predicates.py). The decomposition:

- **Batched direction 1** (left samples vs the one right container):
  every left's vertices stack into ONE ``_all_class`` pass; every left's
  edges stack and node against ∂R in ONE chunked ``_split_params`` sweep,
  fragment midpoints classify against R's rings in one pass (noding first
  is what makes each fragment sit in a single DE-9IM class — the
  "sampling needs noding" rule; a proper crossing splits the edge and
  its inner sub-fragment classifies INTERIOR, so no separate detector).
- **Batched gates**: bbox containment/overlap/equality prefilters decide
  most candidates with zero Python-per-pair work (containment joins:
  candidates whose bbox cannot contain R's bbox die here).
- **Direction 2 through one point locator**: R-side probes (R's
  vertices, R's part representative points, over-noded ∂R fragment
  midpoints) classify against the lefts as (left, probe) pairs in one
  ``kernels.RaggedPolygonLayer.classify_many`` pass over a layer of the
  lefts built once per call (``_pair_hits``): closure membership is
  ``cls >= BOUNDARY``, strict interiority ``cls == INTERIOR``.
- **int∩int by topology**: once direction 1 proves ∂L never enters
  int(R), each connected component of int(R) (one per polygon part)
  lies wholly inside or wholly outside every such left — ONE
  representative interior point per R part decides the rest (no
  per-left noding of ∂R at all). The containment family
  (contains/covers/contains_properly/equals) over-nodes ∂R ONCE at the
  union of all survivors' edges and classifies the shared fragments
  the same way — never a per-pair scalar-kernel dispatch on supported
  paths (per-left work remains only for hole probes of holed lefts and
  the rare island-in-hole exact check).
- **intersects** is three batched stages over the still-undecided
  lefts: left vertices on closure(R) (``_vertex_facts``), R's vertices
  on each left's closure (one layer pass), and left edges meeting R's
  edges (chunked ``kernels._segments_intersect_pairs``).

Batched shape: areal right (Polygon/MultiPolygon), and for
``intersects`` also a lineal or puntal right; lefts of any
point/line/polygon type. Every other shape is still answered here, by
the exact scalar kernel per left: GeometryCollection lefts and rights,
and (beyond ``intersects``) rights that are non-areal or have no edges.
This module is the only place that decides how a left batch is
evaluated against one right geometry.

Invalid-input note: predicates on INVALID geometry are undefined in the
reference (GEOS requires valid input). For a zero-area polygon part the
group path takes the principled reading — its interior is EMPTY, so it
can witness no int∩int (``_part_rep_points`` verifies each
representative point is strictly interior and skips degenerate parts);
the scalar kernel's collinear-nudge heuristic can disagree there
because a zero-area ring has no defined orientation. Valid inputs agree
exactly (fuzz-pinned).
"""

from __future__ import annotations

import numpy as np

from . import kernels as K
from .geom import GEOMETRYCOLLECTION, MULTIPOLYGON, POLYGON, Geometry
from .kernels import (
    _EDGE_CHUNK, BOUNDARY, EXTERIOR, INTERIOR, RaggedPolygonLayer, _all_class,
    _dim, _edges, _hole_rings, _holes_clear_of, _points_of, _rings_of,
    _segments_intersect_pairs, bounds, points_in_rings_class,
    points_on_segments,
)

_SUPPORTED = {
    "intersects", "within", "covered_by", "touches", "overlaps", "crosses",
    "contains", "covers", "contains_properly", "equals",
}


def _ragged_stack(arrays: list[np.ndarray], width: int):
    """Concatenate per-owner arrays; return (stacked, owner_index)."""
    keep = [(i, a) for i, a in enumerate(arrays) if len(a)]
    if not keep:
        return np.zeros((0, width)), np.zeros(0, np.int64)
    stacked = np.concatenate([a for _, a in keep], axis=0)
    owner = np.repeat(np.fromiter((i for i, _ in keep), np.int64,
                                  count=len(keep)),
                      [len(a) for _, a in keep])
    return stacked, owner


def _any_by(owner: np.ndarray, mask: np.ndarray, n: int) -> np.ndarray:
    out = np.zeros(n, dtype=bool)
    if len(mask) and mask.any():
        out[np.unique(owner[mask])] = True
    return out


def _vertex_facts(lgeoms, ids, rgeom):
    """(any_vext, any_vint, any_vbnd) per id: left vertices vs R."""
    m = len(ids)
    pts, owner = _ragged_stack([_points_of(lgeoms[i]) for i in ids], 2)
    cls = _all_class(pts, rgeom) if len(pts) else np.zeros(0, np.int8)
    return (_any_by(owner, cls == EXTERIOR, m),
            _any_by(owner, cls == INTERIOR, m),
            _any_by(owner, cls == BOUNDARY, m))


def _stacked_edges(lgeoms, ids):
    return _ragged_stack([_edges(lgeoms[i]) for i in ids], 4)


class _EdgeFacts:
    __slots__ = ("any_fext", "any_fint", "any_fbnd", "tol")


def _edge_facts(lgeoms, ids, rgeom, eb) -> _EdgeFacts:
    """Noded-fragment facts per id, one chunked sweep over the stacked
    left edges: fragment-midpoint class vs R (EXTERIOR/INTERIOR witnesses
    exactly as kernels._noded_midpoint_class — on-∂R midpoints override
    to BOUNDARY). A proper edge crossing needs no separate detector: the
    crossing splits the left edge and its inner sub-fragment classifies
    INTERIOR."""
    from .overlay import _overlay_tol, _split_params

    m = len(ids)
    f = _EdgeFacts()
    f.any_fext = np.zeros(m, dtype=bool)
    f.any_fint = np.zeros(m, dtype=bool)
    f.any_fbnd = np.zeros(m, dtype=bool)
    se, owner = _stacked_edges(lgeoms, ids)
    f.tol = _overlay_tol(se, eb)
    if not len(se) or not len(eb):
        return f
    rr = _rings_of(rgeom)
    rows = max(1, _EDGE_CHUNK // len(eb))
    for s in range(0, len(se), rows):
        E, O = se[s:s + rows], owner[s:s + rows]
        params = _split_params(E, eb, f.tol)
        nsplit = np.fromiter((len(p) for p in params), np.int64, len(E))
        plain = nsplit == 0
        frs, ows = [E[plain]], [O[plain]]
        for k in np.flatnonzero(~plain):
            # endpoint params reuse exact vertices (overlay._fragments rule)
            x1, y1, x2, y2 = E[k]
            ts = np.concatenate(([0.0], params[k], [1.0]))
            xs = x1 + ts * (x2 - x1)
            ys = y1 + ts * (y2 - y1)
            xs[0], ys[0] = x1, y1
            xs[-1], ys[-1] = x2, y2
            frs.append(np.column_stack([xs[:-1], ys[:-1], xs[1:], ys[1:]]))
            ows.append(np.full(nsplit[k] + 1, O[k], dtype=np.int64))
        fr = np.concatenate(frs, axis=0)
        ow = np.concatenate(ows)
        keep = ((fr[:, 2] - fr[:, 0]) ** 2 + (fr[:, 3] - fr[:, 1]) ** 2) > 0
        fr, ow = fr[keep], ow[keep]
        if not len(fr):
            continue
        mx, my = (fr[:, 0] + fr[:, 2]) / 2.0, (fr[:, 1] + fr[:, 3]) / 2.0
        cls = points_in_rings_class(mx, my, rr)
        onb = points_on_segments(mx, my, eb, eps=f.tol)
        ext = (cls == EXTERIOR) & ~onb
        if ext.any():
            f.any_fext[np.unique(ow[ext])] = True
        itr = (cls == INTERIOR) & ~onb
        if itr.any():
            f.any_fint[np.unique(ow[itr])] = True
        bnd = onb | (cls == BOUNDARY)
        if bnd.any():
            f.any_fbnd[np.unique(ow[bnd])] = True
    return f


def _part_rep_points(rgeom: Geometry) -> np.ndarray:
    """One strictly-interior representative point per polygon part of R
    (point_on_surface — the same witness generator _holes_clear_of uses).
    A polygon-with-holes interior is connected, so one point represents
    the whole component."""
    from .constructive import point_on_surface

    parts = ([rgeom] if rgeom.type_id == POLYGON
             else [p for p in (rgeom.parts or []) if p.type_id == POLYGON])
    out = []
    for p in parts:
        if p.is_empty:
            continue
        rp = point_on_surface(p)
        if rp is None or rp.is_empty:
            continue
        px, py = float(rp.coords[0, 0]), float(rp.coords[0, 1])
        # verify strict interiority: a zero-area part has NO interior —
        # point_on_surface's vertex fallback must not fabricate an
        # int∩int witness for it (int(∅-area part) contributes nothing)
        if points_in_rings_class(np.array([px]), np.array([py]),
                                 _rings_of(p))[0] == INTERIOR:
            out.append((px, py))
    return np.asarray(out, dtype=np.float64).reshape(-1, 2)


def _layer(lgeoms, ids) -> RaggedPolygonLayer:
    """One point locator over the lefts lgeoms[ids], keyed by left index."""
    return RaggedPolygonLayer({int(i): lgeoms[i] for i in ids})


def _pair_hits(layer, ids, pts, interior=False, eps=0.0) -> np.ndarray:
    """(len(pts), len(ids)) bool: pts[j] on the closure of left ids[k]
    (interior=True: strictly inside it) — every (probe, left) pair in one
    classify_many pass; `eps` as there (fp-noded probes need it)."""
    m = len(ids)
    cls = layer.classify_many(np.tile(ids, len(pts)), np.repeat(pts[:, 0], m),
                              np.repeat(pts[:, 1], m), eps)
    return (cls == INTERIOR if interior else cls >= BOUNDARY).reshape(-1, m)


def _contains_family_batched(predicate, lgeoms, ids, rgeom, eb,
                             layer) -> np.ndarray:
    """Batched contains/covers/contains_properly/equals for AREAL lefts
    (direction-2 heavy — R's samples vs each left), with no per-pair
    scalar dispatch: R's vertices classify against every left in one
    layer pass; ∂R is OVER-NODED once at the union of all lefts'
    edges (a sub-fragment of a per-left fragment still sits in a single
    class vs that left, so finer noding is harmless) and the shared
    fragment midpoints classify the same way; per-left hole probes run
    only for surviving holed lefts (and the rare island-in-hole case
    falls to the exact scalar check). Mirrors kernels.covers:674 /
    contains:632 / contains_properly:718 / equals:990."""
    from .overlay import _fragments, _overlay_tol, _split_params

    lefts = [lgeoms[i] for i in ids]
    proper = predicate == "contains_properly"
    res = _pair_hits(layer, ids, _points_of(rgeom), proper).all(axis=0)
    if res.any():
        se, _ow = _stacked_edges(lgeoms, ids)
        if len(se):
            tol = _overlay_tol(eb, se)
            frs = _fragments(eb, _split_params(eb, se, tol))
            if len(frs):
                M = np.column_stack([(frs[:, 0] + frs[:, 2]) / 2.0,
                                     (frs[:, 1] + frs[:, 3]) / 2.0])
                res &= _pair_hits(layer, ids, M, proper, tol).all(axis=0)
        for k in np.flatnonzero(res):
            if _hole_rings(lefts[k]) and not _holes_clear_of(lefts[k], rgeom):
                res[k] = False
    if predicate == "equals" and res.any():
        # topological equality additionally needs covers(R, L): pure
        # direction 1 (kernels.equals:990 = covers both ways)
        vext, _vi, _vb = _vertex_facts(lgeoms, ids, rgeom)
        ef = _edge_facts(lgeoms, ids, rgeom, eb)
        crl = ~vext & ~ef.any_fext
        if _hole_rings(rgeom):
            for k in np.flatnonzero(crl & res):
                if not _holes_clear_of(rgeom, lefts[k]):
                    crl[k] = False
        res &= crl
    return res


def group_predicate(predicate: str, lgeoms: list, rgeom) -> np.ndarray:
    """Evaluate ``predicate(lgeoms[i], rgeom)`` for a whole left batch;
    None lefts are False. Batch shapes without a batched path (a
    GeometryCollection right; beyond ``intersects``, a non-areal or
    edgeless right) run the exact scalar kernel per left. Raises
    ValueError for a predicate outside the supported set."""
    if predicate not in _SUPPORTED:
        raise ValueError(
            f"predicate {predicate!r} is not supported by group_predicate; "
            f"valid: {sorted(_SUPPORTED)}")
    n = len(lgeoms)
    out = np.zeros(n, dtype=bool)
    if rgeom is None or rgeom.is_empty or n == 0:
        return out
    eb = _edges(rgeom) if rgeom.type_id in (POLYGON, MULTIPOLYGON) else []
    if rgeom.type_id == GEOMETRYCOLLECTION or not (
            len(eb) or predicate == "intersects"):
        # no batched path: exact scalar kernel per left
        fn = getattr(K, predicate)
        return np.fromiter((g is not None and bool(fn(g, rgeom)) for g in lgeoms),
                           dtype=bool, count=n)
    rb = bounds(rgeom)

    dims = np.full(n, -2, dtype=np.int64)
    LB = np.full((n, 4), np.nan)
    for i, g in enumerate(lgeoms):
        if g is None or g.is_empty:
            continue
        if g.type_id == GEOMETRYCOLLECTION:
            out[i] = bool(getattr(K, predicate)(g, rgeom))
            dims[i] = -3  # decided via scalar fallback
            continue
        dims[i] = _dim(g)
        LB[i] = bounds(g)

    # batched bbox gate — a necessary condition per predicate family
    valid = (dims >= 0) & ~np.isnan(LB[:, 0])
    lb = np.where(valid[:, None], LB, 0.0)
    if predicate in ("within", "covered_by"):
        alive = valid & ((lb[:, 0] >= rb[0]) & (lb[:, 1] >= rb[1])
                         & (lb[:, 2] <= rb[2]) & (lb[:, 3] <= rb[3]))
    elif predicate in ("contains", "covers", "contains_properly"):
        alive = valid & ((lb[:, 0] <= rb[0]) & (lb[:, 1] <= rb[1])
                         & (lb[:, 2] >= rb[2]) & (lb[:, 3] >= rb[3]))
    elif predicate == "equals":
        alive = valid & ((lb[:, 0] == rb[0]) & (lb[:, 1] == rb[1])
                         & (lb[:, 2] == rb[2]) & (lb[:, 3] == rb[3]))
    else:  # intersects / touches / overlaps / crosses: bboxes must meet
        alive = valid & ~((lb[:, 0] > rb[2]) | (rb[0] > lb[:, 2])
                          | (lb[:, 1] > rb[3]) | (rb[1] > lb[:, 3]))
    if not alive.any():
        return out

    if predicate == "intersects":
        # kernels.intersects as three batched stages, each only over the
        # lefts still undecided: a left vertex on closure(R); an R vertex
        # on closure(L) (one transpose pass over every such left); a left
        # edge meeting an R edge, proper or touching
        ids = np.flatnonzero(alive)
        _ve, vint, vbnd = _vertex_facts(lgeoms, ids, rgeom)
        hit = vint | vbnd
        und = np.flatnonzero(~hit)
        if len(und):
            hit[und[_pair_hits(_layer(lgeoms, ids[und]), ids[und],
                               _points_of(rgeom)).any(axis=0)]] = True
        und = np.flatnonzero(~hit)
        if len(und):
            se, owner = _stacked_edges(lgeoms, ids[und])
            hit[und[_segments_intersect_pairs(se, _edges(rgeom), owner,
                                              len(und))]] = True
        out[ids] = hit
        return out

    i0 = np.flatnonzero(alive & (dims == 0))
    i1 = np.flatnonzero(alive & (dims == 1))
    i2 = np.flatnonzero(alive & (dims == 2))

    if predicate in ("within", "covered_by"):
        # contains(R, L) / covers(R, L) — direction 1 only, fully batched
        # (kernels.contains:632 / covers:674 with a=R, b=L)
        holes_r = _hole_rings(rgeom)
        if len(i0):
            vext, vint, _vb = _vertex_facts(lgeoms, i0, rgeom)
            out[i0] = ~vext if predicate == "covered_by" else (~vext & vint)
        for ids in (i1, i2):
            if not len(ids):
                continue
            vext, vint, _vb = _vertex_facts(lgeoms, ids, rgeom)
            ef = _edge_facts(lgeoms, ids, rgeom, eb)
            res = ~vext & ~ef.any_fext
            if predicate == "within" and ids is i1:
                # line in areal R additionally needs an interior witness
                res &= vint | ef.any_fint
            if ids is i2 and holes_r:
                # a hole of R admitting L into R's exterior breaks it
                for k in np.flatnonzero(res):
                    if not _holes_clear_of(rgeom, lgeoms[ids[k]]):
                        res[k] = False
            out[ids] = res
        return out

    if predicate in ("contains", "covers", "contains_properly", "equals"):
        # only areal lefts can contain/cover/equal an areal R (db > da
        # fails in the scalar kernels too); survivors of the batched
        # bbox gate evaluate fully batched — no per-pair dispatch
        if len(i2):
            out[i2] = _contains_family_batched(predicate, lgeoms, i2,
                                               rgeom, eb, _layer(lgeoms, i2))
        return out

    if predicate == "crosses":
        # kernels.crosses:922 — vs areal R only dim<2 lefts can cross
        if len(i0):
            vext, vint, _vb = _vertex_facts(lgeoms, i0, rgeom)
            out[i0] = vint & vext
        if len(i1):
            ef = _edge_facts(lgeoms, i1, rgeom, eb)
            out[i1] = ef.any_fint & ef.any_fext
        return out

    if predicate == "touches":
        # touches = intersects ∧ ¬(int∩int), both derived from the SAME
        # batched fact set:
        # closure contact = a left sample on closure(R) (vertices +
        # noded fragments cover ∂L exactly) ∨ an R vertex on closure(L)
        # (the transpose pass — catches an R vertex kissing a left edge
        # interior, where noding leaves both midpoints exterior) ∨ R's
        # interior rep point inside L (R strictly inside L, no contact
        # elsewhere). Two segments meeting at one interior-interior
        # point must cross properly, which noding turns into an INTERIOR
        # fragment, so no separate edge-touch detector is needed.
        if len(i0):
            vext, vint, vbnd = _vertex_facts(lgeoms, i0, rgeom)
            out[i0] = vbnd & ~vint
        rpts = _points_of(rgeom)
        reps = _part_rep_points(rgeom)
        layer = _layer(lgeoms, np.concatenate([i1, i2]))
        for ids in (i1, i2):
            if not len(ids):
                continue
            _ve, vint, vbnd = _vertex_facts(lgeoms, ids, rgeom)
            ef = _edge_facts(lgeoms, ids, rgeom, eb)
            rv_closure = _pair_hits(layer, ids, rpts).any(axis=0)
            inter = vbnd | vint | ef.any_fint | ef.any_fbnd | rv_closure
            ii = vint | ef.any_fint
            if ids is i2 and len(reps):
                rep_int = _pair_hits(layer, ids, reps, True).any(axis=0)
                inter |= rep_int
                ii |= rep_int
            out[ids] = inter & ~ii
        return out

    # overlaps (kernels.overlaps:971) — same-dim only; R areal ⇒ dim-2 lefts
    if len(i2):
        layer = _layer(lgeoms, i2)
        ii = _areal_ii(lgeoms, i2, rgeom, eb, layer)
        und = np.flatnonzero(ii)
        if len(und):
            # ¬covers(R,L): direction 1, batched over the candidates
            sub = i2[und]
            vext, _vi, _vb = _vertex_facts(lgeoms, sub, rgeom)
            ef = _edge_facts(lgeoms, sub, rgeom, eb)
            crl = ~vext & ~ef.any_fext  # covers(R, L) so far
            holes_r = _hole_rings(rgeom)
            for k in np.flatnonzero(crl):
                if holes_r and not _holes_clear_of(rgeom, lgeoms[sub[k]]):
                    crl[k] = False
            res = ~crl
            # ¬covers(L,R): bbox gate, then the batched family check
            cand = np.flatnonzero(
                res & (LB[sub, 0] <= rb[0]) & (LB[sub, 1] <= rb[1])
                & (LB[sub, 2] >= rb[2]) & (LB[sub, 3] >= rb[3]))
            if len(cand):
                clr = _contains_family_batched(
                    "covers", lgeoms, sub[cand], rgeom, eb, layer)
                res[cand[clr]] = False
            out[sub] = res
    return out


def _areal_ii(lgeoms, ids, rgeom, eb, layer) -> np.ndarray:
    """Batched int∩int for areal lefts vs areal R, EXACT and with no
    per-left noding loop (r5 — the first cut ran a per-undecided-left
    (∂R vs L) noding pass, which dominated touch-heavy joins):

    1. ∂L-side witnesses, batched: a left vertex strictly inside R, or a
       noded-∂L fragment strictly inside R (noding at ∂R makes fragment
       midpoints classify the WHOLE fragment, so this step is exact; a
       proper edge crossing is subsumed — the crossing splits the left
       edge and its inner sub-fragment classifies INTERIOR).
    2. Lefts with no such witness have ∂L ∩ int(R) = ∅ exactly. Then,
       per connected component C of int(R) (one per polygon part — a
       holed polygon's interior is connected): C ∩ ∂L = ∅, so C lies
       wholly inside or wholly outside L, and ONE representative
       interior point per part decides int(L) ∩ C ≠ ∅ for the whole
       component. The rep points (point_on_surface per part, computed
       once per R) classify against every undecided left in one layer
       pass — no noding of ∂R at all."""
    _ve, vint, _vb = _vertex_facts(lgeoms, ids, rgeom)
    ef = _edge_facts(lgeoms, ids, rgeom, eb)
    ii = vint | ef.any_fint
    und = np.flatnonzero(~ii)
    if len(und):
        reps = _part_rep_points(rgeom)
        if len(reps):
            ii[und[_pair_hits(layer, ids[und], reps, True).any(axis=0)]] = True
    return ii
