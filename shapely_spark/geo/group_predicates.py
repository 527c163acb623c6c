"""Pair-vectorized binary predicates: every candidate (left, right) pair
of an Arrow batch decided in ONE call — the spatial_join_geom refine hot
path for every supported predicate. ``pair_predicate`` is the engine;
``group_predicate`` (a left batch against one right) is its one-right
case.

Semantics are pinned to the scalar kernels (geo/kernels.py), which pin
the reference (shapely/predicates.py:556 contains, :729 covers, :905
overlaps, :968 touches, :500 crosses) — agreement is enforced by fuzz
tests (tests/test_group_predicates.py). The decomposition:

- **Extract once per distinct geometry** (``_Pool``): each distinct left
  and right of the call gives its dim, bounds, vertices and edges once,
  as ragged arrays keyed by pool code; one ``RaggedPolygonLayer`` over
  the pool is the point locator of every stage. Pairs read all of it by
  gather, so a left met by many rights pays its extraction once.
- **Pair-tagged stages**, each one pass over the pairs still undecided:
  the bbox gate; vertex facts (one side's vertices classified against
  the other side in one layer pass, ``_vertex_facts``); edge facts (one
  side's edges noded against ONLY its own pair's other edges, by ragged
  expansion, at the pair's own ``_overlay_tol`` as the scalar kernels
  do, fragment midpoints classified in one layer pass — noding first is
  what puts each fragment in a single DE-9IM class, and a proper
  crossing splits the edge so its inner sub-fragment reads INTERIOR);
  edge-meets-edge for ``intersects``; part representative points.
- **int∩int by topology**: once the edge and vertex facts prove ∂A never
  enters int(B), each connected component of int(B) (one per polygon
  part) lies wholly inside or wholly outside A — ONE representative
  interior point per B part decides the rest (``_ii_and_contact``).
- **One covers kernel** (``_covers``): covers / contains /
  contains_properly of an areal P over any Q from Q's vertices and Q's
  edges noded at ∂P, then the hole probe of a holed P per survivor. The
  within family, the contains family, equals and overlaps compose it.

Batched shape: beyond ``intersects`` (batched for any point/line/polygon
pair), one side must be areal. A pair whose areal side is the left is
answered through the converse predicate with the roles swapped
(``crosses``/``touches`` are symmetric; ``contains``/``covers`` map to
``within``/``covered_by``), so a lineal right such as ``line_crosses``'s
rides the batched path. Pairs with a GeometryCollection side, and
(beyond ``intersects``) pairs with no areal side, run the exact scalar
kernel per pair. This module is the only place that decides how a
candidate pair is evaluated.

Invalid-input note: predicates on INVALID geometry are undefined in the
reference (GEOS requires valid input). For a zero-area polygon part the
pair path takes the principled reading — its interior is EMPTY, so it
can witness no int∩int (``_rep_points`` gives it no representative
point, and every one it gives is verified strictly interior);
the scalar kernel's collinear-nudge heuristic can disagree there
because a zero-area ring has no defined orientation. Valid inputs agree
exactly (fuzz-pinned).
"""

from __future__ import annotations

import numpy as np

from . import kernels as K
from .geom import GEOMETRYCOLLECTION, POLYGON
from .kernels import (
    _NO_CROSS, _NO_SEGS, BOUNDARY, EXTERIOR, INTERIOR, RaggedPolygonLayer, _chunks, _dim,
    _edges, _expand, _hole_rings, _holes_clear_of, _owner_segments, _points_of,
    _ragged, _ragged_bounds, _segments_meet,
)
from .arrangement import (
    _edge_fragments, _event_hits, _merge_params, _split_events, shared_sides,
)

_SUPPORTED = {
    "intersects", "within", "covered_by", "touches", "overlaps", "crosses",
    "contains", "covers", "contains_properly", "equals",
}
# pred(a, b) == _CONVERSE[pred](b, a); "within_properly" is internal
_CONVERSE = {
    "within": "contains", "contains": "within", "covered_by": "covers",
    "covers": "covered_by", "contains_properly": "within_properly",
}
# the within family as the covers kernel with the roles swapped
_WITHIN = {"within": "contains", "covered_by": "covers",
           "within_properly": "contains_properly"}


class _Pool:
    """Per-geometry facts of a call's distinct geometries, each extracted
    once: dim (-1 for None/EMPTY), collection flag, bounds, hole flag,
    noding span, and vertices and edges as ragged arrays keyed by pool
    code. The point locator over the pool is built on first use from the
    layer segments taken in the same walk."""

    def __init__(self, geoms: list):
        self.geoms = geoms
        n = len(geoms)
        self.dim = np.full(n, -1, dtype=np.int64)
        self.gc = np.zeros(n, dtype=bool)
        self.holed = np.zeros(n, dtype=bool)
        verts, edges = [np.zeros((0, 2))] * n, [np.zeros((0, 4))] * n
        self._segs = [(_NO_SEGS, _NO_CROSS)] * n
        for k, g in enumerate(geoms):
            if g is None or g.is_empty:
                continue
            self.gc[k] = g.type_id == GEOMETRYCOLLECTION
            self.dim[k] = _dim(g)
            self.holed[k] = bool(_hole_rings(g))
            verts[k] = _points_of(g)
            # the layer's boundary segments of a polygon or a line are its
            # edges; a point's are zero-length and a collection's areal only
            self._segs[k] = _owner_segments(g)
            edges[k] = (self._segs[k][0] if self.dim[k] >= 1 and not self.gc[k]
                        else _edges(g))
        self.vstart, self.vxy = _ragged(verts, 2)
        self.estart, self.eseg = _ragged(edges, 4)
        self.ecount = np.diff(self.estart)
        self.bbox = _ragged_bounds(self.vstart, self.vxy)
        # _overlay_tol's span of the geometry's edges
        self.span = np.ones(n)
        has = self.ecount > 0
        if has.any():
            self.span[has] = np.maximum(1.0, np.maximum.reduceat(
                np.abs(self.eseg).max(axis=1), self.estart[:-1][has]))
        self._layer = None

    @property
    def layer(self) -> RaggedPolygonLayer:
        if self._layer is None:
            self._layer = RaggedPolygonLayer.from_owner_segments(self._segs)
        return self._layer

    def reps(self, codes: np.ndarray):
        """(pair, x, y) rows: the part rep points of areal geoms[codes[pair]]
        that are strictly inside it, for every distinct code in one pass."""
        uniq, inv = np.unique(codes, return_inverse=True)
        owner, x, y = _rep_points([self.geoms[c] for c in uniq])
        ok = self.layer.classify_many(uniq[owner], x, y) == INTERIOR
        start = np.searchsorted(owner[ok], np.arange(len(uniq) + 1))
        row, at = _expand(start, inv)
        return row, x[ok][at], y[ok][at]


def _any_by(row: np.ndarray, mask: np.ndarray, m: int) -> np.ndarray:
    return np.bincount(row[mask], minlength=m) > 0


def _vertex_facts(pool: _Pool, src, dst):
    """(any EXTERIOR, any INTERIOR, any BOUNDARY) per pair k: src[k]'s
    vertices against dst[k], every pair in one layer pass (closure only,
    as BOUNDARY, for a non-areal dst)."""
    row, v = _expand(pool.vstart, src)
    cls = pool.layer.classify_many(dst[row], pool.vxy[v, 0], pool.vxy[v, 1])
    m = len(src)
    return (_any_by(row, cls == EXTERIOR, m), _any_by(row, cls == INTERIOR, m),
            _any_by(row, cls == BOUNDARY, m))


def _edge_pairs(pool: _Pool, src, dst):
    """Chunks (pair, src edges E, row, dst edge) of the ragged expansion
    of every src[k] edge against every dst[k] edge: triple i is edge
    E[row[i]] of pair[row[i]] against edge eseg[dst_edge[i]]."""
    er, ei = _expand(pool.estart, src)
    for s in _chunks(pool.ecount[dst[er]], 1 << 18):
        row, oj = _expand(pool.estart, dst[er[s]])
        yield er[s], pool.eseg[ei[s]], row, oj


def _edge_facts(pool: _Pool, src, dst):
    """(any EXTERIOR, any INTERIOR, any BOUNDARY) fragment per pair k:
    src[k]'s edges noded at dst[k]'s edges with the pair's own
    _overlay_tol, fragment midpoints classified against areal dst[k]
    with on-∂ at that tolerance overriding (kernels._noded_class)."""
    m = len(src)
    f = np.zeros((3, m), dtype=bool)
    tol = np.maximum(pool.span[src], pool.span[dst]) * 1e-10
    for pair, E, row, oj in _edge_pairs(pool, src, dst):
        tr = tol[pair][row]
        h, t = _event_hits(_split_events(E[row].T, pool.eseg[oj].T, tr))
        fr, fe = _edge_fragments(E, *_merge_params(row[h], t))
        p = pair[fe]
        cls = pool.layer.classify_many(dst[p], (fr[:, 0] + fr[:, 2]) / 2.0,
                                       (fr[:, 1] + fr[:, 3]) / 2.0, tol[p])
        for i, c in enumerate((EXTERIOR, INTERIOR, BOUNDARY)):
            f[i] |= _any_by(p, cls == c, m)
    return f


def _edges_meet(pool: _Pool, src, dst, proper: bool = False) -> np.ndarray:
    """Per pair: does an edge of src[k] meet an edge of dst[k] (cross
    properly or, unless `proper`, touch)? Exact, as
    kernels._segments_intersect_pairs."""
    hit = np.zeros(len(src), dtype=bool)
    for pair, E, row, oj in _edge_pairs(pool, src, dst):
        hit[pair[row[_segments_meet(E[row].T, pool.eseg[oj].T, proper)]]] = True
    return hit


def _rep_points(geoms: list):
    """(owner, x, y): one representative point per polygon part of each
    geometry, all parts in one scanline pass. A part's scanline is the
    horizontal line halfway between the two vertex ys nearest its bbox's
    mid-height, so it passes through no vertex; its point is the midpoint
    of the widest interval the line cuts inside the part (even-odd). A
    polygon-with-holes interior is connected, so one point represents the
    whole component. A zero-area part has NO interior and gives none (its
    scanline meets nothing); the caller keeps only points it verifies
    strictly interior, so fp can never fabricate an int∩int witness."""
    owner, edges = [], []
    for k, g in enumerate(geoms):
        for p in [g] if g.type_id == POLYGON else (g.parts or []):
            e = _edges(p) if p.type_id == POLYGON else ()
            if len(e):
                owner.append(k)
                edges.append(e)
    start, E = _ragged(edges, 4)
    n = len(edges)
    if not n:
        return np.zeros(0, np.int64), np.zeros(0), np.zeros(0)
    pe = np.repeat(np.arange(n), np.diff(start))
    ys, at = E[:, 1], start[:-1]
    mid = ((np.minimum.reduceat(ys, at) + np.maximum.reduceat(ys, at)) / 2)[pe]
    line = (np.minimum.reduceat(np.where(ys > mid, ys, np.inf), at)
            + np.maximum.reduceat(np.where(ys <= mid, ys, -np.inf), at)) / 2
    c = (E[:, 1] > line[pe]) != (E[:, 3] > line[pe])
    x1, y1, x2, y2 = E[c].T
    xs = x1 + (line[pe[c]] - y1) * (x2 - x1) / (y2 - y1)
    part = pe[c]
    o = np.lexsort((xs, part))
    xs, part = xs[o], part[o]
    cnt = np.bincount(part, minlength=n)
    j = np.arange(len(part)) - np.repeat(np.cumsum(cnt) - cnt, cnt)
    i = np.flatnonzero((j % 2 == 0) & (j + 1 < cnt[part]))
    w = xs[i + 1] - xs[i]
    i, w = i[w > 0], w[w > 0]
    o = np.lexsort((-w, part[i]))
    first = np.ones(len(o), dtype=bool)
    first[1:] = part[i][o][1:] != part[i][o][:-1]
    i = i[o[first]]
    return (np.asarray(owner, dtype=np.int64)[part[i]], (xs[i] + xs[i + 1]) / 2,
            line[part[i]])


def _covers(pool: _Pool, P, Q, kernel: str = "covers") -> np.ndarray:
    """kernels.covers(P[k], Q[k]) per pair for areal P and Q of any dim;
    kernel "contains" adds the interior witness a Q of dim < 2 needs,
    "contains_properly" asks for Q in int(P). Direction 1 only: Q's
    vertices, then Q's edges noded at ∂P, then a holed P's hole probe
    (kernels._holes_clear_of), each over the pairs still alive."""
    proper = kernel == "contains_properly"
    dq = pool.dim[Q]
    ve, wit, vb = _vertex_facts(pool, Q, P)
    res = ~ve & ~vb if proper else ~ve
    k = np.flatnonzero(res & (dq >= 1))
    if len(k):
        fe, fi, fb = _edge_facts(pool, Q[k], P[k])
        res[k] = ~fe & ~fb if proper else ~fe
        wit[k] |= fi
    if kernel == "contains":
        res &= wit | (dq == 2)
    for k in np.flatnonzero(res & (dq == 2) & pool.holed[P]):
        res[k] = _holes_clear_of(pool.geoms[P[k]], pool.geoms[Q[k]])
    return res


def _ii_and_contact(pool: _Pool, A, B):
    """(int∩int, A ∩ B ≠ ∅ so far) per pair, A of dim >= 1, B areal, from
    the scalar kernels' witnesses. int∩int (kernels._interiors_intersect):
    a vertex or noded fragment of A strictly inside B; for areal A also
    B's part rep points strictly inside A (exact by topology once ∂A ∩
    int(B) = ∅), and, exactly, a vertex of B strictly inside A or a
    proper edge crossing — those two only where B has a rep point at all
    (a zero-area B has no interior to meet). Contact: a vertex of either
    on the other's closure (kernels.intersects' first two stages)."""
    m = len(A)
    _ve, vi, vb = _vertex_facts(pool, A, B)
    _fe, fi, _fb = _edge_facts(pool, A, B)
    ii, hit, rvi = vi | fi, vi | vb, np.zeros(m, dtype=bool)
    u = np.flatnonzero(~ii | ~hit)
    if len(u):
        _ve, rvi[u], rvb = _vertex_facts(pool, B[u], A[u])
        hit[u] |= rvi[u] | rvb
    u = np.flatnonzero(~ii & (pool.dim[A] == 2))
    if len(u):
        row, x, y = pool.reps(B[u])
        solid = np.bincount(row, minlength=len(u)) > 0
        cls = pool.layer.classify_many(A[u][row], x, y)
        ii[u] = _any_by(row, cls == INTERIOR, len(u)) | (solid & rvi[u])
        u = u[~ii[u] & solid]
        if len(u):
            ii[u] = _edges_meet(pool, A[u], B[u], proper=True)
    return ii, hit | ii


def _bbox_gate(pred: str, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """A necessary condition per predicate family on the pairs' bboxes."""
    if pred in _WITHIN:
        return ((a[:, 0] >= b[:, 0]) & (a[:, 1] >= b[:, 1])
                & (a[:, 2] <= b[:, 2]) & (a[:, 3] <= b[:, 3]))
    if pred in ("contains", "covers", "contains_properly"):
        return _bbox_gate("within", b, a)
    if pred == "equals":
        return (a == b).all(axis=1)
    # intersects / touches / overlaps / crosses: bboxes must meet
    return (~np.isnan(a[:, 0]) & ~np.isnan(b[:, 0])
            & (a[:, 0] <= b[:, 2]) & (b[:, 0] <= a[:, 2])
            & (a[:, 1] <= b[:, 3]) & (b[:, 1] <= a[:, 3]))


def _decide(pool: _Pool, pred: str, A, B) -> np.ndarray:
    """pred(A[k], B[k]) per pair, both sides non-empty and no collection;
    B areal unless pred is intersects."""
    out = np.zeros(len(A), dtype=bool)
    ids = np.flatnonzero(_bbox_gate(pred, pool.bbox[A], pool.bbox[B]))
    if not len(ids):
        return out
    A, B = A[ids], B[ids]
    da = pool.dim[A]
    if pred == "intersects":
        # kernels.intersects as three stages, each over the pairs still
        # undecided: an A vertex on closure(B); a B vertex on closure(A);
        # an A edge meeting a B edge, proper or touching
        _ve, vi, vb = _vertex_facts(pool, A, B)
        res = vi | vb
        u = np.flatnonzero(~res)
        if len(u):
            _ve, vi, vb = _vertex_facts(pool, B[u], A[u])
            res[u] = vi | vb
        u = np.flatnonzero(~res)
        if len(u):
            res[u] = _edges_meet(pool, A[u], B[u])
    elif pred in _WITHIN:
        res = _covers(pool, B, A, _WITHIN[pred])
    elif pred == "crosses":
        # kernels.crosses:922 — vs areal B only dim < 2 sides can cross
        res = np.zeros(len(A), dtype=bool)
        k = np.flatnonzero(da == 0)
        if len(k):
            ve, vi, _vb = _vertex_facts(pool, A[k], B[k])
            res[k] = vi & ve
        k = np.flatnonzero(da == 1)
        if len(k):
            fe, fi, _fb = _edge_facts(pool, A[k], B[k])
            res[k] = fi & fe
    elif pred == "touches":
        # kernels.touches: intersects ∧ ¬(int∩int), the last intersects
        # stage (an edge meeting an edge) only where still undecided
        res = np.zeros(len(A), dtype=bool)
        k = np.flatnonzero(da == 0)
        if len(k):
            _ve, vi, vb = _vertex_facts(pool, A[k], B[k])
            res[k] = vb & ~vi
        k = np.flatnonzero(da >= 1)
        if len(k):
            ii, hit = _ii_and_contact(pool, A[k], B[k])
            u = np.flatnonzero(~hit)
            if len(u):
                hit[u] = _edges_meet(pool, A[k[u]], B[k[u]])
            res[k] = hit & ~ii
    else:
        # contains family, equals, overlaps: only an areal A qualifies
        # (db > da fails in the scalar kernels too)
        res = da == 2
        k = np.flatnonzero(res)
        if pred == "overlaps":
            # kernels.overlaps:971 — int∩int, ¬covers(B, A), ¬covers(A, B)
            res[k] = _ii_and_contact(pool, A[k], B[k])[0]
            k = np.flatnonzero(res)
            res[k] = ~_covers(pool, B[k], A[k])
            k = np.flatnonzero(res & _bbox_gate("covers", pool.bbox[A], pool.bbox[B]))
            res[k] = ~_covers(pool, A[k], B[k])
        else:
            res[k] = _covers(pool, A[k], B[k], "covers" if pred == "equals" else pred)
            if pred == "equals":
                k = np.flatnonzero(res)
                res[k] = _covers(pool, B[k], A[k])
    out[ids] = res
    return out


def pair_predicate(predicate: str, lgeoms: list, rgeoms: list, li, ri) -> np.ndarray:
    """Evaluate ``predicate(lgeoms[li[k]], rgeoms[ri[k]])`` for every
    candidate pair k in one call; pairs with a None side are False, and
    so are pairs with an EMPTY side, except ``equals`` of two EMPTYs,
    which is True as in the scalar kernel. Pairs without a batched path
    (a GeometryCollection side; beyond ``intersects``, no areal side) run
    the exact scalar kernel.
    Raises ValueError for a predicate outside the supported set."""
    if predicate not in _SUPPORTED:
        raise ValueError(
            f"predicate {predicate!r} is not supported by pair_predicate; "
            f"valid: {sorted(_SUPPORTED)}")
    a = np.asarray(li, dtype=np.int64)
    b = np.asarray(ri, dtype=np.int64) + len(lgeoms)
    out = np.zeros(len(a), dtype=bool)
    if not len(a):
        return out
    pool = _Pool(list(lgeoms) + list(rgeoms))
    da, db = pool.dim[a], pool.dim[b]
    live = (da >= 0) & (db >= 0) & ~pool.gc[a] & ~pool.gc[b]
    if predicate == "intersects":
        swap, batched = np.zeros(len(a), dtype=bool), live
    else:
        swap = live & (da == 2) & (db < 2)
        batched = live & ((db == 2) | swap)
    fn = getattr(K, predicate)
    with shared_sides():  # each geometry's relate side built once per call
        for k in np.flatnonzero((da >= 0) & (db >= 0) & ~batched):
            out[k] = fn(pool.geoms[a[k]], pool.geoms[b[k]])
    A, B = np.where(swap, b, a), np.where(swap, a, b)
    conv = _CONVERSE.get(predicate, predicate)
    groups = {predicate: batched & ~swap}
    groups[conv] = groups.get(conv, False) | (batched & swap)
    for pred, sel in groups.items():
        k = np.flatnonzero(sel)
        if len(k):
            out[k] = _decide(pool, pred, A[k], B[k])
    if predicate == "equals":  # dim -1 is None or EMPTY
        for k in np.flatnonzero((da < 0) & (db < 0)):
            out[k] = pool.geoms[a[k]] is not None and pool.geoms[b[k]] is not None
    return out


def group_predicate(predicate: str, lgeoms: list, rgeom) -> np.ndarray:
    """``predicate(lgeoms[i], rgeom)`` for a whole left batch: the
    one-right case of pair_predicate."""
    n = len(lgeoms)
    return pair_predicate(predicate, lgeoms, [rgeom], np.arange(n),
                          np.zeros(n, dtype=np.int64))
