"""One labelled arrangement of two geometries: the noding that DE-9IM
relate and the pairwise overlay ops both read.

Reference semantics: shapely/predicates.py:1194 relate (GEOS RelateNG)
and shapely/set_operations.py:41,114,247,395 (GEOS OverlayNG). SURVEY
§2.2 asks for "the 3×3 matrix from the same intersection classifier";
this module is that classifier.

Each input is the union of its members, split by dimension (a
GeometryCollection is first canonicalised by overlay._canonical_dims:
areal members dissolved, line parts inside the area dropped, points on
higher-dimension parts dropped):
  - an areal part: rings oriented shells CCW / holes CW, so every
    directed ring edge has the interior on its LEFT;
  - a lineal part: its edges plus its mod-2 boundary points;
  - a puntal part: isolated points.

``Arrangement(a, b)``:
  1. nodes A's linework (ring and line edges) at B's, and B's at A's,
     once (collinear overlaps split at the other's endpoints), so every
     fragment lies in ONE DE-9IM class of the other input;
  2. labels each fragment with the class of its midpoint in the other
     input (area before line before point, as GEOS RelatePointLocator);
     a ring fragment lying on the other's area boundary also gets the
     other's area class just LEFT and just RIGHT of it (``sides``);
  3. locates the isolated points the same way: point members, line
     boundary points, and the nodes where the two linework sets cross or
     touch (``nodes``).

``matrix`` reads all nine cells from these labels; ``select`` picks the
directed ring fragments bounding an areal overlay result. The named
predicates keep their own decision logic and use only the one-sided
labelling (``label``) and the side probe.
"""

from __future__ import annotations

from contextlib import contextmanager
from contextvars import ContextVar

import numpy as np

from .geom import (
    GEOMETRYCOLLECTION, LINEARRING, LINESTRING, MULTILINESTRING, MULTIPOINT,
    MULTIPOLYGON, POINT, POLYGON, Geometry,
)
from .kernels import (
    BOUNDARY, EXTERIOR, INTERIOR, _line_boundary_points, points_in_rings_class,
    points_on_segments, signed_ring_area,
)

_NO_EDGES = np.zeros((0, 4))
_NO_POINTS = np.zeros((0, 2))


# ---------------------------------------------------------------------------
# linework extraction
# ---------------------------------------------------------------------------

def _poly_rings_oriented(geom: Geometry) -> list[np.ndarray]:
    """All rings of a (multi)polygon, shells CCW and holes CW, closed,
    consecutive duplicate vertices dropped."""
    out = []
    if geom.type_id == POLYGON:
        ring_sets = [geom.rings or []]
    elif geom.type_id in (MULTIPOLYGON, GEOMETRYCOLLECTION):
        ring_sets = [p.rings or [] for p in (geom.parts or []) if p.type_id == POLYGON]
    else:
        return []
    for rings in ring_sets:
        for i, r in enumerate(rings):
            c = np.asarray(r, dtype=np.float64)[:, :2]
            if len(c) < 4:
                continue
            keep = np.ones(len(c), dtype=bool)
            keep[1:] = np.any(c[1:] != c[:-1], axis=1)
            c = c[keep]
            if len(c) < 4 or np.any(c[0] != c[-1]):
                if len(c) >= 3 and np.any(c[0] != c[-1]):
                    c = np.vstack([c, c[:1]])
                if len(c) < 4:
                    continue
            a = signed_ring_area(c)
            want_ccw = i == 0  # shell first, holes after (geom.py Polygon layout)
            if (a > 0) != want_ccw and a != 0:
                c = c[::-1]
            out.append(c)
    return out


def _edges_of(rings: list[np.ndarray]) -> np.ndarray:
    """(n,4) directed segments following ring orientation."""
    if not rings:
        return _NO_EDGES
    return np.concatenate(
        [np.column_stack([c[:-1], c[1:]]) for c in rings], axis=0
    )


def _line_edges(g: Geometry) -> np.ndarray:
    """(n,4) directed segments of all constituent lines."""
    segs = []
    for c in g.coord_seqs():
        c2 = np.asarray(c, dtype=np.float64)[:, :2]
        if len(c2) >= 2:
            segs.append(np.column_stack([c2[:-1], c2[1:]]))
    return np.concatenate(segs, axis=0) if segs else _NO_EDGES


def _overlay_tol(*edge_sets) -> float:
    span = 1.0
    for e in edge_sets:
        if len(e):
            span = max(span, float(np.abs(e).max()))
    return span * 1e-10


# ---------------------------------------------------------------------------
# noding: split edges at intersections
# ---------------------------------------------------------------------------

def _node_params(edges: np.ndarray, other: np.ndarray, tol: float):
    """(h, t): every parameter t∈(0,1) where edge h crosses/touches an edge
    of `other` (collinear overlaps contribute the projections of the other
    edge's endpoints), sorted by edge then t."""
    if not len(edges) or not len(other):
        return np.zeros(0, dtype=np.int64), np.zeros(0)
    return _merge_params(*_event_hits(
        _split_events(edges.T[:, :, None], other.T[:, None, :], tol)))


def _split_params(edges: np.ndarray, other: np.ndarray, tol: float) -> list[np.ndarray]:
    """_node_params as one sorted array of t per edge."""
    h, t = _node_params(edges, other, tol)
    return np.split(t, np.cumsum(np.bincount(h, minlength=len(edges)))[:-1])


def _inner(a):
    c = np.clip(a, 0.0, 1.0)
    return (c > 1e-12) & (c < 1 - 1e-12)


def _split_events(e, o, tol):
    """Noding events of segment e against segment o, elementwise
    (broadcasting) over the coordinate columns e = (x1, y1, x2, y2) and o,
    with `tol` a scalar or one per element: ((param, mask), ...) for a
    proper crossing at parameter t of e, and for each endpoint of o lying
    on e (a touch, or a collinear overlap) its projection t3 or t4. Only
    parameters strictly inside (0, 1) are marked: endpoint touches and
    full-span overlaps split nothing.

    "On" is the collinear rule |cross| <= tol·max(1, |d|₁) against the
    other segment's direction d. Two non-parallel segments meet once, so
    where an endpoint of either is on the other, that endpoint is where
    they meet and the line-line solve is dropped: its error grows as
    1/denom, and two near-parallel edges into one shared vertex solve to
    a point ~1e-8 short of it, which would split one side only. An
    endpoint of o splits e wherever it is on e, parallel or not: two
    near-collinear edges from one shared vertex, the shorter ending on
    the longer within tol but |denom| > tol, must split the longer at
    that end."""
    x1, y1, x2, y2 = e
    x3, y3, x4, y4 = o
    dx1, dy1 = x2 - x1, y2 - y1
    dx2, dy2 = x4 - x3, y4 - y3
    ex, ey = x3 - x1, y3 - y1
    denom = dx1 * dy2 - dy1 * dx2
    tn = ex * dy2 - ey * dx2  # cross of o with p1 - p3; with p2: tn - denom
    un = ex * dy1 - ey * dx1  # cross of e with p3 - p1, negated; p4: denom - un
    with np.errstate(divide="ignore", invalid="ignore"):
        t = tn / denom
        u = un / denom
    crossing = (np.abs(denom) > tol) & (t >= -tol) & (t <= 1 + tol) & (u >= -tol) & (u <= 1 + tol)
    tol_e = tol * np.maximum(1.0, np.abs(dx1) + np.abs(dy1))
    tol_o = tol * np.maximum(1.0, np.abs(dx2) + np.abs(dy2))
    on3 = np.abs(un) <= tol_e
    on4 = np.abs(denom - un) <= tol_e
    ends_on = on3 | on4 | (np.abs(tn) <= tol_o) | (np.abs(tn - denom) <= tol_o)
    len2 = dx1 * dx1 + dy1 * dy1
    with np.errstate(divide="ignore", invalid="ignore"):
        t3 = (ex * dx1 + ey * dy1) / len2
        t4 = ((x4 - x1) * dx1 + (y4 - y1) * dy1) / len2
    return ((t, crossing & ~ends_on & _inner(t)), (t3, on3 & _inner(t3)),
            (t4, on4 & _inner(t4)))


def _event_hits(events):
    """(h, t) of every marked event: h its first index (the edge of a
    dense event matrix, the element of an elementwise one), t its param."""
    idx = [np.nonzero(m) for _, m in events]
    return (np.concatenate([i[0] for i in idx]),
            np.concatenate([p[i] for (p, _), i in zip(events, idx)]))


def _merge_params(h, t):
    """Split params (owner h, param t) sorted by owner then t, exact
    repeats dropped, and fp-noise twins merged (e.g. a crossing AND a
    collinear projection of the same touch point differing by ~1e-16):
    they otherwise yield degenerate fragments whose midpoint sits exactly
    ON the noding point."""
    o = np.lexsort((t, h))
    h, t = h[o], t[o]
    keep = np.ones(len(h), dtype=bool)
    keep[1:] = (h[1:] != h[:-1]) | (t[1:] != t[:-1])
    h, t = h[keep], t[keep]
    keep = np.ones(len(h), dtype=bool)
    keep[1:] = (h[1:] != h[:-1]) | (np.diff(t) > 1e-12)
    return h[keep], t[keep]


def _edge_fragments(edges: np.ndarray, h: np.ndarray, t: np.ndarray):
    """Split edges[i] at its params t[h == i] (h sorted, t sorted per
    edge) → (fragments (m, 4), source edge of each), zero-length
    fragments dropped. Endpoint params (0/1) reuse the edge's EXACT
    vertices: x1 + 1.0·(x2−x1) can be off by an ulp, and an ulp landing
    on a stitch-key quantization boundary severs the ring walk (r3 fuzz:
    pentagon∖box came back empty because a reversed fragment end differed
    from the shared ring vertex by 2e-17 across a bucket edge)."""
    k = np.bincount(h, minlength=len(edges))
    src = np.repeat(np.arange(len(edges)), k + 1)
    edges = np.asarray(edges, dtype=np.float64)
    fr = edges[src]
    if len(h):
        e = edges[h]
        px = e[:, 0] + t * (e[:, 2] - e[:, 0])
        py = e[:, 1] + t * (e[:, 3] - e[:, 1])
        # split j of edge i ends its fragment j and starts fragment j + 1
        at = (np.cumsum(k + 1) - k - 1)[h] + np.arange(len(h)) - (np.cumsum(k) - k)[h]
        fr[at, 2], fr[at, 3] = px, py
        fr[at + 1, 0], fr[at + 1, 1] = px, py
    dx, dy = fr[:, 2] - fr[:, 0], fr[:, 3] - fr[:, 1]
    keep = dx * dx + dy * dy > 0
    return fr[keep], src[keep]


def _noded(edges: np.ndarray, other: np.ndarray, tol: float):
    """(fragments, source edge of each): `edges` split wherever they cross
    or touch an edge of `other`."""
    return _edge_fragments(edges, *_node_params(edges, other, tol))


def _crossing_touch_points(ea: np.ndarray, eb: np.ndarray, tol: float) -> np.ndarray:
    """0-D intersection candidates between two noded-independent segment
    sets: proper/endpoint crossings plus endpoint-on-segment touches
    (covers collinear end-to-end touches, which have no crossing param)."""
    pts = []
    if len(ea) and len(eb):
        x1, y1 = ea[:, 0][:, None], ea[:, 1][:, None]
        dx1, dy1 = (ea[:, 2] - ea[:, 0])[:, None], (ea[:, 3] - ea[:, 1])[:, None]
        x3, y3 = eb[:, 0][None, :], eb[:, 1][None, :]
        dx2, dy2 = (eb[:, 2] - eb[:, 0])[None, :], (eb[:, 3] - eb[:, 1])[None, :]
        ex, ey = x3 - x1, y3 - y1
        denom = dx1 * dy2 - dy1 * dx2
        with np.errstate(divide="ignore", invalid="ignore"):
            t = (ex * dy2 - ey * dx2) / denom
            u = (ex * dy1 - ey * dx1) / denom
        hit = (np.abs(denom) > tol) & (t >= -1e-9) & (t <= 1 + 1e-9) \
            & (u >= -1e-9) & (u <= 1 + 1e-9)
        ii, jj = np.nonzero(hit)
        if len(ii):
            px = ea[ii, 0] + t[ii, jj] * (ea[ii, 2] - ea[ii, 0])
            py = ea[ii, 1] + t[ii, jj] * (ea[ii, 3] - ea[ii, 1])
            pts.append(np.column_stack([px, py]))
    for src, tgt in ((ea, eb), (eb, ea)):
        if len(src) and len(tgt):
            ends = np.concatenate([src[:, :2], src[:, 2:]], axis=0)
            on = points_on_segments(ends[:, 0], ends[:, 1], tgt, eps=tol)
            if on.any():
                pts.append(ends[on])
    if not pts:
        return _NO_POINTS
    allp = np.concatenate(pts, axis=0)
    _, idx = np.unique(np.round(allp / max(tol, 1e-12)).astype(np.int64),
                       axis=0, return_index=True)
    return allp[np.sort(idx)]


# ---------------------------------------------------------------------------
# labelling
# ---------------------------------------------------------------------------

def _mids(fr: np.ndarray):
    return (fr[:, 0] + fr[:, 2]) / 2.0, (fr[:, 1] + fr[:, 3]) / 2.0


def label(edges: np.ndarray, other: np.ndarray, tol: float, rings=()):
    """(fragments, class): the one-sided labelling. `edges` noded at
    `other`; each fragment's midpoint classed in the area of `rings`
    (EXTERIOR when none), BOUNDARY where it lies on `other` within tol."""
    fr, _ = _noded(edges, other, tol)
    mx, my = _mids(fr)
    cls = points_in_rings_class(mx, my, rings)
    cls[points_on_segments(mx, my, other, eps=tol)] = BOUNDARY
    return fr, cls


def sides(frags: np.ndarray, rings: list[np.ndarray], tol: float):
    """(left, right): the class in the area of `rings` of the points just
    left and just right of each fragment's midpoint, offset along its
    normal by max(length·1e-7, 10·tol) — the one side-probe rule."""
    dx, dy = frags[:, 2] - frags[:, 0], frags[:, 3] - frags[:, 1]
    ln = np.hypot(dx, dy)
    ln[ln == 0] = 1.0
    off = np.maximum(ln * 1e-7, tol * 10)
    nx, ny = -dy / ln * off, dx / ln * off
    mx, my = _mids(frags)
    return (points_in_rings_class(mx + nx, my + ny, rings),
            points_in_rings_class(mx - nx, my - ny, rings))


def _near(x, y, pts: np.ndarray, eps: float) -> np.ndarray:
    """Is each (x, y) within eps (per axis) of any of `pts`?"""
    if not len(pts) or not len(x):
        return np.zeros(len(x), dtype=bool)
    return ((np.abs(x[:, None] - pts[None, :, 0]) <= eps)
            & (np.abs(y[:, None] - pts[None, :, 1]) <= eps)).any(axis=1)


# id(geometry) -> (geometry, its _Side) inside a shared_sides() block
_SIDES: ContextVar[dict | None] = ContextVar("_SIDES", default=None)


@contextmanager
def shared_sides():
    """Within the block, every Arrangement of one geometry object reuses
    one _Side of it. A GeometryCollection's canonical form (union_all,
    node + line_merge, a difference per dimension pair) and any input's
    oriented rings and linework are then built once per geometry, not
    once per pair. The geometries must not change inside the block."""
    token = _SIDES.set({})
    try:
        yield
    finally:
        _SIDES.reset(token)


def _side(g: Geometry) -> "_Side":
    memo = _SIDES.get()
    if memo is None:
        return _Side(g)
    hit = memo.get(id(g))
    if hit is None or hit[0] is not g:  # the stored object pins its id
        hit = memo[id(g)] = (g, _Side(g))
    return hit[1]


class _Side:
    """One input as the union of its members: oriented rings, linework
    (ring edges first, then line edges), line boundary points, points."""

    __slots__ = ("rings", "edges", "n_ring", "points", "_lines", "_ends")

    def __init__(self, g: Geometry):
        tid = g.type_id
        if tid == GEOMETRYCOLLECTION:
            from .overlay import _canonical_dims

            P, L, G = _canonical_dims(g)
        else:
            P = g if tid in (POINT, MULTIPOINT) else None
            L = g if tid in (LINESTRING, LINEARRING, MULTILINESTRING) else None
            G = g if tid in (POLYGON, MULTIPOLYGON) else None
        self.rings = _poly_rings_oriented(G) if G is not None else []
        ring_edges = _edges_of(self.rings)
        self.n_ring = len(ring_edges)
        self._lines = L if L is not None and not L.is_empty else None
        self._ends = None
        self.edges = (np.concatenate([ring_edges, _line_edges(L)]) if self._lines
                      else ring_edges)
        self.points = (P.all_coords()[:, :2] if P is not None and not P.is_empty
                       else _NO_POINTS)

    @property
    def ends(self) -> np.ndarray:
        """The lineal part's mod-2 boundary points."""
        if self._ends is None:
            self._ends = (_line_boundary_points(self._lines) if self._lines
                          else _NO_POINTS)
        return self._ends

    def area_class(self, x, y, eps: float) -> np.ndarray:
        """Class in the areal part; on a ring edge within eps is BOUNDARY."""
        cls = points_in_rings_class(x, y, self.rings)
        if eps and self.rings:
            cls[points_on_segments(x, y, self.edges[:self.n_ring], eps)] = BOUNDARY
        return cls

    def locate(self, x, y, eps: float, area=None, points: bool = True) -> np.ndarray:
        """Class of each (x, y) in this side, area before line before point
        (GEOS RelatePointLocator precedence). `eps` loosens every on-test
        for fp-computed nodes and midpoints; 0 compares exactly. Fragment
        midpoints pass points=False: a noded fragment meets isolated points
        and line boundary points in dimension 0 only."""
        loc = np.zeros(len(x), dtype=np.int8)
        if points:
            loc[_near(x, y, self.points, eps)] = INTERIOR
        lines = self.edges[self.n_ring:]
        if len(lines):
            on = points_on_segments(x, y, lines, eps)
            loc[on] = INTERIOR
            if points:
                loc[on & _near(x, y, self.ends, eps * 10)] = BOUNDARY
        if self.rings:
            area = self.area_class(x, y, eps) if area is None else area
            loc = np.where(area != EXTERIOR, area, loc)
        return loc


class _Labels:
    """One side's linework noded at the other's: the directed fragments,
    whether each is a ring fragment (its side's boundary; else a line
    fragment, its side's interior), its midpoint's class in the other
    side (`loc`), and the other's area class just left and right of it
    (the midpoint's own area class unless it lies on the other's rings)."""

    __slots__ = ("frags", "ring", "loc", "left", "right")

    def __init__(self, side: _Side, other: _Side, tol: float):
        self.frags, src = _noded(side.edges, other.edges, tol)
        self.ring = src < side.n_ring
        mx, my = _mids(self.frags)
        area = other.area_class(mx, my, tol)
        self.loc = other.locate(mx, my, tol, area, points=False)
        self.left = self.right = area
        on = np.flatnonzero(self.ring & (area == BOUNDARY))
        if len(on):
            self.left, self.right = area.copy(), area.copy()
            self.left[on], self.right[on] = sides(self.frags[on], other.rings, tol)

    def same(self) -> np.ndarray:
        """Shared ring fragments with both interiors on the same side."""
        return (self.loc == BOUNDARY) & (self.left == INTERIOR) & (self.right != INTERIOR)


def _put(m: np.ndarray, ca, cb, dim: int, transpose: bool = False) -> None:
    """Raise the cells (class ca in A, class cb in B) of m to >= dim."""
    if transpose:
        ca, cb = cb, ca
    ca, cb = np.broadcast_arrays(np.asarray(ca, dtype=np.intp), np.asarray(cb, dtype=np.intp))
    np.maximum.at(m, (2 - ca, 2 - cb), dim)


def _reversed(fr: np.ndarray) -> np.ndarray:
    return fr[:, [2, 3, 0, 1]]


class Arrangement:
    """A's linework noded at B's and B's at A's, every fragment and
    isolated point labelled with its class in the other input (see the
    module docstring). `tol` is the noding tolerance (default: 1e-10 of
    the coordinate span)."""

    __slots__ = ("a", "b", "tol", "fa", "_fb")

    def __init__(self, a: Geometry, b: Geometry, tol: float | None = None):
        self.a, self.b = _side(a), _side(b)
        self.tol = _overlay_tol(self.a.edges, self.b.edges) if tol is None else tol
        self.fa = _Labels(self.a, self.b, self.tol)
        self._fb = None

    @property
    def fb(self) -> _Labels:
        """B's fragments, labelled on first use (line ops read A's only)."""
        if self._fb is None:
            self._fb = _Labels(self.b, self.a, self.tol)
        return self._fb

    def nodes(self) -> np.ndarray:
        """Points where A's linework crosses or touches B's."""
        return _crossing_touch_points(self.a.edges, self.b.edges, self.tol)

    def matrix(self) -> np.ndarray:
        """DE-9IM as 3×3 dimensions (-1 = F): rows I/B/E of A, columns
        I/B/E of B."""
        m = np.full((3, 3), -1, dtype=np.int64)
        m[2, 2] = 2
        A, B = self.a, self.b
        # 2-dim: a ring fragment has its side's interior on the left and
        # its exterior on the right, so the other's area class there
        # names a 2-dim cell. A bounded component of int A ∩ int B (or of
        # int A ∩ ext B) is bounded by fragments, so none is missed.
        if A.rings and B.rings:
            for f, t in ((self.fa, False), (self.fb, True)):
                for own, cls in ((INTERIOR, f.left[f.ring]), (EXTERIOR, f.right[f.ring])):
                    _put(m, own, cls[cls != BOUNDARY], 2, t)
        elif A.rings:
            m[0, 2] = 2
        elif B.rings:
            m[2, 0] = 2
        # 1-dim: each fragment's own class against its class in the other
        for f, t in ((self.fa, False), (self.fb, True)):
            _put(m, np.where(f.ring, BOUNDARY, INTERIOR), f.loc, 1, t)
        # 0-dim: point members, line boundary points, and the nodes
        for s, o, t in ((A, B, False), (B, A, True)):
            p = np.concatenate([s.points, s.ends])
            if len(p):
                own = np.repeat([INTERIOR, BOUNDARY], [len(s.points), len(s.ends)])
                _put(m, own, o.locate(p[:, 0], p[:, 1], 0.0), 0, t)
        if len(A.edges) == A.n_ring and len(B.edges) == B.n_ring:
            # a node of two ring-only linework sets is on both boundaries
            if m[1, 1] < 0 and len(self.nodes()):
                m[1, 1] = 0
        else:
            n = self.nodes()
            _put(m, A.locate(n[:, 0], n[:, 1], self.tol),
                 B.locate(n[:, 0], n[:, 1], self.tol), 0)
        return m

    def select(self, op: str) -> np.ndarray:
        """Directed ring fragments bounding the areal result of `op`, its
        face on the left (shared fragments kept once, from A):
          intersection: A in int(B) or shared same-side; B in int(A)
          union:        A in ext(B) or shared same-side; B in ext(A)
          difference:   A in ext(B) or shared opposite; B in int(A) reversed
          symmetric_difference: A in ext(B), A in int(B) reversed,
                        B in ext(A), B in int(A) reversed; shared dropped"""
        fa, fb = self.fa, self.fb
        a_in, a_out = fa.loc == INTERIOR, fa.loc == EXTERIOR
        b_in, b_out = fb.loc == INTERIOR, fb.loc == EXTERIOR
        if op == "intersection":
            keep = [fa.frags[a_in | fa.same()], fb.frags[b_in]]
        elif op == "union":
            keep = [fa.frags[a_out | fa.same()], fb.frags[b_out]]
        elif op == "difference":
            shared_opp = (fa.loc == BOUNDARY) & ~fa.same()
            keep = [fa.frags[a_out | shared_opp], _reversed(fb.frags[b_in])]
        elif op == "symmetric_difference":
            keep = [fa.frags[a_out], _reversed(fa.frags[a_in]),
                    fb.frags[b_out], _reversed(fb.frags[b_in])]
        else:  # pragma: no cover
            raise ValueError(op)
        return np.concatenate(keep, axis=0)
