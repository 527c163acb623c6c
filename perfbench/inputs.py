"""Seeded inputs and the expected outputs they imply.

Inputs are made once per (size, seed) and cached under the work
directory, so generating them never lands in a timed pass or in
``setup_s``. Expected outputs are computed here with plain NumPy from the
inputs' own coordinates -- never through shapely_spark's extract, cover,
join, tile or kNN code -- so a pass is checked independently of the path
it times.

- pages: ``synth_pages`` (the engine's pages-table fixture; seed-free, so
  one table per size serves every seed) written to parquet. The
  reference re-reads the geotags from the stored html with an Arrow
  regex.
- regions: ``synth_regions(seed=...)``, the seeded hotspot layer.
- geometry layers: four seed-jittered lattices whose pair sets are known
  in closed form (see ``geom_layers``).
"""

from __future__ import annotations

import math
import os
import shutil
import struct

import numpy as np

N_REGIONS = 1000
STORE_RES = 9  # extract.with_geo's cell resolution (index.cells.DEFAULT_RES)
PAIR_KEY = 1 << 20  # expected pairs are encoded as left_id * PAIR_KEY + right_id


# ---------------------------------------------------------------------------
# cell grid (the documented lon/lat grid, re-derived for the reference)
# ---------------------------------------------------------------------------

def grid_cells(lat: np.ndarray, lon: np.ndarray, res: int) -> np.ndarray:
    n = 1 << res
    ix = np.clip(np.floor((lon + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
    iy = np.clip(np.floor((lat + 90.0) / 180.0 * n), 0, n - 1).astype(np.int64)
    return iy * n + ix


# ---------------------------------------------------------------------------
# pages table
# ---------------------------------------------------------------------------

def pages_path(work: str, n_pages: int) -> str:
    return os.path.join(work, f"pages_{n_pages}")


def ensure_pages(spark, work: str, n_pages: int) -> str:
    """The pages parquet table, written once per size (``_SUCCESS`` marks
    a complete write)."""
    from shapely_spark.spark.pages import synth_pages

    path = pages_path(work, n_pages)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        shutil.rmtree(path, ignore_errors=True)
        parts = max(16, n_pages // 25_000)
        synth_pages(spark, n_pages, partitions=parts).write.parquet(path)
    return path


_GEO_RE = (r'<meta name="geo\.position" content="'
           r'(?P<lat>-?[0-9]+\.[0-9]+);(?P<lon>-?[0-9]+\.[0-9]+)"')


def page_coords(work: str, n_pages: int) -> tuple[np.ndarray, np.ndarray]:
    """(lat, lon) of every stored page, NaN where the geotag is missing or
    malformed; read from the html bytes with Arrow, cached as .npy."""
    cache = pages_path(work, n_pages) + "_coords.npy"
    if not os.path.exists(cache):
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        html = pq.read_table(pages_path(work, n_pages), columns=["html"])["html"]
        html = pc.cast(html, pa.large_string())
        m = pc.extract_regex(html, _GEO_RE)
        lat = pc.cast(pc.struct_field(m, "lat"), pa.float64()).to_numpy(zero_copy_only=False)
        lon = pc.cast(pc.struct_field(m, "lon"), pa.float64()).to_numpy(zero_copy_only=False)
        xy = np.stack([np.where(np.isnan(lon), np.nan, lat), lon]).astype(np.float64)
        _atomic_save(cache, xy)
    xy = np.load(cache)
    return xy[0], xy[1]


def _atomic_save(path: str, arr: np.ndarray) -> None:
    tmp = path + f".{os.getpid()}.tmp.npy"
    np.save(tmp, arr)
    os.replace(tmp, path)


# ---------------------------------------------------------------------------
# regions layer and its reference join
# ---------------------------------------------------------------------------

def regions(seed: int):
    from shapely_spark.spark.pages import synth_regions

    return synth_regions(N_REGIONS, seed=seed)


def rings(g) -> list[np.ndarray]:
    """Every ring (x, y) of a (multi)polygon, shells and holes."""
    if g is None or g.is_empty:
        return []
    if g.rings is not None:
        return [np.asarray(r)[:, :2] for r in g.rings]
    return [r for part in g.parts for r in rings(part)]


def _inside_rings(px: np.ndarray, py: np.ndarray, rs) -> np.ndarray:
    """Even-odd ray cast over the rings ``rs``."""
    odd = np.zeros(len(px), dtype=bool)
    for r in rs:
        x1, y1, x2, y2 = r[:-1, 0], r[:-1, 1], r[1:, 0], r[1:, 1]
        for a, b, c, d in zip(x1, y1, x2, y2):
            straddle = (b > py) != (d > py)
            if not straddle.any():
                continue
            with np.errstate(divide="ignore", invalid="ignore"):
                xint = a + (py - b) * (c - a) / (d - b)
            odd ^= straddle & (px < xint)
    return odd


def region_pair_counts(lat: np.ndarray, lon: np.ndarray, regs) -> np.ndarray:
    """Points inside each region, by one even-odd ray cast over every ring
    of the region. For the few multi regions whose two parts overlap, the
    overlap has even parity and counts as outside: the rule the engine's
    point join documents (kernels.RaggedPolygonLayer)."""
    ok = ~np.isnan(lat)
    order = np.flatnonzero(ok)[np.argsort(lon[ok], kind="stable")]
    slon = lon[order]
    out = np.zeros(max(r[0] for r in regs) + 1, dtype=np.int64)
    for rid, _name, g, _kind in regs:
        rs = rings(g)
        if not rs:
            continue
        xy = np.concatenate(rs)
        lo = np.searchsorted(slon, xy[:, 0].min(), "left")
        hi = np.searchsorted(slon, xy[:, 0].max(), "right")
        idx = order[lo:hi]
        idx = idx[(lat[idx] >= xy[:, 1].min()) & (lat[idx] <= xy[:, 1].max())]
        out[rid] = int(_inside_rings(lon[idx], lat[idx], rs).sum())
    return out


def region_centroids(regs):
    """(target_id, lat, lon) per non-empty region: area centroid of its
    first shell (shoelace)."""
    ids, lats, lons = [], [], []
    for rid, _name, g, _kind in regs:
        rs = rings(g)
        if not rs:
            continue
        r = rs[0]
        x, y = r[:-1, 0], r[:-1, 1]
        xn, yn = np.roll(x, -1), np.roll(y, -1)
        cross = x * yn - xn * y
        a = cross.sum() / 2.0
        ids.append(rid)
        lons.append(float(((x + xn) * cross).sum() / (6.0 * a)))
        lats.append(float(((y + yn) * cross).sum() / (6.0 * a)))
    return np.array(ids, dtype=np.int64), np.array(lats), np.array(lons)


def _unit3(lat, lon):
    la, lo = np.radians(lat), np.radians(lon)
    return np.column_stack([np.cos(la) * np.cos(lo), np.cos(la) * np.sin(lo), np.sin(la)])


def nearest_counts(lat, lon, t_ids, t_lat, t_lon, chunk: int = 8192):
    """Brute-force 1-NN by chord distance (monotone in great-circle
    distance), chunked over points. Returns (count per target index,
    number of points whose two best targets tie within 1e-12)."""
    ok = ~np.isnan(lat)
    P = _unit3(lat[ok], lon[ok])
    T = _unit3(t_lat, t_lon)
    order = np.argsort(t_ids, kind="stable")  # ties break to the lower id
    T = T[order]
    counts = np.zeros(len(t_ids), dtype=np.int64)
    ties = 0
    for s in range(0, len(P), chunk):
        dots = P[s:s + chunk] @ T.T
        best = dots.argmax(axis=1)
        top2 = np.partition(dots, -2, axis=1)[:, -2:]
        ties += int((top2[:, 1] - top2[:, 0] < 1e-12).sum())
        counts += np.bincount(order[best], minlength=len(t_ids))
    return counts, ties


def pages_reference(work: str, n_pages: int, seed: int) -> dict:
    """Expected outputs of pages_batch for one seed (cached)."""
    cache = os.path.join(work, f"ref_pages_{n_pages}_seed{seed}.npz")
    if os.path.exists(cache):
        with np.load(cache) as z:
            return {k: z[k] for k in z.files}
    lat, lon = page_coords(work, n_pages)
    regs = regions(seed)
    t_ids, t_lat, t_lon = region_centroids(regs)
    knn, ties = nearest_counts(lat, lon, t_ids, t_lat, t_lon)
    ok = ~np.isnan(lat)
    ref = {
        "region_pairs": region_pair_counts(lat, lon, regs),
        "t_ids": t_ids, "t_lat": t_lat, "t_lon": t_lon,
        "knn_counts": knn, "knn_ties": np.int64(ties),
        "geotagged": np.int64(ok.sum()),
        "tiles": np.int64(len(np.unique(grid_cells(lat[ok], lon[ok], STORE_RES)))),
    }
    tmp = cache + f".{os.getpid()}.tmp.npz"
    np.savez(tmp, **ref)
    os.replace(tmp, cache)
    return ref


# ---------------------------------------------------------------------------
# geometry layers with closed-form pair sets
# ---------------------------------------------------------------------------

def _wkb_polygon(ring: np.ndarray) -> bytes:
    return struct.pack("<BIII", 1, 3, 1, len(ring)) + ring.astype("<f8").tobytes()


def _wkb_linestring(coords: np.ndarray) -> bytes:
    return struct.pack("<BII", 1, 2, len(coords)) + coords.astype("<f8").tobytes()


def _ngon(cx, cy, r, n, th) -> np.ndarray:
    a = th + 2.0 * math.pi * np.arange(n) / n
    ring = np.column_stack([cx + r * np.cos(a), cy + r * np.sin(a)])
    return np.vstack([ring, ring[:1]])


def _diamond(cx, cy, h) -> np.ndarray:
    return np.array([[cx + h, cy], [cx, cy + h], [cx - h, cy], [cx, cy - h], [cx + h, cy]],
                    dtype=np.float64)


def _box(x0, y0, x1, y1) -> np.ndarray:
    return np.array([[x1, y0], [x1, y1], [x0, y1], [x0, y0], [x1, y0]], dtype=np.float64)


# Lattice geometry in units of u = SPACING / 24 (the battery's 24-unit
# lattice, shrunk so each shape covers a handful of default-resolution
# cells). Every closed form below holds for any jitter the seed draws.
SPACING = 2.0
GRID = 16  # GRID x GRID lattice points, right id = j * GRID + i
U = SPACING / 24.0


def _lattice_xy(i, j, x0, y0):
    return x0 + SPACING * np.asarray(i, dtype=np.float64), y0 + SPACING * np.asarray(j, dtype=np.float64)


def _ngon_intersects(rng, n_left, x0, y0):
    """Right: n-gon at each lattice point, circumradius 5..7 u, 7..10
    sides. Left: n-gon, circumradius 2..3 u, 5..9 sides, centre within
    3 u of a lattice point. The incircles (radii >= 5cos(pi/7) and
    2cos(pi/5) u, sum 6.1 u > 3 u) overlap, so a left meets its own
    lattice point's right; neighbours are >= 24 - 3 > 7 + 3 u away."""
    rid = np.arange(GRID * GRID)
    rx, ry = _lattice_xy(rid % GRID, rid // GRID, x0, y0)
    right = [_wkb_polygon(_ngon(x, y, U * rng.uniform(5, 7), int(rng.randint(7, 11)),
                                rng.uniform(0, 2 * math.pi)))
             for x, y in zip(rx, ry)]
    cell = rng.randint(0, GRID * GRID, n_left)
    cx, cy = _lattice_xy(cell % GRID, cell // GRID, x0, y0)
    rad, ang = 3.0 * U * np.sqrt(rng.uniform(0, 1, n_left)), rng.uniform(0, 2 * math.pi, n_left)
    left = [_wkb_polygon(_ngon(x + d * math.cos(a), y + d * math.sin(a),
                               U * rng.uniform(2, 3), int(rng.randint(5, 10)),
                               rng.uniform(0, 2 * math.pi)))
            for x, y, d, a in zip(cx, cy, rad, ang)]
    lid = np.arange(n_left, dtype=np.int64)
    return left, right, lid * PAIR_KEY + cell


def _diamond_touches(rng, n_left, x0, y0):
    """Left and right: diamonds of half-diagonal SPACING/2 on lattice
    points (exact binary fractions, so shared corners are bit-identical).
    A left touches each in-grid 4-neighbour's right at one corner; its own
    point's right is equal (interiors meet: not touches); diagonal
    neighbours are disjoint."""
    rid = np.arange(GRID * GRID)
    rx, ry = _lattice_xy(rid % GRID, rid // GRID, x0, y0)
    right = [_wkb_polygon(_diamond(x, y, SPACING / 2)) for x, y in zip(rx, ry)]
    cell = rng.randint(0, GRID * GRID, n_left)
    ci, cj = cell % GRID, cell // GRID
    cx, cy = _lattice_xy(ci, cj, x0, y0)
    left = [_wkb_polygon(_diamond(x, y, SPACING / 2)) for x, y in zip(cx, cy)]
    keys = []
    for di, dj in ((1, 0), (-1, 0), (0, 1), (0, -1)):
        ni, nj = ci + di, cj + dj
        ok = (ni >= 0) & (ni < GRID) & (nj >= 0) & (nj < GRID)
        keys.append(np.flatnonzero(ok) * PAIR_KEY + (nj * GRID + ni)[ok])
    return left, right, np.concatenate(keys)


def _rect_intersects(rng, n_left, x0, y0):
    """Axis-aligned boxes on both sides: intersects == closed bbox
    overlap, evaluated here by brute force."""
    rid = np.arange(GRID * GRID)
    rx, ry = _lattice_xy(rid % GRID, rid // GRID, x0, y0)
    rw, rh = SPACING * rng.uniform(0.3, 0.9, len(rid)), SPACING * rng.uniform(0.3, 0.9, len(rid))
    R = np.column_stack([rx - rw / 2, ry - rh / 2, rx + rw / 2, ry + rh / 2])
    span = SPACING * GRID
    lx = x0 - SPACING + rng.uniform(0, span, n_left)
    ly = y0 - SPACING + rng.uniform(0, span, n_left)
    lw, lh = SPACING * rng.uniform(0.1, 1.0, n_left), SPACING * rng.uniform(0.1, 1.0, n_left)
    L = np.column_stack([lx, ly, lx + lw, ly + lh])
    right = [_wkb_polygon(_box(*b)) for b in R]
    left = [_wkb_polygon(_box(*b)) for b in L]
    keys = []
    for s in range(0, n_left, 4096):
        a = L[s:s + 4096]
        hit = ((a[:, None, 0] <= R[None, :, 2]) & (R[None, :, 0] <= a[:, None, 2])
               & (a[:, None, 1] <= R[None, :, 3]) & (R[None, :, 1] <= a[:, None, 3]))
        li, ri = np.nonzero(hit)
        keys.append((li + s) * PAIR_KEY + ri)
    return left, right, np.concatenate(keys)


def _line_crosses(rng, n_left, x0, y0):
    """Left: n-gon, circumradius 2..3 u, centre within 1 u of a lattice
    point. Right: horizontal segment through each lattice point (offset
    <= 0.5 u), half-length 12 u. The segment passes through the left's
    incircle (distance <= 1.5 u < 2cos(pi/5) u) and leaves it (12 > 4 u):
    polygon crosses line. Neighbouring lefts start >= 24 - 4 > 12 u away."""
    rid = np.arange(GRID * GRID)
    rx, ry = _lattice_xy(rid % GRID, rid // GRID, x0, y0)
    dy = U * rng.uniform(-0.5, 0.5, len(rid))
    right = [_wkb_linestring(np.array([[x - 12 * U, y + d], [x + 12 * U, y + d]]))
             for x, y, d in zip(rx, ry, dy)]
    cell = rng.randint(0, GRID * GRID, n_left)
    cx, cy = _lattice_xy(cell % GRID, cell // GRID, x0, y0)
    rad, ang = U * np.sqrt(rng.uniform(0, 1, n_left)), rng.uniform(0, 2 * math.pi, n_left)
    left = [_wkb_polygon(_ngon(x + d * math.cos(a), y + d * math.sin(a),
                               U * rng.uniform(2, 3), int(rng.randint(5, 10)),
                               rng.uniform(0, 2 * math.pi)))
            for x, y, d, a in zip(cx, cy, rad, ang)]
    lid = np.arange(n_left, dtype=np.int64)
    return left, right, lid * PAIR_KEY + cell


# sub-join name -> (predicate, generator, rect layers on both sides)
GEOM_JOINS = {
    "ngon_intersects": ("intersects", _ngon_intersects, False),
    "diamond_touches": ("touches", _diamond_touches, False),
    "rect_intersects": ("intersects", _rect_intersects, True),
    "line_crosses": ("crosses", _line_crosses, False),
}


def geom_layers(work: str, seed: int, sizes: dict[str, int]) -> dict:
    """Per sub-join: its predicate, whether both layers are axis
    rectangles, the parquet paths of the left(left_id, wkb) and
    right(region_id, wkb) layers, and the expected pair keys (sorted).
    Cached per seed and sizes."""
    tag = "_".join(f"{sizes[k]}" for k in GEOM_JOINS)
    base = os.path.join(work, f"geom_{tag}_seed{seed}")
    out = {}
    for k, name in enumerate(GEOM_JOINS):
        pred, gen, rect = GEOM_JOINS[name]
        d = os.path.join(base, name)
        if not os.path.exists(os.path.join(d, "_DONE")):
            rng = np.random.RandomState([seed, k])
            # seeded lattice origin, kept on exact binary fractions
            x0 = -150.0 + SPACING * rng.randint(0, 100)
            y0 = -60.0 + SPACING * rng.randint(0, 30)
            left, right, keys = gen(rng, sizes[name], x0, y0)
            shutil.rmtree(d, ignore_errors=True)
            _write_layer(os.path.join(d, "left"), "left_id", left, files=4)
            _write_layer(os.path.join(d, "right"), "region_id", right, files=1)
            np.save(os.path.join(d, "pairs.npy"), np.sort(keys).astype(np.int64))
            open(os.path.join(d, "_DONE"), "w").close()
        out[name] = {
            "predicate": pred, "rect": rect,
            "left": os.path.join(d, "left"), "right": os.path.join(d, "right"),
            "pairs": np.load(os.path.join(d, "pairs.npy")),
        }
    return out


def _write_layer(path: str, id_col: str, wkbs: list[bytes], files: int) -> None:
    """Several files, so the cover fan-out spreads over the cores (four
    files: one wave of tasks on a 4-core host)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    ids = np.arange(len(wkbs), dtype=np.int64)
    for f, part in enumerate(np.array_split(ids, files)):
        t = pa.table({id_col: pa.array(part, pa.int64()),
                      "wkb": pa.array([wkbs[i] for i in part], pa.binary())})
        pq.write_table(t, os.path.join(path, f"part-{f:03d}.parquet"))


def read_wkb(path: str) -> list[bytes]:
    """A stored layer's WKB column."""
    import pyarrow.parquet as pq

    return pq.read_table(path).column("wkb").to_pylist()
