"""The benchmark's workloads. Each one:

- ``prepare()`` makes (or loads) its seeded inputs and expected outputs;
  the runner keeps this out of ``setup_s``;
- ``setup()`` builds what a user builds once (layer DataFrames);
- ``warm()`` runs every plan shape at full size, untimed;
- ``op(i)`` runs one pass on freshly built DataFrames, checks it against
  the expected outputs and returns (ok, counts). Counts come from the
  executed plans and are collected only when tracing;
- ``probes()`` (traced runs only) times direct calls into the layers the
  Spark actions hide: cell covers, the point-in-polygon kernel, the group
  predicates, WKB parsing and the clustered pages storage.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
from pyspark.sql import functions as F

import inputs
from spans import plan_nodes, plan_sum

ARROW_BATCH = 32768  # session.py's spark.sql.execution.arrow.maxRecordsPerBatch


def _python_boot_s(nodes) -> float:
    return (plan_sum(nodes, "", "pythonBootTime") + plan_sum(nodes, "", "pythonInitTime")) / 1e3


def _geoms(wkbs):
    from shapely_spark.geo.wkb import from_wkb

    return [from_wkb(w) for w in wkbs]


class Workload:
    name = ""
    warm_ops = 1
    min_ops = 2

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.t = ctx.tracer

    def setup(self):
        pass

    def warm(self):
        for i in range(self.warm_ops):
            ok, _ = self.op(-1 - i)
            if not ok:
                raise RuntimeError(f"{self.name}: warm-up op {i} returned a wrong result")


# ---------------------------------------------------------------------------

class PagesBatch(Workload):
    """Scan + extract, point-in-region join, tiles and 1-NN over the pages
    table, one pass per op."""

    name = "pages_batch"

    def prepare(self):
        self.path = inputs.ensure_pages(self.spark, self.ctx.work, self.ctx.n_pages)
        self.ref = inputs.pages_reference(self.ctx.work, self.ctx.n_pages, self.ctx.seed)
        self.regs = inputs.regions(self.ctx.seed)
        self.rows = self.ctx.n_pages

    def setup(self):
        import pandas as pd
        from shapely_spark.spark.pages import regions_df

        self.rdf = regions_df(self.spark, self.regs)
        self.targets = self.spark.createDataFrame(
            pd.DataFrame({"target_id": self.ref["t_ids"], "t_lat": self.ref["t_lat"],
                          "t_lon": self.ref["t_lon"]}),
            "target_id long, t_lat double, t_lon double")

    def op(self, i):
        from shapely_spark.spark.extract import with_geo
        from shapely_spark.spark.join import spatial_join
        from shapely_spark.spark.knn import knn_join
        from shapely_spark.spark.tiles import tile_counts

        t, ref, c = self.t, self.ref, {}
        bad = []
        with t.span("extract"):
            pages = with_geo(self.spark.read.parquet(self.path)).select(
                "url", "lat", "lon", "cell_id").cache()
            q = pages.agg(F.count("*"), F.sum((F.col("cell_id") >= 0).cast("long")))
            n, geo = q.collect()[0]
        if n != self.rows or geo != ref["geotagged"]:
            bad.append(f"extract rows {n}/{geo}")
        nodes = t.plan(q)
        try:
            with t.span("join.call"):
                j = spatial_join(pages, self.rdf, predicate="intersects")
            with t.span("join"):
                jq = j.groupBy("region_id").count()
                got = dict(jq.collect())
            want = {r: int(v) for r, v in enumerate(ref["region_pairs"]) if v}
            if got != want:
                bad.append(f"join pairs {sum(got.values())} vs {sum(want.values())}")
            jn = t.plan(jq)
            with t.span("tiles"):
                tq = tile_counts(pages).agg(F.count("*"), F.sum("n_pages"))
                tiles, tsum = tq.collect()[0]
            if tiles != ref["tiles"] or tsum != ref["geotagged"]:
                bad.append(f"tiles {tiles}/{tsum}")
            tn = t.plan(tq)
            with t.span("knn.call"):
                k = knn_join(pages, self.targets, k=1, point_id="url")
            with t.span("knn"):
                kq = k.groupBy("target_id").count()
                kc = dict(kq.collect())
            want = ref["knn_counts"]
            diff = sum(abs(kc.get(int(tid), 0) - int(w)) for tid, w in zip(ref["t_ids"], want))
            if diff > 2 * int(ref["knn_ties"]) or sum(kc.values()) != ref["geotagged"]:
                bad.append(f"knn off by {diff}")
            kn = t.plan(kq)
        finally:
            pages.unpersist()
        if bad:
            print(f"{self.name} op {i}: wrong result: {'; '.join(bad)}", flush=True)
        if t.enabled:
            pairs = sum(got.values())
            cand = plan_sum(jn, "BroadcastHashJoin", "numOutputRows")
            c = {
                "extract.rows": n, "extract.geotagged_rows": geo,
                "extract.scan_bytes": plan_sum(nodes, "Scan parquet", "filesSize"),
                "join.candidate_rows": cand, "join.pairs": pairs,
                "join.pairs_per_candidate": pairs / cand if cand else 0.0,
                "cells.cover_rows": plan_sum(jn, "MapInPandas", "pythonNumRowsReceived"),
                "join.broadcast_bytes": plan_sum(jn, "BroadcastExchange", "dataSize"),
                "join.arrow_sent_bytes": plan_sum(jn, "ArrowEvalPython", "pythonDataSent"),
                "join.arrow_recv_bytes": plan_sum(jn, "ArrowEvalPython", "pythonDataReceived"),
                "join.python_s": plan_sum(jn, "ArrowEvalPython", "pythonTotalTime") / 1e3,
                "daemon.python_boot_s": _python_boot_s(nodes + jn + tn + kn),
                "tiles.tiles": tiles, "knn.rows": sum(kc.values()),
                "knn.targets": len(ref["t_ids"]),
            }
        return not bad, c

    def probes(self):
        from shapely_spark.geo.kernels import RaggedPolygonLayer
        from shapely_spark.geo.wkb import to_wkb
        from shapely_spark.index.cells import polygon_cover
        from shapely_spark.spark.join import JOIN_RES

        live = [(rid, g) for rid, _n, g, _k in self.regs if g is not None and not g.is_empty]
        t0 = time.perf_counter()
        covers = {rid: polygon_cover(g, JOIN_RES) for rid, g in live}
        cover_s = time.perf_counter() - t0
        # candidates per cover cell = pages whose join cell is that cell
        lat, lon = inputs.page_coords(self.ctx.work, self.ctx.n_pages)
        ok = ~np.isnan(lat)
        px, py = lon[ok], lat[ok]
        pc = inputs.grid_cells(py, px, JOIN_RES)
        order = np.argsort(pc, kind="stable")
        spc = pc[order]
        cand = bypass = 0
        rids, idxs = [], []
        for rid, (cells, full) in covers.items():
            lo, hi = np.searchsorted(spc, cells, "left"), np.searchsorted(spc, cells, "right")
            cnt = hi - lo
            cand += int(cnt.sum())
            bypass += int(cnt[full].sum())
            part = np.concatenate([order[a:b] for a, b in zip(lo[~full], hi[~full])] or [[]])
            rids.append(np.full(len(part), rid, dtype=np.int64))
            idxs.append(part.astype(np.int64))
        n_cov = sum(len(cv[0]) for cv in covers.values())
        full_frac = sum(int(cv[1].sum()) for cv in covers.values()) / n_cov
        # the refine kernel on a fixed seeded sample of refine candidates
        rid_all, idx_all = np.concatenate(rids), np.concatenate(idxs)
        rng = np.random.RandomState(self.ctx.seed)
        pick = rng.choice(len(rid_all), min(len(rid_all), 8 * ARROW_BATCH), replace=False)
        layer = RaggedPolygonLayer(dict(live))
        t0 = time.perf_counter()
        for s in range(0, len(pick), ARROW_BATCH):
            p = pick[s:s + ARROW_BATCH]
            layer.classify_many(rid_all[p], px[idx_all[p]], py[idx_all[p]])
        classify_s = time.perf_counter() - t0
        wkbs = [to_wkb(g) for _, g in live]
        t0 = time.perf_counter()
        _geoms(wkbs)
        return {
            "cells.cover_s": cover_s, "cells.full_frac": full_frac,
            "join.bypass_rows": bypass, "join.refine_rows": cand - bypass,
            "kernels.classify_s": classify_s,
            "kernels.classify_rows_per_s": len(pick) / classify_s,
            "wkb.parse_s": time.perf_counter() - t0,
            **self._region_queries(),
        }

    def _region_queries(self, n_queries: int = 8) -> dict:
        """Clustered storage: write the extracted table with
        write_pages_clustered (timed after one untimed write), then run a
        seeded sequence of region queries -- read one region's cell range,
        join it with that region, count -- each checked against the
        reference pair count."""
        from shapely_spark.spark.extract import with_geo
        from shapely_spark.spark.join import spatial_join
        from shapely_spark.spark.pages import (read_pages_cell_range, regions_df,
                                               write_pages_clustered)

        out = os.path.join(self.ctx.run_dir, "clustered")
        for _ in range(2):
            shutil.rmtree(out, ignore_errors=True)
            pages = with_geo(self.spark.read.parquet(self.path)).select(
                "url", "lat", "lon", "cell_id")
            t0 = time.perf_counter()
            write_pages_clustered(pages, out)
            write_s = time.perf_counter() - t0
        files = [os.path.join(d, f) for d, _, fs in os.walk(out) for f in fs
                 if f.endswith(".parquet")]
        live = [r for r in self.regs if r[2] is not None and not r[2].is_empty]
        rng = np.random.RandomState(self.ctx.seed)
        call_s, query_s, files_read, scanned, returned = [], [], 0, 0, 0
        for k in rng.choice(len(live), n_queries, replace=False):
            reg = live[k]
            xy = np.concatenate(inputs.rings(reg[2]))
            lo = int(inputs.grid_cells(xy[:, 1].min(), xy[:, 0].min(), inputs.STORE_RES))
            hi = int(inputs.grid_cells(xy[:, 1].max(), xy[:, 0].max(), inputs.STORE_RES))
            t0 = time.perf_counter()
            df = read_pages_cell_range(self.spark, out, lo, hi)
            call_s.append(time.perf_counter() - t0)
            q = spatial_join(df, regions_df(self.spark, [reg])).groupBy().count()
            n = q.collect()[0][0]
            query_s.append(time.perf_counter() - t0)
            if n != self.ref["region_pairs"][reg[0]]:
                raise RuntimeError(f"region query {reg[0]}: {n} pairs, expected "
                                   f"{self.ref['region_pairs'][reg[0]]}")
            nodes = plan_nodes(q)
            files_read += plan_sum(nodes, "Scan parquet", "numFiles")
            scanned += plan_sum(nodes, "Scan parquet", "numOutputRows")
            returned += n
        return {
            "pages.write_s": write_s, "pages.write_rows_per_s": self.rows / write_s,
            "pages.files_written": len(files),
            "pages.bytes_written": sum(os.path.getsize(f) for f in files),
            "pages.read_call_s": float(np.median(call_s)),
            "pages.query_p50_s": float(np.median(query_s)),
            "pages.files_read": files_read / n_queries,
            "pages.rows_scanned_per_row_returned": scanned / max(returned, 1),
        }


# ---------------------------------------------------------------------------

class GeomJoin(Workload):
    """Four geometry x geometry sub-joins per op (see inputs.GEOM_JOINS)."""

    name = "geom_join"

    def prepare(self):
        self.layers = inputs.geom_layers(self.ctx.work, self.ctx.seed, self.ctx.geom_sizes)
        self.rows = sum(self.ctx.geom_sizes.values())

    def op(self, i):
        from shapely_spark.spark.join import spatial_join_geom

        t, c, bad = self.t, {}, []
        for name, L in self.layers.items():
            with t.span(f"join_geom.{name}.call"):
                j = spatial_join_geom(self.spark.read.parquet(L["left"]),
                                      self.spark.read.parquet(L["right"]),
                                      predicate=L["predicate"], left_id="left_id")
            with t.span(f"join_geom.{name}"):
                pdf = j.toPandas()
            keys = np.sort(pdf["left_id"].to_numpy(np.int64) * inputs.PAIR_KEY
                           + pdf["region_id"].to_numpy(np.int64))
            if not np.array_equal(keys, L["pairs"]):
                bad.append(f"{name} {len(keys)} pairs vs {len(L['pairs'])}")
            nodes = t.plan(j)
            if t.enabled:
                # the owner-cell and bbox filters run as the join condition,
                # so the join's output rows are the candidates passing them
                bbox_pass = plan_sum(nodes, "BroadcastHashJoin", "numOutputRows")
                rect = bbox_pass if L["rect"] else 0
                p = f"join_geom.{name}."
                c.update({
                    p + "cover_rows": plan_sum(nodes, "MapInPandas", "pythonNumRowsReceived"),
                    p + "bbox_pass_rows": bbox_pass,
                    p + "rect_jvm_rows": rect, p + "refine_rows": bbox_pass - rect,
                    p + "pairs": len(keys),
                    "daemon.python_boot_s": c.get("daemon.python_boot_s", 0.0)
                    + _python_boot_s(nodes),
                })
        if bad:
            print(f"{self.name} op {i}: wrong result: {'; '.join(bad)}", flush=True)
        if t.enabled:
            c["cells.cover_rows"] = sum(v for k, v in c.items() if k.endswith(".cover_rows"))
        return not bad, c

    def probes(self):
        from shapely_spark.geo import kernels as K
        from shapely_spark.geo.group_predicates import group_predicate
        from shapely_spark.index.cells import DEFAULT_RES, cover_bbox_batch

        out = {}
        parse_s = cover_s = gp_s = 0.0
        n_geoms = n_cover = gp_pairs = gp_declined = 0
        for name, L in self.layers.items():
            sides = []
            for side in ("left", "right"):
                wkbs = inputs.read_wkb(L[side])
                t0 = time.perf_counter()
                gs = _geoms(wkbs)
                parse_s += time.perf_counter() - t0
                b = np.array([K.bounds(g) for g in gs])
                t0 = time.perf_counter()
                cells, _ = cover_bbox_batch(b, DEFAULT_RES)
                cover_s += time.perf_counter() - t0
                n_geoms += len(gs)
                n_cover += len(cells)
                sides.append((gs, b, cells))
            (lg, lb, lc), (rg, rb, rc) = sides
            # cell equi-join matches, before the owner-cell and bbox filters
            uc, ln = np.unique(lc, return_counts=True)
            ur, rn = np.unique(rc, return_counts=True)
            _, li, ri = np.intersect1d(uc, ur, assume_unique=True, return_indices=True)
            out[f"join_geom.{name}.candidate_rows"] = int((ln[li] * rn[ri]).sum())
            t0 = time.perf_counter()
            for r, g in enumerate(rg):
                hit = np.flatnonzero((lb[:, 0] <= rb[r, 2]) & (rb[r, 0] <= lb[:, 2])
                                     & (lb[:, 1] <= rb[r, 3]) & (rb[r, 1] <= lb[:, 3]))
                res = group_predicate(L["predicate"], [lg[k] for k in hit], g)
                if res is None:
                    gp_declined += 1
                else:
                    gp_pairs += int(np.count_nonzero(res))
            gp_s += time.perf_counter() - t0
        return {
            **out, "wkb.parse_s": parse_s, "cells.cover_s": cover_s,
            "cells.bbox_cover_rows_per_geom": n_cover / n_geoms,
            "group_predicates.s": gp_s, "group_predicates.pairs": gp_pairs,
            "group_predicates.declined": gp_declined,
        }


# ---------------------------------------------------------------------------

WORKLOADS = {w.name: w for w in (PagesBatch, GeomJoin)}
