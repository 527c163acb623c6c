"""Benchmark harness. Prints ONE JSON line:
{"metric": "...", "value": <total sec>, "unit": "sec", "queries": {...}, "sf": ...}

Headline workloads (the north-star engine paths, at $SPARK_GRAFT_SF_DIR):
- pages_pipeline: scan the pages parquet table (synthesized once, untimed —
  the engine's input contract is a stored table, not a generator) → extract
  text+geotag → cell assignment (all JVM codegen) → materialize slim columns
- text_extract: html → byte-identical text path over the full table
- spatial_join_pages: pages ⋈ 1000-region layer (cell-cover broadcast join
  + prepared point-in-polygon refine) — reports pages/s and pairs/s
- tile_agg_pages: per-cell rollup of the pages table — tile-assignments/sec
- knn_pages: k=1 nearest of 1000 region centroids for every page
- plus the oracle-checked battery over the sf-dir tables (spatial, geo
  kernels, overlay, crawl and archive ops) for end-to-end coverage.

Methodology: each headline plan runs once on a small slice first (untimed
warmup — HotSpot compiles the generated whole-stage code; measured 30×
interpreted-vs-JIT gap on the extract expression tree), then the timed run
measures steady state. This mirrors cluster reality, where executors run
thousands of tasks per stage and warmup is noise.

Usage: python bench.py [--cpus N] [--sf-dir DIR] [--skip-battery] [--scaling]
  --scaling: run headline paths at local[8] AND local[32] (two separate
  sessions), report throughput at both plus efficiency (driver north rule).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

BENCH_TMP = os.environ.get("SPARK_GRAFT_BENCH_TMP", "/tmp/shapely_spark_bench")


def prepare_pages(spark, n_rows: int) -> str:
    """Synthesize the pages table to parquet once (untimed); return path.
    The table is the engine input contract: (url, warc_ts, html, text, lang)."""
    from shapely_spark.spark.pages import synth_pages

    path = os.path.join(BENCH_TMP, f"pages_{n_rows}")
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        shutil.rmtree(path, ignore_errors=True)
        parts = max(64, 3 * spark.sparkContext.defaultParallelism)
        synth_pages(spark, n_rows, partitions=parts).write.mode("overwrite").parquet(path)
    return path


def run_headline(spark, n_pages: int, n_regions: int, times: dict, extras: dict,
                 warmup_rows: int = 20_000, repeat: int = 3):
    from shapely_spark.spark.extract import with_geo
    from shapely_spark.spark.join import spatial_join
    from shapely_spark.spark.knn import knn_join
    from shapely_spark.spark.pages import regions_df, synth_regions
    from shapely_spark.spark.session import get_spark  # noqa: F401
    from shapely_spark.spark.tiles import tile_counts

    agg = os.environ.get("SPARK_GRAFT_BENCH_AGG", "min")

    def timed(name, fn, setup=None):
        """Min (default) or median of `repeat` runs. The sandbox host is
        time-sliced with no steal accounting — an identical warm job
        measured anywhere from 4 s to 85 s — so a single sample is
        meaningless, and even the median of 3 inflates 2-3× when two of
        the samples land in a preempted slice (the r4 window that
        recorded the headline join at 10.2 s median vs 3.7 s in the next
        window, same code). Under additive host interference the MIN is
        the unbiased estimator of uncontended runtime; set
        SPARK_GRAFT_BENCH_AGG=median to study the spread instead."""
        samples = []
        out = None
        for _ in range(max(1, repeat)):
            if setup is not None:
                setup()
            t0 = time.time()
            out = fn()
            samples.append(time.time() - t0)
        picked = min(samples) if agg == "min" else sorted(samples)[len(samples) // 2]
        times[name] = round(picked, 3)
        return out

    pages_path = prepare_pages(spark, n_pages)
    warm_path = prepare_pages(spark, warmup_rows)

    def slim(path):
        return with_geo(spark.read.parquet(path)).select("url", "lat", "lon", "cell_id")

    regions = synth_regions(n_regions, seed=42)
    # the broadcast join collects this layer and covers it on the driver;
    # the partitions spread only the collect (and, in the shuffle mode,
    # covers_df's mapInPandas fan-out) across the cores
    rparts = max(4, min(spark.sparkContext.defaultParallelism, n_regions // 250))
    rdf = regions_df(spark, regions).repartition(rparts).cache()
    rdf.count()

    # centroid targets for kNN (driver-side; tiny)
    from shapely_spark.geo.constructive import centroid
    from shapely_spark.geo.wkb import from_wkb

    crows = []
    for rid, name, g, kind in regions:
        if g is None or g.is_empty:
            continue
        c = centroid(g)
        crows.append((int(rid), float(c.coords[0, 1]), float(c.coords[0, 0])))
    import pandas as pd

    targets = spark.createDataFrame(
        pd.DataFrame(crows, columns=["target_id", "t_lat", "t_lon"]),
        "target_id long, t_lat double, t_lon double",
    )

    # ---- warmup (untimed): same plan shapes on the small slice ------------
    wpages = slim(warm_path).cache()
    wpages.count()
    slim(warm_path).agg(
        F.sum(F.when(F.col("cell_id") >= 0, 1).otherwise(0))).collect()
    with_geo(spark.read.parquet(warm_path)).where(
        F.length("extracted_text") > 0).count()
    spatial_join(wpages, rdf, predicate="intersects").count()
    tile_counts(wpages).count()
    knn_join(wpages, targets, k=1, point_id="url").count()
    wpages.unpersist()

    # ---- timed: steady state ---------------------------------------------
    # pipeline timing: full scan→extract→cell job, repeated. Aggregating on
    # the derived column forces the extract chain to evaluate exactly once
    # per row — a bare count() is answered from parquet footers, and a
    # FILTER on a derived column gets pushed through the aliases and
    # re-evaluates the decode chain per reference.
    n_geo = timed(
        "pages_pipeline",
        lambda: slim(pages_path).agg(
            F.sum(F.when(F.col("cell_id") >= 0, 1).otherwise(0))
        ).collect()[0][0],
    )
    extras["pages_rows_geotagged"] = int(n_geo)
    pages = slim(pages_path).cache()
    n = pages.count()
    extras["pages_rows"] = n
    extras["pages_rows_per_sec"] = round(n / times["pages_pipeline"], 1)

    timed("text_extract", lambda: with_geo(spark.read.parquet(pages_path)).where(
        F.length("extracted_text") > 0).count())
    extras["text_extract_rows_per_sec"] = round(n / times["text_extract"], 1)

    pairs = timed("spatial_join_pages",
                  lambda: spatial_join(pages, rdf, predicate="intersects").count())
    extras["spatial_join_pairs"] = pairs
    extras["spatial_join_rows_per_sec"] = round(n / times["spatial_join_pages"], 1)
    extras["spatial_join_pairs_per_sec"] = round(pairs / times["spatial_join_pages"], 1)

    tiles = timed("tile_agg_pages", lambda: tile_counts(pages).count())
    extras["tile_assignments_per_sec"] = round(n / times["tile_agg_pages"], 1)
    extras["tiles"] = tiles

    knn = timed("knn_pages",
                lambda: knn_join(pages, targets, k=1, point_id="url").count())
    extras["knn_rows_per_sec"] = round(knn / times["knn_pages"], 1)

    # audit the cell-ring scale path's safety guarantee on the same data
    # (r3 verdict item 7): what share of points the first disk pass cannot
    # certify and would escalate. Untimed — stats={} runs extra count jobs.
    knn_stats: dict = {}
    knn_join(pages, targets, k=1, point_id="url", stats=knn_stats).count()
    extras["knn_cell_unsafe_fraction"] = knn_stats.get("unsafe_fraction")

    # ---- WARC container parse throughput (the Common Crawl source) --------
    # write once (untimed): a slice of the pages table as per-record-gzip
    # warc files, 64 files so the member walk uses every core
    from shapely_spark.spark.warc import read_warc, write_warc

    n_warc = min(n, 200_000)
    wpath = os.path.join(BENCH_TMP, f"warc_{n_warc}")
    marker = os.path.join(wpath, "_DONE")
    if not os.path.exists(marker):
        shutil.rmtree(wpath, ignore_errors=True)
        src = spark.read.parquet(pages_path).limit(n_warc).repartition(64)
        write_warc(src, wpath)
        with open(marker, "w") as fh:
            fh.write("ok")
    read_warc(spark, wpath).agg(F.sum(F.length("html"))).collect()  # warm
    wbytes = timed(
        "warc_parse",
        lambda: read_warc(spark, wpath).agg(
            F.sum(F.length("html"))).collect()[0][0])
    extras["warc_rows_per_sec"] = round(n_warc / times["warc_parse"], 1)
    extras["warc_payload_mb_per_sec"] = round(
        wbytes / 1e6 / times["warc_parse"], 1)

    # ---- crawl-archive analytics (url-window + pointer doubling) ----------
    # Re-key the pages table into a ~3-fetches-per-url archive (hash of the
    # original url → n/3 virtual urls) and run the full recrawl rollup:
    # digest lag over the url window → host change rates. One url shuffle +
    # one host rollup — the per-url window is the path that must hold at
    # 10^12 fetches.
    from shapely_spark.spark.crawl import host_change_stats, resolve_redirects

    nv = max(n // 3, 1)

    def archive(path):
        b = spark.read.parquet(path)
        return b.select(
            F.concat(
                F.lit("https://site"),
                F.pmod(F.xxhash64("url"), F.lit(1000)).cast("string"),
                F.lit(".example/page/"),
                F.pmod(F.xxhash64("url", F.lit(1)), F.lit(nv)).cast("string"),
            ).alias("url"),
            "warc_ts", "text")

    host_change_stats(archive(warm_path)).count()  # warm
    timed("recrawl_stats", lambda: host_change_stats(archive(pages_path)).count())
    extras["recrawl_rows_per_sec"] = round(n / times["recrawl_stats"], 1)

    # redirect chains over 4n ids (id → id-1 until a multiple of 5):
    # 3.2n edges, 3 saturating doubling self-joins (max_hops=8) with
    # eager per-round checkpoints — all timed, as a resumable run would.
    # 4× the page count so the joins dominate the three checkpoint
    # barriers and the leg measures throughput, not launch latency.
    def redirect_edges(m):
        ids = spark.range(0, m, 1, 3 * spark.sparkContext.defaultParallelism)
        return (ids.where(F.col("id") % 5 != 0)
                .select(F.col("id").alias("src"), (F.col("id") - 1).alias("dst")))

    resolve_redirects(redirect_edges(warmup_rows), max_hops=8).count()  # warm
    n_edges = timed(
        "redirect_resolve",
        lambda: resolve_redirects(redirect_edges(4 * n), max_hops=8)
        .where(F.col("final_url").isNotNull()).count())
    extras["redirect_edges_per_sec"] = round(n_edges / times["redirect_resolve"], 1)

    pages.unpersist()
    return n


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--skip-battery", action="store_true")
    ap.add_argument("--pages", type=int, default=None, help="override pages row count")
    ap.add_argument("--regions", type=int, default=1000,
                    help="region-layer size (100k exercises the big-broadcast regime)")
    ap.add_argument("--repeat", type=int, default=5,
                    help="min-of-N timing for headline paths (0.6-3.5 s "
                         "jobs: a preempted host slice inflates any one "
                         "sample 3x and with N=3 all three occasionally "
                         "land in one; two extra repeats cost ~13 s of a "
                         "~170 s bench)")
    ap.add_argument("--scaling", action="store_true",
                    help="run headline at local[8] and local[32]; emit extra lines")
    args = ap.parse_args()

    if args.scaling:
        # two clean sessions via subprocess (a JVM can't change core count live)
        for cpus in (8, 32):
            cmd = [sys.executable, os.path.abspath(__file__), "--cpus", str(cpus),
                   "--sf-dir", args.sf_dir, "--skip-battery", "--repeat", str(args.repeat)]
            if args.pages:
                cmd += ["--pages", str(args.pages)]
            if args.regions != 1000:
                cmd += ["--regions", str(args.regions)]
            subprocess.run(cmd, check=True)
        return

    sf = float(args.sf_dir.rstrip("/").split("sf")[-1])
    n_pages = args.pages if args.pages is not None else int(10_000_000 * sf)
    n_regions = args.regions

    from shapely_spark.spark.session import get_spark

    spark = get_spark(app="bench", master=f"local[{args.cpus}]",
                      shuffle_partitions=max(16, args.cpus))

    times: dict[str, float] = {}
    extras: dict[str, float] = {}
    run_headline(spark, n_pages, n_regions, times, extras, repeat=args.repeat)

    # ---- oracle-checked battery on driver tables --------------------------
    if not args.skip_battery:
        from shapely_spark.queries import QUERIES

        # steady-state methodology (see BENCH/BASELINE.md): warm each plan
        # shape once at sf0.01 — sf0.001 proved too small to push the big
        # generated methods through C2 tiered compilation (minhash's
        # banded-signature codegen measured 22 s on its first sf0.1 run
        # and 7 s steady-state), so the warmup needs real loop counts,
        # not just the plan shape
        base = os.path.dirname(args.sf_dir.rstrip("/"))
        warm_dir = next(
            (d for d in (os.path.join(base, "sf0.01"),
                         os.path.join(base, "sf0.001"))
             if os.path.isdir(d) and d != args.sf_dir), None)
        if warm_dir:
            for name, fn in QUERIES.items():
                try:
                    fn(spark, warm_dir).count()
                except Exception:
                    pass

        # two interleaved passes over the whole battery, min per query:
        # the biggest generated methods sometimes finish C2 compilation
        # only DURING their first at-scale run (minhash measured 22-37 s
        # first pass vs 7-8 s steady-state even after the sf0.01 warmup),
        # and a single sample is also where host-steal spikes land
        for _ in range(2):
            for name, fn in QUERIES.items():
                if times.get(name) == -1.0:
                    continue
                t0 = time.time()
                try:
                    fn(spark, args.sf_dir).count()
                except Exception as ex:  # keep the bench alive
                    times[name] = -1.0
                    extras[f"{name}_error"] = str(ex)[:100]
                    continue
                dt = round(time.time() - t0, 3)
                times[name] = min(times.get(name, dt), dt)

    total = round(sum(v for v in times.values() if v > 0), 3)
    payload = {
        "metric": "spatial-join+tiling engine wall time (headline paths + battery)",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "cpus": args.cpus,
        "host": {
            "nproc": len(os.sched_getaffinity(0)),
            "mem_total_gb": round(os.sysconf("SC_PAGE_SIZE")
                                  * os.sysconf("SC_PHYS_PAGES") / 2**30, 1),
            "date": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        },
        "extras": extras,
    }
    # The driver records only the LAST 2000 chars of stdout — a 90-query
    # battery dict overflows that window and head-truncates the JSON
    # (BENCH_r03.json parsed=null). Persist the complete payload to the
    # repo, and print a line guaranteed to fit: full headline dict +
    # slowest battery entries + battery rollup. Headline-only runs
    # (--skip-battery, e.g. tools/bench_scaling.py legs) must not clobber
    # the last full-battery record.
    if not args.skip_battery:
        full_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                 "BENCH", "BENCH_FULL_LATEST.json")
        os.makedirs(os.path.dirname(full_path), exist_ok=True)
        with open(full_path, "w") as fh:
            json.dump(payload, fh, indent=1)
    line = json.dumps(payload)
    if len(line) > 1900:
        headline = {k: times[k] for k in (
            "pages_pipeline", "text_extract", "spatial_join_pages",
            "tile_agg_pages", "knn_pages") if k in times}
        battery = {k: v for k, v in times.items() if k not in headline}
        slowest = dict(sorted(battery.items(), key=lambda kv: -kv[1])[:10])
        payload["queries"] = {
            **headline, **slowest,
            "battery_n": len(battery),
            "battery_total_sec": round(sum(v for v in battery.values() if v > 0), 2),
        }
        payload["queries_full"] = "BENCH/BENCH_FULL_LATEST.json"
        line = json.dumps(payload)
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
