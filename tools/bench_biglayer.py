"""Big-layer regime probe: spatial join against a 100k-region layer.

Separates the fixed per-job layer prep from the scalable per-page work:
the spatial_join call itself collects the layer and builds its index on
the driver (parse, RaggedPolygonLayer, one polygon cover of the whole
layer, sorted by cell): that is this design's fixed cost for a big
layer, and it grows with the layer, not the pages. The first count() on
the join DataFrame then ships the one torrent broadcast; later counts
on the SAME DataFrame re-execute the full scan→probe (the plan has no
exchange, so no shuffle map outputs can be falsely reused) with the
broadcast already shipped — the cluster steady state, where one layer
serves an entire 10^12-page job.

The layer uses synth_regions(layout="uniform") — bounded (~3×) area
stacking at any size, the realistic admin-boundary analog. The default
hotspot layout at 100k regions stacks thousands of polygons per hotspot
cell, so every hotspot page genuinely matches thousands of regions
(~10^9 output pairs at 1M pages): a valid skew stress but an
output-volume benchmark, not a layer-scale one.

Usage:
  python tools/bench_biglayer.py [--cpus 32] [--regions 100000]
      [--pages-path /tmp/shapely_spark_bench/pages_4000000] [--repeat 2]
Prints one JSON line (call, cold + amortized timings and throughput).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--regions", type=int, default=100_000)
    ap.add_argument("--pages-path",
                    default="/tmp/shapely_spark_bench/pages_4000000")
    ap.add_argument("--warm-path",
                    default="/tmp/shapely_spark_bench/pages_20000")
    ap.add_argument("--repeat", type=int, default=2)
    args = ap.parse_args()

    from shapely_spark.spark.extract import with_geo
    from shapely_spark.spark.join import spatial_join
    from shapely_spark.spark.pages import regions_df, synth_regions
    from shapely_spark.spark.session import get_spark

    spark = get_spark(app="bench_biglayer", master=f"local[{args.cpus}]",
                      shuffle_partitions=max(16, args.cpus))

    regions = synth_regions(args.regions, seed=42, layout="uniform")
    rdf = regions_df(spark, regions).repartition(
        spark.sparkContext.defaultParallelism).cache()
    rdf.count()

    pages = with_geo(spark.read.parquet(args.pages_path)) \
        .select("url", "lat", "lon", "cell_id").cache()
    n_pages = pages.count()

    if os.path.isdir(args.warm_path):
        warm = with_geo(spark.read.parquet(args.warm_path)) \
            .select("url", "lat", "lon", "cell_id")
        spatial_join(warm, rdf, predicate="intersects").count()

    t0 = time.time()
    j = spatial_join(pages, rdf, predicate="intersects")
    t_call = round(time.time() - t0, 2)
    t0 = time.time()
    pairs = j.count()
    t_cold = round(time.time() - t0, 2)

    amort = []
    for _ in range(max(1, args.repeat)):
        t0 = time.time()
        assert j.count() == pairs
        amort.append(round(time.time() - t0, 2))

    t_amort = min(amort)
    print(json.dumps({
        "regions": args.regions,
        "pages": n_pages,
        "pairs": pairs,
        "t_call_s": t_call,
        "t_cold_s": t_cold,
        "t_amortized_s": t_amort,
        "amort_samples": amort,
        "pages_per_sec_amortized": round(n_pages / t_amort, 1),
        "pairs_per_sec_amortized": round(pairs / t_amort, 1),
        "cpus": args.cpus,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
