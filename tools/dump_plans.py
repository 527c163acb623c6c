"""Dump .explain('formatted') for the engine's headline plans → BENCH/PLANS.md.

Evidence for the scale claims: column pruning + filter pushdown reach the
parquet scan (PushedFilters / ReadSchema), the point join is one
ArrowEvalPython over the pages' (lon, lat) with no join node or exchange
(pages never shuffle), and extraction stays inside WholeStageCodegen.

Usage: python tools/dump_plans.py
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def plan_str(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main():
    from pyspark.sql import functions as F

    from shapely_spark.spark.extract import with_geo
    from shapely_spark.spark.join import spatial_join, spatial_join_geom
    from shapely_spark.spark.knn import dwithin_join, knn_join
    from shapely_spark.spark.pages import regions_df, synth_pages, synth_regions
    from shapely_spark.spark.session import get_spark
    from shapely_spark.spark.tiles import tile_counts

    spark = get_spark(app="plans", master="local[4]", shuffle_partitions=8)
    path = "/tmp/shapely_spark_plans_pages"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        synth_pages(spark, 10_000, partitions=4).write.mode("overwrite").parquet(path)

    pages = with_geo(spark.read.parquet(path)).select("url", "lat", "lon", "cell_id")
    rdf = regions_df(spark, synth_regions(50, seed=42))

    import pandas as pd

    targets = spark.createDataFrame(
        pd.DataFrame({"target_id": [1, 2], "t_lat": [40.7, 51.5], "t_lon": [-74.0, -0.1]})
    )

    sections = [
        ("pages pipeline (scan → extract → cell): note ReadSchema prunes "
         "to `html` only and the whole chain is one WholeStageCodegen",
         pages.where(F.col("cell_id") >= 0)),
        ("slim projection WITHOUT geo columns: note `html` is pruned from "
         "ReadSchema entirely (never decoded)",
         spark.read.parquet(path).select("url", "lang").where(F.col("lang") == "en")),
        ("spatial join: ONE ArrowEvalPython over (lon, lat) probes the "
         "broadcast region index, then Generate explodes each page's "
         "region ids — no join node, no exchange, no candidate rows",
         spatial_join(pages, rdf, predicate="intersects")),
        ("tile aggregation: partial+final HashAggregate (map-side combine) "
         "— the only shuffle is the final per-cell merge",
         tile_counts(pages)),
        ("kNN, small target layer: one mapInPandas over slim columns — no "
         "join, no shuffle, no window (plus the layer-size count job)",
         knn_join(pages, targets, k=1, point_id="url")),
        ("dwithin (fixed-radius) join: per-target adaptive cell rings "
         "explode JVM-side, ONE BroadcastHashJoin on cell + exact haversine "
         "filter — no window, no certification aggregate, points never "
         "explode",
         dwithin_join(pages, targets, 300.0, point_id="url")),
        ("geometry×geometry join: rect×rect pairs resolve by pure-JVM bbox "
         "interval arithmetic and ship NULL into the ArrowEvalPython refine "
         "(no geometry bytes, no kernel work — the refine's first move is a "
         "vectorized null mask); ONE scan of each cover, no branch union "
         "re-executing the fan-out",
         spatial_join_geom(
             regions_df(spark, synth_regions(50, seed=7)).selectExpr(
                 "region_id as left_id", "wkb"),
             rdf, predicate="intersects")),
    ]

    from shapely_spark.spark.geoparquet import (bbox_filter_col,
                                                read_geoparquet,
                                                write_geoparquet)

    gpq_path = "/tmp/shapely_spark_plans_gpq"
    if not os.path.exists(gpq_path) or not os.listdir(gpq_path):
        from shapely_spark.geo.geom import box as make_box
        from shapely_spark.geo.wkb import to_wkb

        rows = [(i, to_wkb(make_box(float(i), float(i), i + 2.0, i + 1.0)))
                for i in range(1000)]
        write_geoparquet(
            spark.createDataFrame(rows, "id long, geometry binary")
            .repartition(4), gpq_path)
    gdf, _ = read_geoparquet(spark, gpq_path)
    sections += [
        ("GeoParquet read + covering filter: the window predicate on the "
         "bbox struct reaches the scan as PushedFilters on bbox.xmin/… — "
         "row groups outside the window are pruned by their min/max "
         "stats; no UDF, no shuffle",
         gdf.where(bbox_filter_col(0.0, 0.0, 50.0, 50.0))
            .select("id", "bbox")),
    ]

    from shapely_spark.spark.extract import outlink_host_edges

    lp = spark.createDataFrame(
        pd.DataFrame({
            "url": [f"https://h{i % 4}.example.org/p{i}" for i in range(50)],
            "body": ['<a href="https://h1.example.org/x">.</a>'] * 50})
    ).select("url", F.encode("body", "UTF-8").alias("html"))
    sections += [
        ("outlink host edges (link-graph construction): regexp_extract_all "
         "+ Generate (explode) + parse_url all inside WholeStageCodegen, "
         "then partial+final HashAggregate — the only shuffle moves "
         "(host, host, count) partials, no UDF anywhere",
         outlink_host_edges(lp)),
    ]

    from shapely_spark.spark.crawl import host_change_stats
    from shapely_spark.spark.extract import anchor_text_summary

    fetches = spark.createDataFrame(
        pd.DataFrame({
            "url": [f"https://h{i % 4}.example.org/p{i % 10}"
                    for i in range(30)],
            "warc_ts": pd.to_datetime(1_700_000_000 + pd.Series(range(30)),
                                      unit="s"),
            "text": [f"body {i % 7}" for i in range(30)]}))
    sections += [
        ("recrawl change stats: ONE hash exchange on url for the window "
         "(payload never moves — only its xxhash64 digest rides the "
         "lag), then a partial+final HashAggregate to host grain; no "
         "self-join, no UDF",
         host_change_stats(fetches)),
        ("anchor-text aggregation: two-pass JVM regex + Generate inside "
         "WholeStageCodegen; term counts and per-target totals are "
         "partial-agg shuffles joined at host grain; top anchor is one "
         "bounded window",
         anchor_text_summary(lp)),
    ]

    out = ["# BENCH/PLANS — physical plans of the headline paths",
           "",
           "Generated by `python tools/dump_plans.py` (local[4], 10k-row "
           "sample — plan SHAPE is size-independent; AQE may re-plan "
           "shuffles at runtime).", ""]
    for title, df in sections:
        out.append(f"## {title}\n")
        out.append("```")
        out.append(plan_str(df).rstrip())
        out.append("```\n")
    with open(os.path.join(REPO, "BENCH", "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote BENCH/PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
