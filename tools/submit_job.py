"""spark-submit entry point for the engine's flagship jobs.

The north-rule deployment contract: the engine runs as

    tools/package.sh
    spark-submit --master <cluster-or-local[N]> \
        --py-files dist/shapely_spark.zip \
        tools/submit_job.py --job all --n-pages 1000000

The master (and executor topology) comes from spark-submit — this script
never hardcodes one, so the same artifact runs on local[N] here and on a
multi-executor cluster unchanged. Every job prints ONE JSON line:
{"job": ..., "rows": ..., "wall_sec": ..., "rows_per_sec": ...}.

Jobs:
  pipeline      scan pages parquet -> extract text+geotag -> cell assign
  spatial_join  pages x broadcast region layer (cell cover + PIP refine)
  tile_agg      per-cell rollup (tile-assignments/sec)
  knn           k=1 nearest region centroid per page (haversine refine)
  all           all four, sharing one cached pages slim projection

--lineage-dir routes the spatial join through LineageRun (per-partition
checkpoint lineage; rerunning the same command after a crash resumes from
completed buckets — the resumability contract).

Timing: min-of---repeat after one untimed warmup pass per plan shape (the
JIT-warmup + time-sliced-host methodology in BENCH/BASELINE.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time


def _ensure_importable() -> None:
    """Under spark-submit --py-files the zip is already on sys.path; when
    run from the repo (python tools/submit_job.py) fall back to the
    checkout so both invocations work. Also propagate whichever source
    won to the executor-side PYTHONPATH so the worker daemon module and
    kernel imports resolve inside forked Python workers."""
    try:
        import shapely_spark  # noqa: F401
    except ImportError:
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        sys.path.insert(0, repo)
        import shapely_spark  # noqa: F401
    import shapely_spark as pkg

    src = os.path.dirname(os.path.dirname(os.path.abspath(pkg.__file__)))
    os.environ["PYTHONPATH"] = src + os.pathsep + os.environ.get("PYTHONPATH", "")


def build_session(app: str, shuffle_partitions: int | None):
    """Session config mirrors shapely_spark.spark.session.get_spark but
    leaves the master to spark-submit. It does not copy get_spark's Unix
    domain socket transport: that setting names a driver-local socket
    directory, which does not exist on a cluster's executors, and the
    transport is unmeasured on a cluster. Here the JVM and its Python
    workers talk over loopback TCP, as stock Spark does."""
    from pyspark.sql import SparkSession

    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
                "NUMEXPR_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    b = (
        SparkSession.builder.appName(app)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.files.maxPartitionBytes",
                os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "8m"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                os.environ.get("SPARK_GRAFT_ARROW_BATCH", "32768"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        .config("spark.python.daemon.module", "shapely_spark.spark.daemon")
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
    )
    if shuffle_partitions:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def prepare_pages(spark, n_rows: int, workdir: str) -> str:
    """Synthesize the pages table once (untimed — the input contract is a
    stored table of (url, warc_ts, html, text, lang))."""
    from shapely_spark.spark.pages import synth_pages

    path = os.path.join(workdir, f"pages_{n_rows}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        shutil.rmtree(path, ignore_errors=True)
        parts = max(64, 3 * spark.sparkContext.defaultParallelism)
        synth_pages(spark, n_rows, partitions=parts).write.mode("overwrite").parquet(path)
    return path


def main() -> None:
    _ensure_importable()
    ap = argparse.ArgumentParser()
    ap.add_argument("--job", default="all",
                    choices=["pipeline", "spatial_join", "tile_agg", "knn", "all"])
    ap.add_argument("--n-pages", type=int, default=200_000)
    ap.add_argument("--n-regions", type=int, default=1000)
    ap.add_argument("--pages-parquet", default=None,
                    help="existing pages table (skip synthesis)")
    ap.add_argument("--workdir", default=os.environ.get(
        "SPARK_GRAFT_BENCH_TMP", "/tmp/shapely_spark_bench"))
    ap.add_argument("--repeat", type=int, default=3)
    ap.add_argument("--warmup-rows", type=int, default=20_000)
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument("--lineage-dir", default=None,
                    help="run the spatial join through checkpoint lineage")
    args = ap.parse_args()

    spark = build_session(f"shapely_spark-{args.job}", args.shuffle_partitions)

    from pyspark.sql import functions as F

    from shapely_spark.spark.extract import with_geo
    from shapely_spark.spark.join import spatial_join
    from shapely_spark.spark.knn import knn_join
    from shapely_spark.spark.pages import regions_df, synth_regions
    from shapely_spark.spark.tiles import tile_counts

    pages_path = args.pages_parquet or prepare_pages(spark, args.n_pages, args.workdir)
    warm_path = (args.pages_parquet
                 or prepare_pages(spark, args.warmup_rows, args.workdir))

    def slim(path):
        return with_geo(spark.read.parquet(path)).select("url", "lat", "lon", "cell_id")

    regions = synth_regions(args.n_regions, seed=42)
    rdf = regions_df(spark, regions).coalesce(4).cache()
    rdf.count()

    from shapely_spark.geo.constructive import centroid

    crows = [(int(rid), float(centroid(g).coords[0, 1]), float(centroid(g).coords[0, 0]))
             for rid, _name, g, _kind in regions if g is not None and not g.is_empty]
    targets = spark.createDataFrame(
        crows, "target_id long, t_lat double, t_lon double")

    jobs = {
        "pipeline": lambda df: df.agg(
            F.sum(F.when(F.col("cell_id") >= 0, 1).otherwise(0))).collect()[0][0],
        "spatial_join": lambda df: spatial_join(df, rdf, predicate="intersects").count(),
        "tile_agg": lambda df: tile_counts(df).count(),
        "knn": lambda df: knn_join(df, targets, k=1, point_id="url").count(),
    }
    wanted = list(jobs) if args.job == "all" else [args.job]

    # untimed warmup: same plan shapes on the small slice (JIT + imports)
    wdf = slim(warm_path).cache()
    wdf.count()
    for name in wanted:
        jobs[name](wdf)
    wdf.unpersist()

    pages = slim(pages_path).cache()
    n = pages.count()

    if args.lineage_dir and "spatial_join" in wanted:
        from shapely_spark.spark.lineage import LineageRun

        run = LineageRun(args.lineage_dir, n_buckets=max(
            8, spark.sparkContext.defaultParallelism), bucket_key="url")
        t0 = time.time()
        ran = run.run(pages, lambda df: spatial_join(
            df, rdf, predicate="intersects").select("url", "region_id"))
        wall = time.time() - t0
        out_rows = run.result(spark).count()
        print(json.dumps({
            "job": "spatial_join_lineage", "rows": n, "out_rows": out_rows,
            "buckets_ran": ran, "wall_sec": round(wall, 3),
            "rows_per_sec": round(n / wall, 1),
            "master": spark.sparkContext.master,
        }))
        wanted = [w for w in wanted if w != "spatial_join"]

    for name in wanted:
        samples, out = [], None
        for _ in range(max(1, args.repeat)):
            t0 = time.time()
            out = jobs[name](pages)
            samples.append(time.time() - t0)
        wall = min(samples)
        print(json.dumps({
            "job": name, "rows": n, "result": int(out),
            "wall_sec": round(wall, 3), "rows_per_sec": round(n / wall, 1),
            "samples_sec": [round(s, 3) for s in samples],
            "master": spark.sparkContext.master,
        }))

    pages.unpersist()
    spark.stop()


if __name__ == "__main__":
    main()
