"""Structured Streaming ingest: the streaming twin of the batch pipeline.

The reference is a stateless kernel library (SURVEY.md §2.10), so every
batch operator here reuses the SAME expressions/kernels — with_geo
(extract.py) applies unchanged to a streaming DataFrame because it is pure
column expressions. This module adds the streaming-only pieces: source
wiring, watermarked windowed tile aggregation, and a foreachBatch spatial
join that reuses the broadcast covers plan per micro-batch.

At scale this is the continuous-ingest path: readStream from the landing
bucket → extract → cell assignment → (a) append page-level output
partitioned by cell prefix, (b) update windowed per-cell rollups with late
data bounded by the watermark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..index.cells import DEFAULT_RES
from ..spark.extract import with_geo

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def read_pages_stream(spark: SparkSession, input_dir: str, max_files: int = 10) -> DataFrame:
    """File-source stream over landing-dir parquet (the CC-dump pattern:
    new WARC-derived files appear; maxFilesPerTrigger bounds batch size)."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(input_dir)
    )


def stream_with_geo(pages_stream: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    """Identical extraction plan as batch — pure expressions stream as-is."""
    return with_geo(pages_stream, res)


def windowed_tile_counts(
    pages_geo_stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window per-cell counts (late data beyond the
    watermark is dropped — bounded state, the only correct default at
    10^12 rows)."""
    return (
        pages_geo_stream.withWatermark("warc_ts", watermark)
        .where(F.col("cell_id") >= 0)
        .groupBy(F.window("warc_ts", window).alias("win"), F.col("cell_id"))
        .agg(F.count("*").alias("n_pages"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "cell_id",
            "n_pages",
        )
    )


def run_stream_to_memory(stream_df: DataFrame, name: str, output_mode: str = "append"):
    """Drain a stream into a memory sink with availableNow (test/dev helper:
    processes everything currently in the source, then stops)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def foreach_batch_spatial_join(regions: DataFrame, predicate: str = "intersects",
                               res: int = DEFAULT_RES):
    """foreachBatch callback running the batch spatial join per micro-batch
    (the covers table is rebuilt per batch here; a long-lived deployment
    caches it driver-side)."""
    from ..spark.join import spatial_join

    def fn(batch_df: DataFrame, batch_id: int) -> DataFrame:
        return spatial_join(batch_df, regions, predicate=predicate, res=res)

    return fn


def foreach_batch_knn_join(targets: DataFrame, k: int = 1, res: int = DEFAULT_RES,
                           k_ring: int = 2, **knn_kwargs):
    """foreachBatch callback running the batch kNN join (cell-ring expand →
    exact haversine refine, spark/knn.py:56) per micro-batch. Same kernels
    and guarantees as batch — the micro-batch is just a smaller points
    side; the target layer is stable across batches so its cell index
    re-broadcasts from cache. Defaults to ring_growth=() so each
    micro-batch builds a fully lazy plan (no eager count/persist jobs);
    pass ring_growth explicitly to re-enable yield-gated escalation."""
    from ..spark.knn import knn_join

    knn_kwargs.setdefault("ring_growth", ())

    def fn(batch_df: DataFrame, batch_id: int) -> DataFrame:
        return knn_join(batch_df, targets, k=k, res=res, k_ring=k_ring,
                        **knn_kwargs)

    return fn


def foreach_batch_dwithin_join(targets: DataFrame, radius_km: float,
                               res: int = DEFAULT_RES, **kwargs):
    """foreachBatch callback running the fixed-radius join
    (spark/knn.dwithin_join, r4) per micro-batch: per-target adaptive
    cell rings, one broadcast equi-join, exact haversine filter. Pairs
    are independent across micro-batches (no state), so streaming output
    is exactly the batch pair set partitioned by arrival."""
    from ..spark.knn import dwithin_join

    def fn(batch_df: DataFrame, batch_id: int) -> DataFrame:
        return dwithin_join(batch_df, targets, radius_km, res=res, **kwargs)

    return fn

def foreach_batch_asof_join(right: DataFrame, on, left_ts: str = "ts",
                            **asof_kwargs):
    """foreachBatch callback running the batch as-of join
    (spark/temporal.asof_join, r4) of each arriving micro-batch against
    a STATIC right side (e.g. the reference snapshot table). Every left
    row's match depends only on that static right, so rows are
    independent across micro-batches (no state) and the streaming union
    equals the batch result partitioned by arrival — the same
    equivalence contract the spatial/kNN/dwithin twins test. A
    stream-vs-stream as-of (right side still arriving) is a genuinely
    stateful operator: route that through watermarked
    applyInPandasWithState instead; per-batch asof would miss late
    right rows."""
    from ..spark.temporal import asof_join

    def fn(batch_df: DataFrame, batch_id: int) -> DataFrame:
        return asof_join(batch_df, right, on=on, left_ts=left_ts,
                         **asof_kwargs)

    return fn


def foreach_batch_robots_filter(robots: DataFrame, agent: str = "*",
                                **kwargs):
    """foreachBatch callback running the RFC 9309 crawl-politeness
    filter (text/robots.robots_filter, r5 join tier) per micro-batch of
    arriving pages against a STATIC robots relation: the compiled-rules
    DataFrame equi-joins each batch on host (no driver collect, no
    per-host plan literal — the 100-TB tier), and per-url flags are
    independent across batches (no state), so the streaming union
    equals the batch result partitioned by arrival."""
    from ..text.robots import robots_filter

    def fn(batch_df: DataFrame, batch_id: int) -> DataFrame:
        return robots_filter(batch_df, robots, agent=agent, **kwargs)

    return fn


def foreach_batch_commit_append(table: str, geometry_col: str = "geometry"):
    """foreachBatch callback that commits each arriving micro-batch as a
    NEW SNAPSHOT of the snapshot-committed table
    (spark/table_format.commit_append) — streaming ingest into the
    Iceberg-shaped storage layer. foreachBatch runs callbacks serially
    per stream, so commits never race within one query; the snapshot
    log then IS the ingest audit trail (one snapshot per micro-batch,
    per-file stats included), downstream consumers resume with
    read_incremental(from_snapshot=last_processed) — exactly-once at
    the file-set level because file lists are append-only. The batch
    twin is one commit_append of the whole input: same total rows, same
    per-file stats discipline; only the snapshot granularity differs.
    """
    from ..spark.table_format import commit_append

    def fn(batch_df: DataFrame, batch_id: int):
        if len(batch_df.take(1)):
            commit_append(batch_df, table, geometry_col=geometry_col)

    return fn
