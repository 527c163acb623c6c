"""Raster↔vector tile aggregation.

The raster side is the cell grid (a zoom-r tile pyramid); the vector side is
the region polygon layer. Semantics built from the reference's clipping
primitive (clip_by_rect, shapely/constructive.py:380) + area
(measurement.py:24): each region is decomposed into per-tile clipped areas;
page-level metrics aggregated per tile (groupBy cell — Catalyst partial+final
aggregation) join the tile weights to produce region-level rollups without
ever shuffling the pages table by region.

At 100 TB this is the cheap path for "metric X per region": the pages side
aggregates to |cells| rows first (map-side combine), and only that compact
raster joins the region covers.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..index.cells import DEFAULT_RES, cell_bounds, polygon_cover_batch
from .columns import cell_col

_WEIGHTS_SCHEMA = (
    "region_id long, cell_id long, full boolean, clip_area double, area_frac double"
)


def tile_counts(pages_geo: DataFrame, value_col: str | None = None) -> DataFrame:
    """Per-cell page metrics (the rasterization step) at the resolution of
    pages_geo's cell_id (see extract.with_geo). NULL-island (-1) is
    excluded."""
    aggs = [F.count("*").alias("n_pages")]
    if value_col is not None:
        aggs.append(F.sum(value_col).alias("sum_value"))
    return pages_geo.where(F.col("cell_id") >= 0).groupBy("cell_id").agg(*aggs)


def region_tile_weights(regions: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    """regions(region_id, wkb) → per-tile clipped areas: (region_id, cell_id,
    full, clip_area, area_frac). Distributed via mapInPandas: one
    polygon_cover_batch call per Arrow batch, then a clip per partial cell
    (Sutherland–Hodgman, constructive.py:380 parity)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..geo import kernels as K
        from ..geo.constructive import clip_by_rect
        from ..geo.wkb import from_wkb

        for pdf in batches:
            geoms = [None if w is None else from_wkb(bytes(w)) for w in pdf["wkb"]]
            cells, full, row = polygon_cover_batch(geoms, res)
            xmin, ymin, xmax, ymax = cell_bounds(cells, res)
            area = (xmax - xmin) * (ymax - ymin)
            for i in np.flatnonzero(~full):
                clipped = clip_by_rect(geoms[row[i]], xmin[i], ymin[i], xmax[i], ymax[i])
                area[i] = K.area(clipped) if clipped is not None else 0.0
            total = np.array([K.area(g) for g in geoms])[row]
            k = full | (area > 0.0)  # a boundary-graze cell contributes no area
            yield pd.DataFrame({
                "region_id": pd.Series(pdf["region_id"].to_numpy()[row][k], dtype="int64"),
                "cell_id": cells[k],
                "full": full[k],
                "clip_area": area[k],
                "area_frac": np.divide(area[k], total[k], out=np.zeros(int(k.sum())),
                                       where=total[k] > 0),
            })

    return regions.select("region_id", "wkb").mapInPandas(gen, _WEIGHTS_SCHEMA)


def raster_vector_aggregate(
    pages_geo: DataFrame,
    regions: DataFrame,
    res: int = DEFAULT_RES,
    value_col: str | None = None,
) -> DataFrame:
    """Region rollup at tile granularity: pages keyed at `res` from their
    lat/lon → tile counts (partial agg), ⋈ broadcast tile weights, →
    per-region area-weighted totals. Any cell_id pages_geo carries is
    replaced, so the pages and the weights always share one grid.

    Output: region_id, n_tiles (tiles with pages that meet the region in
    positive area), n_pages (pages in those tiles), weighted_pages
    (Σ n_pages × the tile's share of the region's area[, sum_value…])."""
    counts = tile_counts(
        pages_geo.withColumn("cell_id", cell_col("lat", "lon", res)), value_col)
    weights = F.broadcast(region_tile_weights(regions, res))
    j = counts.join(weights, "cell_id", "inner")
    aggs = [
        F.count("*").alias("n_tiles"),
        F.sum("n_pages").alias("n_pages"),
        F.sum(F.col("n_pages") * F.col("area_frac")).alias("weighted_pages"),
    ]
    if value_col is not None:
        aggs.append(F.sum("sum_value").alias("sum_value"))
    return j.groupBy("region_id").agg(*aggs)


def tile_rollup(tiles: DataFrame, res: int = DEFAULT_RES,
                parent_res: int | None = None,
                cell_col_name: str = "cell_id") -> DataFrame:
    """Tile-pyramid rollup (hypertable continuous-aggregate analog): re-key
    a per-cell raster to a coarser zoom and re-aggregate. Input is the
    OUTPUT of tile_counts (or any additive per-cell frame) — every non-key
    column is summed, and n_tiles counts the contributing base-resolution
    cells (summed, not recounted, when chaining levels, so it always means
    "base cells under this parent").

    100-TB shape: the pages table is never touched. tile_counts already
    reduced 10^12 rows to ≤4^res cells with map-side combine; each pyramid
    level is one groupBy over a frame that SHRINKS 4^Δ-fold, keyed by pure
    bit arithmetic (cell_parent_col — whole-stage codegen, no UDF). A full
    zoom pyramid is a loop of these, each cheaper than the last.
    """
    from .columns import cell_parent_col

    if parent_res is None:
        parent_res = res - 1
    parent = cell_parent_col(F.col(cell_col_name), res, parent_res)
    metric_cols = [c for c in tiles.columns
                   if c not in (cell_col_name, "n_tiles")]
    n_tiles = (F.sum("n_tiles") if "n_tiles" in tiles.columns
               else F.count("*")).alias("n_tiles")
    sums = [F.sum(c).alias(c) for c in metric_cols]
    return (tiles.groupBy(parent.alias(cell_col_name))
            .agg(n_tiles, *sums))
