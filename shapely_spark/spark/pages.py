"""Deterministic synthesis of the Common-Crawl-style pages table and the
regions polygon layer (FIXTURES.md §1-2, BASELINE.json input_hint schema:
url string, warc_ts timestamp, html binary, text string, lang string).

All randomness is hash-derived from the row id (xxhash64 — deterministic,
partition-independent), built entirely from Spark built-ins so synthesis of
1M rows takes seconds and the plan stays in whole-stage codegen. No
external data; the same (seed, i) always produces the same row, on any
partitioning — the scale-out property the checkpoint/resume tests rely on.

Skew by construction: 80% of coordinates cluster around 10 city hotspots
(Box-Muller normal, σ=0.05°), 20% uniform; ~1% rows have no geotag
(lat/lon NULL — exercises None-vs-EMPTY semantics); ~0.5% malformed
geotags (parser robustness).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# 10 hotspot centers, seeded (lat, lon) — fixed literals so every component
# (synthesis, tests, bench) agrees without sharing state.
HOTSPOTS = [
    (40.71, -74.00),   # NYC
    (51.51, -0.13),    # London
    (35.68, 139.69),   # Tokyo
    (48.85, 2.35),     # Paris
    (-23.55, -46.63),  # São Paulo
    (19.43, -99.13),   # CDMX
    (28.61, 77.21),    # Delhi
    (-33.87, 151.21),  # Sydney
    (37.77, -122.42),  # SF
    (30.04, 31.24),    # Cairo
]
LANGS = ["en", "de", "fr", "es", "pt", "zh", "ru", "ja"]


def _u(i, salt: int):
    """Uniform [0,1) from row id — xxhash64-based, deterministic."""
    h = F.xxhash64(i, F.lit(salt))
    return (F.pmod(h, F.lit(1 << 30)).cast("double")) / float(1 << 30)


def synth_pages(spark: SparkSession, n_rows: int, partitions: int | None = None) -> DataFrame:
    """Pages table with embedded geotags. Columns: url, warc_ts, html(binary),
    text, lang — plus NOTHING else (lat/lon must be derived by the engine's
    extract stage, per the north rule).

    Partition count tracks cluster parallelism (3 waves of tasks) so the
    same code saturates local[8] and local[32] alike — a fixed count would
    cap speedup at higher parallelism."""
    if partitions is None:
        partitions = max(
            3 * spark.sparkContext.defaultParallelism,
            min(max(1, n_rows // 25_000), 512),
        )
    df = spark.range(0, n_rows, 1, partitions).withColumnRenamed("id", "i")
    i = F.col("i")

    # --- coordinates --------------------------------------------------------
    u_pick = _u(i, 1)
    hot_idx = F.pmod(F.xxhash64(i, F.lit(2)), F.lit(len(HOTSPOTS)))
    hot_lat = F.element_at(F.array(*[F.lit(h[0]) for h in HOTSPOTS]), (hot_idx + 1).cast("int"))
    hot_lon = F.element_at(F.array(*[F.lit(h[1]) for h in HOTSPOTS]), (hot_idx + 1).cast("int"))
    # Box-Muller from two uniforms (guard u1 > 0)
    u1 = F.greatest(_u(i, 3), F.lit(1e-12))
    u2 = _u(i, 4)
    r = F.sqrt(-2.0 * F.log(u1))
    g1 = r * F.cos(2.0 * math.pi * u2)
    g2 = r * F.sin(2.0 * math.pi * u2)
    clustered_lat = hot_lat + g1 * 0.05
    clustered_lon = hot_lon + g2 * 0.05
    uniform_lat = _u(i, 5) * 170.0 - 85.0
    uniform_lon = _u(i, 6) * 360.0 - 180.0
    lat = F.when(u_pick < 0.8, clustered_lat).otherwise(uniform_lat)
    lon = F.when(u_pick < 0.8, clustered_lon).otherwise(uniform_lon)
    lat = F.least(F.greatest(lat, F.lit(-85.0)), F.lit(85.0))
    lon = F.least(F.greatest(lon, F.lit(-180.0)), F.lit(179.999999))

    u_geo = _u(i, 7)
    lang = F.element_at(F.array(*[F.lit(x) for x in LANGS]), (F.pmod(i, F.lit(8)) + 1).cast("int"))
    lat_s = F.format_number(lat, 6)
    lon_s = F.format_number(lon, 6)
    # format_number inserts thousands separators — strip them
    lat_s = F.regexp_replace(lat_s, ",", "")
    lon_s = F.regexp_replace(lon_s, ",", "")

    text = F.concat(
        F.lit("page "), i.cast("string"), F.lit(" in "), lang,
        F.lit(" near ("), lat_s, F.lit(","), lon_s, F.lit(") "),
        F.repeat(F.concat(F.lit("lorem ipsum dolor sit amet "),
                          F.pmod(i, F.lit(97)).cast("string"), F.lit(" ")),
                 (F.pmod(i, F.lit(5)) + 1).cast("int")),
    )

    meta_ok = F.concat(
        F.lit('<meta name="geo.position" content="'), lat_s, F.lit(";"), lon_s,
        F.lit('"><meta name="ICBM" content="'), lat_s, F.lit(", "), lon_s, F.lit('">'),
    )
    meta_bad = F.lit('<meta name="geo.position" content="not;a;coordinate">')
    meta = (
        F.when(u_geo < 0.01, F.lit(""))           # ~1% missing geotag
        .when(u_geo < 0.015, meta_bad)            # ~0.5% malformed
        .otherwise(meta_ok)
    )
    html = F.concat(
        F.lit("<html><head>"), meta, F.lit("</head><body><p>"), text,
        F.lit("</p></body></html>"),
    )

    return df.select(
        F.concat(F.lit("https://site"), F.pmod(i, F.lit(1000)).cast("string"),
                 F.lit(".example/page/"), i.cast("string")).alias("url"),
        (F.lit("2026-01-01 00:00:00").cast("timestamp")
         + F.make_interval(secs=i.cast("double"))).alias("warc_ts"),
        F.encode(html, "UTF-8").alias("html"),
        text.alias("text"),
        lang.alias("lang"),
    )


# ---------------------------------------------------------------------------
# Regions layer (driver-side NumPy — small, broadcastable)
# ---------------------------------------------------------------------------

def synth_regions(n_regions: int, seed: int = 42, layout: str = "hotspot"):
    """Seeded region polygons around the hotspots plus uniform boxes.
    Returns list[(region_id, name, Geometry, kind)]. ~5% holed, ~2% multi,
    a few empties (FIXTURES.md §2).

    layout="hotspot" (default) clusters 70% of regions around the page
    hotspots — right for small layers, but at ≥10k regions it stacks
    thousands of overlapping polygons on each hotspot cell, so every
    hotspot page genuinely matches thousands of regions (~10^9 join
    pairs at 100k regions × 1M pages). layout="uniform" places every
    region uniformly (≈3× area stacking at any n) — the realistic
    admin-boundary analog for big-layer probes."""
    from ..geo.geom import Geometry, POLYGON, box, empty, multipolygon, regular_ngon

    rng = np.random.RandomState(seed)
    out = []
    for rid in range(n_regions):
        u = rng.uniform()
        if u < 0.005 and rid > 0:
            out.append((rid, f"region_{rid}", empty(POLYGON), "empty"))
            continue
        if layout == "uniform":
            u = 1.0  # every non-empty region takes the uniform-box branch
        if u < 0.7:
            # convex polygon near a hotspot (Voronoi-ish coverage)
            hy, hx = HOTSPOTS[rid % len(HOTSPOTS)]
            cx = hx + rng.normal(0, 0.3)
            cy = hy + rng.normal(0, 0.3)
            radius = rng.uniform(0.05, 0.5)
            nv = rng.randint(5, 12)
            theta0 = rng.uniform(0, 2 * np.pi)
            g = regular_ngon(cx, cy, radius, nv, theta0)
            kind = "poly"
        else:
            cx = rng.uniform(-175, 170)
            cy = rng.uniform(-80, 80)
            w = rng.uniform(0.2, 3.0)
            h = rng.uniform(0.2, 2.0)
            g = box(cx, cy, min(cx + w, 179.99), min(cy + h, 89.99))
            kind = "box"
        u2 = rng.uniform()
        if u2 < 0.05 and kind in ("poly", "box"):
            # punch a hole (scaled-down shell around centroid)
            shell = g.rings[0]
            c = shell[:-1].mean(axis=0)
            hole = (shell - c) * 0.3 + c
            g = Geometry(POLYGON, rings=[shell, hole[::-1]])
            kind = "holed"
        elif u2 < 0.07:
            dxy = rng.uniform(1.0, 2.0)
            shifted = [r + np.array([dxy, 0.0]) for r in g.rings]
            g = multipolygon([g, Geometry(POLYGON, rings=shifted)])
            kind = "multi"
        out.append((rid, f"region_{rid}", g, kind))
    return out


def regions_df(spark: SparkSession, regions) -> DataFrame:
    """Regions as a DataFrame (region_id, name, wkb, kind).

    Built via a pandas DataFrame so createDataFrame takes the Arrow path —
    a plain list-of-rows goes through pickle + a Python-RDD scan that
    respawns non-Arrow Python workers on EVERY downstream action."""
    import pandas as pd

    from ..geo.wkb import to_wkb

    pdf = pd.DataFrame(
        {
            "region_id": pd.Series([r[0] for r in regions], dtype="int64"),
            "name": [r[1] for r in regions],
            "wkb": [to_wkb(r[2]) for r in regions],
            "kind": [r[3] for r in regions],
        }
    )
    return spark.createDataFrame(pdf, "region_id long, name string, wkb binary, kind string")


# ---------------------------------------------------------------------------
# Clustered storage layout — partition pruning at 100 TB
# ---------------------------------------------------------------------------

def write_pages_clustered(pages_geo: DataFrame, path: str, prefix_shift: int = 12,
                          mode: str = "overwrite") -> None:
    """Write pages partitioned by cell prefix (cell_id >> prefix_shift) and
    sorted by cell_id (the grid's row-major id) within partitions.

    At 10^12 rows this is the layout contract that makes spatial queries
    cheap: directory-level partition pruning on cell_prefix (Catalyst
    PartitionFilters — no file even opened outside the query region) plus
    parquet row-group min/max stats on cell_id within each partition. The
    same layout maps 1:1 onto an Iceberg partition spec
    (truncate/shift transform on cell_id)."""
    from pyspark.sql import functions as F

    (
        pages_geo.withColumn(
            "cell_prefix", F.shiftrightunsigned(F.col("cell_id"), prefix_shift)
        )
        .repartition("cell_prefix")
        .sortWithinPartitions("cell_id")
        .write.mode(mode)
        .partitionBy("cell_prefix")
        .parquet(path)
    )


def read_pages_cell_range(spark: SparkSession, path: str, cell_min: int,
                          cell_max: int, prefix_shift: int = 12) -> DataFrame:
    """Scan only the partitions overlapping [cell_min, cell_max]: the
    cell_prefix predicate is a pure partition filter (pruned BEFORE any
    file is read); the cell_id predicate prunes row groups via min/max
    stats inside surviving files."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    return df.where(
        (F.col("cell_prefix") >= (cell_min >> prefix_shift))
        & (F.col("cell_prefix") <= (cell_max >> prefix_shift))
        & (F.col("cell_id") >= cell_min)
        & (F.col("cell_id") <= cell_max)
    )
