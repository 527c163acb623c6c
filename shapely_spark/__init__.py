"""shapely_spark — a from-scratch PySpark-native spatial-join + tiling engine.

Reimplements the query semantics of the reference (shapely/shapely: vectorized
GEOS kernels, STRtree spatial index) as an idiomatic Spark engine: DataFrame
plans for joins/aggregations, NumPy kernels inside Arrow-batched pandas UDFs
for exact geometry math, a SQL-expressible cell grid for partition pruning.
"""

__version__ = "0.1.0"


def __getattr__(name):
    """Lazy top-level API — Spark-side entry points import pyspark, so they
    resolve on first access instead of at package import."""
    surface = {
        "spatial_join": ("shapely_spark.spark.join", "spatial_join"),
        "spatial_join_geom": ("shapely_spark.spark.join", "spatial_join_geom"),
        "knn_join": ("shapely_spark.spark.knn", "knn_join"),
        "tile_counts": ("shapely_spark.spark.tiles", "tile_counts"),
        "dissolve": ("shapely_spark.spark.overlay_ops", "dissolve"),
        "with_geo": ("shapely_spark.spark.extract", "with_geo"),
        "get_spark": ("shapely_spark.spark.session", "get_spark"),
        "register_sql_functions": (
            "shapely_spark.spark.geometry_cols", "register_sql_functions"),
        "geo": ("shapely_spark.geo", None),
    }
    # reference 2.x top-level idiom: `from shapely import Point` — the OO
    # classes + shape/mapping resolve lazily through the geo package
    oo = {"Point", "LineString", "LinearRing", "Polygon", "MultiPoint",
          "MultiLineString", "MultiPolygon", "GeometryCollection",
          "Geometry", "STRtree", "shape", "mapping",
          "from_wkt", "to_wkt", "from_wkb", "to_wkb",
          "from_geojson", "to_geojson", "box"}
    if name in oo:
        import importlib

        return getattr(importlib.import_module("shapely_spark.geo"), name)
    if name in surface:
        import importlib

        mod, attr = surface[name]
        m = importlib.import_module(mod)
        return getattr(m, attr) if attr else m
    if not name.startswith("_"):
        # the reference's flat `shapely.*` namespace: any remaining
        # public symbol resolves through the geo package (which itself
        # falls back across the kernel modules) — ported `shapely.area`/
        # `shapely.intersects` calls work unchanged
        import importlib

        geo_pkg = importlib.import_module("shapely_spark.geo")
        try:
            return getattr(geo_pkg, name)
        except AttributeError:
            pass
    raise AttributeError(name)
