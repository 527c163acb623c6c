"""Catalyst Column builders — the JVM-side (no-UDF) expression layer.

These produce plain Spark SQL expressions so the hot path stays inside
whole-stage codegen: cell assignment, haversine distance, bbox tests.
Each mirrors a NumPy kernel bit-exactly (same op order → same IEEE-754
result), so plans can mix JVM expressions and pandas-UDF kernels freely.

Reference analogs: cell_col replaces the STRtree envelope prune
(shapely/strtree.py:30) with a partition-prunable equi-join key;
haversine_col is the kNN refine metric (engine addition, SURVEY.md §2.4).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..index.cells import DEFAULT_RES, grid_n

EARTH_RADIUS_KM = 6371.0088


def cell_sql(lat: str, lon: str, res: int = DEFAULT_RES) -> str:
    """Cell id as one Spark SQL expression string. Mirrors
    shapely_spark.index.cells.cell_of (and its SQL twin sql_cell_expr)
    exactly, including the -1 NULL-island convention for NULL/NaN coords.

    lat, lon: SQL expressions over the frame, e.g. a column name
    (backquoted if it is not a plain identifier) or
    ``greatest(__ly, __ry)``. Double literals carry the D suffix: a bare
    180.0 is a DECIMAL in Spark SQL."""
    n = grid_n(res)
    lat, lon = f"({lat})", f"({lon})"
    ix = f"least({n - 1}, greatest(0, floor(({lon} + 180.0D) / 360.0D * {n})))"
    iy = f"least({n - 1}, greatest(0, floor(({lat} + 90.0D) / 180.0D * {n})))"
    bad = f"{lat} IS NULL OR {lon} IS NULL OR isnan({lat}) OR isnan({lon})"
    return (f"CASE WHEN {bad} THEN CAST(-1 AS BIGINT)"
            f" ELSE CAST({iy} * {n} + {ix} AS BIGINT) END")


def cell_col(lat: str, lon: str, res: int = DEFAULT_RES) -> Column:
    """cell_sql as a Catalyst Column: ONE SQL string parsed JVM-side
    (0.5 ms) instead of a py4j Column chain (~0.1 s per call)."""
    return F.expr(cell_sql(lat, lon, res))


def cell_parent_col(cell: Column, res: int = DEFAULT_RES,
                    parent_res: int | None = None) -> Column:
    """Parent cell at a coarser resolution as pure bit arithmetic
    (shiftright/AND — whole-stage codegen, ANSI-safe: values < 2^(2·res)).
    Mirrors index.cells.cell_parent; -1 (NULL island) stays -1."""
    if parent_res is None:
        parent_res = res - 1
    if not 0 <= parent_res <= res:
        raise ValueError(f"parent_res {parent_res} not in [0, {res}]")
    d = res - parent_res
    ix = cell.bitwiseAND(F.lit(grid_n(res) - 1))
    iy = F.shiftright(cell, res)
    parent = F.shiftleft(F.shiftright(iy, d), parent_res) + F.shiftright(ix, d)
    return F.when(cell < 0, F.lit(-1).cast("bigint")).otherwise(parent.cast("bigint"))


def haversine_col(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance (km) as built-in expressions — stays in
    whole-stage codegen; mirrors kernels.haversine_km."""
    rlat1, rlon1 = F.radians(lat1), F.radians(lon1)
    rlat2, rlon2 = F.radians(lat2), F.radians(lon2)
    dlat = rlat2 - rlat1
    dlon = rlon2 - rlon1
    a = F.pow(F.sin(dlat / 2), 2) + F.cos(rlat1) * F.cos(rlat2) * F.pow(F.sin(dlon / 2), 2)
    a = F.least(F.greatest(a, F.lit(0.0)), F.lit(1.0))
    return F.lit(2.0 * EARTH_RADIUS_KM) * F.asin(F.sqrt(a))


def salt_col(unique_col: Column, salts: int) -> Column:
    """Skew salt derived from a per-row unique column (deterministic):
    salt = pmod(xxhash64(col), S). Pair with exploding the small side
    across all S salt values for a co-partitioned join (SURVEY.md §2.9)."""
    return F.pmod(F.xxhash64(unique_col), F.lit(salts))
