"""DataFrame-level overlay operations: dissolve (union by key).

Reference semantics: shapely/set_operations.py:465 union_all with an
axis/indices grouping — the relational form is groupBy(key) + cascaded
union of the group's geometries (SURVEY.md §2.9 "dissolve/union by key").

Plan shape: groupBy(key).applyInPandas — one shuffle on the dissolve key;
each group unions locally with the tree-fold kernel (geo/overlay.union_all).
At scale, skewed keys (one giant group) are handled upstream by two-level
dissolve: pre-union within partitions (mapInPandas keyed by (key, salt)),
then final dissolve on the partial results — the same partial/final split
Catalyst applies to built-in aggregates.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame


def _union_group(pdf: pd.DataFrame, key_col: str, wkb_col: str,
                 parts_col: str | None = None) -> pd.DataFrame:
    """One group's (key, wkb, n_parts): the union of its geometries.
    NULL/empty geometries are dropped. n_parts counts the input
    geometries, or sums `parts_col` when the group holds partial unions."""
    from ..geo.overlay import union_all
    from ..geo.wkb import from_wkb, to_wkb

    geoms = [from_wkb(bytes(b), on_invalid="ignore")
             for b in pdf[wkb_col] if b is not None]
    geoms = [g for g in geoms if g is not None and not g.is_empty]
    n = len(geoms) if parts_col is None else int(pdf[parts_col].sum())
    return pd.DataFrame(
        {key_col: pdf[key_col].iloc[:1], "wkb": [to_wkb(union_all(geoms))], "n_parts": [n]}
    )


def dissolve(df: DataFrame, key_col: str, wkb_col: str = "wkb") -> DataFrame:
    """df(key, wkb, …) → (key, wkb, n_parts): union of each key's
    geometries. NULL/empty geometries are dropped (reference skips None,
    shapely/set_operations.py:500 union_all ignore-missing semantics)."""
    key_type = dict(df.dtypes)[key_col]
    schema = f"{key_col} {key_type}, wkb binary, n_parts int"
    return df.select(key_col, wkb_col).groupBy(key_col).applyInPandas(
        lambda pdf: _union_group(pdf, key_col, wkb_col), schema)


def dissolve_two_level(df: DataFrame, key_col: str, wkb_col: str = "wkb",
                       salts: int = 8) -> DataFrame:
    """Skew-safe dissolve: partial union on (key, salt) first, final union
    on key — bounds any single task's group size by 1/salts. n_parts is
    the sum of the partial counts, the same as `dissolve`'s."""
    from pyspark.sql import functions as F

    salted = df.select(key_col, wkb_col).withColumn(
        "__salt", F.pmod(F.xxhash64(F.col(wkb_col)), F.lit(salts))
    )
    key_type = dict(df.dtypes)[key_col]
    schema = f"{key_col} {key_type}, wkb binary, n_parts int"
    partial = salted.groupBy(key_col, "__salt").applyInPandas(
        lambda pdf: _union_group(pdf, key_col, wkb_col), schema)
    return partial.groupBy(key_col).applyInPandas(
        lambda pdf: _union_group(pdf, key_col, "wkb", parts_col="n_parts"), schema)
