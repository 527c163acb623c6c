"""Legacy ``shapely.vectorized`` module: element-wise point predicates.

reference: shapely/vectorized/__init__.py — ``contains(geometry, x, y)``
and ``touches(geometry, x, y)`` evaluate one geometry against arrays of
point coordinates, emitting the reference's DeprecationWarning that
points at the 2.0 ``contains_xy``/``intersects_xy`` replacements. The
polygonal path rides the spatial join's RaggedPolygonLayer classifier
(kernels.py): one ring extraction per call, one bbox-masked,
vectorized crossing-parity pass per batch. Non-polygonal geometries
(points/lines) fall back to the scalar DE-9IM kernels per point — the
reference delegates those to per-point GEOS prepared ops too.
"""

from __future__ import annotations

import warnings

import numpy as np

from . import kernels as K
from .geom import (
    GEOMETRYCOLLECTION,
    MULTIPOLYGON,
    POLYGON,
    Geometry,
    point,
)
from .prepared import PreparedGeometry

__all__ = ["contains", "touches"]

_POLYGONAL = (POLYGON, MULTIPOLYGON, GEOMETRYCOLLECTION)


def _unwrap(geometry) -> Geometry:
    if isinstance(geometry, PreparedGeometry):
        return geometry.context
    return geometry


def _xy(x, y):
    x = np.asanyarray(x, dtype=np.float64)
    y = np.asanyarray(y, dtype=np.float64)
    if x.shape != y.shape:
        raise ValueError("X and Y shapes must be equivalent.")
    return x, y


def _pointwise(geom: Geometry, x: np.ndarray, y: np.ndarray, pred) -> np.ndarray:
    out = np.zeros(x.shape, dtype=bool)
    flat_x, flat_y, flat_o = x.ravel(), y.ravel(), out.ravel()
    for i in range(flat_x.size):
        flat_o[i] = bool(pred(geom, point(flat_x[i], flat_y[i])))
    return flat_o.reshape(x.shape)


def contains(geometry, x, y) -> np.ndarray:
    """Element-wise containment mask of points (x, y) in one geometry.
    reference: shapely/vectorized/__init__.py:24."""
    warnings.warn(
        "The 'shapely.vectorized.contains' function is deprecated and will "
        "be removed a future version. Use 'shapely.contains_xy' instead "
        "(available since shapely 2.0.0).",
        DeprecationWarning,
        stacklevel=2,
    )
    x, y = _xy(x, y)
    return K.contains_xy(_unwrap(geometry), x, y)


def touches(geometry, x, y) -> np.ndarray:
    """Element-wise boundary-touch mask of points (x, y) vs one geometry.
    reference: shapely/vectorized/__init__.py:58."""
    warnings.warn(
        "The 'shapely.vectorized.touches' function is deprecated and will "
        "be removed a future version. Use 'shapely.intersects_xy' with a "
        "boundary test instead.",
        DeprecationWarning,
        stacklevel=2,
    )
    geom = _unwrap(geometry)
    x, y = _xy(x, y)
    if geom.type_id in _POLYGONAL:
        cls = K.RaggedPolygonLayer({0: geom}).classify_many(
            np.zeros(x.size, dtype=np.int64), x.ravel(), y.ravel())
        return (cls == K.BOUNDARY).reshape(x.shape)
    return _pointwise(geom, x, y, K.touches)
