"""Custom PySpark worker daemon: preload heavy modules before forking.

PySpark forks one Python worker per concurrent task from ``pyspark.daemon``.
A stock daemon has only pyspark loaded, so every freshly forked worker pays
the full ``import numpy/pandas/pyarrow`` cost (1-3 s under 32-way fork
contention) before the first Arrow batch flows — a per-WORKER tax that grows
with parallelism and destroys scaling efficiency (measured: a 0.5 s
mapInPandas stage costing 6-40 s wall at local[32]).

Preloading here means forked workers inherit warm modules via copy-on-write:
worker start becomes O(fork) instead of O(import pandas).

Activated by ``spark.python.daemon.module=shapely_spark.spark.daemon``
(set in session.get_spark) with PYTHONPATH carrying the repo root.
"""

from __future__ import annotations

# Preload order: cheap → heavy. Failures are non-fatal — the daemon must
# come up even if a kernel module breaks; workers then import lazily as
# stock pyspark would.
try:  # noqa: SIM105
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyspark.sql.pandas.serializers  # noqa: F401
    import pyspark.worker  # noqa: F401

    import shapely_spark.geo.kernels  # noqa: F401
    import shapely_spark.geo.wkb  # noqa: F401
    import shapely_spark.geo.constructive  # noqa: F401
    import shapely_spark.geo.strtree  # noqa: F401
    import shapely_spark.geo.overlay  # noqa: F401
    import shapely_spark.geo.triangulate  # noqa: F401
    import shapely_spark.geo.coverage  # noqa: F401
    import shapely_spark.geo.geojson  # noqa: F401
    import shapely_spark.index.cells  # noqa: F401
except Exception:  # pragma: no cover - diagnostic only
    import traceback

    traceback.print_exc()

from pyspark.daemon import manager

if __name__ == "__main__":
    manager()
