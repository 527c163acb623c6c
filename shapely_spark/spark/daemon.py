"""Custom PySpark worker daemon: preload heavy modules before forking, and
strip the fixed cost every forked worker pays per task.

PySpark forks one Python worker per concurrent task from ``pyspark.daemon``.
A stock daemon has only pyspark loaded, so every freshly forked worker pays
the full ``import numpy/pandas/pyarrow`` cost (1-3 s under 32-way fork
contention) before the first Arrow batch flows — a per-WORKER tax that grows
with parallelism and destroys scaling efficiency (measured: a 0.5 s
mapInPandas stage costing 6-40 s wall at local[32]).

Preloading here means forked workers inherit warm modules via copy-on-write:
worker start becomes O(fork) instead of O(import pandas).

Two more costs are paid per TASK, before the first batch, and this module
removes both (4-core host, CPython 3.11, the ``geom_join`` perfbench op):

- ``pyspark.worker.main`` → ``setup_spark_files`` calls
  ``importlib.invalidate_caches()``, and CPython's
  ``zipimporter.invalidate_caches`` re-reads the whole central directory
  of its archive, once per zipimporter instance. Workers import pyspark
  from ``pyspark.zip`` (1,328 entries) through 14-16 instances: about
  0.1 s of CPU per task, 66% of worker CPU in a sampled run of 180 tasks.
  ``_guard_zip_directory_reads`` re-reads an archive only when its
  ``os.stat`` key changed since the last read.
- the daemon's worker-reuse loop runs ``gc.collect()`` after every task
  over the ~73k preloaded objects (15-25 ms each). ``prepare_fork``
  moves them to the permanent generation (``gc.freeze()``), so a worker's
  collection scans only what its tasks allocated and no longer writes the
  GC headers of the pages it shares with the daemon.

With both removed (and the cheaper plan building of spark/join.py),
``geom_join`` went from 22.0 to 11.7 CPU-s per op and from 951 to 1,670
rows/s, medians of 8 alternated perfbench pairs on that host.

Activated by ``spark.python.daemon.module=shapely_spark.spark.daemon``
(set in session.get_spark) with PYTHONPATH carrying the repo root.
"""

from __future__ import annotations

import gc
import importlib
import os
import zipimport

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


def _guard_zip_directory_reads() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    its ``(st_mtime_ns, st_size, st_ino)`` differs from the key of the
    last read. A skipped instance points at the shared
    ``_zip_directory_cache`` entry, so every instance of a changed archive
    sees the one fresh read. Without the two CPython internals this relies
    on, the stock method stays."""
    cache = getattr(zipimport, "_zip_directory_cache", None)
    if not isinstance(cache, dict):
        return
    stock = zipimport.zipimporter.invalidate_caches
    keys: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self):
        archive = self.archive
        try:
            st = os.stat(archive)
            key = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            key = None
        files = cache.get(archive)
        if (key is not None and keys.get(archive) == key
                and files is not None and hasattr(self, "_files")):
            self._files = files
            return
        # stat before the read: a write racing the read leaves a stale key,
        # and the next call reads again
        stock(self)
        if key is not None and archive in cache:
            keys[archive] = key
        else:
            keys.pop(archive, None)

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # key every archive the preload imported from, so forked workers start
    # with nothing to re-read
    importlib.invalidate_caches()


def prepare_fork() -> None:
    """Run once in the daemon, after the preload and before ``manager()``
    forks the first worker."""
    _guard_zip_directory_reads()
    gc.collect()
    gc.freeze()


if __name__ == "__main__":
    prepare_fork()
    manager()
