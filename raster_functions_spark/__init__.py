"""raster_functions_spark — a from-scratch PySpark-native spatial-join + tiling engine.

Re-expresses the query/data-processing capabilities of Esri/raster-functions
(reference surveyed in SURVEY.md) as an idiomatic Spark engine:

- tiled image tables (one row per raster tile; pixels as encoded ``binary``),
- vectorized pandas/Arrow UDF kernels for per-tile pixel operators,
- a hierarchical Z-order cell index (pure Column expressions — JVM-side),
- broadcast / partitioned point-in-polygon joins against vector AOI tables,
- halo (neighbor-tile) joins for focal/window kernels,
- mosaic/time-stack composites via groupBy + NumPy reductions,
- plus web-scale training-data ops: dedup (exact/MinHash-LSH/SimHash),
  ANN similarity search, text quality analysis.

No code is ported from the reference; citations in docstrings are to the
*behavior* being matched (file:line into /root/reference).
"""

import os
import sys
import zipimport

__version__ = "0.1.0"


def _archive_key(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _guard_zip_rereads() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's central
    directory only when the archive's ``(mtime_ns, size)`` changed since the
    importer last read it (see the ``session`` module docstring: "Python
    worker fixed cost"). Idempotent. Importers already in
    ``sys.path_importer_cache`` are stamped now, so the next call is cheap;
    importers created later re-read once, then are stamped."""
    stock = zipimport.zipimporter.invalidate_caches
    if getattr(stock, "_stat_guarded", False):
        return

    def invalidate_caches(self):
        key = _archive_key(self.archive)
        if key is None or key != getattr(self, "_archive_key", None):
            stock(self)
            self._archive_key = key

    invalidate_caches._stat_guarded = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for imp in list(sys.path_importer_cache.values()):
        if isinstance(imp, zipimport.zipimporter):
            imp._archive_key = _archive_key(imp.archive)


def _in_task() -> bool:
    if "pyspark" not in sys.modules:    # a worker has always imported it
        return False
    from pyspark.taskcontext import TaskContext
    return TaskContext.get() is not None


# CPython 3.12 made the re-read lazy; the driver keeps stock zipimport.
if sys.version_info < (3, 12) and _in_task():
    _guard_zip_rereads()
