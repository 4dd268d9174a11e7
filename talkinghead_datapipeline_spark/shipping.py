"""Ship this package to Spark python workers (cluster-safe imports).

UDF closures (applyInPandas/mapInPandas) reference functions in this package
by module name; cloudpickle serializes them **by reference**, so the worker
process must be able to import ``talkinghead_datapipeline_spark`` at
unpickle time. The driver process importing us via ``sys.path`` (as the
harness does) does NOT make workers able to — locally they may start with a
different cwd, and on a real cluster they are different machines.

``ensure_package_shipped`` zips the package once per process and registers
it with ``SparkContext.addPyFile`` once per SparkContext — the standard
deployment mechanism, identical on local[N] and a 1000-executor cluster.
Every UDF-bearing operator calls this at plan-build time.

``release_zip_finders`` is the worker-side half. A reused Python worker
starts every task with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), and on CPython 3.11 every
``zipimport.zipimporter`` in ``sys.path_importer_cache`` then re-reads its
whole archive directory. A worker holds about 17 such finders: one per
imported sub-package path of ``pyspark.zip``, two for the Spark core jar on
the worker ``PYTHONPATH``, the py4j zip and this package's zip. Re-reading
them costs about 0.15 s per task on a 4-core box, far more than a small
model batch. Python UDF generators call the helper when their task ends, so
the next task's ``invalidate_caches()`` finds no zip to re-read.
"""

from __future__ import annotations

import os
import sys
import tempfile
import zipfile
import zipimport

_SHIPPED_CONTEXTS: set[str] = set()
_ZIP_PATH: str | None = None


def _build_zip() -> str:
    global _ZIP_PATH
    if _ZIP_PATH is not None and os.path.exists(_ZIP_PATH):
        return _ZIP_PATH
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    path = os.path.join(
        tempfile.gettempdir(), f"{pkg_name}_{os.getpid()}.zip"
    )
    with zipfile.ZipFile(path, "w") as zf:
        for dirpath, _dirnames, filenames in os.walk(pkg_dir):
            for fn in filenames:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    arc = os.path.join(
                        pkg_name, os.path.relpath(full, pkg_dir)
                    )
                    zf.write(full, arc)
    _ZIP_PATH = path
    return path


def ensure_package_shipped(spark) -> None:
    """Idempotently make this package importable on all Spark workers."""
    sc = spark.sparkContext
    key = sc.applicationId
    if key in _SHIPPED_CONTEXTS:
        return
    sc.addPyFile(_build_zip())
    _SHIPPED_CONTEXTS.add(key)


def release_zip_finders() -> None:
    """Drop every ``zipimporter`` from ``sys.path_importer_cache``.

    Called in a worker at the end of each Python task, so the next task's
    ``importlib.invalidate_caches()`` has no zip archive directory to
    re-read (about 0.15 s per task; see the module docstring). Safe because
    the dict is only a cache: the next import that needs a zip builds a new
    finder from zipimport's own directory cache without reading the archive,
    and modules already imported keep their loaders.
    """
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            cache.pop(path, None)
