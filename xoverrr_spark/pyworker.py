"""Python-worker hygiene for the package's worker-side batch functions.

PySpark calls ``importlib.invalidate_caches()`` at the start of every
task (``pyspark/worker_util.py``, ``setup_spark_files``). On CPython 3.11
and 3.12, ``zipimport.zipimporter.invalidate_caches`` answers that by
re-reading its archive's whole central directory; 3.13 only drops the
cached directory. A reused worker holds one ``zipimporter`` per package
directory it has imported from an archive: about a dozen over
``pyspark.zip``, plus the py4j zip and the Spark jar (thousands of
entries each). Measured on a 4-core host, that re-reading cost 0.2-0.5 s
of every Python-UDF task, against 0.03-0.1 s of actual UDF work.

Every function the package hands to ``pandas_udf``, ``mapInPandas`` or
``applyInPandas*`` calls ``forget_zip_importers()`` first (guarded by
``tests/test_pyworker.py``), so the next task's ``invalidate_caches`` has
no archive left to re-read.
"""

from __future__ import annotations

import sys
import zipimport


def forget_zip_importers() -> None:
    """Drop every ``zipimporter`` from ``sys.path_importer_cache``.

    Modules already imported keep their loaders and are untouched. A later
    import from one of those archives builds a fresh importer from
    zipimport's per-archive directory cache, without reading the archive
    again.

    Assumes the archives on a worker's path do not change while the worker
    runs. That holds for ``pyspark.zip``, py4j, the Spark jar and
    ``--py-files`` archives: with ``spark.files.overwrite`` at its default
    (false), Spark refuses to overwrite an added file with different
    contents.
    """
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            cache.pop(path, None)
