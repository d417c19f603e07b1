"""docling_japanese_books_spark — a PySpark-native extraction/analytics engine.

A from-scratch reimplementation of the capabilities of the reference repo
``paazmaya/docling-japanese-books`` (a single-process Docling → chunk → embed →
Milvus pipeline), re-architected for Spark:

- document corpus = DataFrame over parquet/Iceberg-style tables;
- extraction / chunking = Arrow-batched pandas UDFs (never per-row Python UDFs);
- search / scoring / rollups = declarative DataFrame plans optimized by Catalyst;
- pipeline runs are checkpoint-resumable per bucket with a manifest table.

Nothing here is a translation of the reference's code; reference files are
cited in docstrings (file:line) only to pin WHAT is computed.
"""

__version__ = "0.1.0"

import sys
import zipimport


class _StaticZipImporter(zipimport.zipimporter):
    def invalidate_caches(self):
        pass


def _static_zip_importers() -> None:
    """In a PySpark worker, stop the per-task re-read of the path's archives.

    The worker calls ``importlib.invalidate_caches()`` before every task; up
    to CPython 3.12 ``zipimporter.invalidate_caches`` re-reads its archive's
    whole central directory, once per cached importer (each package directory
    in pyspark.zip, the py4j zip and the spark-core jar has one): 100-200 ms
    a task on local[4] for archives that never change while a worker lives.
    Archives that join the path later keep Python's importer. On 3.13, where
    the call only drops the cache for a lazy re-read, this is as harmless."""
    # set by the worker before it unpickles a task's functions
    files = sys.modules.get("pyspark.core.files")
    if files is None or not files.SparkFiles._is_running_on_worker:
        return
    for finder in sys.path_importer_cache.values():
        if type(finder) is zipimport.zipimporter:
            # in place: no archive I/O, and loaded modules keep their loader
            finder.__class__ = _StaticZipImporter


_static_zip_importers()
