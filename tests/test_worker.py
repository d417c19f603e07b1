"""Python worker fixed cost: once a task has imported the package, the
``importlib.invalidate_caches()`` PySpark's worker runs before every task
re-reads none of the archives already on the worker's path, while modules
are still imported from them and archives added later keep Python's
default importer."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

import pyarrow as pa
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _in_task(spark, fn):
    """``fn()``'s JSON-able result, computed in one mapInArrow task that has
    imported the package."""

    def task(batches):
        import docling_japanese_books_spark  # noqa: F401

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist([{"out": json.dumps(fn())}])

    (row,) = spark.range(1, numPartitions=1).mapInArrow(task, "out string").collect()
    return json.loads(row.out)


def test_task_rereads_no_archive_and_still_imports_from_them(spark):
    def probe():
        import importlib
        import zipimport

        archives = sorted(
            {
                f.archive
                for f in sys.path_importer_cache.values()
                if isinstance(f, zipimport.zipimporter)
            }
        )
        # PySpark's worker makes this call before every task
        real, reads = zipimport._read_directory, []
        zipimport._read_directory = lambda a: reads.append(a) or real(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        # a pyspark module no task has loaded, served from pyspark.zip
        fresh = next(
            m
            for m in ("pyspark.find_spark_home", "pyspark.install")
            if m not in sys.modules
        )
        return archives, reads, importlib.import_module(fresh).__file__

    archives, reads, fresh_file = _in_task(spark, probe)
    if not any(a.endswith("pyspark.zip") for a in archives):
        pytest.skip(f"the worker imports pyspark from no archive: {archives}")
    assert reads == []
    assert fresh_file.startswith(
        next(a for a in archives if a.endswith("pyspark.zip")) + os.sep
    )


def test_archive_added_later_sees_new_files(spark):
    def probe():
        import importlib
        import uuid
        import zipfile

        tmp = tempfile.mkdtemp(prefix="late_zip_")
        archive = os.path.join(tmp, "late.zip")
        first, second = (f"_late_{uuid.uuid4().hex}" for _ in range(2))
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr(f"{first}.py", "X = 1\n")
        sys.path.append(archive)
        try:
            importlib.import_module(first)
            with zipfile.ZipFile(archive, "a") as z:
                z.writestr(f"{second}.py", "X = 2\n")
            importlib.invalidate_caches()
            return importlib.import_module(second).X
        finally:
            sys.path.remove(archive)
            sys.path_importer_cache.pop(archive, None)
            sys.modules.pop(first, None)
            sys.modules.pop(second, None)
            shutil.rmtree(tmp)

    assert _in_task(spark, probe) == 2


@pytest.mark.skipif(shutil.which("zip") is None, reason="needs the zip tool")
def test_py_files_zip_is_not_reread(tmp_path):
    """The package shipped as a ``--py-files`` zip (built as tools/submit.sh
    builds it) in a worker: after the package import, invalidating caches
    re-reads no archive and a package submodule still loads from the zip."""
    archive = str(tmp_path / "docling_japanese_books_spark.zip")
    subprocess.run(
        ["zip", "-qr", archive, "docling_japanese_books_spark", "-x", "*__pycache__*"],
        cwd=REPO,
        check=True,
    )
    script = """
import importlib, json, sys, zipimport
from pyspark.core.files import SparkFiles
SparkFiles._is_running_on_worker = True  # as the worker sets it before a task
import docling_japanese_books_spark as pkg
real, reads = zipimport._read_directory, []
zipimport._read_directory = lambda a: reads.append(a) or real(a)
importlib.invalidate_caches()
zipimport._read_directory = real
sub = "docling_japanese_books_spark.extraction.charset"
assert sub not in sys.modules
__import__(sub)
print(json.dumps([pkg.__file__, reads, sys.modules[sub].__file__]))
"""
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env={**os.environ, "PYTHONPATH": archive},
        capture_output=True,
        text=True,
        check=True,
    )
    pkg_file, reads, sub_file = json.loads(out.stdout.splitlines()[-1])
    assert pkg_file.startswith(archive + os.sep)
    assert reads == []
    assert sub_file.startswith(archive + os.sep)
