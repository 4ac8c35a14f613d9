"""The zip-directory cache that kgtk_spark installs in PySpark's Python
workers: an archive's directory is re-read only when the archive changed."""

from __future__ import annotations

import sys
import zipfile
import zipimport

from pyspark.core.files import SparkFiles

from kgtk_spark import _zipcache


def _write_zip(path, names):
    with zipfile.ZipFile(path, "w") as z:
        for name in names:
            z.writestr(name, "x = 1\n")


def test_zip_directory_reread_only_when_archive_changes(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, ["a.py"])
    reads = []
    read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda p: reads.append(p) or read(p))
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    _zipcache.install()
    if sys.version_info >= (3, 13):  # the call is lazy there: nothing to wrap
        assert not hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")
        return

    importer = zipimport.zipimporter(archive)
    reads.clear()
    for _ in range(3):
        importer.invalidate_caches()
    assert reads == [archive]

    _write_zip(archive, ["a.py", "bb.py"])  # a new size: the archive changed
    for _ in range(3):
        importer.invalidate_caches()
    assert reads == [archive, archive]
    assert importer.find_spec("bb") is not None


def test_install_outside_a_worker_changes_nothing(monkeypatch):
    before = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", False)
    _zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is before


def test_python_workers_that_import_kgtk_spark_are_wrapped(spark):
    def probe(batches):
        import zipimport

        import pyarrow as pa

        import kgtk_spark  # noqa: F401 -- what a pipeline task imports

        wrapped = hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")
        for _ in batches:
            yield pa.RecordBatch.from_pydict({"wrapped": [wrapped]})

    rows = spark.range(0, 2, 1, 2).mapInArrow(probe, "wrapped boolean").collect()
    assert [r["wrapped"] for r in rows] == [sys.version_info < (3, 13)] * 2
