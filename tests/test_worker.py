"""The worker hook re-reads a zip archive's directory on
``importlib.invalidate_caches()`` only when the archive changed, and is
installed inside Spark tasks only."""

import importlib
import sys
import zipfile
import zipimport

import pytest

from dce_spark.spark import worker


def _write_zip(path, value, padding=""):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("dce_zip_probe.py", f"VALUE = {value}\n{padding}")


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    from pyspark import TaskContext

    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, 1)
    reads = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    stdlib = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stdlib)
    monkeypatch.setattr(TaskContext, "_taskContext", object.__new__(TaskContext))
    worker.install()
    hooked = zipimport.zipimporter.invalidate_caches
    assert hooked.__wrapped__ is stdlib
    worker.install()
    assert zipimport.zipimporter.invalidate_caches is hooked

    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "dce_zip_probe", raising=False)
    try:
        import dce_zip_probe

        assert dce_zip_probe.VALUE == 1
        n = len(reads)
        importlib.invalidate_caches()  # first sight: read once and stamp
        assert len(reads) == n + 1
        n = len(reads)
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert len(reads) == n

        _write_zip(archive, 22, padding="# grown\n")
        del sys.modules["dce_zip_probe"]
        importlib.invalidate_caches()
        assert len(reads) == n + 1
        import dce_zip_probe

        assert dce_zip_probe.VALUE == 22
    finally:
        sys.modules.pop("dce_zip_probe", None)
        sys.path_importer_cache.pop(archive, None)


@pytest.mark.spark
def test_spark_task_sees_hook(spark):
    def _hook_state(batches):
        import pyarrow as pa

        for b in batches:
            hooked = hasattr(worker.zipimport.zipimporter.invalidate_caches, "__wrapped__")
            yield pa.RecordBatch.from_pydict({"hooked": [hooked] * b.num_rows})

    rows = spark.range(0, 8, numPartitions=4).mapInArrow(_hook_state, "hooked boolean").collect()
    assert len(rows) == 8
    assert all(r.hooked for r in rows)
    assert not hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")
