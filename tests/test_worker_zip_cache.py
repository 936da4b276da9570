"""Worker-side zip-directory cache (facs_spark/__init__.py): inside a
Spark Python worker, ``importlib.invalidate_caches()`` re-reads a
zip archive's central directory only when the archive changed; the
driver keeps the stdlib method."""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from facs_spark.session import get_spark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def spark():
    yield get_spark("facs_spark_zip_cache_tests", cpus=4,
                    shuffle_partitions=4)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_invalidate_rereads_only_changed_archives(tmp_path, monkeypatch):
    """Unchanged archive: no re-read.  Rewritten archive: re-read, and
    its new module imports.  A second install wraps only once."""
    from pyspark.core.files import SparkFiles

    import facs_spark

    archive = str(tmp_path / "zc_mods.zip")
    _write_zip(archive, ["zc_mod_a"])
    monkeypatch.syspath_prepend(archive)
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    stock = zipimport.zipimporter.invalidate_caches
    reads = []
    real_read = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return real_read(path)

    try:
        assert importlib.import_module("zc_mod_a").NAME == "zc_mod_a"
        facs_spark._install_worker_zip_cache()
        monkeypatch.setattr(zipimport, "_read_directory", counting)

        importlib.invalidate_caches()
        # an archive deleted since its import (an earlier session's
        # userFiles zip) fails stat and is handed to the stdlib
        assert [p for p in reads if os.path.exists(p)] == []

        _write_zip(archive, ["zc_mod_a", "zc_mod_b"])
        importlib.invalidate_caches()
        assert archive in reads
        assert importlib.import_module("zc_mod_b").NAME == "zc_mod_b"

        facs_spark._install_worker_zip_cache()
        patched = zipimport.zipimporter.invalidate_caches
        assert patched is not stock and patched.__wrapped__ is stock
    finally:
        zipimport.zipimporter.invalidate_caches = stock
        sys.path_importer_cache.pop(archive, None)
        for name in ("zc_mod_a", "zc_mod_b"):
            sys.modules.pop(name, None)


def test_worker_task_skips_unchanged_zip_directories(spark):
    """In a Python task that has imported facs_spark, the per-task
    ``importlib.invalidate_caches()`` re-reads no zip directory (the
    stdlib re-reads every one: >= 16 on pyspark.zip and py4j)."""
    import pandas as pd

    def probe(batches):
        import importlib
        import zipimport

        import facs_spark  # noqa: F401  (as every kernel unpickle does)
        real_read = zipimport._read_directory
        reads = [0]

        def counting(path):
            reads[0] += 1
            return real_read(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real_read
        for _ in batches:
            pass
        yield pd.DataFrame({"reads": reads})

    got = [r.reads for r in spark.range(4, numPartitions=4)
           .mapInPandas(probe, "reads long").collect()]
    assert got == [0, 0, 0, 0]


def test_driver_import_keeps_stdlib_invalidate():
    """Importing facs_spark in a driver (pyspark loaded, not a worker)
    leaves zipimporter.invalidate_caches as the stdlib function."""
    code = ("import zipimport\n"
            "stock = zipimport.zipimporter.invalidate_caches\n"
            "from pyspark.core.files import SparkFiles\n"
            "import facs_spark.session\n"
            "assert not SparkFiles._is_running_on_worker\n"
            "assert zipimport.zipimporter.invalidate_caches is stock\n")
    subprocess.run([sys.executable, "-c", code], cwd=REPO, check=True)
