"""facs_spark — PySpark-native distributed sketch / approximate-
aggregation engine (from-scratch re-imagining of SciLifeLab/facs).

Top-level surface:

* ``facs_spark.sketch`` — pure-numpy mergeable sketches (no Spark).
* ``facs_spark.api`` — the reference-compatible build/query/remove.
* ``facs_spark.session.get_spark`` — tuned local session.
* ``python -m facs_spark`` — CLI (build|query|remove|info).

Spark-dependent modules load lazily so the sketch core stays usable
without a JVM.
"""

from __future__ import annotations

import functools
import os
import sys

__version__ = "0.1.0"

_LAZY = {
    "api": "facs_spark.api",
    "session": "facs_spark.session",
    "sketch": "facs_spark.sketch",
    "queries": "facs_spark.queries",
    "functions": "facs_spark.functions",
}


def __getattr__(name):
    if name in _LAZY:
        import importlib

        mod = importlib.import_module(_LAZY[name])
        globals()[name] = mod
        return mod
    raise AttributeError(f"module 'facs_spark' has no attribute {name!r}")


__all__ = list(_LAZY) + ["__version__"]


def _install_worker_zip_cache() -> None:
    """Inside a Spark Python worker, make ``zipimporter.invalidate_caches``
    re-read an archive only when its (inode, size, mtime) changed.

    PySpark calls ``importlib.invalidate_caches()`` at the start of every
    task, and CPython's zipimporter answers by re-parsing the whole
    central directory of its archive, once per importer: the ~16
    importers on pyspark.zip and py4j re-read ~21,000 entries that
    cannot have changed (140-260 ms of worker CPU per task at local[4]
    on a 4-core host; docs/API.md has the numbers).  Workers are
    reused, so keying the re-read on ``os.stat`` leaves only the first
    task in each worker paying it.  A changed archive, or one whose
    ``stat`` fails, still goes through the stdlib method.  Installs once
    per process, only when PySpark marks the process as a worker; the
    driver and sketch-only imports are never patched.
    """
    files = sys.modules.get("pyspark.core.files")
    if files is None or not files.SparkFiles._is_running_on_worker:
        return
    import zipimport
    stock = zipimport.zipimporter.invalidate_caches
    if hasattr(stock, "__wrapped__"):
        return

    @functools.wraps(stock)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            key = None
        if key is None or key != self.__dict__.get("_archive_stat"):
            stock(self)
            self._archive_stat = key

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # importers created before now have no recorded stat: read each
    # once here so the next task's invalidation finds them current
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()


_install_worker_zip_cache()
