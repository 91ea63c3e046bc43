"""Zip-archive directory cache that survives ``importlib.invalidate_caches``.

PySpark's Python worker calls ``importlib.invalidate_caches()`` once per
task (``worker_util.setup_spark_files``), after putting the task's
``--py-files`` on ``sys.path``. On CPython up to 3.12,
``zipimporter.invalidate_caches`` re-parses its archive's whole central
directory on every call, and a worker's ``sys.path_importer_cache``
holds one zipimporter per package directory imported from a zip (about
90 after pandas/pyarrow/pyspark imports, most of them into
``pyspark.zip``). Each task therefore re-reads ``pyspark.zip`` dozens
of times: 0.2-0.3 s of fixed cost per Python task, growing with what
the worker has imported. CPython 3.13 invalidates lazily and is left
alone.

``install()`` swaps in a method that re-reads an archive only when its
``(st_mtime_ns, st_size)`` stamp differs from the one recorded at its
last read, and otherwise points the importer at the directory already
in ``zipimport._zip_directory_cache``. A rewritten archive is still
re-read on the next call, so freshly shipped code imports as before.
The package ``__init__`` installs it, so every worker that unpickles an
engine function carries it from then on, whichever way the engine
reached the worker's path.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (st_mtime_ns, st_size) when its directory was last read
_stamps: dict[str, tuple[int, int]] = {}
_eager = zipimport.zipimporter.invalidate_caches


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size)


def _invalidate_if_changed(self) -> None:
    """Re-read ``self.archive``'s directory only if the file changed
    since the last read; share the cached directory otherwise."""
    stamp = _stamp(self.archive)
    cached = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and cached is not None and _stamps.get(self.archive) == stamp:
        self._files = cached
        return
    _eager(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _stamps[self.archive] = stamp
    else:
        _stamps.pop(self.archive, None)


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` where it re-reads eagerly
    (CPython < 3.13). Idempotent."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
