"""The worker zip-directory cache (``zipcache``): ``importlib.
invalidate_caches()`` must re-read a zip on ``sys.path`` only when the
file changed, still pick up a rewritten zip, and be what a Spark
Python worker runs once it has imported engine code."""

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from common_crawl___autumn_2025_spark import zipcache
from common_crawl___autumn_2025_spark.canonical import canonicalize

EAGER = sys.version_info < (3, 13)


def _write_zip(path, value):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("zcprobe/__init__.py", "")
        z.writestr("zcprobe/mod.py", f"VALUE = {value!r}\n")


@pytest.mark.skipif(not EAGER, reason="this interpreter invalidates lazily")
def test_invalidate_caches_rereads_zip_only_when_changed(tmp_path, monkeypatch):
    assert zipimport.zipimporter.invalidate_caches is zipcache._invalidate_if_changed
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, 1)
    monkeypatch.syspath_prepend(archive)
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    try:
        assert importlib.import_module("zcprobe.mod").VALUE == 1
        # two importers share the archive: its root and zcprobe/
        importers = [
            f for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter) and f.archive == archive
        ]
        assert len(importers) == 2
        importlib.invalidate_caches()  # first sight records the stamp
        reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads.count(archive) == 0

        _write_zip(archive, 22)  # new content, new size
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        assert importers[0]._files is importers[1]._files
        del sys.modules["zcprobe.mod"], sys.modules["zcprobe"]
        assert importlib.import_module("zcprobe.mod").VALUE == 22
    finally:
        sys.modules.pop("zcprobe.mod", None)
        sys.modules.pop("zcprobe", None)
        for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
            del sys.path_importer_cache[key]
        zipimport._zip_directory_cache.pop(archive, None)
        zipcache._stamps.pop(archive, None)


def test_invalidate_caches_drops_a_deleted_zip(tmp_path, monkeypatch):
    archive = str(tmp_path / "gone.zip")
    _write_zip(archive, 3)
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("zcprobe.mod").VALUE == 3
        importlib.invalidate_caches()
        os.remove(archive)
        importlib.invalidate_caches()
        assert archive not in zipcache._stamps
        del sys.modules["zcprobe.mod"], sys.modules["zcprobe"]
        with pytest.raises(ImportError):
            importlib.import_module("zcprobe.mod")
    finally:
        sys.modules.pop("zcprobe.mod", None)
        sys.modules.pop("zcprobe", None)
        for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
            del sys.path_importer_cache[key]
        zipimport._zip_directory_cache.pop(archive, None)


def test_python_worker_runs_the_patched_method(spark):
    def report(batches):
        for pdf in batches:
            method = zipimport.zipimporter.invalidate_caches
            yield pd.DataFrame(
                {
                    "url": pdf["raw"].map(canonicalize),
                    "method": f"{method.__module__}.{method.__qualname__}",
                    "eager_py": sys.version_info < (3, 13),
                }
            )

    rows = (
        spark.createDataFrame(pd.DataFrame({"raw": ["Example.com/A"]}))
        .mapInPandas(report, "url string, method string, eager_py boolean")
        .collect()
    )
    assert rows[0].url == "http://example.com/A"
    patched = f"{zipcache.__name__}._invalidate_if_changed"
    assert (rows[0].method == patched) == rows[0].eager_py
