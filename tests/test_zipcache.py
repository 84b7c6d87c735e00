"""The stat-checked zip-directory cache (nf2pq_spark._zipcache).

An unchanged archive is not re-read by ``importlib.invalidate_caches()``;
a rewritten one is, so a module added to it imports; and a reused Spark
Python worker keeps one pyspark.zip directory across tasks.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from nf2pq_spark import _zipcache

pytestmark = pytest.mark.skipif(
    not _zipcache.install(),
    reason="the stdlib re-reads zip directories lazily on this Python")


def _write_zip(path: str, files: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on sys.path holding module zc_mod and package zc_pkg; every
    trace of it is removed from the import system afterwards."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"zc_mod.py": "X = 1\n",
                      "zc_pkg/__init__.py": "",
                      "zc_pkg/sub.py": "Y = 2\n"})
    monkeypatch.syspath_prepend(path)
    yield path
    for name in [m for m in sys.modules if m.split(".")[0] in
                 ("zc_mod", "zc_pkg", "zc_new")]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(path, None)
    _zipcache._DIRS.pop(path, None)


def _importers(path: str) -> list:
    return [f for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter) and f.archive == path]


def test_install_is_idempotent():
    patched = zipimport.zipimporter.invalidate_caches
    assert _zipcache.install() is True
    assert zipimport.zipimporter.invalidate_caches is patched


def test_unchanged_archive_is_not_reread(archive, monkeypatch):
    importlib.import_module("zc_mod")
    importlib.import_module("zc_pkg.sub")
    assert len(_importers(archive)) == 2  # the root and zc_pkg/
    importlib.invalidate_caches()  # may read once: records the signature
    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda a: reads.append(a) or real(a))
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert [a for a in reads if a == archive] == []
    # both importers of the archive share one directory dict
    files = {id(f._files) for f in _importers(archive)}
    assert len(files) == 1


def test_rewritten_archive_is_reread(archive):
    importlib.import_module("zc_mod")
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        importlib.import_module("zc_new")
    _write_zip(archive, {"zc_mod.py": "X = 1\n",
                         "zc_pkg/__init__.py": "",
                         "zc_pkg/sub.py": "Y = 2\n",
                         "zc_new.py": "Z = 3\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("zc_new").Z == 3


def test_reused_worker_keeps_its_pyspark_zip_directory(spark):
    """A worker imports nf2pq_spark when it unpickles the probe (a function
    of the package, pickled by reference like every engine UDF); from then
    on it reports one pyspark.zip directory object however many tasks it
    runs. Jobs are single-task, so idle workers are reused in turn until
    one worker has answered twice."""
    one = spark.range(1, numPartitions=1)
    seen: dict[int, int] = {}
    for _ in range(16):
        rows = [r for r in one.mapInPandas(
                    _zipcache.archive_directory_ids,
                    "pid long, archive string, files_id long").collect()
                if r.archive.endswith("pyspark.zip")]
        if not rows:
            pytest.skip("Python workers do not import pyspark from a zip")
        (row,) = rows
        if row.pid in seen:
            assert row.files_id == seen[row.pid]
            return
        seen[row.pid] = row.files_id
    pytest.fail(f"no Python worker was reused across 16 jobs: {seen}")
