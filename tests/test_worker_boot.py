"""functions.worker_boot: on CPython < 3.12, importlib.invalidate_caches()
re-reads a zip archive's directory only when the archive changed on disk,
once per archive rather than once per importer.  Only the last test, the
pin that Python workers carry the fix, starts Spark."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from set_sketch_paper_spark.functions import worker_boot
from set_sketch_paper_spark.sketchlib.hashing import u64_from_i64


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")
        # a package gives the archive a second importer, as pyspark.zip's
        # subpackages do
        z.writestr("wbpkg/__init__.py", "")
        z.writestr("wbpkg/sub.py", "")


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip holding m1 (plus wbpkg.sub) on sys.path, imported; yields
    (archive path, list of the directory reads made of it)."""
    path = tmp_path / "mods.zip"
    _write_zip(path, ["m1"])
    monkeypatch.syspath_prepend(str(path))
    import m1  # noqa: F401
    import wbpkg.sub  # noqa: F401

    reads = []
    read_directory = zipimport._read_directory

    def counting(archive_path):
        if archive_path == str(path):
            reads.append(archive_path)
        return read_directory(archive_path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield path, reads
    for name in ("m1", "m2", "wbpkg", "wbpkg.sub"):
        sys.modules.pop(name, None)
    zipimport._zip_directory_cache.pop(str(path), None)
    for key in [k for k in sys.path_importer_cache if k.startswith(str(path))]:
        del sys.path_importer_cache[key]


def test_unchanged_archive_is_not_reread(archive):
    path, reads = archive
    importlib.invalidate_caches()
    # at most one read for the archive's two importers (CPython 3.11 alone:
    # one per importer)
    assert len(reads) <= 1
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []


def test_rewritten_archive_is_reread(archive):
    path, reads = archive
    importlib.invalidate_caches()
    _write_zip(path, ["m1", "m2"])
    reads.clear()
    importlib.invalidate_caches()
    assert len(reads) >= 1
    import m2

    assert m2.NAME == "m2"


def test_deleted_archive_shows_no_files(archive):
    path, reads = archive
    importlib.invalidate_caches()
    path.unlink()
    importlib.invalidate_caches()
    importer = sys.path_importer_cache[str(path)]
    assert importer.find_spec("m1") is None
    assert str(path) not in zipimport._zip_directory_cache
    # and a zip put back at the same path is read again
    _write_zip(path, ["m1", "m2"])
    importlib.invalidate_caches()
    assert importer.find_spec("m2") is not None


@pytest.mark.skipif(sys.version_info < (3, 12), reason="the shim is installed below 3.12")
def test_no_op_from_312():
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
    assert not hasattr(worker_boot, "invalidate_caches")


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="CPython 3.12 reads zip directories lazily")
def test_installed_below_312():
    assert zipimport.zipimporter.invalidate_caches is worker_boot.invalidate_caches


def test_package_udf_installs_worker_boot(spark):
    """Every Python worker that unpickles an engine UDF carries the fix.
    Like every engine UDF closure, the probe holds a package function, so
    unpickling it imports the package; a refactor that stops importing
    worker_boot from the package __init__ fails here.  (A probe holding no
    package global could land on a worker that only ever ran test-local
    functions.)"""

    def probe(batches):
        for pdf in batches:
            u64_from_i64(pdf["id"].to_numpy())
        yield pd.DataFrame({"mod": [zipimport.zipimporter.invalidate_caches.__module__]})

    n = spark.sparkContext.defaultParallelism
    rows = spark.range(n, numPartitions=n).mapInPandas(probe, "mod string").collect()
    expected = worker_boot.__name__ if sys.version_info < (3, 12) else "zipimport"
    assert [r["mod"] for r in rows] == [expected] * n
