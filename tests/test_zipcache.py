"""Zip importer invalidation (tsrollup._zipcache): an unchanged archive is not
re-read on ``importlib.invalidate_caches()``, a rewritten one is, and the
patch is active inside the Python workers that run tsrollup functions."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from tsrollup import _zipcache

needs_patch = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="zipimport invalidates lazily from 3.13; the patch is a no-op")


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture()
def archive(tmp_path, monkeypatch):
    """A zip of one module on sys.path, plus a counter of its directory
    reads; the module cache and sys.path are restored afterwards."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"zc_mod_a": "A = 1\n"})
    reads = []
    original = zipimport._read_directory

    def counting(archive):
        if archive == path:
            reads.append(archive)
        return original(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.syspath_prepend(path)
    yield path, reads
    for name in ("zc_mod_a", "zc_mod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)
    _zipcache._read.pop(path, None)


def test_install_is_idempotent():
    before = zipimport.zipimporter.invalidate_caches
    _zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is before


@needs_patch
def test_unchanged_zip_is_not_reread(archive):
    path, reads = archive
    assert importlib.import_module("zc_mod_a").A == 1
    importlib.invalidate_caches()  # first sight of the archive: one read
    n = len(reads)
    assert n >= 1
    for _ in range(3):
        importlib.invalidate_caches()
    assert len(reads) == n


def test_rewritten_zip_exposes_new_module(archive):
    path, reads = archive
    assert importlib.import_module("zc_mod_a").A == 1
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        importlib.import_module("zc_mod_b")
    st = os.stat(path)
    _write_zip(path, {"zc_mod_a": "A = 1\n", "zc_mod_b": "B = 2\n"})
    # a rewrite inside the filesystem's timestamp granularity must still be
    # seen; the new archive is larger, and the mtime is moved on as well
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    importlib.invalidate_caches()
    assert importlib.import_module("zc_mod_b").B == 2


def test_patch_active_in_spark_worker(spark):
    def worker_state(batches):
        import pyarrow as pa

        # ``_zipcache`` is a global of this function, so unpickling it in
        # the worker imports tsrollup first, as any tsrollup UDF does
        active = getattr(zipimport.zipimporter.invalidate_caches,
                         "_tsrollup", False)
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({
            "active": [bool(active) and _zipcache.install is not None],
            "py313": [sys.version_info >= (3, 13)]})

    rows = (spark.range(8, numPartitions=4)
            .mapInArrow(worker_state, "active boolean, py313 boolean")
            .collect())
    assert len(rows) == 4
    for r in rows:
        assert r["active"] or r["py313"]
