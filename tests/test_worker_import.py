"""The zip-import invalidation gate installed by ``import recsplit_spark``
(no Spark): ``importlib.invalidate_caches()`` skips re-reading an
unchanged archive and still re-reads one that changed."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import recsplit_spark

gated = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="gate is only installed before 3.13"
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    path = str(tmp_path / "mods.zip")
    _write_zip(path, ["m1"])
    reads = []
    read = zipimport._read_directory

    def counting_read(archive):
        if archive == path:
            reads.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    sys.path.insert(0, path)
    yield path, reads
    sys.path.remove(path)
    sys.path_importer_cache.pop(path, None)
    for name in ("m1", "m2"):
        sys.modules.pop(name, None)


@gated
def test_unchanged_archive_is_not_reread(zip_on_path):
    path, reads = zip_on_path
    import m1

    assert m1.NAME == "m1"
    importlib.invalidate_caches()  # first sight of this archive: reads it
    n = len(reads)
    for _ in range(3):
        importlib.invalidate_caches()
    assert len(reads) == n


@gated
def test_changed_archive_is_reread(zip_on_path):
    path, reads = zip_on_path
    import m1  # noqa: F401

    importlib.invalidate_caches()
    n = len(reads)
    _write_zip(path, ["m1", "m2"])
    importlib.invalidate_caches()
    assert len(reads) == n + 1
    import m2

    assert m2.NAME == "m2"


@gated
@pytest.mark.parametrize("damage", ["corrupt", "remove"])
def test_unreadable_archive_is_retried_every_call(zip_on_path, damage):
    path, reads = zip_on_path
    import m1  # noqa: F401

    importlib.invalidate_caches()
    if damage == "remove":
        os.remove(path)  # os.stat fails
    else:
        with open(path, "wb") as f:
            f.write(b"not a zip")
    n = len(reads)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) == n + 2
    assert sys.path_importer_cache[path].find_spec("m1") is None


@gated
def test_stale_importer_gets_the_fresh_directory(zip_on_path):
    path, reads = zip_on_path
    import m1  # noqa: F401

    importlib.invalidate_caches()
    other = zipimport.zipimporter(path)  # not on sys.path: never invalidated
    _write_zip(path, ["m1", "m2"])
    importlib.invalidate_caches()
    n = len(reads)
    assert other.find_spec("m2") is None
    other.invalidate_caches()  # same archive, same stat: no second read
    assert len(reads) == n
    assert other.find_spec("m2") is not None


@gated
def test_second_install_is_noop():
    method = zipimport.zipimporter.invalidate_caches
    assert hasattr(method, "__wrapped__")
    recsplit_spark._stat_gate_zip_invalidation()
    recsplit_spark._stat_gate_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is method
    assert not hasattr(method.__wrapped__, "__wrapped__")


def test_stdlib_method_untouched_from_313(monkeypatch):
    stdlib = getattr(
        zipimport.zipimporter.invalidate_caches,
        "__wrapped__",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stdlib)
    if sys.version_info < (3, 13):
        monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    recsplit_spark._stat_gate_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is stdlib
