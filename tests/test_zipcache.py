"""The zipimporter guard (no Spark): an unchanged archive is not re-read on
importlib.invalidate_caches(); a rewritten one is."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from bento_spark import zipcache

pytestmark = pytest.mark.skipif(
    not getattr(zipimport.zipimporter.invalidate_caches, "_bento_guard", False),
    reason="this Python's zipimporter.invalidate_caches does not re-read eagerly",
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def zip_on_path(tmp_path):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zc_first": "VALUE = 1\n"})
    sys.path.insert(0, archive)
    try:
        yield archive
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        for m in ("zc_first", "zc_second"):
            sys.modules.pop(m, None)


def _spy_reads(monkeypatch, archive: str) -> list[str]:
    reads: list[str] = []
    real = zipimport._read_directory

    def spy(path):
        if path == archive:
            reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", spy)
    return reads


def test_install_is_idempotent():
    assert zipcache.install() is False


def test_unchanged_archive_is_not_reparsed(zip_on_path, monkeypatch):
    assert importlib.import_module("zc_first").VALUE == 1
    importlib.invalidate_caches()  # first guarded call reads and records
    reads = _spy_reads(monkeypatch, zip_on_path)
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []
    assert isinstance(sys.path_importer_cache[zip_on_path], zipimport.zipimporter)


def test_rewritten_archive_is_reread(zip_on_path, monkeypatch):
    assert importlib.import_module("zc_first").VALUE == 1
    importlib.invalidate_caches()
    _write_zip(zip_on_path, {"zc_first": "VALUE = 1\n", "zc_second": "VALUE = 2  # new module\n"})
    st = os.stat(zip_on_path)
    # a same-second rewrite on a coarse-mtime filesystem still changes size;
    # bump mtime too so both halves of the signature move
    os.utime(zip_on_path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    reads = _spy_reads(monkeypatch, zip_on_path)
    importlib.invalidate_caches()
    assert reads == [zip_on_path]
    assert importlib.import_module("zc_second").VALUE == 2
