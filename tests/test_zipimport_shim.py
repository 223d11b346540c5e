"""The package's zipimporter shim (``htrtf_spark._install_zipimport_shim``):
an unchanged archive is not re-read by ``importlib.invalidate_caches()``,
a rewritten one is, the install is idempotent, and Python >= 3.13 is left
alone. No Spark: reads are counted on ``zipimport._read_directory``."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import htrtf_spark

eager = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="zipimporter.invalidate_caches is lazy on 3.13+; no shim",
)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A one-module archive at the front of sys.path, plus a counter of
    directory reads; the caller imports from it."""
    archive = tmp_path / "shimprobe.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("shimprobe_a.py", "VALUE = 'a'\n")
    monkeypatch.syspath_prepend(str(archive))
    reads = []
    orig = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return orig(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    yield archive, reads
    for name in ("shimprobe_a", "shimprobe_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(str(archive), None)


@eager
def test_unchanged_archive_is_not_reread(zip_on_path):
    archive, reads = zip_on_path
    assert importlib.import_module("shimprobe_a").VALUE == "a"
    importlib.invalidate_caches()  # a new importer records its key once
    n = len(reads)
    for _ in range(5):
        importlib.invalidate_caches()
    assert len(reads) == n


@eager
def test_rewritten_archive_is_reread(zip_on_path):
    archive, reads = zip_on_path
    importlib.import_module("shimprobe_a")
    importlib.invalidate_caches()
    with zipfile.ZipFile(archive, "a") as z:
        z.writestr("shimprobe_b.py", "VALUE = 'b'\n")
    st = os.stat(archive)  # the key must change even on a coarse clock
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    n = len(reads)
    importlib.invalidate_caches()
    assert reads[n:] == [str(archive)]
    assert importlib.import_module("shimprobe_b").VALUE == "b"


@eager
def test_install_is_idempotent(zip_on_path):
    wrapped = zipimport.zipimporter.invalidate_caches
    assert hasattr(wrapped, "_htrtf_orig")
    htrtf_spark._install_zipimport_shim()
    importlib.reload(htrtf_spark)
    assert zipimport.zipimporter.invalidate_caches is wrapped
    # one read per changed archive, not one per stacked wrapper
    archive, reads = zip_on_path
    importlib.import_module("shimprobe_a")
    importlib.invalidate_caches()
    os.utime(archive, ns=(0, 10**9))
    n = len(reads)
    importlib.invalidate_caches()
    assert len(reads) == n + 1


def test_noop_from_python_3_13(monkeypatch):
    cls = zipimport.zipimporter
    plain = getattr(cls.invalidate_caches, "_htrtf_orig", cls.invalidate_caches)
    monkeypatch.setattr(cls, "invalidate_caches", plain)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    htrtf_spark._install_zipimport_shim()
    assert cls.invalidate_caches is plain
