"""The Python worker daemon (engine/pydaemon.py): a zip archive's
directory is re-read on ``importlib.invalidate_caches()`` only when the
archive changed, and the daemon that ``get_spark`` pins hands that
behaviour to the forked workers."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from jane_spark.engine import pydaemon

needs_zip_patch = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="CPython 3.12 re-reads zip directories lazily (gh-103200)",
)


def test_import_does_not_patch():
    assert zipimport.zipimporter.invalidate_caches is not pydaemon.invalidate_caches
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"


@pytest.fixture
def zip_pkg(tmp_path, monkeypatch):
    """A package ``zpkg`` (with a sub-package, so the archive is served by
    several zipimporters) in a temp zip on sys.path; returns
    (archive path, writer, list of archives read)."""
    archive = str(tmp_path / "zpkg.zip")

    def write(**modules):
        files = {"zpkg/__init__.py": "", "zpkg/sub/__init__.py": "", **modules}
        with zipfile.ZipFile(archive, "w") as zf:
            for name, src in files.items():
                zf.writestr(name, src)

    write()
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.syspath_prepend(archive)
    yield archive, write, reads
    for name in [m for m in sys.modules if m == "zpkg" or m.startswith("zpkg.")]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(archive, None)
    pydaemon._read_at.pop(archive, None)


@needs_zip_patch
def test_stock_invalidate_rereads_once_per_zipimporter(zip_pkg):
    """The cost the daemon removes: every zipimporter on the archive
    re-reads its whole directory on every invalidate_caches()."""
    archive, _write, reads = zip_pkg
    importlib.import_module("zpkg.sub")
    importers = [
        f
        for f in sys.path_importer_cache.values()
        if isinstance(f, zipimport.zipimporter) and f.archive == archive
    ]
    reads.clear()
    importlib.invalidate_caches()
    assert len(importers) >= 2
    assert reads.count(archive) == len(importers)


@needs_zip_patch
def test_unchanged_archive_not_reread_changed_one_is(zip_pkg, monkeypatch):
    archive, write, reads = zip_pkg
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", pydaemon.invalidate_caches
    )
    importlib.import_module("zpkg.sub")
    # the first call records the archive's signature: one read, not one
    # per zipimporter
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    for _ in range(3):
        reads.clear()
        importlib.invalidate_caches()
        assert reads.count(archive) == 0

    with pytest.raises(ImportError):
        importlib.import_module("zpkg.added")
    write(**{"zpkg/added.py": "VALUE = 7\n"})
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("zpkg.added").VALUE == 7
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(archive) == 0


def test_spark_workers_run_the_patched_invalidate(spark):
    def probe(batches):
        for _ in batches:
            fn = zipimport.zipimporter.invalidate_caches
            yield pd.DataFrame(
                {
                    "fn": [f"{fn.__module__}.{fn.__qualname__}"],
                    "py312": [sys.version_info >= (3, 12)],
                }
            )

    rows = spark.range(1).mapInPandas(probe, "fn string, py312 boolean").collect()
    assert rows
    for r in rows:
        want = (
            "zipimport.zipimporter.invalidate_caches"
            if r["py312"]
            else "jane_spark.engine.pydaemon.invalidate_caches"
        )
        assert r["fn"] == want
