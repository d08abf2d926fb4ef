"""The worker-side zip finder fix in ``udacity_dsnd_projects_spark``:
``zipimporter.invalidate_caches`` re-reads an archive's directory only
when the archive changed since that importer last read it."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import udacity_dsnd_projects_spark as pkg

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython 3.13 rescans lazily itself"
)


@pytest.fixture
def installed(monkeypatch):
    """The function installed in this process; the original method is
    restored afterwards (the driver never installs it by itself)."""
    original = getattr(
        zipimport.zipimporter.invalidate_caches,
        "eager",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    pkg._rescan_zips_only_when_changed()
    return original


@pytest.fixture
def read_calls(monkeypatch):
    calls: list[str] = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def _write_zip(path, modules: dict[str, str]) -> None:
    # a fresh file replaced into place, as a rebuilt archive would be
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)


def test_unchanged_archive_is_not_reread(installed, read_calls, tmp_path):
    archive = str(tmp_path / "a.zip")
    _write_zip(archive, {"zr_one": "X = 1\n"})
    finder = zipimport.zipimporter(archive)
    read_calls.clear()
    finder.invalidate_caches()  # first call after install: reads once
    assert read_calls == [archive]
    finder.invalidate_caches()
    finder.invalidate_caches()
    assert read_calls == [archive]


def test_rewritten_archive_is_reread_and_new_module_imports(
    installed, read_calls, tmp_path, monkeypatch
):
    archive = str(tmp_path / "b.zip")
    _write_zip(archive, {"zr_first": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.path_importer_cache, archive, raising=False)
    for name in ("zr_first", "zr_added"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    import zr_first  # noqa: F401 - caches the zip finder for the path entry

    importlib.invalidate_caches()
    read_calls.clear()
    importlib.invalidate_caches()
    assert archive not in read_calls

    _write_zip(archive, {"zr_first": "X = 1\n", "zr_added": "Y = 2\n"})
    importlib.invalidate_caches()
    assert read_calls.count(archive) == 1
    assert importlib.import_module("zr_added").Y == 2
    monkeypatch.delitem(sys.path_importer_cache, archive, raising=False)


def test_install_is_idempotent_and_skipped_from_313(monkeypatch, installed):
    wrapped = zipimport.zipimporter.invalidate_caches
    assert wrapped is not installed and wrapped.eager is installed
    pkg._rescan_zips_only_when_changed()
    assert zipimport.zipimporter.invalidate_caches is wrapped

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", installed)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    pkg._rescan_zips_only_when_changed()
    assert zipimport.zipimporter.invalidate_caches is installed


def test_worker_task_after_the_first_reports_the_wrapped_method(spark):
    """A task on a worker that has already imported the engine finds
    the method wrapped and its own set-up call already primed: no
    archive is re-read, though the worker caches zip finders (over
    pyspark.zip, the spark-core jar and py4j). The probe is nested so
    that it is pickled by value and imports nothing from the tests."""

    def _probe(batches):
        """Runs in a Python worker: was the engine already imported by an
        earlier task of this process, is the method wrapped, how many zip
        finders are cached, and how many archives each of two
        ``importlib.invalidate_caches()`` calls re-reads."""
        import importlib
        import sys
        import zipimport

        import pandas as pd

        preloaded = "udacity_dsnd_projects_spark" in sys.modules
        import udacity_dsnd_projects_spark  # noqa: F401

        real = zipimport._read_directory
        reads = []
        zipimport._read_directory = lambda a: (reads.append(a), real(a))[1]
        try:
            importlib.invalidate_caches()
            first = len(reads)
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        for _ in batches:
            pass
        yield pd.DataFrame(
            {
                "preloaded": [preloaded],
                "wrapped": [
                    hasattr(zipimport.zipimporter.invalidate_caches, "eager")
                ],
                "zip_finders": [
                    sum(
                        isinstance(f, zipimport.zipimporter)
                        for f in sys.path_importer_cache.values()
                    )
                ],
                "reads_first": [first],
                "reads_second": [len(reads) - first],
            }
        )

    schema = (
        "preloaded boolean, wrapped boolean, zip_finders long, "
        "reads_first long, reads_second long"
    )
    rows = []
    for _ in range(8):  # until some task runs on a worker that ran one before
        rows += spark.range(0, 1, 1, 1).mapInPandas(_probe, schema).collect()
        if any(r.preloaded for r in rows):
            break
    assert any(r.preloaded for r in rows), rows
    for r in rows:
        assert r.wrapped and r.zip_finders > 0 and r.reads_second == 0, r
        if r.preloaded:
            assert r.reads_first == 0, r
