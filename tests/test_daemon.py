"""The PySpark daemon module (oteldb_spark/daemon.py): zip archives on
the worker path are re-read only when they changed, and the engine's
Python workers run with that replacement installed."""

from __future__ import annotations

import os
import sys
import zipfile
import zipimport

import pytest

from oteldb_spark import daemon


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(name, src)


@pytest.fixture
def restore_zipimporter(monkeypatch):
    """Undo ``daemon.install()`` on this process after the test."""
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="re-read is lazy there")
def test_zip_directory_reread_only_on_change(
    tmp_path, monkeypatch, restore_zipimporter
):
    arc = str(tmp_path / "lib.zip")
    _write_zip(arc, {"mod_a.py": "X = 1\n"})
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    imp = zipimport.zipimporter(arc)
    assert daemon.install()
    assert zipimport.zipimporter.invalidate_caches.rereads_on_change
    imp.invalidate_caches()  # first sight of the archive: one read
    n = len(reads)
    for _ in range(5):
        imp.invalidate_caches()
    zipimport.zipimporter(arc).invalidate_caches()  # another importer, same archive
    assert len(reads) == n
    # a rewritten archive is read again, once, and serves its new entries
    _write_zip(arc, {"mod_a.py": "X = 1\n", "mod_b.py": "Y = 2\n"})
    imp.invalidate_caches()
    imp.invalidate_caches()
    assert len(reads) == n + 1
    assert imp.find_spec("mod_b") is not None
    assert not daemon.install()  # already installed


def test_newer_cpython_left_unchanged(monkeypatch, restore_zipimporter):
    before = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert not daemon.install()
    assert zipimport.zipimporter.invalidate_caches is before


def test_session_workers_use_the_daemon(spark):
    root = os.path.dirname(os.path.dirname(os.path.abspath(daemon.__file__)))
    assert root in spark.sparkContext.environment["PYTHONPATH"].split(os.pathsep)

    def probe(batches):
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        on = getattr(
            zipimport.zipimporter.invalidate_caches, "rereads_on_change", False
        )
        yield pa.RecordBatch.from_pydict({"on": [on]})

    rows = spark.range(2, numPartitions=2).mapInArrow(probe, "on boolean").collect()
    assert [r.on for r in rows] == [sys.version_info < (3, 13)] * 2
