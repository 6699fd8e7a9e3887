"""The zip-import guard: ``importlib.invalidate_caches()`` re-reads a zip
archive's directory only when the archive changed (CPython < 3.12; 3.12+
is lazy in the stdlib). A reused PySpark worker calls it on every task."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import html_sanitizer_spark
from html_sanitizer_spark import _zipimport


def _counting_read_directory(monkeypatch):
    calls = []
    orig = zipimport._read_directory

    def read_directory(archive):
        calls.append(archive)
        return orig(archive)

    monkeypatch.setattr(zipimport, "_read_directory", read_directory)
    return calls


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


@pytest.mark.skipif(sys.version_info >= (3, 12),
                    reason="the guard is installed only before 3.12")
def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zipguard_a": "X = 1\n"})
    monkeypatch.setitem(sys.path_importer_cache, archive,
                        zipimport.zipimporter(archive))
    monkeypatch.syspath_prepend(archive)
    for name in ("zipguard_a", "zipguard_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zipguard_a").X == 1
    importlib.invalidate_caches()  # records the archive's stat

    calls = _counting_read_directory(monkeypatch)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert archive not in calls

    # a new member changes the size: the next invalidation re-reads it
    _write_zip(archive, {"zipguard_a": "X = 1\n", "zipguard_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert calls.count(archive) == 1
    assert importlib.import_module("zipguard_b").Y == 2


@pytest.mark.skipif(sys.version_info >= (3, 12),
                    reason="the guard is installed only before 3.12")
def test_unstatable_archive_is_reread(tmp_path, monkeypatch):
    """Without a stat the guard cannot tell, so it re-reads as the stdlib
    does (which also drops a deleted archive's directory)."""
    archive = str(tmp_path / "gone.zip")
    _write_zip(archive, {"zipguard_c": "Z = 3\n"})
    importer = zipimport.zipimporter(archive)
    importer.invalidate_caches()
    os.remove(archive)
    calls = _counting_read_directory(monkeypatch)
    importer.invalidate_caches()
    assert calls == [archive]
    assert importer._files == {}


@pytest.mark.skipif(sys.version_info < (3, 12),
                    reason="CPython 3.12+ only: the stdlib is left alone")
def test_stdlib_left_unpatched_on_312():
    assert (zipimport.zipimporter.invalidate_caches
            is not _zipimport._invalidate_caches)


def test_reused_worker_does_not_reread_zips(spark):
    """On a reused Python worker, a task's import-cache invalidation
    reads no zip directory: pyspark.zip, py4j and the spark-core jar on
    the worker's path are unchanged since its previous task."""

    def invalidations(batches):
        """The worker's pid and how many zip directories
        ``importlib.invalidate_caches()`` reads there. Nested, so it
        pickles by value; it names ``html_sanitizer_spark.sanitize``, so
        its task imports the package, as every pipeline task does."""
        import pyarrow as pa

        # drain the input: a task that leaves it unread may not hand its
        # worker back for reuse
        for _ in batches:
            pass
        calls = []
        orig = zipimport._read_directory

        def read_directory(archive):
            calls.append(archive)
            return orig(archive)

        zipimport._read_directory = read_directory
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = orig
        ok = html_sanitizer_spark.sanitize("<b>x</b>") == "<strong>x</strong>"
        yield pa.RecordBatch.from_pydict(
            {"pid": [os.getpid()], "reads": [len(calls)], "ok": [ok]})

    df = spark.range(1, numPartitions=1)
    schema = "pid long, reads long, ok boolean"
    seen = {}
    repeats = []
    for _ in range(24):
        [row] = df.mapInArrow(invalidations, schema).collect()
        assert row["ok"]
        if row["pid"] in seen:
            repeats.append(row["reads"])
        seen[row["pid"]] = row["reads"]
        if len(repeats) >= 3:
            break
    assert repeats, f"no worker ran two tasks: {seen}"
    assert repeats == [0] * len(repeats), seen
