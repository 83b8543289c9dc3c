"""The stat-checked zip-importer invalidation installed on package import
(``pdf_inspector_spark.worker_init``): unit cases on a scratch archive,
plus a probe that runs inside the executor Python workers."""

import importlib
import json
import os
import sys
import zipfile
import zipimport
from typing import Iterator

import pandas as pd
import pyspark.sql.functions as F
import pytest

import pdf_inspector_spark as pkg
from pdf_inspector_spark.worker_init import install_stat_checked_invalidation

_MODULES = ("wi_mod_a", "wi_mod_b")


def _write_zip(path, module, value):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{module}.py", f"VALUE = {value!r}\n")


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on sys.path holding module ``wi_mod_a``, imported once so the
    path importer cache holds a zipimporter for it."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, "wi_mod_a", "a")
    monkeypatch.syspath_prepend(path)
    importlib.import_module("wi_mod_a")
    assert isinstance(sys.path_importer_cache[path], zipimport.zipimporter)
    yield path
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)
    for name in _MODULES:
        sys.modules.pop(name, None)


@pytest.fixture
def reads(monkeypatch):
    """Archive paths passed to ``zipimport._read_directory``."""
    calls = []
    read = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_package_import_installs_wrapper_once():
    installed = zipimport.zipimporter.invalidate_caches
    assert installed.stat_checked
    install_stat_checked_invalidation()
    assert zipimport.zipimporter.invalidate_caches is installed


def test_unchanged_archive_is_not_reread(archive, reads):
    importlib.invalidate_caches()          # records the archive's stat
    assert reads.count(archive) <= 1
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert archive not in reads


def test_replaced_archive_is_reread(archive, tmp_path, reads):
    importlib.invalidate_caches()
    new = str(tmp_path / "new.zip")
    _write_zip(new, "wi_mod_b", "b")
    os.replace(new, archive)
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("wi_mod_b").VALUE == "b"


def test_deleted_archive_drops_cache(archive):
    importer = sys.path_importer_cache[archive]
    importlib.invalidate_caches()
    os.remove(archive)
    importlib.invalidate_caches()          # the original method: no raise
    assert archive not in zipimport._zip_directory_cache
    assert importer.find_spec("wi_mod_a") is None


def test_wrapper_reaches_python_workers(spark):
    """A pandas UDF that captures the package, as every package UDF does,
    reports from the worker that the wrapper is installed and that an
    ``importlib.invalidate_caches()`` in a later batch reads no archive
    directory, although the worker holds zip importers (pyspark.zip)."""

    @F.pandas_udf("string")
    def probe(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for i, s in enumerate(batches):
            calls = []
            read = zipimport._read_directory
            zipimport._read_directory = lambda a: calls.append(a) or read(a)
            try:
                importlib.invalidate_caches()
            finally:
                zipimport._read_directory = read
            report = json.dumps({
                "version": pkg.__version__,
                "installed": getattr(zipimport.zipimporter.invalidate_caches,
                                     "stat_checked", False),
                "zip_importers": sum(isinstance(v, zipimport.zipimporter)
                                     for v in sys.path_importer_cache.values()),
                "batch": i, "reads": len(calls)})
            yield pd.Series([report] * len(s))

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    previous = spark.conf.get(key)
    spark.conf.set(key, "8")
    try:
        rows = (spark.range(0, 64, numPartitions=4).select(probe("id").alias("r"))
                .distinct().collect())
    finally:
        spark.conf.set(key, previous)
    reports = [json.loads(r["r"]) for r in rows]
    assert {r["batch"] for r in reports} == {0, 1}
    assert all(r["installed"] for r in reports)
    assert all(r["zip_importers"] > 0 for r in reports)
    assert [r for r in reports if r["batch"] > 0 and r["reads"]] == []
