"""Per-task Python worker setup: the stat-checked zip refresh that the
package installs in Spark workers, and the JVM-side segment scatter
(`wand.scatter_paths`) that hosts no Python worker of its own."""

from __future__ import annotations

import importlib
import sys
import uuid
import zipfile
import zipimport

import pytest

import jvector_spark
from jvector_spark.operators.wand import scatter_paths

old_python = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="the hook installs only where zipimporter refreshes eagerly")


@pytest.fixture()
def as_worker(monkeypatch):
    """This process posing as a Spark Python worker; the stdlib
    invalidate_caches is put back afterwards."""
    from pyspark.core.files import SparkFiles

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    return monkeypatch


@pytest.fixture()
def read_counter(monkeypatch):
    """Counts zipimport's central-directory reads, per archive."""
    reads: list[str] = []
    read = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def _write_module_zip(path, name: str, body: str) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{name}.py", body)


@old_python
def test_zip_refresh_rereads_only_a_changed_archive(as_worker, read_counter,
                                                     tmp_path):
    name = f"zip_refresh_mod_{uuid.uuid4().hex}"
    archive = str(tmp_path / "mods.zip")
    _write_module_zip(archive, name, "VALUE = 1\n")
    as_worker.syspath_prepend(archive)
    as_worker.delitem(sys.modules, name, raising=False)
    assert importlib.import_module(name).VALUE == 1
    assert isinstance(sys.path_importer_cache[archive],
                      zipimport.zipimporter)

    assert jvector_spark._install_zip_refresh()
    assert jvector_spark._install_zip_refresh()  # idempotent
    importlib.invalidate_caches()  # first refresh stamps each importer
    read_counter.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert read_counter == []

    # rewritten with new content: read again, and the new code imports
    _write_module_zip(archive, name, "VALUE = 22  # rewritten\n")
    importlib.invalidate_caches()
    assert read_counter == [archive]
    del sys.modules[name]
    assert importlib.import_module(name).VALUE == 22
    read_counter.clear()
    importlib.invalidate_caches()
    assert read_counter == []

    # a failing stat falls back to the stdlib refresh (which empties it)
    (tmp_path / "mods.zip").unlink()
    importlib.invalidate_caches()
    assert read_counter == [archive]
    assert sys.path_importer_cache[archive]._files == {}
    del sys.modules[name]
    del sys.path_importer_cache[archive]


def test_zip_refresh_installs_nothing_on_driver_or_python_313(monkeypatch):
    from pyspark.core.files import SparkFiles

    stdlib = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stdlib)
    assert not SparkFiles._is_running_on_worker
    assert not jvector_spark._install_zip_refresh()
    assert zipimport.zipimporter.invalidate_caches is stdlib

    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0))
    assert not jvector_spark._install_zip_refresh()
    assert zipimport.zipimporter.invalidate_caches is stdlib


def test_scatter_paths_has_no_python_rdd_scan(spark):
    df = scatter_paths(spark, [f"/seg/{i}" for i in range(5)], 2)
    qe = df._jdf.queryExecution()
    for plan in (qe.optimizedPlan().toString(),
                 qe.executedPlan().toString()):
        for node in ("ExistingRDD", "LogicalRDD", "PythonRDD"):
            assert node not in plan, plan
    assert df.schema.simpleString() == "struct<path:string>"


@pytest.mark.parametrize("num_tasks", [3, 4, 10, 13])
def test_scatter_paths_contiguous_groups(spark, num_tasks):
    paths = [f"/idx/seg_{i:03d}" for i in range(10)]
    groups = [[r.path for r in g] for g in
              scatter_paths(spark, paths, num_tasks).rdd.glom().collect()]
    assert len(groups) == num_tasks
    assert [p for g in groups for p in g] == paths  # each once, in order
    # spark.range splits at i*n/num_tasks: 10 over 4 groups as [2,3,2,3]
    bounds = [i * len(paths) // num_tasks for i in range(num_tasks + 1)]
    assert [len(g) for g in groups] == [
        b - a for a, b in zip(bounds, bounds[1:])]
    if num_tasks > len(paths):
        assert sum(not g for g in groups) == num_tasks - len(paths)


def test_scatter_paths_keeps_awkward_paths(spark):
    paths = ['/idx/a"b', "/idx/c,d", "/idx/e\\f", "/idx/ünï/日本",
             "/idx/[x]{y}", "/idx/tab\there"]
    got = [r.path for r in scatter_paths(spark, paths, 2).collect()]
    assert got == paths


def test_worker_reports_refresh_installed(spark):
    """Inside the mapInPandas worker over scatter_paths the package import
    installs the refresh, and on two consecutive tasks a repeated
    importlib.invalidate_caches() re-reads no archive."""
    def probe(batches):
        import importlib
        import zipimport

        import pandas as pd

        import jvector_spark  # noqa: F401  (what a kernel's unpickle does)

        reads = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda a: reads.append(a) or read(a)
        try:
            importlib.invalidate_caches()
            reads.clear()
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        installed = getattr(zipimport.zipimporter.invalidate_caches,
                            "stat_checked", False)
        for pdf in batches:
            yield pd.DataFrame({"path": pdf["path"],
                                "installed": installed,
                                "rereads": len(reads)})

    schema = "path string, installed boolean, rereads long"
    for _ in range(2):
        rows = scatter_paths(spark, ["/seg/0"], 1).mapInPandas(
            probe, schema).collect()
        assert [(r.path, r.installed, r.rereads) for r in rows] == [
            ("/seg/0", sys.version_info < (3, 13), 0)]
