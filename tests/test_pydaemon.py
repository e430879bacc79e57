"""The Python daemon's stat-checked zip directory cache: exact on the
patched method itself (never installed in this process), and live in
the session's workers."""

from __future__ import annotations

import importlib.util
import os
import uuid
import zipfile
import zipimport

import pytest

from goskyr_spark.spark import pydaemon


def write_zip(path: str, modules: dict[str, str]) -> None:
    """Write ``modules`` (name → source) as a new file replacing ``path``."""
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """(path, importer, directory reads) over a one-module zip stamped the
    way the daemon stamps archives before it forks."""
    path = str(tmp_path / "mods.zip")
    write_zip(path, {"mod_a": "VALUE = 1\n"})
    imp = zipimport.zipimporter(path)
    monkeypatch.setattr(pydaemon, "_stamps", {path: pydaemon._stamp(path)})
    monkeypatch.setattr(pydaemon, "rereads", 0)
    reads = []
    real = zipimport._read_directory

    def counting(p):
        reads.append(p)
        return real(p)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield path, imp, reads
    zipimport._zip_directory_cache.pop(path, None)
    assert zipimport.zipimporter.invalidate_caches is pydaemon._stock


def test_unchanged_archive_is_not_reread(archive):
    path, imp, reads = archive
    for _ in range(3):
        pydaemon.invalidate_caches(imp)
    assert reads == [] and pydaemon.rereads == 0
    assert imp._files is zipimport._zip_directory_cache[path]


def test_replaced_archive_is_reread_and_new_module_imports(archive):
    path, imp, reads = archive
    assert imp.find_spec("mod_b") is None
    write_zip(path, {"mod_a": "VALUE = 1\n", "mod_b": "VALUE = 2\n"})
    pydaemon.invalidate_caches(imp)
    assert reads == [path] and pydaemon.rereads == 1
    spec = imp.find_spec("mod_b")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.VALUE == 2
    pydaemon.invalidate_caches(imp)  # the new stamp is now current
    assert reads == [path]


@pytest.mark.parametrize("stamped", [True, False])
def test_deleted_archive_takes_stock_path(archive, stamped):
    path, imp, reads = archive
    if not stamped:  # an importer made after the fork has no stamp yet
        pydaemon._stamps.clear()
    os.remove(path)
    pydaemon.invalidate_caches(imp)
    assert imp._files == {} and path not in zipimport._zip_directory_cache
    assert pydaemon.rereads == 1


def test_session_workers_reuse_unchanged_archives(spark):
    """Every task of a 16-partition job runs in a worker forked from the
    daemon, whose patched ``invalidate_caches`` re-read no archive: the
    counter stays 0 across the job, not just on a worker's first task."""

    def report(batches):
        import sys
        import zipimport

        module = zipimport.zipimporter.invalidate_caches.__module__
        count = getattr(sys.modules.get(module), "rereads", -1)
        for b in batches:
            yield b.head(1).assign(module=module, rereads=count)

    rows = (
        spark.range(0, 160, numPartitions=16)
        .mapInPandas(report, "id long, module string, rereads long")
        .collect()
    )
    assert len(rows) == 16
    assert {(r.module, r.rereads) for r in rows} == {("goskyr_spark.spark.pydaemon", 0)}


def test_added_py_file_imports_in_next_job(spark, tmp_path):
    name = f"pydaemon_probe_{uuid.uuid4().hex[:8]}"
    path = str(tmp_path / f"{name}.zip")
    write_zip(path, {name: "VALUE = 41\n"})
    spark.sparkContext.addPyFile(path)

    def load(batches):
        import importlib

        value = importlib.import_module(name).VALUE
        for b in batches:
            yield b.assign(value=value + 1)

    rows = spark.range(0, 8, numPartitions=4).mapInPandas(load, "id long, value long").collect()
    assert {r.value for r in rows} == {42}
