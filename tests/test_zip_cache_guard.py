"""The stat-guarded ``zipimporter.invalidate_caches`` installed by importing
``pdfparse_spark``: an unchanged archive is not re-read, a rewritten or
deleted one is handled as before, the guard wraps once and retires on
Python 3.13; in a reused Spark worker the per-task call reads nothing, and
a zip shipped with ``addPyFile`` mid-session is still importable."""

from __future__ import annotations

import importlib
import sys
import uuid
import zipfile
import zipimport

import pytest

import pdfparse_spark


@pytest.fixture
def import_state():
    """Restore ``sys.path``, ``sys.modules`` and the path-importer cache."""
    path = list(sys.path)
    modules = dict(sys.modules)
    cache = dict(sys.path_importer_cache)
    yield
    sys.path[:] = path
    for name in set(sys.modules) - set(modules):
        del sys.modules[name]
    sys.modules.update(modules)
    sys.path_importer_cache.clear()
    sys.path_importer_cache.update(cache)


def _write_zip(archive, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(archive, "w") as zf:
        for name, src in modules.items():
            zf.writestr(name + ".py", src)


def _on_path(archive, module: str):
    sys.path.insert(0, str(archive))
    return importlib.import_module(module)


def test_unchanged_archive_is_not_reread(tmp_path, import_state, monkeypatch):
    archive = tmp_path / "guard_a.zip"
    _write_zip(archive, {"zg_alpha": "VALUE = 1\n"})
    assert _on_path(archive, "zg_alpha").VALUE == 1
    importlib.invalidate_caches()
    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda a: reads.append(a) or real(a))
    importlib.invalidate_caches()
    assert reads == []


def test_rewritten_archive_is_reread(tmp_path, import_state):
    archive = tmp_path / "guard_b.zip"
    _write_zip(archive, {"zg_beta_one": "VALUE = 1\n"})
    assert _on_path(archive, "zg_beta_one").VALUE == 1
    importlib.invalidate_caches()
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module("zg_beta_two")
    _write_zip(archive, {"zg_beta_one": "VALUE = 1\n", "zg_beta_two": "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("zg_beta_two").VALUE == 2


def test_deleted_archive_does_not_raise(tmp_path, import_state):
    archive = tmp_path / "guard_c.zip"
    _write_zip(archive, {"zg_gamma": "VALUE = 3\n"})
    assert _on_path(archive, "zg_gamma").VALUE == 3
    importlib.invalidate_caches()
    archive.unlink()
    importlib.invalidate_caches()
    importlib.invalidate_caches()


def test_reimport_wraps_once(import_state):
    del sys.modules["pdfparse_spark"]
    importlib.import_module("pdfparse_spark")._install_zip_cache_guard()
    method = zipimport.zipimporter.invalidate_caches
    inner = getattr(method, "__wrapped__", method)
    assert inner.__module__ == "zipimport"
    assert not hasattr(inner, "__wrapped__")


def test_guard_retires_on_python_3_13(monkeypatch):
    method = zipimport.zipimporter.invalidate_caches
    original = getattr(method, "__wrapped__", method)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    pdfparse_spark._install_zip_cache_guard()
    assert zipimport.zipimporter.invalidate_caches is original


def _guard_probe(batches):
    import importlib
    import sys
    import zipimport

    import pandas as pd

    import pdfparse_spark  # noqa: F401  (installs the guard)

    importlib.invalidate_caches()
    reads = []
    real = zipimport._read_directory
    zipimport._read_directory = lambda archive: reads.append(archive) or real(archive)
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = real
    n_zip = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
    for _ in batches:
        pass
    yield pd.DataFrame({"reads": [len(reads)], "zipimporters": [n_zip]})


def test_worker_skips_unchanged_archives(spark):
    rows = (
        spark.range(4, numPartitions=4)
        .mapInPandas(_guard_probe, "reads long, zipimporters long")
        .collect()
    )
    if not any(r.zipimporters for r in rows):
        pytest.skip("no zipimporter on the Python worker path: nothing to guard")
    assert [r.reads for r in rows] == [0] * 4


def test_add_py_file_mid_session_is_importable(spark, tmp_path):
    # every reused worker holds the guard and its stamps before the zip ships
    spark.range(4, numPartitions=4).mapInPandas(_guard_probe, "reads long, zipimporters long").collect()
    name = "zg_shipped_" + uuid.uuid4().hex[:12]
    archive = tmp_path / (name + ".zip")
    _write_zip(archive, {name: "VALUE = %r\n" % name})
    spark.sparkContext.addPyFile(str(archive))

    def probe(batches):
        import importlib

        import pandas as pd

        for _ in batches:
            pass
        yield pd.DataFrame({"value": [importlib.import_module(name).VALUE]})

    rows = spark.range(4, numPartitions=4).mapInPandas(probe, "value string").collect()
    assert [r.value for r in rows] == [name] * 4
