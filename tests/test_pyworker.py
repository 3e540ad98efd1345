"""The engine's Python worker daemon (``hdfe_spark._pyworker``), which
``get_spark`` selects."""

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql import functions as F

from hdfe_spark import _pyworker, session


def _write_zip(path, modules: dict) -> None:
    """Write ``{module name: source}`` as a new file replacing ``path``."""
    tmp = path.with_name(path.name + ".tmp")
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip archive on ``sys.path`` with one imported module, under the
    daemon's patched zipimport (undone afterwards)."""
    monkeypatch.setattr(zipimport, "_read_directory", zipimport._read_directory)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    _pyworker.install()
    archive = tmp_path / "mods.zip"
    first = f"pyworker_first_{tmp_path.name}"
    _write_zip(archive, {first: "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    assert importlib.import_module(first).X == 1
    yield archive, first
    sys.modules.pop(first, None)
    sys.path_importer_cache.pop(str(archive), None)


def _count_reads(monkeypatch) -> list:
    reads = []
    read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda a: reads.append(a) or read(a))
    return reads


def test_unchanged_zip_is_not_reread(zip_on_path, monkeypatch):
    reads = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []


def test_rewritten_zip_is_reread_and_new_module_imports(zip_on_path, monkeypatch):
    archive, first = zip_on_path
    second = first.replace("first", "second")
    _write_zip(archive, {first: "X = 1\n", second: "Y = 2\n"})
    reads = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    try:
        assert importlib.import_module(second).Y == 2
    finally:
        sys.modules.pop(second, None)
    assert reads.count(str(archive)) == 1  # one read, shared by its importers


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="no patch on CPython 3.13+")
def test_stat_error_falls_back_to_stdlib_reread(zip_on_path, monkeypatch):
    archive, _ = zip_on_path

    def fail(path):
        raise OSError(path)

    monkeypatch.setattr(_pyworker, "_stamp", fail)
    reads = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    assert str(archive) in reads


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="no patch on CPython 3.13+")
def test_pandas_udf_worker_runs_under_engine_daemon(spark):
    """The worker runs under the engine daemon, with the patch in place
    and the package root on its ``PYTHONPATH`` (so neither depends on
    the launch cwd)."""
    root = session._PACKAGE_ROOT

    @F.pandas_udf("string")
    def daemon_of(s: pd.Series) -> pd.Series:
        import os
        import sys
        import zipimport

        main = sys.modules["__main__"].__spec__.name
        patched = zipimport.zipimporter.invalidate_caches.__qualname__
        on_path = root in os.environ["PYTHONPATH"].split(os.pathsep)
        return pd.Series([f"{main}|{patched}|{on_path}"] * len(s))

    got = {r[0] for r in spark.range(4, numPartitions=2).select(daemon_of("id")).collect()}
    assert got == {"hdfe_spark._pyworker|install.<locals>.invalidate_caches|True"}
