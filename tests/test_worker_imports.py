"""The zip-import guard (owlfrontier/zipguard.py): a Python worker keeps
its zip-import index across tasks unless an archive actually changed."""

import importlib
import sys
import zipfile
import zipimport

import pytest

import owlfrontier
from owlfrontier import zipguard

needs_guard = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="Python 3.13+ invalidates zip indexes lazily; no guard installed",
)


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, source in modules.items():
            z.writestr(f"{name}.py", source)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """An archive holding module ``zg_mod_a``, on sys.path; its importers
    and modules are removed after the test."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zg_mod_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    yield archive
    for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
        del sys.path_importer_cache[key]
    for name in [n for n in sys.modules if n.startswith("zg_mod_")]:
        del sys.modules[name]


@needs_guard
def test_importing_twice_installs_guard_once():
    zipguard.install()
    importlib.reload(owlfrontier)
    zipguard.install()
    method = zipimport.zipimporter.invalidate_caches
    assert method.keeps_unchanged_index
    # one wrapper around the stdlib method, not a wrapper of a wrapper
    assert not getattr(method.__wrapped__, "keeps_unchanged_index", False)
    assert method.__wrapped__.__module__ == "zipimport"


@needs_guard
def test_unchanged_archive_is_not_reread(zip_on_path, monkeypatch):
    importlib.import_module("zg_mod_a")
    importlib.invalidate_caches()  # an importer's first call reads once
    reads = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    for _ in range(3):
        importlib.invalidate_caches()
    assert zip_on_path not in reads
    # the control: without the guard the same calls re-read the archive
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches.__wrapped__,
    )
    importlib.invalidate_caches()
    assert zip_on_path in reads


def test_rewritten_archive_exposes_new_module(zip_on_path):
    assert importlib.import_module("zg_mod_a").X == 1
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        importlib.import_module("zg_mod_b")
    _write_zip(zip_on_path, {"zg_mod_a": "X = 1\n", "zg_mod_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("zg_mod_b").Y == 2


def test_worker_that_ran_extraction_has_guard(spark):
    """The extraction UDF pickles a reference to an owlfrontier function,
    so the worker that runs it imports the package, which installs the
    guard. A second UDF in the same projection runs in that worker and
    reports what it sees."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    from owlfrontier.extract import extraction_udf

    def guarded(url: pd.Series) -> pd.Series:
        import zipimport as zi

        method = zi.zipimporter.invalidate_caches
        return url.map(
            lambda _: getattr(method, "keeps_unchanged_index", False)
        )

    pages = spark.createDataFrame(
        [("http://a.example/", bytearray(b"<p>hi</p>"))],
        "url string, html binary",
    ).coalesce(1)
    row = pages.select(
        extraction_udf()(F.col("html"), F.col("url"))["text"].alias("text"),
        pandas_udf("boolean")(guarded)(F.col("url")).alias("guarded"),
    ).first()
    assert row["text"] == ["hi"]
    assert row["guarded"] is (sys.version_info < (3, 13))
