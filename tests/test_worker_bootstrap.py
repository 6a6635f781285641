"""Worker bootstrap: importing gdal_spark makes a Python worker's
per-task ``importlib.invalidate_caches()`` read no zip directory, while
a changed zip on ``sys.path`` is still picked up by the next import."""

import importlib
import pkgutil
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

import gdal_spark  # noqa: F401  (installs the lazy zip invalidation)


def test_worker_invalidation_reads_no_zip_directory(spark):
    """Every task of a reused worker runs ``invalidate_caches()``.  On
    CPython 3.11 without the backport each call re-reads every zip
    directory on the worker's path, once per zip importer: 17 reads
    per task on a 4-vCPU local[4] guest.  With gdal_spark imported
    (unpickling this kernel imports it) the call reads none."""
    from gdal_spark.functions.geo import tile_span

    def count_reads(batches):
        tile_span(0)
        read = zipimport._read_directory
        calls = [0]

        def counted(path):
            calls[0] += 1
            return read(path)

        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        for _ in batches:
            pass
        yield pd.DataFrame({"reads": [calls[0]]})

    par = spark.sparkContext.defaultParallelism
    reads = (spark.range(par, numPartitions=par)
             .mapInPandas(count_reads, "reads long").toPandas()["reads"])
    assert len(reads) == par
    assert reads.tolist() == [0] * par


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in members.items():
            zf.writestr(name, src)


def test_changed_zip_is_seen_after_invalidation(tmp_path):
    """The stdlib contract the backport keeps: after
    ``invalidate_caches()`` a rewritten archive serves its new modules
    and values to imports and to ``pkgutil.iter_modules``, and a
    deleted one serves nothing."""
    archive = str(tmp_path / "mods.zip")
    mod, pkg, new = "zb_mod", "zb_pkg", "zb_new"
    _write_zip(archive, {f"{mod}.py": "VALUE = 1\n",
                         f"{pkg}/__init__.py": "NAME = 'pkg'\n"})
    sys.path.insert(0, archive)
    try:
        m = importlib.import_module(mod)
        assert m.VALUE == 1
        assert importlib.import_module(pkg).NAME == "pkg"

        _write_zip(archive, {f"{mod}.py": "VALUE = 2\n",
                             f"{pkg}/__init__.py": "NAME = 'pkg'\n",
                             f"{new}.py": "NEW = True\n"})
        importlib.invalidate_caches()
        assert importlib.import_module(new).NEW is True
        assert importlib.reload(m).VALUE == 2
        importlib.invalidate_caches()
        # 3.13's own lazy form drops the archive from the cache that
        # pkgutil indexes directly
        if sys.version_info < (3, 13):
            assert {i.name for i in pkgutil.iter_modules([archive])} \
                == {mod, pkg, new}

        (tmp_path / "mods.zip").unlink()
        importlib.invalidate_caches()
        with pytest.raises(ModuleNotFoundError):
            importlib.import_module("zb_missing")
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        for name in (mod, pkg, new):
            sys.modules.pop(name, None)


def test_install_is_idempotent():
    from gdal_spark.session import install_lazy_zip_invalidation

    before = zipimport.zipimporter.invalidate_caches
    install_lazy_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is before
