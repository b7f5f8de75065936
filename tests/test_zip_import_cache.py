"""The package's zipimport fix: before Python 3.13 every
``importlib.invalidate_caches()`` re-read the directory of every zip on
``sys.path``, and PySpark's worker makes that call at the start of every
task. With the package imported, an importer re-reads its archive only
when the archive's (mtime, size) changed."""

import importlib
import sys
import zipfile
import zipimport

import pytest

import high_performance_docling_spark as hpd

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="zipimporter.invalidate_caches no longer re-reads from 3.13 on",
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_invalidate_caches_rereads_a_zip_only_when_it_changed(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, ["zipfix_m1"])
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module("zipfix_m1").NAME == "zipfix_m1"

        reads = []
        read_directory = zipimport._read_directory

        def counted(path):
            reads.append(path)
            return read_directory(path)

        monkeypatch.setattr(zipimport, "_read_directory", counted)
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert str(archive) not in reads

        # rewritten in place: the next invalidation must see the new entry
        _write_zip(archive, ["zipfix_m1", "zipfix_m2"])
        importlib.invalidate_caches()
        assert reads.count(str(archive)) == 1
        assert importlib.import_module("zipfix_m2").NAME == "zipfix_m2"
    finally:
        sys.modules.pop("zipfix_m1", None)
        sys.modules.pop("zipfix_m2", None)


def test_spark_workers_run_the_package_invalidate_caches(spark):
    """A worker that unpickles a package function imports the package, so
    the tasks it runs after that skip the per-task zip re-read."""
    import pandas as pd

    def report(batches):
        for _ in batches:
            pass
        fn = zipimport.zipimporter.invalidate_caches
        yield pd.DataFrame({
            "version": [hpd.__version__],
            "module": [fn.__module__],
            "qualname": [fn.__qualname__],
        })

    rows = (spark.range(4, numPartitions=2)
            .mapInPandas(report, "version string, module string, qualname string")
            .collect())
    assert len(rows) == 2
    for row in rows:
        assert row["version"] == hpd.__version__
        assert row["module"] == hpd.__name__
        assert row["qualname"] == hpd._invalidate_caches.__qualname__
