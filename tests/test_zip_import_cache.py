"""The package's stat-checked ``zipimporter.invalidate_caches``.

``importlib.invalidate_caches()`` runs before every PySpark task. On Python
< 3.12 each ``zipimporter`` then re-reads its whole archive directory; the
package's replacement re-reads only an archive whose ``(st_mtime_ns,
st_size)`` changed. Directory reads are counted through
``zipimport._read_directory``, the one function every re-read goes through.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

import gnosis_ocr_spark  # noqa: F401  (installs the replacement on < 3.12)


@pytest.fixture
def directory_reads(monkeypatch):
    """List that collects the archive path of every directory read."""
    reads: list[str] = []
    read = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """Write a zip of ``{member: source}`` at a fresh path on ``sys.path``.

    Its importers and the modules imported from it are dropped afterwards,
    so a deleted archive does not stay in ``sys.path_importer_cache``."""
    archive = tmp_path / "mods.zip"

    def write(members: dict[str, str]):
        with zipfile.ZipFile(archive, "w") as zf:
            for name, source in members.items():
                zf.writestr(name, source)
        return archive

    monkeypatch.syspath_prepend(str(archive))
    before = set(sys.modules)
    yield write
    for key in [k for k in sys.path_importer_cache if k.startswith(str(archive))]:
        del sys.path_importer_cache[key]
    for name in set(sys.modules) - before:
        if (getattr(sys.modules[name], "__file__", None) or "").startswith(str(archive)):
            del sys.modules[name]


def test_replacement_installed_only_before_312():
    patched = zipimport.zipimporter.invalidate_caches.__module__ == "gnosis_ocr_spark"
    assert patched == (sys.version_info < (3, 12))


def test_unchanged_archive_is_not_reread(zip_on_path, directory_reads):
    zip_on_path({"zc_same.py": "X = 1\n", "zc_pkg/__init__.py": "", "zc_pkg/inner.py": "Y = 2\n"})
    import zc_pkg.inner  # noqa: F401  (a second importer, for the sub-package)
    import zc_same

    assert zc_same.X == 1
    importlib.invalidate_caches()  # stamps every archive on the path
    directory_reads.clear()
    importlib.invalidate_caches()
    assert directory_reads == []


def test_rewritten_archive_is_reread(zip_on_path, directory_reads):
    members = {"zc_old.py": "X = 1\n", "zc_pkg2/__init__.py": "", "zc_pkg2/early.py": ""}
    archive = zip_on_path(members)
    import zc_old  # noqa: F401
    import zc_pkg2.early  # noqa: F401  (a second importer, for the sub-package)

    importlib.invalidate_caches()
    zip_on_path({**members, "zc_pkg2/late.py": "Z = 3\n", "zc_new.py": "Y = 2\n"})
    directory_reads.clear()
    importlib.invalidate_caches()
    # both importers of the archive (top level and sub-package) see the new
    # members, from at least one read
    assert str(archive) in directory_reads
    assert importlib.import_module("zc_new").Y == 2
    assert importlib.import_module("zc_pkg2.late").Z == 3


def test_deleted_archive_does_not_raise(zip_on_path):
    archive = zip_on_path({"zc_gone.py": "X = 1\n", "zc_never.py": "Y = 2\n"})
    import zc_gone  # noqa: F401

    importlib.invalidate_caches()
    archive.unlink()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        importlib.import_module("zc_never")


def test_replacement_reaches_python_workers(spark):
    """A worker that has imported the package (as one unpickling a package
    UDF does) reads no zip directory on a repeated invalidation."""

    def import_package(batches):
        import gnosis_ocr_spark  # noqa: F401

        yield from batches

    def second_invalidation_reads(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        importlib.invalidate_caches()
        read, reads = zipimport._read_directory, []
        zipimport._read_directory = lambda archive: reads.append(archive) or read(archive)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        yield pd.DataFrame({
            "reads": [len(reads)],
            "zip_importers": [sum(isinstance(f, zipimport.zipimporter)
                                  for f in sys.path_importer_cache.values())],
            "package_loaded": ["gnosis_ocr_spark" in sys.modules],
        })

    n = spark.sparkContext.defaultParallelism
    df = spark.range(n, numPartitions=n)
    df.mapInPandas(import_package, df.schema).collect()
    rows = df.mapInPandas(
        second_invalidation_reads,
        "reads long, zip_importers long, package_loaded boolean",
    ).collect()
    assert len(rows) == n
    if not any(r.zip_importers for r in rows):
        pytest.skip("no zip archive on the Python workers' path")
    assert all(r.package_loaded for r in rows)
    assert [r.reads for r in rows] == [0] * n
