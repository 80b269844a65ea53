"""The zipimport guard: ``importlib.invalidate_caches()`` must not re-read
an unchanged zip archive, must still re-read a rewritten one, and the
guard must reach the Python workers that run the engine's UDFs."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from byzer_retrieval_spark import _zipimport_guard as guard

eager_zipimport = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython >= 3.13 reads zip directories lazily; the guard is off",
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("zpkg/__init__.py", "")
        z.writestr("zpkg/sub/__init__.py", "")
        for name, src in modules.items():
            z.writestr(f"zpkg/sub/{name}.py", src)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on sys.path with two subpackage importers cached for it, as a
    PySpark worker holds several for pyspark.zip. Yields (path, reads):
    ``reads`` lists every directory read of this archive."""
    path = str(tmp_path / "lib.zip")
    _write_zip(path, {"a": "X = 1\n"})
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(archive_path):
        if archive_path == path:
            reads.append(archive_path)
        return stock_read(archive_path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    # restore the method and the guard's stamps after the test
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.setattr(guard, "_stamps", {})
    for sub in ("zpkg", os.path.join("zpkg", "sub")):
        key = os.path.join(path, sub)
        monkeypatch.setitem(sys.path_importer_cache, key, zipimport.zipimporter(key))
    monkeypatch.syspath_prepend(path)
    del reads[:]
    yield path, reads
    for name in [m for m in sys.modules if m == "zpkg" or m.startswith("zpkg.")]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(path, None)


@eager_zipimport
def test_unchanged_archive_is_not_reread(archive):
    path, reads = archive
    guard.install()
    importlib.invalidate_caches()
    assert len(reads) <= 1  # the first call reads once, not per importer
    del reads[:]
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []
    assert importlib.import_module("zpkg.sub.a").X == 1


@eager_zipimport
def test_rewritten_archive_is_reread(archive):
    path, reads = archive
    guard.install()
    importlib.invalidate_caches()
    assert importlib.import_module("zpkg.sub.a").X == 1
    _write_zip(path, {"a": "X = 1\n", "b": "X = 2\n"})
    del reads[:]
    importlib.invalidate_caches()
    assert reads
    assert importlib.import_module("zpkg.sub.b").X == 2


def test_install_is_idempotent_and_off_from_313(monkeypatch):
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", guard._stock
    )
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    guard.install()
    assert zipimport.zipimporter.invalidate_caches is guard._stock
    monkeypatch.setattr(sys, "version_info", (3, 11, 7, "final", 0))
    guard.install()
    guard.install()
    assert zipimport.zipimporter.invalidate_caches is guard._invalidate_caches


@eager_zipimport
def test_guard_serves_reused_spark_workers(spark):
    """Each engine UDF names engine modules, so unpickling it on a worker
    imports the package, which installs the guard; PySpark reuses
    workers, so later tasks' invalidate_caches() calls go through it."""

    def report(batches):
        import os
        import sys
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        zips = [
            f for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
        ]
        yield pa.RecordBatch.from_pydict(
            {
                "pid": [os.getpid()],
                "installed": [
                    zipimport.zipimporter.invalidate_caches
                    is guard._invalidate_caches
                ],
                "zips": [len(zips)],
                "stamped": [len(guard._stamps)],
            }
        )

    schema = "pid long, installed boolean, zips long, stamped long"
    runs = [
        spark.range(0, 4, 1, 4).mapInArrow(report, schema).collect()
        for _ in range(3)
    ]
    assert all(r["installed"] for run in runs for r in run)
    seen = set()
    reused = []
    for run in runs:
        reused += [r for r in run if r["pid"] in seen]
        seen |= {r["pid"] for r in run}
    assert reused  # worker pids repeat across jobs
    # a reused worker that imports from zips set its task up through
    # the guard
    assert all(r["stamped"] > 0 for r in reused if r["zips"])
