"""worker_imports: a zip importer re-reads its archive only when the file
changed, and the hook is installed only in a Spark worker."""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from st_mapmatching_spark import worker_imports

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OLD_PYTHON = sys.version_info < (3, 13)


def _write_zip(path, modules: dict) -> None:
    """A zip of ``{name: source}`` written beside ``path`` and moved over
    it, as a deploy replaces an archive."""
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A throwaway archive on sys.path with its module imported, the
    hook installed, and a list of the archive's directory reads."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"wi_mod_a": "A = 1\n"})
    saved_invalidate = zipimport.zipimporter.invalidate_caches
    saved_path = list(sys.path)
    sys.path.insert(0, path)
    reads = []
    inner = zipimport._read_directory

    def counted(archive):
        if archive == path:
            reads.append(archive)
        return inner(archive)

    try:
        importlib.import_module("wi_mod_a")
        worker_imports.install()
        monkeypatch.setattr(zipimport, "_read_directory", counted)
        yield path, reads
    finally:
        zipimport.zipimporter.invalidate_caches = saved_invalidate
        sys.path[:] = saved_path
        sys.path_importer_cache.pop(path, None)
        zipimport._zip_directory_cache.pop(path, None)
        for name in ("wi_mod_a", "wi_mod_b"):
            sys.modules.pop(name, None)


def test_unchanged_archive_is_not_reread(zip_on_path):
    _, reads = zip_on_path
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []


def test_rewritten_archive_is_reread(zip_on_path):
    path, reads = zip_on_path
    importlib.invalidate_caches()
    _write_zip(path, {"wi_mod_a": "A = 1\n", "wi_mod_b": "B = 2\n"})
    importlib.invalidate_caches()
    assert reads == [path]
    assert importlib.import_module("wi_mod_b").B == 2
    importlib.invalidate_caches()
    assert reads == [path]


def test_second_install_is_a_noop(zip_on_path):
    wrapped = zipimport.zipimporter.invalidate_caches
    assert wrapped.skips_unchanged
    worker_imports.install()
    assert zipimport.zipimporter.invalidate_caches is wrapped


def _invalidate_module_after_import(on_worker: bool) -> str:
    """The module of ``zipimporter.invalidate_caches`` once the package is
    imported in a fresh interpreter, flagged as a Spark worker or not."""
    code = ("import zipimport\n"
            "from pyspark.core.files import SparkFiles\n"
            f"SparkFiles._is_running_on_worker = {on_worker}\n"
            "import st_mapmatching_spark\n"
            "print(zipimport.zipimporter.invalidate_caches.__module__)\n")
    out = subprocess.run([sys.executable, "-c", code], cwd=ROOT, check=True,
                         stdout=subprocess.PIPE, text=True).stdout
    return out.strip()


def test_package_import_installs_only_on_a_worker():
    assert _invalidate_module_after_import(False) == "zipimport"
    want = ("st_mapmatching_spark.worker_imports" if OLD_PYTHON
            else "zipimport")
    assert _invalidate_module_after_import(True) == want


@pytest.mark.skipif(not OLD_PYTHON, reason="the hook is a no-op on 3.13+")
def test_reused_spark_worker_skips_rereads(spark):
    """A worker that ran an engine import in an earlier task re-reads no
    archive when a later task invalidates the import caches, and can
    still import from pyspark's archive."""
    sc = spark.sparkContext

    def import_engine(it):
        import st_mapmatching_spark  # noqa: F401
        yield sum(1 for _ in it)

    def count_rereads(it):
        import zipimport
        list(it)
        imported = "st_mapmatching_spark" in sys.modules
        zips = sum(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())
        reads = []
        inner = zipimport._read_directory

        def counted(archive):
            reads.append(archive)
            return inner(archive)

        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = inner
        # a module no task imports, loaded the way pyspark itself was
        mod = importlib.import_module("pyspark.find_spark_home")
        same = type(mod.__loader__) is type(sys.modules["pyspark"].__loader__)
        yield imported, zips, len(reads), same

    # more tasks than the pool has workers, so every idle worker runs one
    n = 8 * sc.defaultParallelism
    assert sum(sc.parallelize(range(n), n).mapPartitions(import_engine)
               .collect()) == n
    got = sc.parallelize(range(n), n).mapPartitions(count_rereads).collect()
    if not any(zips for _, zips, _, _ in got):
        pytest.skip("the workers import nothing from a zip archive")
    warm = [reads for imported, _, reads, _ in got if imported]
    assert warm and all(r == 0 for r in warm), got
    assert all(same for *_, same in got), got
