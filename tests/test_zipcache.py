"""Stat-keyed zip-directory reuse (api_ocr_spark/zipcache.py).

Spark's Python worker calls importlib.invalidate_caches() before every task;
these tests pin that an unchanged archive is not re-read, that a rewritten
one is re-read once and its new modules import, that Python 3.13+ is left
alone, and that the saving reaches real Spark worker tasks. They count
zipimport._read_directory calls, never time.
"""

import importlib
import os
import shutil
import subprocess
import sys
import zipfile
import zipimport

import pytest

import api_ocr_spark  # noqa: F401  (installs the patch)
from api_ocr_spark import zipcache

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PATCHED = sys.version_info < (3, 13)


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in members.items():
            zf.writestr(name, src)


def _count_reads(monkeypatch):
    calls = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


@pytest.fixture
def archive(tmp_path, monkeypatch):
    path = str(tmp_path / "zc_probe.zip")
    _write_zip(path, {"zc_pkg/__init__.py": "A = 1\n", "zc_pkg/sub.py": "B = 2\n"})
    monkeypatch.syspath_prepend(path)
    # two importer instances on one archive: the root and the zc_pkg one
    assert importlib.import_module("zc_pkg.sub").B == 2
    yield path
    for name in ("zc_pkg", "zc_pkg.sub", "zc_pkg.extra"):
        sys.modules.pop(name, None)
    for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(path, None)


def test_unchanged_archive_is_not_reread(archive, monkeypatch):
    importlib.invalidate_caches()  # stamps every archive on the path
    calls = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert calls == []
    assert importlib.import_module("zc_pkg").A == 1


def test_rewritten_archive_is_reread_once(archive, monkeypatch):
    importlib.invalidate_caches()
    _write_zip(archive, {"zc_pkg/__init__.py": "A = 1\n", "zc_pkg/sub.py": "B = 2\n",
                         "zc_pkg/extra.py": "C = 3\n"})
    calls = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    if PATCHED:
        # once per archive, however many importers share it
        assert calls == [archive]
    assert importlib.import_module("zc_pkg.extra").C == 3
    calls.clear()
    importlib.invalidate_caches()
    assert archive not in calls


def test_install_is_idempotent_and_skips_python_3_13(monkeypatch):
    if not PATCHED:
        assert zipimport.zipimporter.invalidate_caches is not zipcache._invalidate_caches
        return
    # installed by the package import; a second install changes nothing
    assert zipimport.zipimporter.invalidate_caches is zipcache._invalidate_caches
    assert zipcache.install() is True
    assert zipimport.zipimporter.invalidate_caches is zipcache._invalidate_caches
    assert zipcache._original is not zipcache._invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", zipcache._original)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert zipcache.install() is False
    assert zipimport.zipimporter.invalidate_caches is zipcache._original


def test_python_3_13_interpreter_is_left_unpatched():
    exe = shutil.which("python3.13")
    if exe is None or subprocess.run([exe, "-c", "pass"], capture_output=True).returncode:
        pytest.skip("no python3.13 interpreter")
    code = ("import sys, zipimport; sys.path.insert(0, sys.argv[1]);"
            "before = zipimport.zipimporter.invalidate_caches;"
            "import api_ocr_spark;"
            "print(zipimport.zipimporter.invalidate_caches is before)")
    out = subprocess.run([exe, "-c", code, ROOT], capture_output=True, text=True, check=True)
    assert out.stdout.strip() == "True"


def test_worker_tasks_reuse_zip_directories(spark):
    """A task in a worker that already imported the engine invalidates the
    import caches without re-reading pyspark.zip, py4j or the Spark jar."""
    import pandas as pd

    def probe(batches):
        import importlib
        import sys
        import zipimport

        had_engine = "api_ocr_spark" in sys.modules
        import api_ocr_spark  # noqa: F401

        reads = []
        real = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return real(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        n_zip = sum(isinstance(f, zipimport.zipimporter)
                    for f in sys.path_importer_cache.values())
        for _ in batches:
            pass
        yield pd.DataFrame({"had_engine": [had_engine], "reads": [len(reads)],
                            "n_zip": [n_zip]})

    ids = spark.range(0, 8, 1, 8)
    rows = []
    for _ in range(3):
        rows += ids.mapInPandas(probe, "had_engine boolean, reads long, n_zip long").collect()
    warm = [r for r in rows if r.had_engine]
    assert warm, "no task ran in a worker that had imported the engine"
    assert min(r.n_zip for r in warm) > 0
    assert [r.reads for r in warm] == [0] * len(warm)
