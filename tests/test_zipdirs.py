"""A Python worker re-reads a zip's directory only when the zip changed
(``ocr_gpu_services_spark/zipdirs.py``)."""

import importlib
import os
import subprocess
import sys
import types
import zipfile
import zipimport

from ocr_gpu_services_spark import zipdirs

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def _patched(monkeypatch, zip_path):
    """The zip on sys.path, zipdirs' invalidation installed, and a list
    that records every directory read of that zip."""
    reads = []
    read = zipimport._read_directory

    def counting(path):
        if path == str(zip_path):
            reads.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipdirs.invalidate_caches)
    monkeypatch.syspath_prepend(str(zip_path))
    return reads


def test_unchanged_zip_is_read_once_over_two_invalidations(tmp_path,
                                                           monkeypatch):
    zp = tmp_path / "lib_a.zip"
    _write_zip(zp, {"zipdirs_mod_a": "X = 1\n"})
    reads = _patched(monkeypatch, zp)
    monkeypatch.delitem(sys.modules, "zipdirs_mod_a", raising=False)
    assert importlib.import_module("zipdirs_mod_a").X == 1
    del reads[:]  # the finder's construction read it once
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) == 1


def test_rewritten_zip_is_reread(tmp_path, monkeypatch):
    zp = tmp_path / "lib_b.zip"
    _write_zip(zp, {"zipdirs_mod_b": "X = 1\n"})
    reads = _patched(monkeypatch, zp)
    for m in ("zipdirs_mod_b", "zipdirs_mod_c"):
        monkeypatch.delitem(sys.modules, m, raising=False)
    importlib.import_module("zipdirs_mod_b")
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    n = len(reads)
    _write_zip(zp, {"zipdirs_mod_b": "X = 1\n", "zipdirs_mod_c": "Y = 2\n"})
    importlib.invalidate_caches()
    assert len(reads) == n + 1
    assert importlib.import_module("zipdirs_mod_c").Y == 2


def _stock_in_subprocess(code):
    out = subprocess.run(
        [sys.executable, "-c", code + "\nimport zipimport\n"
         "print(zipimport.zipimporter.invalidate_caches.__module__)"],
        cwd=ROOT, capture_output=True, text=True, check=True).stdout
    return out.split()[-1] == "zipimport"


def test_driver_keeps_stock_zipimport():
    assert _stock_in_subprocess("import ocr_gpu_services_spark")


def test_pyspark_worker_installs_on_package_import():
    assert not _stock_in_subprocess(
        "import pyspark.worker\nimport ocr_gpu_services_spark")


def test_worker_gate_without_daemon(monkeypatch):
    monkeypatch.delitem(sys.modules, "pyspark.worker", raising=False)
    main = types.ModuleType("__main__")
    monkeypatch.setitem(sys.modules, "__main__", main)
    assert not zipdirs._in_pyspark_worker()  # no __spec__, as in `python -c`
    main.__spec__ = types.SimpleNamespace(name="pyspark.worker")
    assert zipdirs._in_pyspark_worker()  # `python -m pyspark.worker`


def test_warm_worker_rereads_no_zip(spark):
    n = 2 * spark.sparkContext.defaultParallelism
    df = spark.range(0, n, 1, n)
    df.mapInArrow(zipdirs.identity, "id long").collect()  # warm every worker
    rows = df.mapInArrow(zipdirs.probe, zipdirs.PROBE_SCHEMA).collect()
    assert len(rows) == n
    assert min(r["zipimporters"] for r in rows) > 0  # pyspark.zip at least
    assert all(r["rereads"] == 0 for r in rows)
    times = sorted(r["invalidate_s"] for r in rows)
    assert times[n // 2] <= 0.005, times
