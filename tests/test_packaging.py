"""packaging: what executors import, and what their per-task setup re-reads."""

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from collections import Counter

import pyspark
import pytest

from onnxocr_ray_spark.packaging import install_zip_stamp_check
from onnxocr_ray_spark.rowmap import map_rows

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

old_zipimport = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="zipimporter re-reads its archive only before 3.12")


def _write_zip(path, modules):
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)
    os.replace(tmp, path)


@pytest.fixture
def reads(monkeypatch):
    """Zip directory reads per archive path."""
    seen = Counter()
    stock = zipimport._read_directory

    def counted(archive):
        seen[archive] += 1
        return stock(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return seen


@pytest.fixture
def in_task(monkeypatch):
    """The check installed as a task worker would install it; the stock
    method is back after the test."""
    stock = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    monkeypatch.setattr(pyspark.TaskContext, "get", lambda: object())
    install_zip_stamp_check()
    assert zipimport.zipimporter.invalidate_caches is not stock


@pytest.fixture
def archive(tmp_path, monkeypatch, request):
    """A zip on sys.path holding module ``<name>_a``, already imported."""
    name = f"zstamp_{request.node.name.replace('test_', '')}"
    path = str(tmp_path / f"{name}.zip")
    _write_zip(path, {f"{name}_a": "A = 1\n"})
    monkeypatch.syspath_prepend(path)
    importlib.import_module(f"{name}_a")
    yield path, name
    for mod in (f"{name}_a", f"{name}_b"):
        sys.modules.pop(mod, None)


@old_zipimport
def test_unchanged_zip_is_not_reread(in_task, archive, reads):
    path, _ = archive
    importlib.invalidate_caches()  # this importer's first read under the check
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads[path] == 0


@old_zipimport
def test_rewritten_zip_is_reread_and_its_new_module_imports(in_task, archive, reads):
    path, name = archive
    importlib.invalidate_caches()
    reads.clear()
    _write_zip(path, {f"{name}_a": "A = 1\n", f"{name}_b": "B = 2\n"})
    importlib.invalidate_caches()
    assert reads[path] == 1
    assert importlib.import_module(f"{name}_b").B == 2


@old_zipimport
def test_deleted_zip_behaves_as_stock(in_task, archive, reads):
    path, name = archive
    importlib.invalidate_caches()
    _write_zip(path, {f"{name}_a": "A = 1\n", f"{name}_b": "B = 2\n"})
    importlib.invalidate_caches()
    os.remove(path)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        importlib.import_module(f"{name}_b")


@old_zipimport
def test_install_is_idempotent(in_task):
    wrapped = zipimport.zipimporter.invalidate_caches
    install_zip_stamp_check()
    assert zipimport.zipimporter.invalidate_caches is wrapped


def test_driver_keeps_the_stock_method(monkeypatch):
    stock = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    assert pyspark.TaskContext.get() is None
    install_zip_stamp_check()
    assert zipimport.zipimporter.invalidate_caches is stock


@old_zipimport
def test_task_setup_rereads_no_unchanged_zip(spark):
    """The reset a worker runs before each task reads no zip directory
    once the package is imported (the stock method reads every zip on
    ``sys.path``: pyspark.zip's sub-packages and the Spark jar)."""
    def kernel():
        import onnxocr_ray_spark  # noqa: F401  (as unpickling any kernel does)

        n = Counter()
        stock = zipimport._read_directory

        def counted(archive):
            n[archive] += 1
            return stock(archive)

        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
            first = sum(n.values())
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock
        return lambda i: [(i, sum(n.values()) - first)]

    rows = map_rows(spark.range(0, 4, 1, 4), ["id"], kernel, "id long, reads long").collect()
    assert sorted(rows) == [(i, 0) for i in range(4)]


def test_workers_import_the_shipped_zip_not_the_cwd(tmp_path):
    """A package of the same name in the driver's cwd must not shadow the
    shipped zip on the executors."""
    cwd = tmp_path / "cwd"
    (cwd / "onnxocr_ray_spark").mkdir(parents=True)
    (cwd / "onnxocr_ray_spark" / "__init__.py").write_text("DECOY = True\n")
    probe = tmp_path / "probe.py"
    probe.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from onnxocr_ray_spark.rowmap import map_rows
        from onnxocr_ray_spark.session import get_spark

        def kernel():
            import onnxocr_ray_spark
            return lambda i: [(onnxocr_ray_spark.__file__,)]

        spark = get_spark(app_name="cwd_probe", master="local[1]", shuffle_partitions=1)
        [row] = map_rows(spark.range(1), ["id"], kernel, "f string").collect()
        print("WORKER_FILE", row.f)
        spark.stop()
    """))
    out = subprocess.run([sys.executable, str(probe)], cwd=cwd, check=True,
                         capture_output=True, text=True, timeout=300).stdout
    [f] = [ln.split(" ", 1)[1] for ln in out.splitlines() if ln.startswith("WORKER_FILE ")]
    zip_path = f.split(".zip" + os.sep, 1)[0]
    assert os.path.basename(zip_path).startswith("onnxocr_ray_spark_pyfiles_"), f
