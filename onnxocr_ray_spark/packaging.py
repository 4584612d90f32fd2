"""Package shipping: the spark-submit --py-files idiom, self-service.

On a real cluster the package rides along as
``spark-submit --py-files onnxocr_ray_spark.zip job.py`` (SURVEY.md §7.0;
the reference ships models the same way via Ray Serve's runtime env /
SparkFiles). For sessions the caller built themselves (the driver
harness, a notebook), ``ship_package(spark)`` zips the installed package
and registers it with ``sc.addPyFile`` so executor Python workers can
unpickle closures that reference ``onnxocr_ray_spark.*`` — regardless of
the driver's cwd.

In an executor's Python worker, ``install_zip_stamp_check()`` (run when
the package is imported) stops the per-task import-cache reset from
re-reading every zip on ``sys.path`` that has not changed.
"""

from __future__ import annotations

import hashlib
import os
import sys
import tempfile
import zipfile
import zipimport
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import SparkSession

_SHIPPED_FLAG = "_onnxocr_ray_spark_shipped"


def _pkg_files(pkg_dir: str):
    for root, _dirs, files in os.walk(pkg_dir):
        for fn in sorted(files):
            if fn.endswith(".py"):
                yield os.path.join(root, fn)


def package_zip_path() -> str:
    """Create a zip of the onnxocr_ray_spark package, named by content
    digest so edits to the package invalidate previously shipped zips."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    digest = hashlib.md5()
    for full in _pkg_files(pkg_dir):
        digest.update(full.encode())
        with open(full, "rb") as fh:
            digest.update(fh.read())
    out = os.path.join(
        tempfile.gettempdir(), f"onnxocr_ray_spark_pyfiles_{digest.hexdigest()[:12]}.zip"
    )
    if not os.path.exists(out):
        tmp = out + f".tmp{os.getpid()}"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
            for full in _pkg_files(pkg_dir):
                rel = os.path.join("onnxocr_ray_spark", os.path.relpath(full, pkg_dir))
                zf.write(full, rel)
        os.replace(tmp, out)
    return out


def ship_package(spark: SparkSession) -> None:
    """Idempotently make the package importable on executors."""
    sc = spark.sparkContext
    if getattr(sc, _SHIPPED_FLAG, False):
        return
    sc.addPyFile(package_zip_path())
    setattr(sc, _SHIPPED_FLAG, True)


def install_zip_stamp_check() -> None:
    """Idempotently make a task worker's zip importers re-read their
    archive only when it changed.

    A PySpark worker calls ``importlib.invalidate_caches()`` before every
    task, and on CPython < 3.12 each ``zipimporter.invalidate_caches``
    re-parses its archive's whole central directory: ``pyspark.zip``'s
    sub-package importers and the Spark jar, 17 reads and 0.1-0.2 s per
    task on a 4-core host. The replacement re-reads only when the
    archive's ``(st_mtime_ns, st_size, st_ino)`` differs from the stamp
    of this importer's last read; an archive ``os.stat`` cannot read gets
    the stock method. It acts only inside a task
    (``pyspark.TaskContext.get()`` set), so a driver's stdlib is left
    alone.
    """
    stock = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 12) or getattr(stock, "_stamp_checked", False):
        return
    pyspark = sys.modules.get("pyspark")  # every worker imports it before unpickling
    if pyspark is None or pyspark.TaskContext.get() is None:
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            self._stamp = None
            return stock(self)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        if getattr(self, "_stamp", None) != stamp:
            stock(self)
            self._stamp = stamp

    invalidate_caches._stamp_checked = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
