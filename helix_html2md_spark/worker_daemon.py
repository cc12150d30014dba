"""Python worker daemon that imports the installed pyspark, not Spark's zip.

The JVM starts every Python worker daemon (``spark.python.daemon.module``)
with ``$SPARK_HOME/python/lib/pyspark.zip``, py4j's source zip and the
spark-core jar at the front of ``sys.path``.  That costs twice:

* modules imported from a zip are compiled from source in every new
  daemon (``import pyspark.daemon, pyspark.worker``: 0.96-1.20 s from
  the zip against 0.21-0.26 s from the installed, bytecode-cached
  package, on a 4-vCPU VM);
* ``pyspark.worker_util.setup_spark_files`` calls
  ``importlib.invalidate_caches()`` on every task, and on Python 3.11
  each cached zipimporter then re-reads its archive's central directory
  (0.15 s of CPU per call with the 16 importers a worker holds).

Run as ``__main__``, this module drops those archives from ``sys.path``
when an installed pyspark with the same ``version.py`` (and an installed
py4j) is importable without them, then runs ``pyspark.daemon.manager()``.
Otherwise ``sys.path`` stays exactly as Spark built it.  Importing the
module has no side effect.
"""

import os
import sys


def _is_spark_archive(entry: str) -> bool:
    name = os.path.basename(entry)
    return os.path.isfile(entry) and (
        name == "pyspark.zip"
        or (name.startswith("py4j-") and name.endswith(".zip"))
        or (name.startswith("spark-core_") and name.endswith(".jar"))
    )


def _zip_version(archive: str) -> bytes | None:
    import zipfile

    try:
        with zipfile.ZipFile(archive) as zf:
            return zf.read("pyspark/version.py")
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def _package_dir(name: str, path: list[str]) -> str | None:
    """The directory ``import name`` finds first on ``path``, if any."""
    for entry in path:
        pkg = os.path.join(entry or os.curdir, name)
        if os.path.isfile(os.path.join(pkg, "__init__.py")):
            return pkg
    return None


def prefer_installed_pyspark(path: list[str], importer_cache: dict) -> bool:
    """Drop Spark's archives from ``path`` if the installed pyspark matches.

    ``path`` and ``importer_cache`` are edited in place (``sys.path`` and
    ``sys.path_importer_cache`` in the daemon).  The archives go only when
    ``path`` holds a ``pyspark.zip``, the first ``pyspark`` package
    outside the archives has a ``version.py`` byte-equal to the zip's,
    and a ``py4j`` package is found outside them too.  Returns whether
    it dropped them."""
    archives = [e for e in path if _is_spark_archive(e)]
    zips = [e for e in archives if os.path.basename(e) == "pyspark.zip"]
    if not zips:
        return False
    rest = [e for e in path if e not in archives]
    pyspark = _package_dir("pyspark", rest)
    if pyspark is None or _package_dir("py4j", rest) is None:
        return False
    try:
        with open(os.path.join(pyspark, "version.py"), "rb") as f:
            installed = f.read()
    except OSError:
        return False
    if installed != _zip_version(zips[0]):
        return False
    path[:] = rest
    for key in list(importer_cache):
        if any(key == a or key.startswith(a + os.sep) for a in archives):
            del importer_cache[key]
    return True


if __name__ == "__main__":
    prefer_installed_pyspark(sys.path, sys.path_importer_cache)
    from pyspark.daemon import manager

    manager()
