"""The Python worker daemon's choice of pyspark (worker_daemon.py).

The path choice is tested without Spark on a ``sys.path`` built in
``tmp_path``; one Spark test checks what a task on the session fixture
actually imported."""

import json
import os
import subprocess
import sys
import zipfile

import pyarrow as pa
import pyspark

from helix_html2md_spark.session import _workers_import_package
from helix_html2md_spark.worker_daemon import prefer_installed_pyspark

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
INSTALLED = os.path.dirname(os.path.dirname(pyspark.__file__))


def _read(path):
    with open(path, "rb") as f:
        return f.read()


def _spark_lib(tmp_path, version: bytes) -> list[str]:
    """Spark's three archives, with ``version`` as pyspark/version.py."""
    lib = tmp_path / "spark"
    lib.mkdir()
    with zipfile.ZipFile(lib / "pyspark.zip", "w") as zf:
        zf.writestr("pyspark/__init__.py", "")
        zf.writestr("pyspark/version.py", version)
    with zipfile.ZipFile(lib / "py4j-0.10.9.9-src.zip", "w") as zf:
        zf.writestr("py4j/__init__.py", "")
    with zipfile.ZipFile(lib / "spark-core_2.13-4.1.2.jar", "w") as zf:
        zf.writestr("META-INF/MANIFEST.MF", "")
    return [
        str(lib / "pyspark.zip"),
        str(lib / "py4j-0.10.9.9-src.zip"),
        str(lib / "spark-core_2.13-4.1.2.jar"),
    ]


def _site(tmp_path, version: bytes) -> str:
    """An installed pyspark and py4j in their own site directory."""
    site = tmp_path / "site"
    for pkg in ("pyspark", "py4j"):
        (site / pkg).mkdir(parents=True)
        (site / pkg / "__init__.py").write_text("")
    (site / "pyspark" / "version.py").write_bytes(version)
    return str(site)


def test_matching_installed_pyspark_drops_spark_archives(tmp_path):
    version = _read(os.path.join(INSTALLED, "pyspark", "version.py"))
    archives = _spark_lib(tmp_path, version)
    path = [ROOT, *archives, INSTALLED]
    cache = {a: object() for a in archives}
    cache[archives[0] + os.sep + "pyspark"] = object()
    cache[ROOT] = kept = object()
    assert prefer_installed_pyspark(path, cache)
    assert path == [ROOT, INSTALLED]
    assert cache == {ROOT: kept}


def test_other_installed_version_leaves_path_as_spark_built_it(tmp_path):
    archives = _spark_lib(tmp_path, b"__version__: str = '4.1.2'\n")
    site = _site(tmp_path, b"__version__: str = '4.0.0'\n")
    path = [ROOT, *archives, site]
    cache = {a: object() for a in archives}
    before = (list(path), dict(cache))
    assert not prefer_installed_pyspark(path, cache)
    assert (path, cache) == before


def test_first_installed_pyspark_on_the_path_decides(tmp_path):
    version = b"__version__: str = '4.1.2'\n"
    archives = _spark_lib(tmp_path, version)
    site = _site(tmp_path, version)
    older = tmp_path / "older"
    (older / "pyspark").mkdir(parents=True)
    (older / "pyspark" / "__init__.py").write_text("")
    (older / "pyspark" / "version.py").write_bytes(b"__version__ = '3.5.0'\n")
    path = [*archives, str(older), site]
    assert not prefer_installed_pyspark(path, {})
    assert path == [*archives, str(older), site]
    path = [*archives, site, str(older)]
    assert prefer_installed_pyspark(path, {})
    assert path == [site, str(older)]


def test_missing_installed_py4j_leaves_path(tmp_path):
    version = b"__version__: str = '4.1.2'\n"
    archives = _spark_lib(tmp_path, version)
    site = _site(tmp_path, version)
    os.remove(os.path.join(site, "py4j", "__init__.py"))
    path = [*archives, site]
    assert not prefer_installed_pyspark(path, {})
    assert path == [*archives, site]


def test_no_pyspark_zip_changes_nothing(tmp_path):
    version = _read(os.path.join(INSTALLED, "pyspark", "version.py"))
    archives = _spark_lib(tmp_path, version)
    path = [ROOT, *archives[1:], INSTALLED]
    cache = {a: object() for a in archives[1:]}
    before = (list(path), dict(cache))
    assert not prefer_installed_pyspark(path, cache)
    assert (path, cache) == before
    assert not prefer_installed_pyspark([ROOT, INSTALLED], {})


def test_import_has_no_side_effect():
    """Importing the module adds only itself and its package: no pyspark,
    no zipfile, and ``sys.path`` untouched."""
    code = (
        "import json, sys\n"
        "path, mods = list(sys.path), set(sys.modules)\n"
        "import helix_html2md_spark.worker_daemon\n"
        "assert sys.path == path, sys.path\n"
        "print(json.dumps(sorted(set(sys.modules) - mods)))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True,
        text=True, timeout=60, check=True,
    ).stdout
    assert json.loads(out) == [
        "helix_html2md_spark", "helix_html2md_spark.worker_daemon"
    ]


def test_daemon_module_only_where_workers_can_import_it(
    tmp_path, monkeypatch
):
    """``build_session`` sets the daemon module only when the package is
    on the workers' start-up path: Spark starts the daemon before any
    task ships ``--py-files``."""
    monkeypatch.delenv("PYTHONPATH", raising=False)
    monkeypatch.chdir(ROOT)
    assert _workers_import_package("local[4]", {})
    assert not _workers_import_package("local-cluster[2,1,1024]", {})
    monkeypatch.chdir(tmp_path)
    assert not _workers_import_package("local[4]", {})
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join([str(tmp_path), ROOT]))
    assert _workers_import_package("local", {})
    assert not _workers_import_package("yarn", {})
    env = {"spark.executorEnv.PYTHONPATH": ROOT}
    assert _workers_import_package("local-cluster[2,1,1024]", env)


def _imports(batches):
    import sys
    import zipimport

    import pyspark

    import helix_html2md_spark

    zipimporters = [
        k for k, v in sys.path_importer_cache.items()
        if isinstance(v, zipimport.zipimporter)
    ]
    for batch in batches:
        yield pa.RecordBatch.from_pydict({
            "pyspark": [pyspark.__file__] * batch.num_rows,
            "package": [helix_html2md_spark.__file__] * batch.num_rows,
            "zipimporters": [zipimporters] * batch.num_rows,
        })


def test_workers_import_installed_pyspark(spark):
    row = (
        spark.range(1, numPartitions=1)
        .mapInArrow(
            _imports,
            "pyspark string, package string, zipimporters array<string>",
        )
        .collect()[0]
    )
    assert ".zip" + os.sep not in row["pyspark"], row["pyspark"]
    assert row["zipimporters"] == []
    assert row["package"] == os.path.join(
        ROOT, "helix_html2md_spark", "__init__.py"
    )
