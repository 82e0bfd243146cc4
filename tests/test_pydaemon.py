"""The worker daemon shim, without Spark.

``pydaemon/etl_pydaemon.py`` takes Spark's archived PySpark, py4j and the
spark-core jar off a worker's path only when every archived copy is the
installed release; any other path stays exactly as Spark set it. The
shim runs in every worker process, where the engine is not importable, so
it imports nothing from ``monster_etl_spark``."""

import ast
import importlib.util
import os
import zipfile

import pytest

from monster_etl_spark import session

SHIM = os.path.join(session._DAEMON_DIR, "etl_pydaemon.py")


@pytest.fixture(scope="module")
def shim():
    spec = importlib.util.spec_from_file_location("etl_pydaemon_under_test", SHIM)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _layout(tmp_path, zipped_pyspark=b"__version__ = '4.1.2'\n", zipped_py4j=b"__version__ = '0.10.9.9'\n"):
    """A Spark-style worker path over a fake installation: the two zips and
    the spark-core jar first, then the shim's directory, a user zip and
    site-packages holding the installed packages."""
    site = tmp_path / "site-packages"
    for name, version in (("pyspark", b"__version__ = '4.1.2'\n"), ("py4j", b"__version__ = '0.10.9.9'\n")):
        (site / name).mkdir(parents=True)
        (site / name / "__init__.py").write_bytes(b"")
        (site / name / "version.py").write_bytes(version)
    lib = tmp_path / "lib"
    lib.mkdir()
    with zipfile.ZipFile(lib / "pyspark.zip", "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", zipped_pyspark)
    with zipfile.ZipFile(lib / "py4j-0.10.9.9-src.zip", "w") as z:
        z.writestr("py4j/__init__.py", "")
        z.writestr("py4j/version.py", zipped_py4j)
    with zipfile.ZipFile(lib / "spark-core_2.13-4.1.2.jar", "w") as z:
        z.writestr("org/apache/spark/SparkContext.class", b"\xca\xfe")
    with zipfile.ZipFile(lib / "deps.zip", "w") as z:
        z.writestr("user_dep.py", "")
    return [
        str(tmp_path),
        str(lib / "pyspark.zip"),
        str(lib / "py4j-0.10.9.9-src.zip"),
        str(lib / "spark-core_2.13-4.1.2.jar"),
        session._DAEMON_DIR,
        str(lib / "deps.zip"),
        str(site),
    ]


def test_identical_release_drops_zips_and_jar(shim, tmp_path):
    path = _layout(tmp_path)
    assert shim.spark_free_path(path) == [path[0], path[4], path[5], path[6]]


@pytest.mark.parametrize("which", ["zipped_pyspark", "zipped_py4j"])
def test_differing_release_leaves_path_untouched(shim, tmp_path, which):
    path = _layout(tmp_path, **{which: b"__version__ = '4.0.0'\n"})
    assert shim.spark_free_path(path) == path


def test_no_installed_package_leaves_path_untouched(shim, tmp_path):
    path = _layout(tmp_path)
    os.remove(os.path.join(path[-1], "py4j", "version.py"))
    assert shim.spark_free_path(path) == path


def test_shim_imports_nothing_from_the_engine():
    with open(SHIM, encoding="utf-8") as f:
        tree = ast.parse(f.read())
    imported = {a.name for n in ast.walk(tree) if isinstance(n, ast.Import) for a in n.names}
    imported |= {n.module for n in ast.walk(tree) if isinstance(n, ast.ImportFrom)}
    assert not any(m.split(".")[0] == "monster_etl_spark" for m in imported), imported
    # alone in its directory: the workers' path exposes nothing else
    assert [f for f in os.listdir(session._DAEMON_DIR) if f != "__pycache__"] == ["etl_pydaemon.py"]
