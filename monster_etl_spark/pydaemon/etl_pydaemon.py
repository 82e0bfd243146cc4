"""PySpark's worker daemon, importing PySpark from the installed package.

``session.get_spark`` names this module as ``spark.python.daemon.module``
for local masters and puts its directory on the workers' ``PYTHONPATH``.
Spark starts every daemon with ``$SPARK_HOME/python/lib/pyspark.zip``, the
py4j zip and the spark-core jar ahead of site-packages. The zip holds
sources only, so each daemon compiles PySpark: ``import pyspark.worker``
takes 0.49 s from the zip and 0.10 s from the installed package's
``.pyc`` files (4-core box, Python 3.11, PySpark 4.1.2). Every cached
``zipimporter`` also re-reads its archive whenever a task calls
``importlib.invalidate_caches()``.

When each zip's ``<package>/version.py`` is byte-identical to the
installed package's, :func:`spark_free_path` drops the two zips and the
spark-core jar (which holds no ``.py`` file); otherwise the path stays
exactly as Spark set it. Then ``pyspark.daemon`` runs as ``__main__``.

The module lives alone in its directory and imports nothing from
``monster_etl_spark``: workers never import the engine.
"""

import os
import runpy
import sys
import zipimport
from importlib.machinery import PathFinder

PACKAGES = ("pyspark", "py4j")


def _archived(archive, package):
    """``<package>/version.py`` inside ``archive``, or None."""
    try:
        return zipimport.zipimporter(archive).get_data(f"{package}/version.py")
    except (OSError, zipimport.ZipImportError):
        return None


def _installed(package, path):
    """``<package>/version.py`` of the package found on ``path``, or None."""
    spec = PathFinder.find_spec(package, path)
    if spec is None or not spec.submodule_search_locations:
        return None
    try:
        with open(os.path.join(spec.submodule_search_locations[0], "version.py"), "rb") as f:
            return f.read()
    except OSError:
        return None


def spark_free_path(path):
    """``path`` without Spark's archived copies of PySpark and py4j and
    without the spark-core jar, when every archived copy on it is the same
    release as the installed package; otherwise ``path`` unchanged."""
    archives = [p for p in path if p.endswith((".zip", ".jar")) and os.path.isfile(p)]
    drop = {p for p in archives if os.path.basename(p).startswith("spark-core")}
    rest = [p for p in path if p not in archives]
    for package in PACKAGES:
        zipped = [(p, _archived(p, package)) for p in archives if p not in drop]
        zipped = [(p, v) for p, v in zipped if v is not None]
        if not zipped or any(v != _installed(package, rest) for _, v in zipped):
            return list(path)
        drop.update(p for p, _ in zipped)
    return [p for p in path if p not in drop]


def main():
    kept = spark_free_path(sys.path)
    for p in set(sys.path) - set(kept):
        sys.path_importer_cache.pop(p, None)
    sys.path[:] = kept
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)


if __name__ == "__main__":
    main()
