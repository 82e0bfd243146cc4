"""The one entry point for Python map workers: every ``mapInPandas`` in
this package goes through :func:`map_in_pandas`.

Why: at the start of every task PySpark's worker calls
``importlib.invalidate_caches()`` (``worker_util.setup_spark_files``), and
on CPython 3.11 each cached ``zipimport.zipimporter`` then re-reads its
archive's whole central directory. A reused worker holds ~16 of them
(pyspark.zip and its sub-packages, the py4j zip, the spark-core jar), so
every task re-parses ~27k zip entries: 140-340 ms of CPU per task on a
busy 4-core box, several times the codec work of a small partition.

The wrapper drops every zipimporter from ``sys.path_importer_cache`` once
its task's batches are consumed, so the next task in the same worker has
nothing to re-read. It is a cache drop, not a path change: an import that
goes through a zip again rebuilds its finder from
``zipimport._zip_directory_cache`` without touching the archive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def trimmed(fn):
    """``fn`` wrapped so its worker ends each task with no zipimporter in
    ``sys.path_importer_cache``. The wrapper keeps ``fn.__name__`` (plan
    strings name it) and references no module-level name, so cloudpickle
    ships it by value, like the media workers."""

    def _worker(batches):
        try:
            yield from fn(batches)
        finally:
            import sys
            import zipimport

            cache = sys.path_importer_cache
            for k in [k for k, v in cache.items() if isinstance(v, zipimport.zipimporter)]:
                del cache[k]

    _worker.__name__ = fn.__name__
    return _worker


def map_in_pandas(df: DataFrame, fn, schema) -> DataFrame:
    """``df.mapInPandas(fn, schema)`` through :func:`trimmed`."""
    return df.mapInPandas(trimmed(fn), schema)
