"""Every Python map worker goes through ``pyworkers.map_in_pandas``.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
each task, and on CPython 3.11 every cached ``zipimporter`` then re-reads
its archive's central directory (pyspark.zip, the py4j zip, the
spark-core jar). The wrapper drops those finders when a task's batches
are consumed. Checks: a reused worker starts its next task with no zip
finder cached (and keeps them without the wrapper), a pyspark submodule
the worker has not imported yet still imports after the drop, the
wrapper keeps the function's name, and no module of the package calls
``mapInPandas`` directly."""

import json
import os
import re
import subprocess
import sys
import textwrap
import zipfile

from monster_etl_spark import pyworkers

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "monster_etl_spark")

_DRIVER = textwrap.dedent(
    """
    import json, sys
    sys.path.insert(0, sys.argv[1])
    from monster_etl_spark.pyworkers import map_in_pandas
    from monster_etl_spark.session import get_spark

    # pure pyspark modules a worker does not import on its own
    CANDIDATES = ("pyspark.statcounter", "pyspark.find_spark_home", "pyspark.streaming.util",
                  "pyspark.traceback_utils", "pyspark.resource.information", "pyspark.install")

    def probe(fresh_import):
        def probe(batches):
            import importlib, os, sys, zipimport
            import pandas as pd

            zips = sum(isinstance(v, zipimport.zipimporter)
                       for v in sys.path_importer_cache.values())
            loader = "-"
            if fresh_import:
                name = next(m for m in CANDIDATES if m not in sys.modules)
                loader = type(importlib.import_module(name).__loader__).__name__
            for pdf in batches:
                yield pd.DataFrame({"pid": [os.getpid()], "zips": [zips], "loader": [loader]})
        return probe

    spark = get_spark(master="local[4]", shuffle_partitions=4)
    df = spark.range(0, 400, 1, 4)
    schema = "pid long, zips long, loader string"
    runs = [df.mapInPandas(probe(False), schema).collect() for _ in range(2)]
    runs += [map_in_pandas(df, probe(i == 1), schema).collect() for i in range(2)]
    runs = [[r.asDict() for r in run] for run in runs]
    spark.stop()
    print(json.dumps(runs))
    """
)


def test_reused_worker_starts_each_task_with_no_zip_finder(tmp_path):
    """A fresh session, four tasks per job: two plain ``mapInPandas`` runs
    (the control: zip finders survive between tasks), then two runs
    through ``map_in_pandas`` (the first drops them, so every reused
    worker starts the second with none, and a pyspark submodule imported
    after the drop loads from the zip)."""
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g")
    env.pop("PYTHONPATH", None)
    proc = subprocess.run(
        [sys.executable, "-c", _DRIVER, REPO],
        capture_output=True, cwd=tmp_path, env=env, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr.decode()[-2000:]
    plain1, plain2, trim1, trim2 = json.loads(proc.stdout.decode().strip().splitlines()[-1])
    assert all(len(run) == 4 for run in (plain1, plain2, trim1, trim2))

    def reused(before, after):
        seen = {r["pid"] for r in before}
        return [r for r in after if r["pid"] in seen]

    control = reused(plain1, plain2)
    assert control and all(r["zips"] > 0 for r in control), control
    trimmed = reused(plain1 + plain2 + trim1, trim2)
    assert trimmed and all(r["zips"] == 0 for r in trimmed), trimmed
    assert {r["loader"] for r in trim2} == {"zipimporter"}, trim2


def test_trim_drops_zip_finders_and_imports_still_work(tmp_path):
    """In-process: a zip on ``sys.path`` with two modules; after one is
    imported its zipimporter is cached, the wrapped worker drops it, and
    the other module still imports from the zip."""
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("pw_probe_a.py", "X = 1\n")
        z.writestr("pw_probe_b.py", "Y = 2\n")
    sys.path.insert(0, str(archive))
    try:
        import pw_probe_a
        import zipimport

        assert isinstance(sys.path_importer_cache[str(archive)], zipimport.zipimporter)

        def probe(batches):
            yield from batches

        wrapped = pyworkers.trimmed(probe)
        assert wrapped.__name__ == "probe"
        assert list(wrapped(iter([1, 2]))) == [1, 2]
        assert not any(
            isinstance(v, zipimport.zipimporter) for v in sys.path_importer_cache.values()
        )
        import pw_probe_b

        assert (pw_probe_a.X, pw_probe_b.Y) == (1, 2)
        assert isinstance(pw_probe_b.__loader__, zipimport.zipimporter)
    finally:
        sys.path.remove(str(archive))
        sys.path_importer_cache.pop(str(archive), None)
        sys.modules.pop("pw_probe_a", None)
        sys.modules.pop("pw_probe_b", None)


def test_no_direct_map_in_pandas_outside_the_helper():
    """The one-entry-point invariant: only ``pyworkers.py`` may call
    ``.mapInPandas(`` under ``monster_etl_spark/``."""
    offenders = []
    for root, _, files in os.walk(PKG):
        for name in files:
            path = os.path.join(root, name)
            if not name.endswith(".py") or os.path.samefile(path, pyworkers.__file__):
                continue
            with open(path, encoding="utf-8") as f:
                for i, line in enumerate(f, 1):
                    if re.search(r"\.mapInPandas\(", line):
                        offenders.append(f"{os.path.relpath(path, REPO)}:{i}")
    assert not offenders, offenders
