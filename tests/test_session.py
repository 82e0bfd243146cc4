"""The engine session leaves AQE, its partition coalescing and its
skew-join splitting to Spark's defaults; all three must read on. Batch
shuffles start at 1024 partitions whatever the core count. Local sessions
start Python workers through the daemon shim, over Unix sockets in one
private directory per process."""

import json
import os
import stat
import subprocess
import sys
import textwrap

import pytest

from monster_etl_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize(
    "key",
    [
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.adaptive.skewJoin.enabled",
    ],
)
def test_aqe_on_by_default(spark, key):
    assert spark.conf.get(key) == "true"


def test_initial_partitions_floor(spark):
    """``local[4]`` with 4 shuffle partitions still starts batch shuffles
    at 1024, for AQE to coalesce by bytes."""
    assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
    assert spark.conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum") == "1024"


# A local session starts its Python workers through the daemon shim and
# reaches them over Unix sockets in a private directory; other masters get
# neither, since their workers run where neither directory exists.
_WORKER_KEYS = (
    "spark.python.daemon.module",
    "spark.executorEnv.PYTHONPATH",
    "spark.python.unix.domain.socket.enabled",
    "spark.python.unix.domain.socket.dir",
)


def test_local_session_python_worker_conf(spark):
    conf = spark.sparkContext.getConf()
    assert [conf.get(k, None) for k in _WORKER_KEYS] == [
        "etl_pydaemon", session._DAEMON_DIR, "true", session._socket_dir(),
    ]


@pytest.mark.parametrize("master, keys", [
    ("local-cluster[2,1,1024]", set(_WORKER_KEYS)),
    ("spark://host:7077", set()),
    ("yarn", set()),
    ("k8s://https://host:443", set()),
])
def test_python_worker_conf_only_for_local_masters(master, keys):
    assert set(session._python_worker_conf(master)) == keys


def test_socket_dir_is_private_and_made_once(spark):
    path = session._socket_dir()
    assert stat.S_IMODE(os.stat(path).st_mode) == 0o700
    parent = os.path.dirname(path)
    before = sorted(os.listdir(parent))
    session.get_spark(master="local[4]", shuffle_partitions=4)
    session.get_spark(master="local[4]", shuffle_partitions=4)
    assert sorted(os.listdir(parent)) == before
    assert session._socket_dir() == path


_LONG_TMPDIR_DRIVER = textwrap.dedent(
    """
    import json, sys
    sys.path.insert(0, sys.argv[1])
    from monster_etl_spark.session import get_spark

    def ident(batches):
        yield from batches

    spark = get_spark(master="local[2]", shuffle_partitions=2)
    conf = spark.sparkContext.getConf()
    rows = spark.range(0, 10, 1, 2).mapInPandas(ident, "id long").count()
    print(json.dumps([conf.get("spark.python.unix.domain.socket.enabled", None),
                      conf.get("spark.python.unix.domain.socket.dir", None), rows]))
    """
)


def test_deep_tmpdir_keeps_socket_paths_short_and_dir_goes_at_exit(tmp_path):
    """With ``TMPDIR`` 100 characters deep a socket path would pass 107
    bytes, so the directory goes elsewhere (or the session stays on TCP);
    a ``mapInPandas`` still runs, and the directory is gone once the
    interpreter exits."""
    deep = str(tmp_path)
    while len(deep) < 100:
        deep = os.path.join(deep, "d" * min(20, 99 - len(deep)))
    os.makedirs(deep)
    assert len(deep) == 100
    env = dict(os.environ, TMPDIR=deep, SPARK_DRIVER_MEMORY="1g")
    env.pop("PYTHONPATH", None)
    proc = subprocess.run(
        [sys.executable, "-c", _LONG_TMPDIR_DRIVER, REPO],
        capture_output=True, cwd=tmp_path, env=env, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr.decode()[-2000:]
    enabled, sock_dir, rows = json.loads(proc.stdout.decode().strip().splitlines()[-1])
    assert rows == 10
    if enabled == "true":
        assert len(os.fsencode(sock_dir)) + 43 <= 107, sock_dir
        assert not os.path.exists(sock_dir)
    else:
        assert sock_dir is None
