"""Driver-side session tuning (round 9): py4j TCP_NODELAY, the
DataFrame-debugging static conf, and the Unix-domain worker transport.

Plan CONSTRUCTION is pure driver<->JVM round trips, and the bench times a
fresh plan build per pass, so both knobs are part of the measured surface:
the monkeypatch must actually reach the live py4j socket, and the
per-call origin-capture machinery must stay off in engine sessions.
"""

from __future__ import annotations

import os
import shutil
import socket
import subprocess
import sys
import tempfile
import uuid


def _live_connections(spark):
    client = spark.sparkContext._gateway._gateway_client
    conns = list(getattr(client, "deque", []))
    ref = getattr(getattr(client, "thread_connection", None), "connection", None)
    if ref is not None and ref() is not None:
        conns.append(ref())
    return conns


def test_py4j_classes_are_patched(spark):
    from py4j import clientserver, java_gateway

    assert getattr(clientserver.ClientServerConnection, "_shardpack_nodelay", False)
    assert getattr(java_gateway.GatewayConnection, "_shardpack_nodelay", False)


def test_live_gateway_socket_has_nodelay(spark):
    conns = _live_connections(spark)
    assert conns, "no py4j connections found on the session gateway"
    for conn in conns:
        assert conn.socket.getsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY) == 1


def test_dataframe_debugging_disabled_by_default(spark):
    # static conf: set at session creation by get_spark (overridable via
    # SPARK_GRAFT_DF_DEBUGGING for interactive debugging)
    assert (
        spark.conf.get("spark.python.sql.dataFrameDebugging.enabled").lower() == "false"
    )


def test_nodelay_helper_swallows_bad_sockets():
    from shardpack_spark.session import _nodelay

    class _Closed:
        def setsockopt(self, *a):
            raise OSError("closed")

    _nodelay(_Closed())  # must not raise
    _nodelay(object())  # no setsockopt attribute: must not raise


# --- worker transport: Unix domain sockets -----------------------------------


def test_worker_transport_is_unix_socket(spark):
    from shardpack_spark.session import (
        SOCKET_NAME_BYTES,
        SPARK_SOCKET_DIR_CHARS,
        SUN_PATH_MAX,
    )

    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.unix.domain.socket.enabled") == "true"
    sock_dir = conf.get("spark.python.unix.domain.socket.dir")
    assert os.path.isdir(sock_dir)
    assert len(os.fsencode(sock_dir)) + SOCKET_NAME_BYTES <= SUN_PATH_MAX
    assert len(sock_dir) <= SPARK_SOCKET_DIR_CHARS


def test_socket_dir_under_long_tmpdir_is_short_and_private(tmp_path):
    from shardpack_spark.session import (
        SOCKET_NAME_BYTES,
        SPARK_SOCKET_DIR_CHARS,
        SUN_PATH_MAX,
        _worker_socket_dir,
    )

    assert _worker_socket_dir("/tmp") == "/tmp"
    # over sun_path, and over Spark's limit while inside sun_path
    too_long = str(tmp_path / ("d" * (SUN_PATH_MAX - len(str(tmp_path)))))
    over_spark = "/tmp/" + "m" * (SPARK_SOCKET_DIR_CHARS - 4)
    assert len(over_spark) + SOCKET_NAME_BYTES <= SUN_PATH_MAX
    for tmp in (too_long, over_spark):
        d = _worker_socket_dir(tmp)
        try:
            assert d != tmp and os.path.dirname(d) == "/tmp"
            assert len(os.fsencode(d)) + SOCKET_NAME_BYTES <= SUN_PATH_MAX
            assert len(d) <= SPARK_SOCKET_DIR_CHARS
            assert os.listdir(d) == [] and os.stat(d).st_mode & 0o077 == 0
            assert _worker_socket_dir(tmp) == d  # one directory per process
            # a socket binds at the longest path Spark makes there
            with socket.socket(socket.AF_UNIX, socket.SOCK_STREAM) as s:
                s.bind(os.path.join(d, f".{uuid.uuid4()}.sock"))
        finally:
            shutil.rmtree(d)


def test_arrow_paths_run_over_unix_socket(spark):
    import pyarrow as pa

    def double(batches):
        for b in batches:
            yield pa.RecordBatch.from_arrays([pa.compute.multiply(b["id"], 2)], ["id"])

    assert spark.range(5).mapInArrow(double, "id long").collect()[-1]["id"] == 8
    table = pa.table({"a": [1, 2, 3], "b": ["x", "y", "z"]})
    assert spark.createDataFrame(table).collect()[1] == (2, "y")


_STOP_PROBE = """
import glob, os, sys
sys.path.insert(0, sys.argv[1])
from shardpack_spark.session import get_spark
spark = get_spark("socket-probe")
sock_dir = spark.sparkContext.getConf().get("spark.python.unix.domain.socket.dir")
assert spark.range(4).mapInPandas(lambda it: it, "id long").count() == 4
assert glob.glob(os.path.join(sock_dir, ".*.sock")), "no socket while running"
spark.stop()
print(sock_dir)
print(glob.glob(os.path.join(sock_dir, ".*.sock")))
"""


def test_no_socket_file_left_after_stop(tmp_path):
    """A session of its own (a subprocess), so stopping it leaves the
    shared test session running."""
    tmp = tempfile.mkdtemp(prefix="sock-stop-", dir="/tmp")  # short: used as is
    env = dict(os.environ, TMPDIR=tmp, SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="1g")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    try:
        out = subprocess.run(
            [sys.executable, "-c", _STOP_PROBE, root],
            env=env,
            capture_output=True,
            text=True,
            timeout=300,
            cwd=str(tmp_path),
        )
    finally:
        shutil.rmtree(tmp)
    assert out.returncode == 0, out.stderr[-3000:]
    sock_dir, left = out.stdout.strip().splitlines()[-2:]
    assert sock_dir == tmp and left == "[]"
