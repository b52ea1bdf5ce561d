"""SparkSession factory.

The same settings we would ship for a 1000-executor cluster, minus
cluster-manager specifics: AQE on (runtime shuffle-partition coalescing and
skew-join splitting), UTC session timezone (deterministic date/epoch
semantics vs the DuckDB oracle), Arrow enabled for the Pandas-UDF /
mapInArrow paths, and a shuffle-partition default sized for local[32]
(on a real cluster AQE coalesces from a higher initial value).

Python workers talk to the JVM over a Unix domain socket, not loopback
TCP.  Spark writes a task's pickled command and then its input batch on
the worker socket; over TCP, with Nagle on, the batch waits for the
ACK of the command, and the worker delays that ACK by ~40 ms (Linux
delayed ACK).  A one-task key lookup spent most of its executor time in
that wait.  A Unix socket has no Nagle and no delayed ACK.  The socket
files go in the process's temp directory when the longest path Spark
makes there fits ``sun_path`` and Spark accepts its length, else in a
short private directory under /tmp that is removed at exit
(``_worker_socket_dir``).  Spark 4.0 has no such conf; there the
setting does nothing and workers stay on TCP.
"""

from __future__ import annotations

import atexit
import os
import shutil
import socket as _socket
import tempfile

from pyspark.sql import SparkSession


def _nodelay(sock) -> None:
    try:
        sock.setsockopt(_socket.IPPROTO_TCP, _socket.TCP_NODELAY, 1)
    except (OSError, AttributeError):
        pass  # best effort: exotic transports (SSL wrappers delegate fine)


def _patch_py4j_nodelay() -> None:
    """Set TCP_NODELAY on py4j's driver<->JVM loopback sockets.

    py4j (0.10.9.x) never sets the option on either connection class, so
    every driver-side command round trip can stall in the kernel's
    Nagle/delayed-ACK interplay.  Plan CONSTRUCTION is pure round trips
    (each Column/DataFrame call is one), and the bench rebuilds every
    plan inside the timed region, so the stall is directly measurable:
    on this host a raw py4j call reads 6.5-26 ms/call un-patched
    (load-dependent) vs 2.1 ms/call patched — the floor set by the
    virtualized scheduler's context-switch latency (a bare TCP_NODELAY
    ping-pong between two Python processes measures 2.2 ms).  A q29
    plan build drops ~2x (see OPTIMIZATION_r09.md).  The option trades
    nothing away here: py4j traffic is strictly request/response, never
    many-small-writes streaming, so Nagle only ever adds latency.

    Patched idempotently at import-of-get_spark time, BEFORE the gateway
    launches, covering both gateway modes (pin-thread ClientServer is
    the PySpark 4 default; plain GatewayConnection is the
    PYSPARK_PIN_THREAD=false fallback) and both directions (connect-out
    and accepted callback sockets)."""

    try:
        from py4j import clientserver
    except ImportError:  # pragma: no cover - py4j ships with pyspark
        return
    if not getattr(clientserver.ClientServerConnection, "_shardpack_nodelay", False):
        _orig_connect = clientserver.ClientServerConnection.connect_to_java_server
        _orig_accept = clientserver.ClientServerConnection.init_socket_from_python_server

        def connect_to_java_server(self):
            _orig_connect(self)
            _nodelay(self.socket)

        def init_socket_from_python_server(self, sock, stream):
            _orig_accept(self, sock, stream)
            _nodelay(sock)

        clientserver.ClientServerConnection.connect_to_java_server = connect_to_java_server
        clientserver.ClientServerConnection.init_socket_from_python_server = (
            init_socket_from_python_server
        )
        clientserver.ClientServerConnection._shardpack_nodelay = True

    from py4j import java_gateway

    if not getattr(java_gateway.GatewayConnection, "_shardpack_nodelay", False):
        _orig_start = java_gateway.GatewayConnection.start

        def start(self):
            _nodelay(self.socket)
            _orig_start(self)

        java_gateway.GatewayConnection.start = start
        java_gateway.GatewayConnection._shardpack_nodelay = True


# Spark names each socket file "<dir>/.<36-char uuid>.sock" (pyspark
# daemon.py): 43 bytes after the directory.  sun_path holds 108 bytes including the terminating NUL.
SOCKET_NAME_BYTES = 43
SUN_PATH_MAX = 107
# Spark 4.1 rejects a spark.python.unix.domain.socket.dir longer than 61
# characters when the first Python task reads it, not at session start
SPARK_SOCKET_DIR_CHARS = 61
_socket_dirs: dict[str, str] = {}


def _worker_socket_dir(tmp: str | None = None) -> str:
    """Directory for Spark's Unix-domain worker sockets: ``tmp`` (default
    the process's temp directory) when Spark accepts it and its socket
    paths fit ``sun_path``, else one private ``mkdtemp`` directory under
    /tmp per ``tmp``, removed at exit.  Never a directory a socket cannot
    bind in."""
    tmp = os.path.abspath(tmp or tempfile.gettempdir())
    if (
        len(tmp) <= SPARK_SOCKET_DIR_CHARS
        and len(os.fsencode(tmp)) + SOCKET_NAME_BYTES <= SUN_PATH_MAX
    ):
        return tmp
    if tmp not in _socket_dirs:
        d = _socket_dirs[tmp] = tempfile.mkdtemp(prefix="spark-sock-", dir="/tmp")
        atexit.register(shutil.rmtree, d, True)
    return _socket_dirs[tmp]


def get_spark(app_name: str = "shardpack_spark", shuffle_partitions: int | None = None) -> SparkSession:
    # The patch is process-wide (any other py4j gateway in this
    # interpreter sees it too); embedders can opt out via the env.
    if os.environ.get("SPARK_GRAFT_NODELAY", "true").strip().lower() not in (
        "false", "0", "no", "off",
    ):
        _patch_py4j_nodelay()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Coalesce by target size, not by keeping defaultParallelism tasks:
        # small shuffles collapse to few partitions (less task overhead);
        # large shuffles still split by advisory size.  This is the
        # Spark-docs-recommended setting (default true only for back-compat).
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        # With parallelismFirst off, this is the coalesce target.  The
        # 64 MB default is sized for I/O-bound scans; CPU-heavy analytic
        # stages (windows, multi-way joins) on modest shuffles would
        # collapse to 1-2 tasks.  8 MB keeps those parallel while still
        # coalescing away empty partitions; deployments with large
        # shuffles should raise it via SPARK_GRAFT_ADVISORY_PARTITION.
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION", "8m"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # events.parquet stores TIMESTAMP(NANOS); read as long and convert
        # in tables.load_table (Spark has no nanos timestamp type).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # worker transport: a Unix domain socket (see the module doc)
        .config("spark.python.unix.domain.socket.enabled", "true")
        .config("spark.python.unix.domain.socket.dir", _worker_socket_dir())
        # enable pushFilters() on Python data sources (shardpack key pruning)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # PySpark 4's DataFrame debugging decorates EVERY DataFrame/Column
        # API call with Python call-site capture for error enrichment:
        # a stack inspection plus ~5 py4j round trips (conf.get + origin
        # set/clear + reflection) PER CALL.  Plan construction is nothing
        # but such calls — measured (interleaved toggle, 6 rounds/arm):
        # q29's plan build 433 -> 267 ms, 10-query build total 1.58 ->
        # 1.11 s.  Driver-side cost on any cluster, zero effect on query
        # results; errors still raise with the full JVM trace, minus the
        # "which Python line" pointer.  Static conf — set at creation;
        # flip on for interactive debugging sessions via the env.
        .config(
            "spark.python.sql.dataFrameDebugging.enabled",
            os.environ.get("SPARK_GRAFT_DF_DEBUGGING", "false"),
        )
        # static conf: managed-table location for bucketed-join tests/jobs
        .config("spark.sql.warehouse.dir", os.environ.get(
            "SPARK_GRAFT_WAREHOUSE", "/tmp/shardpack_spark_warehouse"))
    )
    spark = builder.getOrCreate()
    # Sessions created OUTSIDE get_spark (vanilla drivers, test fixtures)
    # launched their gateway before the class patch: fix any already-open
    # connection's socket too (the pool is tiny — one per driver thread).
    try:
        client = spark.sparkContext._gateway._gateway_client
        conns = list(getattr(client, "deque", []))
        # pin-thread mode parks the LIVE connection in a thread-local
        # weakref, not the deque
        ref = getattr(getattr(client, "thread_connection", None), "connection", None)
        if ref is not None and ref() is not None:
            conns.append(ref())
        for conn in conns:
            _nodelay(conn.socket)
    except Exception:  # noqa: BLE001 - internals differ across gateway modes
        pass
    return spark
