"""Spark Python worker floor probe: what a trivial task pays before its
own code runs, before and after one shardpack read.

    python tools/worker_floor_probe.py [reps]

Starts a fresh ``local[nproc]`` session on the Unix-domain worker
transport that ``get_spark`` sets up and runs ``reps`` (default 5)
one-task ``mapInArrow`` probes.  It then writes a small dataset with the
Spark-free codec writer, reads it once through ``format("shardpack")``
(one task per shard, so every pooled worker runs shardpack code), and
runs the probes again.  Each probe reports:

- ``launch_to_udf_ms``: the task's ``launchTime`` in the driver's status
  store to the first line of the UDF (worker hand-off, the worker's
  ``setup_spark_files``, UDF deserialization);
- ``invalidate_ms``: one ``importlib.invalidate_caches()`` timed inside
  the worker, which on CPython 3.11/3.12 re-reads every zip on the
  worker's path unless ``storage.guard_zip_directory_reloads`` is
  installed;
- ``zip_reads``: ``zipimport._read_directory`` calls during that call.

Prints one JSON object: the medians of each phase and every sample.
"""

from __future__ import annotations

import json
import os
import platform
import statistics
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PROBE_SCHEMA = (
    "stage int, start_ms double, invalidate_ms double, "
    "zip_reads int, zips int, pid int"
)


def _probe(batches):
    """mapInArrow body; defined in this script, so it pickles by value and
    imports nothing from the package."""
    import importlib
    import time
    import zipimport

    import pyarrow as pa
    from pyspark import TaskContext

    start_ms = time.time() * 1e3
    for _ in batches:
        pass
    real = zipimport._read_directory
    reads = [0]

    def counting(path):
        reads[0] += 1
        return real(path)

    zipimport._read_directory = counting
    try:
        t0 = time.perf_counter()
        importlib.invalidate_caches()
        invalidate_ms = (time.perf_counter() - t0) * 1e3
    finally:
        zipimport._read_directory = real
    tc = TaskContext.get()
    zips = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
    yield pa.RecordBatch.from_pydict(
        {
            "stage": [tc.stageId()],
            "start_ms": [start_ms],
            "invalidate_ms": [invalidate_ms],
            "zip_reads": [reads[0]],
            "zips": [zips],
            "pid": [os.getpid()],
        },
        schema=pa.schema(
            [
                ("stage", pa.int32()),
                ("start_ms", pa.float64()),
                ("invalidate_ms", pa.float64()),
                ("zip_reads", pa.int32()),
                ("zips", pa.int32()),
                ("pid", pa.int32()),
            ]
        ),
    )


def probe_once(spark) -> dict:
    """One one-task probe job, joined with its task's launch time."""
    row = spark.range(1, numPartitions=1).mapInArrow(_probe, PROBE_SCHEMA).collect()[0]
    store = spark.sparkContext._jsc.sc().statusStore()
    attempt = store.lastStageAttempt(row["stage"]).attemptId()
    task = store.taskList(row["stage"], attempt, 1).apply(0)
    return {
        "launch_to_udf_ms": round(row["start_ms"] - task.launchTime().getTime(), 1),
        "invalidate_ms": round(row["invalidate_ms"], 1),
        "zip_reads": row["zip_reads"],
        "zips": row["zips"],
        "pid": row["pid"],
    }


def phase(samples: list[dict]) -> dict:
    return {
        "launch_to_udf_ms": statistics.median(s["launch_to_udf_ms"] for s in samples),
        "invalidate_ms": statistics.median(s["invalidate_ms"] for s in samples),
        "zip_reads": max(s["zip_reads"] for s in samples),
        "samples": samples,
    }


def main(reps: int) -> dict:
    import pyspark
    from pyspark.sql import SparkSession

    from shardpack_spark.format import codec
    from shardpack_spark.format.datasource import register
    from shardpack_spark.session import _worker_socket_dir

    cores = os.cpu_count() or 1
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.python.unix.domain.socket.enabled", "true")
        .config("spark.python.unix.domain.socket.dir", _worker_socket_dir())
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        before = [probe_once(spark) for _ in range(reps)]
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "probe")
            w = codec.DatasetWriter(path, basename="probe", target_shard_bytes=1)
            n = 4 * cores  # one record per shard, one read task per shard
            for i in range(n):
                w.write(codec.Record(key=f"k{i:04d}", entries=[], metadata={}))
            w.close()
            register(spark)
            assert spark.read.format("shardpack").load(path).count() == n
        after = [probe_once(spark) for _ in range(reps)]
    finally:
        spark.stop()
    return {
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "cores": cores,
        "before_read": phase(before),
        "after_read": phase(after),
    }


if __name__ == "__main__":
    print(json.dumps(main(int(sys.argv[1]) if len(sys.argv) > 1 else 5)))
