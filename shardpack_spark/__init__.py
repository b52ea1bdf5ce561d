"""shardpack_spark — a PySpark-native analytics engine with the data model
of the ShardPack sharded container format (reference: jsam/shardpack) plus a
full relational / streaming / LLM-data-pipeline operator surface.

Layout
------
- ``session``    : SparkSession factory tuned for the target workload.
- ``tables``     : loaders for the driver's parquet tables.
- ``queries``    : the declared query registry (name -> builder + oracle SQL).
- ``operators``  : library operators (as-of join, dedup, similarity, text).
- ``format``     : ShardPack codec + Python DataSource V2 (read/write/stream).
- ``streaming``  : Structured Streaming helpers (windows, watermark, dedup).

Everything is DataFrame-first: logical plans are declared via the DataFrame /
SQL API and Catalyst picks the physical strategy.  Python only runs in the
ShardPack codec path (Arrow-batched) and in explicitly-vectorized UDFs.
"""

import atexit
import os
import shutil
import sys

__version__ = "0.1.0"

# Module globals stay picklable (no locks, no finalizers): this module is
# pickled by value along with the rest of the package until it ships.
_ZIP_NAME = "shardpack_spark.zip"
_zip_path: str | None = None  # the package zip, built once per process


def ship_package(spark=None) -> None:
    """Make the package's code reach Spark's Python workers.

    With a session (or, without one, the active SparkContext), the
    package goes to the context once, as a zip of compiled modules added
    with ``addPyFile``, and cloudpickle then pickles package code by
    reference: a plan or UDF carries names, and workers import the code
    from the zip.  Spark's DataSource planner re-pickles the source and
    its readers on every planning call, so a by-value copy of the package
    (~260 KB) would be pickled and unpickled again each time.  The zip
    goes in BEFORE a DataSource is registered: registration copies the
    context's Python includes into the registered function.

    With no context at all (the import of ``shardpack_spark.operators``
    before any session exists), the package is registered for by-value
    pickling, so every plan is self-contained and operators work in a
    session whose workers cannot import the package.  The first call with
    a session switches that off.  A driver that stops its context and
    starts a new one must make one package call with the new session
    (``register(spark)``, say) before it runs operator UDFs there.

    A function-local ``from shardpack_spark...`` import inside an
    executor-run body fails under by-value pickling: reference package
    code through module-level imports.  pyspark is imported here, not at
    module level, so the Spark-free facade and CLI stay pyspark-free.
    """
    from pyspark import SparkContext, SparkFiles, cloudpickle

    package = sys.modules[__name__]
    sc = spark.sparkContext if spark is not None else SparkContext._active_spark_context
    if sc is None:
        cloudpickle.register_pickle_by_value(package)
        return
    with SparkContext._lock:
        if _ZIP_NAME not in sc._python_includes:
            path = _package_zip()
            sc.addPyFile(path)
            # Spark's streaming source runner (a driver-side process) looks
            # for Python includes under a fixed "streaming_job" directory
            # of the SparkFiles root, where addPyFile puts nothing
            stream_dir = os.path.join(SparkFiles.getRootDirectory(), "streaming_job")
            os.makedirs(stream_dir, exist_ok=True)
            shutil.copyfile(path, os.path.join(stream_dir, _ZIP_NAME))
        if __name__ in cloudpickle.list_registry_pickle_by_value():
            cloudpickle.unregister_pickle_by_value(package)


def _package_zip() -> str:
    """Path of a zip of the package's compiled modules, built once per
    process in a temporary directory that is removed at exit.  The
    sources are compiled in a copy there, so nothing is written into the
    package directory."""
    global _zip_path
    if _zip_path is None:
        import tempfile
        import zipfile

        tmp = tempfile.mkdtemp(prefix="shardpack-ship-")
        atexit.register(shutil.rmtree, tmp, ignore_errors=True)
        copy = os.path.join(tmp, __name__)
        shutil.copytree(
            os.path.dirname(os.path.abspath(__file__)),
            copy,
            ignore=shutil.ignore_patterns("__pycache__", "*.pyc"),
        )
        with zipfile.PyZipFile(os.path.join(tmp, _ZIP_NAME), "w") as zf:
            zf.writepy(copy)
        _zip_path = os.path.join(tmp, _ZIP_NAME)
    return _zip_path
