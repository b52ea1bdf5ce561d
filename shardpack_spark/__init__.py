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

__version__ = "0.1.0"


def ship_by_value() -> None:
    """Ship the package's code inside every pickled plan and UDF.

    Spark serializes DataSource classes and UDF closures with cloudpickle;
    by default that is a by-reference pickle, which breaks when executor
    Python workers cannot import shardpack_spark (e.g. the driver added the
    repo to sys.path manually).  Registering the package for by-value
    pickling makes every plan self-contained, and cloudpickle treats each
    submodule of a registered package as registered, so this one call
    covers every module.  A function-local ``from shardpack_spark...``
    import inside an executor-run body still fails there: reference
    package code through module-level imports.

    pyspark is imported here, not at module level, so the Spark-free
    facade and CLI stay pyspark-free.
    """
    import sys

    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(sys.modules[__name__])
