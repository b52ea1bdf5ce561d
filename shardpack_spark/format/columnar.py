"""Columnar multi-dataset layout for ShardPack (reference docs/draft.md:201-211).

The spec's columnar convention: row-major record blocks are the physical
layout, and "columnar" access is achieved by writing **one ShardPack
dataset per logical column** (entry file_name / modality) with records
aligned across datasets by record key, "joined at read time by key".
This module implements that convention on the Spark DataSource:

    write_columnar(df, path)             # df in shardpack row schema
    df = read_columnar(spark, path, columns=["caption.txt"])

Scale rationale (the whole point of the layout): at 100 TB with N
modalities, a pipeline that touches one modality reads ~1/N of the corpus
bytes, because column pruning happens at DATASET granularity — entire
shard files of unrequested modalities are never opened.  Within each
column dataset the usual shard-parallel reads, manifest pruning and
payload skipping still apply.

Layout on disk:

    {path}/_columnar.json                 # column -> subdirectory map
    {path}/column=text.txt/               # one shardpack dataset per column
    {path}/column=image.jpg/

Alignment contract: each column dataset stores records keyed by the SAME
record key, holding exactly the entries of that column (records without
the column are absent — the read-side join direction controls whether
such records surface).  Record-level metadata is replicated into every
column dataset so any single column remains a self-contained dataset
(metadata is small by contract; the spec's record-level metadata tier,
draft.md:393-397).

Write cost: one pass over the input per column (the Python DataSource API
cannot demultiplex one scan into several datasets).  The input is
persisted across passes, so the source is scanned once; this is the
standard one-time write amplification of any columnar re-layout.

Read plan: per-column scans -> sort-merge/broadcast join on `key` (left
column = driving dataset).  Each dataset is written range-partitioned and
sorted by key, so per-shard [min,max] manifest stats prune key-range
scans and the join keys arrive clustered.
"""

from __future__ import annotations

import json
import os
import urllib.parse

from pyspark.sql import functions as F

from shardpack_spark import ship_package
from shardpack_spark.format import codec, manifest, storage
from shardpack_spark.format.datasource import SCHEMA, read_shardpack, register

COLUMNS_FILE = "_columnar.json"


def _col_dir(name: str) -> str:
    return "column=" + urllib.parse.quote(name, safe="")


def list_columns(path: str) -> list[str]:
    """Columns present in a columnar dataset (from the commit map)."""
    cp = os.path.join(path, COLUMNS_FILE)
    be = storage.for_path(path)
    if not be.exists(cp):
        raise codec.ShardPackIOError(f"no {COLUMNS_FILE} under {path}")
    return sorted(json.loads(be.read_bytes(cp))["columns"])


def write_columnar(
    df,
    path: str,
    columns: list[str] | None = None,
    compression: str = "none",
    target_shard_bytes: int = codec.DEFAULT_TARGET_SHARD_BYTES,
    shards_per_column: int | None = None,
) -> dict:
    """Split shardpack-schema rows into one dataset per entry column.

    ``columns`` defaults to every distinct ``entries.file_name`` in the
    input (one extra distinct-scan to discover them).  Returns
    {column: record_count}.
    """
    from pyspark import StorageLevel

    spark = df.sparkSession
    register(spark)
    if columns is None:
        columns = [
            r["c"]
            for r in df.select(
                F.explode(F.transform("entries", lambda e: e["file_name"])).alias("c")
            )
            .distinct()
            .collect()
        ]
    if not columns:
        raise codec.ShardPackIOError("write_columnar: no entry columns found")

    # one source scan feeds all per-column writes
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    be = storage.for_path(path)
    try:
        be.makedirs(path)
        counts: dict[str, int] = {}
        for name in sorted(columns):
            one = (
                df.select(
                    "key",
                    "metadata",
                    # one-arg lambda: a second arg would be read as the
                    # (element, index) form; F.filter builds the expression
                    # eagerly, so closing over the loop var is safe
                    F.filter("entries", lambda e: e["file_name"] == F.lit(name)).alias(
                        "entries"
                    ),
                )
                .where(F.size("entries") > 0)
            )
            # key-sorted layout: disjoint per-shard key ranges -> manifest
            # range pruning is decisive, and read-side joins see clustered
            # keys.  Parallelism set explicitly because the DataSource
            # writer rolls per task.
            n_parts = shards_per_column or max(
                1, spark.sparkContext.defaultParallelism // 2
            )
            one = one.repartitionByRange(n_parts, "key").sortWithinPartitions("key")
            sub = os.path.join(path, _col_dir(name))
            (
                one.write.format("shardpack")
                .option("compression", compression)
                .option("target_shard_bytes", target_shard_bytes)
                .mode("overwrite")
                .save(sub)
            )
            committed = manifest._load_manifest(sub) or {}
            counts[name] = committed.get("total_records", 0)
        # commit point for the column map (written last: readers that find
        # the map can trust every listed dataset is fully committed).
        # MERGED with any existing map: writing a subset of columns
        # updates those datasets without unlisting the others — the spec's
        # "updating small columns" case (draft.md:207-211)
        existing: set[str] = set()
        cp = os.path.join(path, COLUMNS_FILE)
        if be.exists(cp):
            existing = set(json.loads(be.read_bytes(cp)).get("columns", []))
        be.write_atomic(
            cp,
            json.dumps(
                {"version": 1, "columns": sorted(existing | set(columns))},
                indent=1,
            ).encode(),
        )
        return counts
    finally:
        df.unpersist()


def _resolve_read_args(path: str, columns, how: str):
    """Shared read-contract validation for both aligned read paths."""
    available = list_columns(path)
    if columns is None:
        columns = available
    missing = [c for c in columns if c not in available]
    if missing:
        raise codec.ShardPackIOError(
            f"columns {missing} not in columnar dataset (have {available})"
        )
    if how not in ("inner", "full"):
        raise ValueError(f"how must be inner|full, got {how!r}")
    return columns


def read_columnar(
    spark,
    path: str,
    columns: list[str] | None = None,
    how: str = "inner",
    **reader_options,
):
    """Read selected columns of a columnar dataset, aligned by key.

    Returns shardpack row schema (key, metadata, entries) where
    ``entries`` holds the requested columns' entries in ``columns``
    order.  ``how`` controls alignment of records missing some column:
    ``inner`` keeps records having every requested column, ``full``
    keeps records having any (absent columns contribute no entry).

    Only the requested columns' datasets are opened — dataset-granular
    column pruning, the layout's reason to exist.
    """
    columns = _resolve_read_args(path, columns, how)

    out = None
    for i, name in enumerate(columns):
        part = read_shardpack(
            spark, os.path.join(path, _col_dir(name)), **reader_options
        ).select(
            "key",
            F.col("metadata").alias(f"__m{i}"),
            F.col("entries").alias(f"__e{i}"),
        )
        out = part if out is None else out.join(part, on="key", how=how)

    meta = F.coalesce(*[F.col(f"__m{i}") for i in range(len(columns))])
    ents = F.concat(
        *[
            F.coalesce(F.col(f"__e{i}"), F.array().cast(SCHEMA["entries"].dataType))
            for i in range(len(columns))
        ]
    )
    return out.select("key", meta.alias("metadata"), ents.alias("entries"))


def read_columnar_zipped(
    spark,
    path: str,
    columns: list[str] | None = None,
    how: str = "inner",
    chunk_bytes: int = 64 * 1024 * 1024,
):
    """ZERO-SHUFFLE aligned read of a columnar dataset.

    ``read_columnar`` aligns columns with a key join — correct anywhere,
    but it shuffles every requested column.  This variant exploits what
    the writer guarantees instead: every column dataset is key-sorted
    with disjoint per-shard [min,max] ranges in its manifest.  The driver
    slices the keyspace at the FIRST column's shard boundaries; each task
    then streams the overlapping shard(s) of every requested column
    through the codec and k-way MERGES the sorted record streams by key
    — the record data never crosses an exchange (only the O(ranges)
    plan rows repartition), locality matches a bucketed join, and
    per-task memory is O(record), not O(shard).

    Same output contract as read_columnar (key, metadata, entries with
    ``columns``-ordered entries; ``how`` = inner|full).  Falls back to
    raising if a column dataset lacks key-range stats (written outside
    write_columnar).
    """
    import pandas as _pd

    columns = _resolve_read_args(path, columns, how)

    views: dict[str, manifest.ShardView] = {}
    per_col: dict[str, list[dict]] = {}
    for name in columns:
        cdir = os.path.join(path, _col_dir(name))
        view = manifest.live_view(cdir)
        if view.names and not view.stats:
            # ad-hoc shards (written through the codec, no manifest) are
            # readable by read_columnar's listing fallback, but a zipped
            # read has no key ranges to slice by — raise, as documented,
            # instead of silently treating the column as empty
            raise codec.ShardPackIOError(
                f"column {name!r} has shards but no manifest — "
                "zipped reads need write_columnar's sorted layout"
            )
        shards = [view.stats[n] for n in view.names]
        if any("min_key" not in s for s in shards):
            raise codec.ShardPackIOError(
                f"column {name!r} has shards without key ranges — "
                "zipped reads need write_columnar's sorted layout"
            )
        views[name] = view
        per_col[name] = sorted(shards, key=lambda s: s["min_key"])

    # keyspace slices from the driving column's shard boundaries
    driving = per_col[columns[0]]
    bounds: list[tuple[str | None, str | None]] = []
    if not driving:
        bounds = [(None, None)]  # others may still hold records (full mode)
    else:
        for i in range(len(driving)):
            lo = None if i == 0 else driving[i]["min_key"]
            hi = None if i == len(driving) - 1 else driving[i + 1]["min_key"]
            bounds.append((lo, hi))

    plan_rows = []
    for lo, hi in bounds:
        # a column shard belongs to the slice [lo, hi) iff its key range
        # intersects it: the shard predicate with an exclusive upper bound
        cols_shards = {
            name: views[name].prune(
                [s["path"] for s in per_col[name]],
                lo=None if lo is None else (lo, True),
                hi=None if hi is None else (hi, False),
            )
            for name in columns
        }
        plan_rows.append((lo, hi, json.dumps(cols_shards)))

    ship_package(spark)
    base = path
    col_order = list(columns)
    want_all = how == "full"

    # flush the merge output whenever buffered payload crosses
    # chunk_bytes: task memory stays O(chunk), not O(keyspace slice) — a
    # slice spans whole shards of EVERY requested column, which at the
    # 256 MiB shard target times N columns would otherwise buffer
    # gigabytes per task

    def merge(batches):
        for pdf in batches:
            out_rows = []
            buffered = 0
            for lo, hi, shards_json in zip(pdf["lo"], pdf["hi"], pdf["shards"]):
                lo = None if lo is None or (isinstance(lo, float)) else lo
                hi = None if hi is None or (isinstance(hi, float)) else hi
                cols_shards = json.loads(shards_json)

                def in_range(k):
                    return (lo is None or k >= lo) and (hi is None or k < hi)

                def stream(name):
                    for sp in cols_shards[name]:
                        full_p = os.path.join(base, _col_dir(name), sp)
                        for rec in codec.iter_records(full_p):
                            if in_range(rec.key):
                                yield rec

                iters = {n: stream(n) for n in col_order}
                heads = {}
                for n, it in iters.items():
                    heads[n] = next(it, None)
                while True:
                    alive = [(n, r) for n, r in heads.items() if r is not None]
                    if not alive:
                        break
                    k = min(r.key for _, r in alive)
                    present = [n for n, r in alive if r.key == k]
                    if want_all or len(present) == len(col_order):
                        meta = dict(heads[present[0]].metadata or {})
                        entries = []
                        for n in col_order:
                            if n in present:
                                for e in heads[n].entries:
                                    entries.append(
                                        {
                                            "file_name": e.file_name,
                                            "content_type": e.content_type,
                                            "encoding": e.encoding,
                                            "size": e.size,
                                            "data": e.data,
                                        }
                                    )
                        out_rows.append((k, meta, entries))
                        buffered += sum(len(e["data"] or b"") for e in entries)
                        if buffered >= chunk_bytes:
                            yield _pd.DataFrame(
                                out_rows,
                                columns=["key", "metadata", "entries"],
                                dtype=object,
                            )
                            out_rows, buffered = [], 0
                    for n in present:
                        heads[n] = next(iters[n], None)
            # object dtype even when empty — float64 default columns fail
            # the Arrow cast to map/array types
            yield _pd.DataFrame(
                out_rows, columns=["key", "metadata", "entries"], dtype=object
            )

    plan_df = spark.createDataFrame(
        plan_rows, "lo string, hi string, shards string"
    ).repartition(max(1, len(plan_rows)))
    return plan_df.mapInPandas(merge, SCHEMA)
