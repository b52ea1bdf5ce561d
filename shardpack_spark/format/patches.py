"""Merge-on-read updates and deletes via side-car patch datasets.

The reference format is immutable/append-only by design; its spec points
mutation at "side-car shards or an external KV store"
(docs/draft.md:209-211), and its code's destructive `Bucket::delete`
(whole-shard removal, divergence D5) is exactly what NOT to do.  This
module implements the side-car convention on top of the DataSource:

    write_patch(upserts_df, base)          # upsert records by key
    write_patch(tombstones(spark, keys), base)  # delete records by key
    df = read_with_patches(spark, base)    # merged view, last patch wins
    compact_patches(spark, base)           # fold patches into the base

Layout:

    {base}/...                      # normal shardpack dataset
    {base}/_patches/p00000001/      # each patch is itself a shardpack
    {base}/_patches/p00000002/      #   dataset (atomic manifest commit)

Semantics: patches apply in directory order; for a given key the LATEST
patch row wins, a tombstone row (metadata['__tombstone']='true') deletes
the key, and keys untouched by any patch come from the base.  One row
per key per patch is the writer's contract (write_patch enforces it).

Scale shape: the merged read is
    base LEFT-ANTI patch-keys  UNION  latest-patch-survivors.
Patch keys are O(rows patched since last compaction) — small by
construction — so Catalyst broadcasts the anti-join build side and the
100 TB base is never shuffled; only patch rows (window over key) are.
Compaction is the existing crash-safe overwrite commit: readers see the
old manifest until the new one is durable.  Re-applying a patch to an
already-compacted base is a no-op (upserts re-assert identical rows,
tombstone anti-joins match nothing), so a crash between the compaction
commit and the patch-directory cleanup is safe — the merged view is
idempotent under leftover patches.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from shardpack_spark.format import codec, storage
from shardpack_spark.format.datasource import (
    SCHEMA,
    read_shardpack,
    register,
)

# layout resolution (list_patches/patch_path) lives pyspark-free in
# format.manifest so the Spark-free reader facade shares it; re-exported
# here for existing callers
from shardpack_spark.format.manifest import (  # noqa: E402, F401
    PATCH_DIR,
    TOMBSTONE_KEY,
    _load_manifest,
    list_patches,
    patch_path,
)


def _patch_root(base: str) -> str:
    return os.path.join(base, PATCH_DIR)


def tombstones(spark, keys) -> "F.DataFrame":
    """Build tombstone patch rows for the given keys (list or 1-column df)."""
    if not hasattr(keys, "select"):
        keys = spark.createDataFrame([(k,) for k in keys], "key string")
    kcol = keys.columns[0]
    return keys.select(
        F.col(kcol).alias("key"),
        F.create_map(F.lit(TOMBSTONE_KEY), F.lit("true")).alias("metadata"),
        F.array().cast(SCHEMA["entries"].dataType).alias("entries"),
    )


def delete_where(spark, base: str, predicate) -> str:
    """Predicate-driven merge-on-read delete: tombstone every CURRENT row
    matching ``predicate`` (a Column or SQL string) in one pass.

    The match runs against the patch-merged view, so rows an earlier
    patch already deleted or rewrote are judged in their CURRENT state —
    re-deleting is a no-op, not a resurrection hazard.  Returns the
    committed patch name.  (The selection scans the merged view, which
    cannot take a projection — for a metadata-only predicate over a
    payload-heavy UNPATCHED dataset, selecting keys from
    ``read_shardpack(..., columns=["key","metadata"])`` and calling
    ``tombstones`` directly skips the payload bytes.)
    """
    if isinstance(predicate, str):
        predicate = F.expr(predicate)
    keys = read_with_patches(spark, base).filter(predicate).select("key")
    return write_patch(tombstones(spark, keys), base)


def update_where(spark, base: str, predicate, set_meta: dict) -> str:
    """Predicate-driven merge-on-read UPDATE of metadata values.

    Every CURRENT row matching ``predicate`` is re-emitted as a patch row
    with ``set_meta``'s entries overlaid on its metadata (map_concat
    right-wins), entries untouched.  Like ``delete_where``, the match
    runs on the patch-merged view, so chained updates compose and
    re-running the same update is a no-op for the merged result.
    Returns the committed patch name.
    """
    if isinstance(predicate, str):
        predicate = F.expr(predicate)
    current = read_with_patches(spark, base).filter(predicate)
    overlay = F.create_map(
        *[x for k, v in sorted(set_meta.items()) for x in (F.lit(k), F.lit(str(v)))]
    )
    updated = current.select(
        "key",
        # map_concat keeps the LAST value for a duplicated key only with
        # spark.sql.mapKeyDedupPolicy=LAST_WIN; build the merged map
        # explicitly from distinct keys instead so no session conf is
        # assumed: overlay keys win, others pass through
        F.map_filter(
            F.col("metadata"), lambda k, _: ~k.isin(*list(set_meta))
        ).alias("__kept"),
        "entries",
    ).select(
        "key",
        F.map_concat(F.col("__kept"), overlay).alias("metadata"),
        "entries",
    )
    return write_patch(updated, base)


def write_patch(df, base: str, compression: str = "none") -> str:
    """Commit one patch dataset; returns its directory name.

    ``df`` is shardpack row schema.  Duplicate keys within one patch are
    collapsed to an arbitrary-but-deterministic single row BEFORE the
    commit (max by entry-count then metadata size) so merged reads are
    reproducible; rely on separate patches when ordering matters.
    """
    spark = df.sparkSession
    register(spark)
    # one row per key: deterministic survivor via a sortable digest of the
    # row body (maps/arrays aren't directly orderable in an agg)
    digest = F.sha2(F.to_json(F.struct("metadata", "entries")), 256)
    w = Window.partitionBy("key").orderBy(F.desc(digest))
    one = (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    be = storage.for_path(base)
    be.makedirs(_patch_root(base))
    # write the patch dataset OUTSIDE the lock into a hidden temp dir
    # (list_patches only admits p{seq} names / p{seq}.ptr pointers);
    # commit.publish_patch then takes the base commit lock just for
    # sequence assignment + atomic publication.  Holding the lock across
    # the whole Spark write job would outlive stale_after and let a
    # second writer break the lock mid-job and pick the same pN.
    renameable = be.atomic_rename
    hidden = f".tmp-{uuid.uuid4().hex[:12]}" if renameable else f".d-{uuid.uuid4().hex[:12]}"
    tmp = os.path.join(_patch_root(base), hidden)
    (
        one.write.format("shardpack")
        .option("compression", compression)
        .mode("overwrite")
        .save(tmp)
    )
    try:
        # publication (lock, seq assignment, rename-or-pointer CAS,
        # orphan GC) is the pyspark-free commit.publish_patch — shared
        # with the facade's record-level patch writers
        from shardpack_spark.format.commit import publish_patch

        return publish_patch(base, hidden)
    except BaseException:
        try:
            be.remove_tree(tmp)
        except (OSError, FileNotFoundError):
            pass  # already published (rename happened) or never written
        raise


def read_with_patches(spark, base: str, **reader_options):
    """Merged view: base overlaid with every committed patch.

    Returns shardpack row schema.  The base side is only anti-joined
    against the (small) patched-key set — no shuffle of the base at any
    scale; the window that picks the winning patch row runs over patch
    rows alone.
    """
    if "columns" in reader_options:
        # a projection applied to the base alone would make base/patch
        # schemas diverge through the union — project AFTER the merge
        raise ValueError(
            "read_with_patches does not take a 'columns' projection; "
            "select on the merged result instead"
        )
    for opt in ("where_meta", "where_meta_range", "limit_records", "version", "only_shards"):
        if opt in reader_options:
            # where_meta's row filter would drop tombstones from the
            # overlay (their metadata is only __tombstone) and RESURRECT
            # deleted base rows; version/only_shards are meaningless for
            # patch dirs (every patch is its own version-1 dataset).
            # Filter/pin on the merged result instead.
            raise ValueError(
                f"read_with_patches does not take {opt!r}; apply it to "
                "the merged result (or compact patches first)"
            )
    base_df = read_shardpack(spark, base, **reader_options)
    patches = list_patches(base)
    if not patches:
        return base_df

    # patch datasets get the SAME reader options (verify_checksums,
    # skip_payload, ...) so both sides of the merge read consistently
    parts = [
        read_shardpack(
            spark, patch_path(base, d), **reader_options
        ).withColumn("__seq", F.lit(i))
        for i, d in enumerate(patches)
    ]
    all_patches = parts[0]
    for p in parts[1:]:
        all_patches = all_patches.unionByName(p)

    w = Window.partitionBy("key").orderBy(F.desc("__seq"))
    latest = (
        all_patches.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__seq")
    )
    survivors = latest.filter(
        F.coalesce(F.element_at("metadata", TOMBSTONE_KEY), F.lit("")) != "true"
    )
    patched_keys = latest.select("key")
    # The broadcast hint is gated on the patch manifests' recorded row
    # counts — a pure METADATA read, no job.  Patches are small by
    # construction so the hint almost always applies (the 100 TB base is
    # then never shuffled), but a predicate-driven delete_where matching
    # half the corpus can legitimately produce billions of tombstones;
    # force-broadcasting those would OOM the driver, so past the cap the
    # plan falls back to a shuffle join (AQE may still pick broadcast if
    # the post-agg key set turns out small).
    total_patch_rows = 0
    for d in patches:
        m = _load_manifest(patch_path(base, d))
        total_patch_rows += (m or {}).get("total_records", 0)
    if total_patch_rows <= int(
        spark.conf.get("shardpack.patches.broadcastMaxRows", "20000000")
    ):
        patched_keys = F.broadcast(patched_keys)
    return base_df.join(patched_keys, "key", "left_anti").unionByName(survivors)


def compact_patches(spark, base: str, compression: str | None = None) -> dict:
    """Fold all patches into the base dataset (crash-safe overwrite
    commit), then remove the patch directories.  Returns merge stats."""
    patches = list_patches(base)
    if not patches:
        return {"patches_folded": 0}
    merged = read_with_patches(spark, base)
    comp = compression or (_load_manifest(base) or {}).get("compression", "none")
    n_parts = max(1, spark.sparkContext.defaultParallelism // 2)
    (
        merged.repartitionByRange(n_parts, "key")
        .sortWithinPartitions("key")
        .write.format("shardpack")
        .option("compression", comp)
        .mode("overwrite")
        .save(base)
    )
    # cleanup AFTER the new manifest is durable; a crash here leaves
    # patches whose re-application is a no-op (idempotent merge).
    # UNLIST each patch atomically BEFORE deleting its data: remove_tree
    # is not atomic, so deleting data first opens a crash window where a
    # still-listed patch has a half-deleted dataset and the merged read
    # ERRORS instead of no-opping.  Rename-capable backends hide the dir
    # with one rename; pointer-committed patches drop the .ptr (the data
    # dir then reads as an unreferenced .d-* orphan the next write_patch
    # GCs if this cleanup crashes mid-way).
    be = storage.for_path(base)
    root = _patch_root(base)
    for d in patches:
        data_dir = patch_path(base, d)
        ptr = os.path.join(root, d + ".ptr")
        if be.exists(ptr):
            be.remove(ptr)
        elif be.atomic_rename:
            hidden = os.path.join(root, f".gone-{uuid.uuid4().hex[:12]}")
            be.replace(data_dir, hidden)
            data_dir = hidden
        be.remove_tree(data_dir)
    if not be.listdir(root):
        be.rmdir_if_empty(root)
    n = (_load_manifest(base) or {}).get("total_records", 0)
    return {"patches_folded": len(patches), "records": n}
