"""Spark-free writer facade: committed writes without a JVM.

The read-side twin is ``format.reader`` (open_dataset); this module
completes the reference's library story (docs/draft.md:132-175 — the
hypothetical ``shardpack create`` / ``bucket.write`` surface) for
producers: a training pipeline's tokenizer worker, a small ingest
script, or a test fixture can append to — or create — a REAL shardpack
dataset whose commits are indistinguishable from the Spark
DataSource's, because both run the SAME pyspark-free commit protocol
(``format.commit``): commit-named invisible staging, per-shard pruning
stats (key ranges, Blooms, metadata value sets, zone maps), CAS-claimed
snapshot roots, time travel, partition-pure routing.

    from shardpack_spark.format.writer import open_writer, write_records

    with open_writer("/data/corpus", compression="zstd") as w:
        w.write(key="doc/1", data=b"hello", metadata={"lang": "en"})
        w.write(record)                      # a codec.Record, as-is
    print(w.manifest["version_id"])          # committed on clean exit

    write_records(path, records_iter, mode="overwrite")  # one-shot

Concurrency: commits from this facade and from Spark jobs interleave
safely on any backend with conditional create (local, memory://,
sim://, the boto3 S3 backend) — the CAS retry re-merges losers exactly
as DataSource commits do.  The module graph is import-audited
pyspark-free by tests/test_writer_facade.py.

Scale shape: ONE process, sequential — this is the single-writer
convenience path.  Cluster-scale writes belong to the Spark DataSource
(df.write.format("shardpack")), which runs one task per partition and
commits once; the facade exists so the 10-row fixture and the
edge-node ingest script don't need a JVM.
"""

from __future__ import annotations

import fnmatch
import hashlib
import os
import re
import uuid
from typing import TYPE_CHECKING

from shardpack_spark.format import codec, commit, storage
from shardpack_spark.format.manifest import PATCH_DIR, TOMBSTONE_KEY, _norm_path

if TYPE_CHECKING:
    from collections.abc import Iterable

_MODES = ("append", "overwrite")

# extension -> MIME for directory ingest; shared with the distributed
# ingest_files (datasource re-imports this map so both paths agree)
INGEST_CONTENT_TYPES = {
    "jpg": "image/jpeg",
    "jpeg": "image/jpeg",
    "png": "image/png",
    "gif": "image/gif",
    "txt": "text/plain",
    "md": "text/plain",
    "json": "application/json",
    "jsonl": "application/json",
    "npy": "application/x-npy",
    "npz": "application/x-npz",
    "msgpack": "application/msgpack",
    "wav": "audio/wav",
    "avi": "video/x-msvideo",
    "mp4": "video/mp4",
    "csv": "text/csv",
    "parquet": "application/vnd.apache.parquet",
}


class Writer:
    """One pending commit against a shardpack dataset (see
    ``open_writer``).  Records stream straight to commit-named shard
    files (invisible to readers until ``close()`` publishes the
    manifest — the protocol's visibility gate); memory holds one open
    compression stream and one shard's Bloom hashes, nothing
    proportional to the dataset."""

    def __init__(
        self,
        path: str,
        *,
        mode: str = "append",
        compression: str = "none",
        target_shard_bytes: int = codec.DEFAULT_TARGET_SHARD_BYTES,
        max_record_bytes: int | None = None,
        max_entry_bytes: int | None = None,
        chunk_bytes: int | None = None,
        partition_by: list[str] | str | None = None,
        partition_overwrite_mode: str = "static",
        dataset_metadata: dict | None = None,
        manifest_checkpoint_parts: int = commit.DEFAULT_MANIFEST_CHECKPOINT_PARTS,
    ):
        if mode not in _MODES:
            raise codec.ShardPackIOError(f"mode must be one of {_MODES}, got {mode!r}")
        opts = commit.sink_options(
            {
                "compression": compression,
                "target_shard_bytes": target_shard_bytes,
                "max_record_bytes": max_record_bytes,
                "max_entry_bytes": max_entry_bytes,
                "chunk_bytes": chunk_bytes,
                "partition_by": partition_by,
            }
        )
        self.partition_by: list[str] = opts["partition_by"]
        self.dynamic_overwrite = commit.commit_options(
            mode == "overwrite",
            partition_overwrite_mode,
            self.partition_by,
            dataset_metadata,
        )
        self.path = _norm_path(path)
        self.mode = mode
        self.compression = compression
        self.target = opts["target_shard_bytes"]
        self.dataset_metadata = dataset_metadata
        self.manifest_checkpoint_parts = int(manifest_checkpoint_parts)
        self.manifest: dict | None = None  # set by close()
        self._closed = False
        storage.for_path(self.path).makedirs(self.path)
        # same invisible-until-commit naming as a DataSource task: the
        # c{seq}-part- prefix keeps these files out of ad-hoc listings
        # and first-commit adoption until OUR commit publishes them
        seq = commit._next_commit_seq(self.path)
        self._sink = commit.ShardSink(
            self.path, f"c{seq:08d}-part-00000-{uuid.uuid4().hex[:8]}", **opts
        )

    # --- writing -------------------------------------------------------------

    def write(
        self,
        record: "codec.Record | None" = None,
        *,
        key: str | None = None,
        data: bytes | None = None,
        entries: "list[codec.FileEntry] | None" = None,
        metadata: dict[str, str] | None = None,
        content_type: str = "application/octet-stream",
        file_name: str = "data",
    ) -> None:
        """Buffer one record into the pending commit.

        Either pass a ``codec.Record``, or build one inline from
        ``key`` plus ``data`` (single payload entry with
        ``content_type``/``file_name``) or ``entries`` (explicit
        FileEntry list), with optional string ``metadata``."""
        if self._closed:
            raise codec.ShardPackIOError("writer is closed")
        if record is None:
            if key is None:
                raise codec.ShardPackIOError("write() needs a record or a key")
            if entries is None:
                entries = (
                    []
                    if data is None
                    else [
                        codec.FileEntry(
                            file_name=file_name,
                            content_type=content_type,
                            data=data,
                        )
                    ]
                )
            record = codec.Record(
                key=key, entries=entries, metadata=dict(metadata or {})
            )
        elif key is not None or data is not None or entries is not None:
            raise codec.ShardPackIOError(
                "pass either a record or key/data/entries, not both"
            )
        if self.partition_by:
            missing = [
                k for k in self.partition_by if k not in (record.metadata or {})
            ]
            if missing:
                raise codec.ShardPackIOError(
                    f"record {record.key!r} lacks partition_by metadata "
                    f"keys {missing}"
                )
        self._sink.write(record)

    def write_all(self, records: "Iterable[codec.Record]") -> None:
        for rec in records:
            self.write(rec)

    # --- commit / rollback ----------------------------------------------------

    def close(self) -> dict:
        """Finish the shards and publish ONE atomic commit (the full
        protocol: commit.commit_shards — CAS-claimed root, liveness
        lock, pointer cache).  Returns (and stores on ``.manifest``)
        the committed manifest.  Idempotent."""
        if self._closed:
            return self.manifest
        self._closed = True
        self.manifest = commit.commit_shards(
            self.path,
            self._sink.close(),
            overwrite=self.mode == "overwrite",
            dynamic_overwrite=self.dynamic_overwrite,
            partition_by=self.partition_by,
            compression=self.compression,
            target_shard_bytes=self.target,
            dataset_metadata=self.dataset_metadata,
            manifest_checkpoint_parts=self.manifest_checkpoint_parts,
        )
        return self.manifest

    def abort(self) -> None:
        """Drop the pending (uncommitted) shard files; nothing was or
        will be published.  Idempotent."""
        if self._closed:
            return
        self._closed = True
        self._sink.abort()

    def __enter__(self) -> "Writer":
        return self

    def __exit__(self, exc_type, exc, tb) -> bool:
        # commit on clean exit, roll back if the block raised — the
        # transaction shape a `with` block implies
        if exc_type is None:
            self.close()
        else:
            self.abort()
        return False


def open_writer(path: str, **kwargs) -> Writer:
    """Open a Spark-free writer for one atomic commit — see ``Writer``.

    Options mirror the DataSource writer's: ``mode`` append|overwrite,
    ``compression``, ``target_shard_bytes``, ``max_record_bytes``,
    ``max_entry_bytes``, ``chunk_bytes`` (chunk-level compression),
    ``partition_by`` (list or comma string; partition-pure shards),
    ``partition_overwrite_mode`` static|dynamic, ``dataset_metadata``."""
    return Writer(path, **kwargs)


def write_records(
    path: str, records: "Iterable[codec.Record]", **kwargs
) -> dict:
    """One-shot: write ``records`` and commit; returns the manifest."""
    with open_writer(path, **kwargs) as w:
        w.write_all(records)
    return w.manifest


def write_patch_records(
    base: str, records: "Iterable[codec.Record]", compression: str = "none"
) -> str:
    """Spark-free merge-on-read UPSERT: commit the records as one patch
    over an existing dataset (patches.write_patch's record-level twin —
    same layout, same atomic publication via commit.publish_patch, so
    the Spark reader, the facade reader, and compact_patches all merge
    it identically: latest patch wins, tombstones delete).

    Duplicate keys within one call collapse to a deterministic single
    survivor (max by sha256 of the encoded record — arbitrary but
    stable, the same contract as the Spark writer's digest rule; the
    chosen row may differ between the two writers, which the contract
    permits).  Returns the logical patch name."""
    base = _norm_path(base)
    be = storage.for_path(base)
    proot = os.path.join(base, PATCH_DIR)
    be.makedirs(proot)
    survivors: dict[str, tuple[str, codec.Record]] = {}
    for rec in records:
        d = hashlib.sha256(
            codec.encode_record(rec, compression="none")
        ).hexdigest()
        cur = survivors.get(rec.key)
        if cur is None or d > cur[0]:
            survivors[rec.key] = (d, rec)
    hidden = (
        f".tmp-{uuid.uuid4().hex[:12]}"
        if be.atomic_rename
        else f".d-{uuid.uuid4().hex[:12]}"
    )
    tmp = os.path.join(proot, hidden)
    try:
        codec.write_dataset(
            tmp,
            (survivors[k][1] for k in sorted(survivors)),
            compression=compression,
        )
        return commit.publish_patch(base, hidden)
    except BaseException:
        try:
            be.remove_tree(tmp)
        except (OSError, FileNotFoundError):
            pass  # already published (rename happened) or never written
        raise


def delete_keys(base: str, keys: "Iterable[str]") -> str:
    """Spark-free merge-on-read DELETE: tombstone the given keys (one
    patch; the reference's side-car mutation convention,
    docs/draft.md:209-211, without the destructive Bucket::delete)."""
    return write_patch_records(
        base,
        (
            codec.Record(key=k, entries=[], metadata={TOMBSTONE_KEY: "true"})
            for k in keys
        ),
    )


def _walk_files(be, root: str) -> "Iterable[str]":
    """Recursive relative file paths under ``root``, via the storage
    backend (works on memory:// and sim:// too), deterministic order."""
    stack = [""]
    while stack:
        rel = stack.pop()
        full = os.path.join(root, rel) if rel else root
        for name in sorted(be.listdir(full), reverse=True):
            child = f"{rel}/{name}" if rel else name
            if be.isdir(os.path.join(root, child)):
                stack.append(child)
            else:
                yield child


def pack_files(
    input_path: str,
    out: str,
    *,
    group_by_stem: bool = True,
    key_prefix: str = "",
    glob: str | None = None,
    mode: str = "append",
    content_types: dict[str, str] | None = None,
    **writer_options,
) -> dict:
    """Pack a directory of files into a shardpack dataset WITHOUT a JVM
    — the single-process twin of ``datasource.ingest_files`` (the
    reference CLI's `shardpack create --input dir`, docs/draft.md:132-148),
    byte-identical record semantics:

    - ``group_by_stem=True`` packs files sharing path-minus-extension
      into ONE record, one entry per file, entries sorted by file name
      (img0001.jpg + img0001.json -> record "img0001", two entries)
    - keys are slash-relative paths (minus extension when grouping),
      prefixed with ``key_prefix``; records are written in key order
    - content types from the extension map (unknowns ->
      application/octet-stream); metadata carries n_entries/n_bytes

    Use the Spark path for cluster-scale trees — this one reads every
    byte in one process.  Returns the committed manifest."""
    src = _norm_path(input_path)
    be = storage.for_path(src)
    if not be.isdir(src):
        raise codec.ShardPackIOError(f"input dir not found: {input_path}")
    ctypes = {**INGEST_CONTENT_TYPES, **(content_types or {})}
    groups: dict[str, list[str]] = {}
    for rel in _walk_files(be, src):
        if glob and not fnmatch.fnmatch(os.path.basename(rel), glob):
            continue
        stem = re.sub(r"\.[^./]+$", "", rel) if group_by_stem else rel
        groups.setdefault(stem, []).append(rel)

    def _records():
        for stem in sorted(groups):
            entries = []
            for rel in groups[stem]:
                m = re.search(r"\.([^./]+)$", rel)
                ct = ctypes.get(m.group(1).lower() if m else "", "application/octet-stream")
                entries.append(
                    codec.FileEntry(
                        file_name=rel.rsplit("/", 1)[-1],
                        content_type=ct,
                        data=be.read_bytes(os.path.join(src, rel)),
                    )
                )
            entries.sort(key=lambda e: e.file_name)
            yield codec.Record(
                key=key_prefix + stem,
                entries=entries,
                metadata={
                    "n_entries": str(len(entries)),
                    "n_bytes": str(sum(e.size for e in entries)),
                },
            )

    return write_records(out, _records(), mode=mode, **writer_options)
