"""Spark-free reader facade: the training-loader integration.

The reference's primary read story is a tiny library API —
``shardpack.open(...)``, ``dataset.records()``, ``get_index()``,
``read_record_at_offset()`` (docs/draft.md:150-175) — while this repo's
DataSource serves analytics.  A PyTorch-style data loader wants the
former WITHOUT dragging a JVM into every worker process, so this module
composes the pyspark-free layers only:

    codec      — shard parsing, EOF indexes, random access, checksums
    storage    — local / memory:// / sim:// / pyarrow.fs backends
    manifest   — commit log, snapshots, dropped lists, blooms, zone maps

and honors the SAME visibility rules as the Spark reader: manifest +
stream markers gate which files exist, `dropped` hides logically
deleted shards, `version=` pins an archived snapshot, and merge-on-read
patches overlay (latest patch wins, tombstones delete).  The module
graph is import-audited pyspark-free by tests/test_reader_facade.py.

    from shardpack_spark.format.reader import open_dataset

    ds = open_dataset("/data/corpus")
    for rec in ds.records():              # full scan, shard order
        ...
    ds.lookup("doc/42")                   # bloom/range-pruned point read
    ds[1337]                              # global record index (loaders)
    idx = ds.get_index(ds.shards()[0])    # raw EOF offset table
    ds.read_record_at_offset(shard, off)  # O(1) seek

Scale shape: ``records()`` streams shard by shard (one ranged read per
shard, constant memory); ``lookup`` costs one ranged read per shard
that survives bloom/range pruning (block heads and the matching blocks
when records average over 64 KiB stored), plus a decode of the matching
records only (a keyed walk: every other block is probed for its key
and skipped); ``__getitem__`` resolves through per-shard record counts
from the manifest (metadata-only) and one EOF-index tail read for the
owning shard.  The patch overlay is O(patched keys) in memory — small by
construction (compact_patches folds them down); ``patches="error"``
refuses datasets where that assumption broke.
"""

from __future__ import annotations

import hashlib
import os
from bisect import bisect_right
from typing import TYPE_CHECKING

from shardpack_spark.format import codec, manifest, storage

if TYPE_CHECKING:
    from collections.abc import Iterator

_TOMBSTONE = object()


def _select_entries(rec: "codec.Record", sel: "frozenset[str] | None") -> "codec.Record":
    """Apply an entry_names selection to an already-decoded record (the
    patch-overlay rows): unselected entries become header-only copies,
    so patched and base rows honor the same contract.  The overlay cache
    is never mutated — copies only."""
    if sel is None or all(e.file_name in sel for e in rec.entries):
        return rec
    return codec.Record(
        key=rec.key,
        metadata=rec.metadata,
        entries=[
            e
            if e.file_name in sel
            else codec.FileEntry(
                file_name=e.file_name,
                content_type=e.content_type,
                data=b"",
                encoding=e.encoding,
                declared_size=e.size,
            )
            for e in rec.entries
        ],
    )


class Dataset:
    """One committed view of a shardpack dataset (see ``open_dataset``)."""

    def __init__(
        self,
        path: str,
        version: int | None = None,
        verify_checksums: bool = True,
        patches: str = "apply",
        entry_names: "list[str] | set[str] | None" = None,
    ):
        if patches not in ("apply", "ignore", "error"):
            raise ValueError(f"patches must be apply|ignore|error, got {patches!r}")
        self.path = manifest._norm_path(path)
        self.version = version
        self.verify_checksums = verify_checksums
        # dataset-level modality selection ("open the caption view"):
        # the default entry_names for every record-level read, including
        # map-style __getitem__ and lookup; per-call entry_names wins
        self.entry_names: "frozenset[str] | None" = (
            frozenset(entry_names) if entry_names is not None else None
        )
        self._view = (
            manifest.live_view(self.path)
            if version is None
            else manifest.snapshot_view(self.path, version)
        )
        self.manifest = self._view.manifest
        self._names = self._view.names
        self._patch_names = (
            [] if patches == "ignore" else manifest.list_patches(self.path)
        )
        if patches == "error" and self._patch_names:
            raise codec.ShardPackError(
                f"{self.path} carries {len(self._patch_names)} uncompacted "
                "patches; open with patches='apply' or run compact_patches"
            )
        self._overlay: dict[str, object] | None = None  # lazy {key: Record|_TOMBSTONE}
        self._cum_counts: list[int] | None = None  # lazy, for __getitem__
        self._base_presence: dict[str, bool] = {}  # lazy, for _key_has_base_row

    # --- shard-level surface ------------------------------------------------

    def shards(self) -> list[str]:
        """Absolute paths of the visible shard files, sorted by name."""
        return [os.path.join(self.path, n) for n in self._names]

    def get_index(self, shard: str) -> codec.ShardIndex:
        """EOF index (offset table + shard metadata) of one shard —
        ``shard`` is a path from ``shards()`` or a bare name."""
        if os.path.basename(shard) == shard:
            shard = os.path.join(self.path, shard)
        return codec.read_index(shard)

    def read_record_at_offset(self, shard: str, offset: int) -> codec.Record:
        """O(1) random access into one shard at a byte offset from its
        offset table (draft.md:167-175).  Patch overlays do NOT apply —
        this is the raw physical record."""
        if os.path.basename(shard) == shard:
            shard = os.path.join(self.path, shard)
        return codec.read_record_at(
            shard, offset, verify_checksums=self.verify_checksums
        )

    def read_entry_slice(
        self, shard: str, offset: int, file_name: str, start: int, length: int
    ) -> bytes:
        """Ranged read inside ONE entry's uncompressed payload — O(chunk)
        storage bytes for chunk-compressed entries, exact span for
        uncompressed ones (codec.read_entry_slice; draft.md:144-148)."""
        if os.path.basename(shard) == shard:
            shard = os.path.join(self.path, shard)
        return codec.read_entry_slice(shard, offset, file_name, start, length)

    # --- record-level surface -----------------------------------------------

    def records(
        self,
        skip_payload: bool = False,
        where_meta: dict | None = None,
        where_meta_range: dict | None = None,
        entry_names: "list[str] | set[str] | None" = None,
    ) -> Iterator[codec.Record]:
        """Stream every live record, shard-name order then in-shard order.

        ``where_meta`` / ``where_meta_range`` prune non-matching shards
        via manifest stats AND filter rows exactly (same contract as the
        Spark reader: pruning is an optimization, the row filter is the
        semantics).  Patched keys yield their latest patch row, tombstoned
        keys are skipped.  ``skip_payload`` parses entry headers without
        decoding payload bytes; ``entry_names`` decodes payloads only
        for the named entries (modality-selective read — a caption-only
        loader over caption+image records pays zero image
        decompression; unselected entries come back header-only with
        their true declared sizes)."""
        # string bounds compare lexicographically (ISO dates order
        # correctly); numeric bounds cast the value; mixed domains raise —
        # the same dispatch as read_shardpack's row filter
        str_range = {
            k: manifest._str_range(k, lo, hi)
            for k, (lo, hi) in (where_meta_range or {}).items()
        }
        names = manifest._names_matching_meta(
            list(self._names), self._view.stats, where_meta, where_meta_range
        )

        def row_ok(rec: codec.Record) -> bool:
            if where_meta and any(
                rec.metadata.get(k) != v for k, v in where_meta.items()
            ):
                return False
            if where_meta_range:
                for k, (lo, hi) in where_meta_range.items():
                    v = rec.metadata.get(k)
                    if v is None:
                        return False
                    if str_range[k]:
                        if lo is not None and v < str(lo):
                            return False
                        if hi is not None and v > str(hi):
                            return False
                        continue
                    try:
                        x = float(v)
                    except (TypeError, ValueError):
                        return False
                    if lo is not None and x < float(lo):
                        return False
                    if hi is not None and x > float(hi):
                        return False
            return True

        sel = (
            frozenset(entry_names) if entry_names is not None else self.entry_names
        )
        # a patch UPDATE whose base shard the meta pruning skipped comes
        # out as an unvisited overlay row: the merged-view row is the patch
        # row, judged on its CURRENT state, exactly like
        # read_with_patches' filter-after-merge rule
        for rec in self._overlaid(names, sel, skip_payload=skip_payload):
            if row_ok(rec):
                yield rec

    def follow(
        self,
        poll_interval: float = 2.0,
        from_now: bool = False,
        skip_payload: bool = False,
        stop=None,
    ) -> Iterator[codec.Record]:
        """Tail the dataset: yield records from visible shards, then keep
        polling the commit log (manifest + stream-batch markers) and
        yield records from NEWLY committed shards as they appear — the
        Spark-free consumer of an always-on streaming ingest, for
        loaders that train while data lands.

        Visibility is commit-gated exactly like ``records()``: a shard
        is consumed only once its commit names it, never from a
        directory listing, so half-written task output is never read.
        Shards are remembered by name (consumed-set, O(shards) driver
        memory) and each is read once — records within a shard arrive
        in shard order; across shards in commit-observation order.

        ``from_now=True`` skips the current contents and tails only
        commits after the call.  ``stop`` is an optional zero-arg
        callable checked each poll; returning True ends the iterator
        (it also ends on GeneratorExit, so ``break`` is enough).
        Patch overlays do NOT apply — tailing is a physical-record
        stream (patches target batch reads; an ingest being tailed is
        append-shaped by construction)."""
        import time as _time

        seen: set[str] = set()

        def visible_now() -> list[str]:
            return manifest.live_view(self.path).names

        if from_now:
            seen.update(visible_now())
        while True:
            fresh = [n for n in visible_now() if n not in seen]
            for name in fresh:
                seen.add(name)
                sp = os.path.join(self.path, name)
                yield from codec.iter_records(
                    sp,
                    verify_checksums=self.verify_checksums,
                    skip_payload=skip_payload,
                    entry_names=self.entry_names,
                )
            if stop is not None and stop():
                return
            if not fresh:
                _time.sleep(poll_interval)

    def shard_records(
        self,
        num_shards: int,
        index: int,
        skip_payload: bool = False,
        entry_names: "list[str] | set[str] | None" = None,
    ) -> Iterator[codec.Record]:
        """Worker-sharded iteration for multi-process data loaders: the
        ``index``-th of ``num_shards`` workers streams a disjoint slice,
        and the union over all workers is exactly ``records()``.

        Work splits by SHARD FILE (round-robin over the sorted shard
        list interleaves early/late commits, so workers stay balanced
        even when shard sizes drift over a dataset's history) — each
        worker opens only its own files, the property that matters on an
        object store.  Patch overlays apply: updates ride with the shard
        holding the base row; tombstones drop; patch-INSERTED keys go to
        worker ``hash(key) % num_shards`` so exactly one worker emits
        each."""
        if not 0 <= index < num_shards:
            raise ValueError(f"index must be in [0, {num_shards}), got {index}")
        sel = (
            frozenset(entry_names) if entry_names is not None else self.entry_names
        )

        def claim(key: str) -> bool:
            # patch-INSERTED keys (no base row anywhere): claimed by key
            # hash so exactly one worker emits each.  Updates are never
            # claimed here — the worker whose shards hold the base row
            # already emitted them in place, which _key_has_base_row
            # (bloom/range-pruned metadata probe) distinguishes.
            h = int(hashlib.sha256(key.encode()).hexdigest()[:8], 16)
            return h % num_shards == index and not self._key_has_base_row(key)

        yield from self._overlaid(
            self._names[index::num_shards], sel, claim, skip_payload=skip_payload
        )

    def _overlaid(
        self, names, sel=None, claim=None, **decode
    ) -> Iterator[codec.Record]:
        """Stream the base records of shards ``names`` with the patch
        overlay applied in place — a patched key yields its patch row
        once, a tombstoned key nothing — then, in key order, the live
        overlay rows whose key no base row carried (patch INSERTS, and
        updates whose base shard is not in ``names``) that ``claim``
        accepts.  ``sel`` and ``decode`` go to ``codec.iter_records``."""
        overlay = self._load_overlay()
        emitted: set[str] = set()
        decode.setdefault("verify_checksums", self.verify_checksums)
        for name in names:
            for rec in codec.iter_records(
                os.path.join(self.path, name), entry_names=sel, **decode
            ):
                if overlay and rec.key in overlay:
                    patched = overlay[rec.key]
                    if patched is _TOMBSTONE or rec.key in emitted:
                        continue
                    emitted.add(rec.key)
                    rec = _select_entries(patched, sel)
                yield rec
        for key in sorted(overlay):
            rec = overlay[key]
            if rec is not _TOMBSTONE and key not in emitted and (
                claim is None or claim(key)
            ):
                yield _select_entries(rec, sel)

    def _key_has_base_row(self, key: str) -> bool:
        """Does ANY visible shard hold a base row for ``key``?  Bloom +
        range pruning first, then a keyed metadata-only walk of the
        surviving shards; memoized per key set."""
        if key not in self._base_presence:
            self._base_presence[key] = self._base_metadata(key) is not None
        return self._base_presence[key]

    def to_batches(
        self,
        batch_size: int = 1024,
        skip_payload: bool = False,
        where_meta: dict | None = None,
        where_meta_range: dict | None = None,
        entry_names: "list[str] | set[str] | None" = None,
    ):
        """Stream pyarrow RecordBatches of the live records in the row
        schema the Spark DataSource exposes, so a loader can go straight
        into Arrow/pandas/torch collation without pyspark.  Batches
        respect ``records()`` order and patch/pruning semantics and share
        the DataSource's row contract: a payload never read
        (``skip_payload``, or an entry outside ``entry_names``) is NULL
        ``data``, distinct from an empty b"" payload."""
        sel = frozenset(entry_names) if entry_names is not None else self.entry_names
        return codec.arrow_batches(
            self.records(
                skip_payload=skip_payload,
                where_meta=where_meta,
                where_meta_range=where_meta_range,
                entry_names=sel,
            ),
            skip_payload=skip_payload,
            entry_names=sel,
            batch_size=batch_size,
        )

    def keys(self) -> Iterator[str]:
        """Every live record key (payloads never decoded)."""
        for rec in self._overlaid(
            self._names, verify_checksums=False, skip_entries=True
        ):
            yield rec.key

    def lookup(self, key: str) -> list[codec.Record]:
        """Point lookup by record key — the bucket-index access path
        (src/bucket.rs:147-169) served from manifest stats: shards whose
        [min,max] key range excludes the key are skipped, surviving
        shards are vetoed by their Bloom filter, and only then are
        shard bytes touched: one ranged read per surviving shard, then a
        keyed walk that decodes only the matching records.  Returns every
        matching record (the format permits duplicate keys), overlaid by
        patches.  Returned records are always checksum-verified (when the
        dataset verifies); non-matching records in the same shard are
        not — whole-shard integrity is a ``records()`` epoch or
        ``verify_dataset``.

        Delegates to :meth:`lookup_many` — ONE pruning pipeline, so the
        single- and batched-lookup paths cannot drift apart (the
        batched planner in ``warc_source._locator_partitions`` relies on
        their equivalence)."""
        return self.lookup_many([key])[key]

    def lookup_many(self, keys) -> "dict[str, list[codec.Record]]":
        """Batched point lookup: ONE pass per surviving shard however
        many keys name it.  A 10k-value IN-filter planning call
        (``warc_source._locator_partitions``) would otherwise pay 10k
        serial ``lookup`` calls — each Bloom-pruned to ~one shard, but a
        shard naming many of the values is re-read once per value.  Here
        every key is pruned against each shard's [min,max] range + Bloom
        first, then each shard with ≥1 candidate gets ONE keyed walk
        (``codec.iter_records(keys=...)``) for ALL its candidates, which
        decodes and verifies only the matching records.  Returns
        ``{key: [records]}`` (missing keys map to []), identical to
        ``{k: self.lookup(k) for k in keys}`` including patch-overlay
        semantics and the integrity contract of :meth:`lookup`."""
        out: dict[str, list[codec.Record]] = {k: [] for k in keys}
        overlay = self._load_overlay()
        rest: set[str] = set()
        for k in out:
            if overlay and k in overlay:
                rec = overlay[k]
                if rec is not _TOMBSTONE:
                    out[k].append(_select_entries(rec, self.entry_names))
            else:
                rest.add(k)
        if not rest:
            return out
        for sp, cand in self._candidate_shards(rest):
            for rec in codec.iter_records(
                sp,
                verify_checksums=self.verify_checksums,
                entry_names=self.entry_names,
                keys=cand,
            ):
                out[rec.key].append(rec)
        return out

    def metadata(self, key: str) -> dict | None:
        """Record metadata without decoding payloads (R4, the
        index-serves-metadata path) — first match wins; None if absent."""
        overlay = self._load_overlay()
        if overlay and key in overlay:
            rec = overlay[key]
            return None if rec is _TOMBSTONE else dict(rec.metadata)
        return self._base_metadata(key)

    def _base_metadata(self, key: str) -> dict | None:
        """Metadata of the first base row for ``key`` (patches not
        applied): a keyed walk of the shards that survive pruning, which
        parses no other record's metadata."""
        for sp, _ in self._candidate_shards({key}):
            for rec in codec.iter_records(
                sp, keys={key}, skip_entries=True, verify_checksums=False
            ):
                return rec.metadata
        return None

    def _candidate_shards(self, keys) -> "Iterator[tuple[str, set[str]]]":
        """(shard path, candidate keys) for every visible shard, in name
        order, whose manifest stats may hold any of ``keys``: a shard is
        skipped for a key outside its [min,max] range or vetoed by its
        Bloom filter (manifest.ShardView.candidates, the predicate the
        DSv2 planner prunes with)."""
        for name, cand in self._view.candidates(self._names, keys):
            yield os.path.join(self.path, name), cand

    # --- loader ergonomics ---------------------------------------------------

    def __len__(self) -> int:
        """Physical record count across visible shards (overlay NOT
        applied — patch-aware counting needs a scan; loaders index
        physical records)."""
        self._ensure_counts()
        return self._cum_counts[-1] if self._cum_counts else 0

    def __getitem__(self, i: int) -> codec.Record:
        """Global physical record index -> record, resolved with one
        EOF-index read of the owning shard (counts come from the
        manifest; log-less directories pay one index read per shard the
        first time).  The map-style access pattern every PyTorch-like
        loader wants; tombstoned keys raise KeyError so samplers learn
        to re-draw (use records() for streaming loaders)."""
        self._ensure_counts()
        n = len(self)
        if i < 0:
            i += n
        if not 0 <= i < n:
            raise IndexError(f"record index {i} out of range [0, {n})")
        si = bisect_right(self._cum_counts, i)
        local = i - (self._cum_counts[si - 1] if si else 0)
        sp = os.path.join(self.path, self._names[si])
        idx = codec.read_index(sp)
        rec = codec.read_record_at(
            sp,
            idx.offsets[local],
            verify_checksums=self.verify_checksums,
            entry_names=self.entry_names,
        )
        overlay = self._load_overlay()
        if overlay and rec.key in overlay:
            patched = overlay[rec.key]
            if patched is _TOMBSTONE:
                raise KeyError(f"record {i} (key {rec.key!r}) is deleted by a patch")
            return _select_entries(patched, self.entry_names)
        return rec

    def __iter__(self) -> Iterator[codec.Record]:
        return self.records()

    def partitions(self) -> list[dict]:
        """Metadata-only partition listing (partition_by layouts)."""
        return manifest.dataset_partitions(self.path, self.version)

    # --- internals -----------------------------------------------------------

    def _ensure_counts(self) -> None:
        if self._cum_counts is not None:
            return
        stats = self._view.sizes(self._names)
        cum: list[int] = []
        total = 0
        for name in self._names:
            rec = stats.get(name, (None, None))[1]
            if rec is None:
                rec = len(codec.read_index(os.path.join(self.path, name)).offsets)
            total += rec
            cum.append(total)
        self._cum_counts = cum

    def _load_overlay(self) -> dict[str, object]:
        """{key: Record | _TOMBSTONE} across patches, later patch wins."""
        if self._overlay is not None:
            return self._overlay
        overlay: dict[str, object] = {}
        for pname in self._patch_names:
            pdir = manifest.patch_path(self.path, pname)
            for name in manifest.live_view(pdir).names:
                for rec in codec.iter_records(
                    os.path.join(pdir, name),
                    verify_checksums=self.verify_checksums,
                ):
                    if rec.metadata.get(manifest.TOMBSTONE_KEY) == "true":
                        overlay[rec.key] = _TOMBSTONE
                    else:
                        overlay[rec.key] = rec
        self._overlay = overlay
        return overlay

def open_dataset(
    path: str,
    version: int | None = None,
    timestamp=None,
    verify_checksums: bool = True,
    patches: str = "apply",
    entry_names: "list[str] | set[str] | None" = None,
) -> Dataset:
    """Open a shardpack dataset for Spark-free reading.

    ``entry_names`` opens a MODALITY VIEW: every record-level read
    (records, shard_records, to_batches, follow, lookup, ``ds[i]``)
    decompresses only the named entries' payloads — others ride
    header-only with their true sizes.  Per-call entry_names overrides.

    ``version`` pins an archived snapshot (same ids as the Spark
    reader's ``version`` option / ``list_versions``); ``timestamp``
    (epoch seconds or ISO-8601 string) resolves to the newest snapshot
    committed at or before that instant — time travel by time.  An
    explicit ``version`` wins when both are given.  ``patches``:
    'apply' (default) overlays merge-on-read patches, 'ignore' reads the
    raw base, 'error' refuses datasets with uncompacted patches.
    Raises ShardPackIOError for a missing dataset/version."""
    norm = manifest._norm_path(path)
    be = storage.for_path(norm)
    if version is None and timestamp is not None:
        version = manifest.version_at(norm, timestamp)
    if version is None and not be.exists(norm):
        raise codec.ShardPackIOError(f"no dataset at {path}")
    return Dataset(
        norm,
        version=version,
        verify_checksums=verify_checksums,
        patches=patches,
        entry_names=entry_names,
    )
