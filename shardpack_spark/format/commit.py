"""Pyspark-free WRITER-side commit protocol: locks, stats, CAS commits.

The read-side metadata layer lives in ``format.manifest``; this module
is its writer-side twin — everything a COMMITTER needs to publish
shards atomically (commit lock, per-shard pruning stats, manifest
parts, the CAS snapshot claim) importable without a JVM or pyspark on
the path.  There is one write path:

- ``ShardSink`` writes every shard file — the DataSource batch writer's
  tasks, the stream sink's tasks and the Spark-free ``format.writer``
  facade push records into it and get manifest entries (counts plus
  ``_StatsTracker`` pruning stats) back; ``sink_options`` parses its
  options on the driver.  ``convert_to_dataset`` feeds existing shards
  through the same ``_StatsTracker``.
- ``publish_root`` is the one publication step of every manifest
  commit: ``commit_attempt`` (under ``commit_shards``' lock and CAS
  retry loop, which every writer uses), ``fold_manifest_parts``,
  ``datasource.fold_stream_markers`` and
  ``datasource.convert_to_dataset``.

Safety model (object-store-correct; see ``commit_shards``):
- the commit CLAIMS its snapshot id by conditionally creating
  ``_manifest/root-{vid}.json`` (put_if_absent — O_EXCL locally,
  If-None-Match on stores that have it).  Two racing commits cannot
  both own a vid; the loser re-reads the winner's state, re-merges its
  OWN part on top, and retries with vid+1 — no append is ever lost,
  lock or no lock.
- the ``_commit.lock`` file is liveness-only (avoids wasted retries).
- the live MANIFEST pointer is a cache written last;
  manifest._observe_latest resolves pointer-vs-roots races.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid

from shardpack_spark.format import codec, storage
from shardpack_spark.format.manifest import (
    MANIFEST_NAME,
    MANIFEST_PARTS_DIR,
    PATCH_DIR,
    _META_VALUES_CAP,
    _bloom_build,
    _bloom_key_hashes,
    _marker_entries,
    _observe_latest,
    list_patches,
    live_view,
)

STAGING_DIR = "_staging"


def _write_manifest_part(path: str, shards: list[dict]) -> str:
    """Write one immutable manifest part; returns its root-relative path."""
    be = storage.for_path(path)
    be.makedirs(os.path.join(path, MANIFEST_PARTS_DIR))
    rel = os.path.join(
        MANIFEST_PARTS_DIR, f"part-{uuid.uuid4().hex[:12]}.json"
    )
    be.write_atomic(
        os.path.join(path, rel),
        json.dumps({"shards": sorted(shards, key=lambda s: s["path"])}).encode(),
    )
    return rel


def _write_manifest(path: str, manifest: dict) -> None:
    """Live-pointer swap: readers see the old or the new manifest, never
    a torn write (tmp+rename on POSIX, atomic whole-object put on
    stores — write_atomic provides whichever the backend has).

    The pointer is a read-optimization cache of the newest archived
    root; under concurrent commits it may briefly point one version
    back (see manifest._observe_latest), so it is written only if
    not already newer."""
    be = storage.for_path(path)
    mp = os.path.join(path, MANIFEST_NAME)
    try:
        cur = json.loads(be.read_bytes(mp))
        if cur.get("version_id", 0) > manifest.get("version_id", 0):
            return  # a later commit already advanced the pointer
    except (FileNotFoundError, ValueError):
        pass
    be.write_atomic(mp, json.dumps(manifest, indent=1, sort_keys=True).encode())


class _CommitLock:
    """Serializes the commit's read-merge-write window — for LIVENESS.

    SAFETY no longer depends on this lock: every commit publishes its
    snapshot root via the backend's conditional create
    (``put_if_absent(root-{vid}.json)``), so of two racing commits
    exactly one claims a version id and the loser re-reads and re-merges
    (see commit_shards).  The lock only keeps concurrent writers from
    wasting work on doomed attempts.

    Acquisition is the backend's ``put_if_absent`` — O_CREAT|O_EXCL
    locally, CAS on memory://, conditional put (If-None-Match) on
    stores that have one.  On backends whose put_if_absent is
    best-effort (pyarrow.fs object stores today), the lock degrades to
    advisory; the root-CAS still decides, but IT is also best-effort
    there, so multi-writer deployments on such stores need a real
    conditional-put backend (storage.register_backend) or an external
    lock service — documented in docs/API.md.

    Locks older than ``stale_after`` seconds are broken — a crashed
    driver must not brick the dataset."""

    def __init__(self, path: str, timeout: float = 60.0, stale_after: float = 300.0):
        self.be = storage.for_path(path)
        self.lock_path = os.path.join(path, "_commit.lock")
        self.timeout = timeout
        self.stale_after = stale_after
        self._token = f"{os.getpid()}-{uuid.uuid4().hex}"

    def __enter__(self):
        deadline = time.monotonic() + self.timeout
        while True:
            try:
                if self.be.put_if_absent(self.lock_path, self._token.encode()):
                    return self
            except storage.UnsupportedOperation:
                return self  # no conditional create: lock is a no-op,
                # the commit CAS (or single-writer mode) carries safety
            try:
                age = time.time() - self.be.mtime(self.lock_path)
                if age > self.stale_after:
                    if self.be.atomic_rename:
                        # Break a dead holder's lock by RENAMING it to a
                        # unique name: of N waiters that all saw it
                        # stale, exactly one replace succeeds (the rest
                        # raise and re-loop) — a bare remove would let a
                        # second waiter delete the first waiter's fresh
                        # lock.
                        broken = self.lock_path + f".broken-{uuid.uuid4().hex[:8]}"
                        try:
                            self.be.replace(self.lock_path, broken)
                            self.be.remove(broken)
                        except OSError:
                            pass
                    else:
                        # rename-less store: plain delete.  The residual
                        # race (two breakers, one deletes the other's
                        # fresh lock) needs a holder stuck past
                        # stale_after AND loses only liveness — commit
                        # safety rides on the root CAS.
                        self.be.remove(self.lock_path)
                    continue
            except (OSError, FileNotFoundError):
                continue  # holder released between probe and stat
            if time.monotonic() > deadline:
                raise codec.ShardPackIOError(
                    f"timed out waiting for commit lock {self.lock_path}"
                ) from None
            time.sleep(0.05)

    def __exit__(self, *exc):
        # Only release a lock we still own: if ours was broken as stale
        # (pathological commit longer than stale_after), the file now
        # belongs to another holder and must not be removed.
        if self.be.atomic_rename:
            # Claim via atomic rename FIRST, verify the token after — a
            # read-then-remove would race a concurrent stale-break and
            # delete the new holder's fresh lock.  If the claimed file
            # turns out not to be ours, put it back via put_if_absent
            # (which refuses if yet another lock appeared).
            rel = self.lock_path + f".rel-{uuid.uuid4().hex[:8]}"
            try:
                self.be.replace(self.lock_path, rel)
            except OSError:
                return False  # already broken and cleaned up
            try:
                content = self.be.read_bytes(rel)
                mine = content == self._token.encode()
            except OSError:
                content, mine = b"", True
            if not mine:
                try:
                    self.be.put_if_absent(self.lock_path, content)
                except (OSError, storage.UnsupportedOperation):
                    pass
            self.be.remove(rel)
        else:
            # rename-less: read-verify-delete (small race window, same
            # stale-holder precondition as above)
            try:
                if self.be.read_bytes(self.lock_path) == self._token.encode():
                    self.be.remove(self.lock_path)
            except (OSError, FileNotFoundError):
                pass
        return False


def _next_commit_seq(path: str) -> int:
    """1 + the highest commit-sequence prefix present in the directory."""
    best = 0
    for f in storage.for_path(path).listdir(path):
        if f.endswith(".shardpack") and f.startswith("c") and f[1:9].isdigit():
            best = max(best, int(f[1:9]))
        elif f.startswith("_batch_") and f.endswith(".json") and f[7:15].isdigit():
            best = max(best, int(f[7:15]))
    return best + 1


# --- per-shard pruning stats -------------------------------------------------

# zone maps only track values float64 represents exactly as integers get
# sketchy past 2^53 — a rounded bound could wrongly exclude a shard, so
# larger magnitudes poison the key instead (conservative: never pruned)
_META_RANGE_MAX_ABS = float(2**53)
# string zone maps cap their bounds: truncating an upper bound would
# wrongly EXCLUDE shards (a prefix sorts below what it abbreviates), so
# an over-long value poisons the key instead
_META_STR_RANGE_MAX_LEN = 64


def _meta_range_add(rng: dict, mk: str, v) -> None:
    """Fold one metadata value into a per-shard [min,max] zone map.

    Two domains, tagged in the accumulator (("num", lo, hi) /
    ("str", lo, hi); () empty; None poisoned):

    - NUMERIC: every value parses as a finite float within ±2^53 — the
      quality-cut case (n_chars, scores).
    - STRING: lexicographic [min,max] over the raw strings — the
      event-time case: ISO-8601 dates/timestamps order correctly as
      strings, so `where_meta_range={"event_date": ("2024-01-01",
      None)}` tails a date-keyed ingest from metadata alone.  Bounds
      longer than _META_STR_RANGE_MAX_LEN poison the key.

    Mixing domains within one shard poisons the key (rng[mk] = None ->
    no range recorded, shard never range-pruned — conservative)."""
    cur = rng.get(mk, ())
    if cur is None:
        return
    try:
        x = float(v)
        ok_num = -_META_RANGE_MAX_ABS <= x <= _META_RANGE_MAX_ABS  # NaN fails
    except (TypeError, ValueError):
        ok_num = False
    if ok_num:
        if cur == ():
            rng[mk] = ("num", x, x)
        elif cur[0] == "num":
            rng[mk] = ("num", min(cur[1], x), max(cur[2], x))
        else:
            rng[mk] = None
        return
    if not isinstance(v, str) or len(v) > _META_STR_RANGE_MAX_LEN:
        rng[mk] = None
        return
    if cur == ():
        rng[mk] = ("str", v, v)
    elif cur[0] == "str":
        rng[mk] = ("str", min(cur[1], v), max(cur[2], v))
    else:
        rng[mk] = None


def _meta_ranges_kept(rng: dict) -> dict:
    """Manifest form: {key: [lo, hi]} — floats for the numeric domain,
    strings for the lexicographic one (readers dispatch on the JSON
    type; old numeric-only manifests parse identically)."""
    return {mk: [c[1], c[2]] for mk, c in rng.items() if c not in (None, ())}


class _StatsTracker:
    """Per-shard pruning stats every commit path records: [min,max] key
    range, the key Bloom filter, low-cardinality metadata value sets, and
    numeric metadata [min,max] zone maps (batch and streaming writers
    share this, so streamed shards prune the same as batch-written ones).

    ``add`` must see each writer's shards SEQUENTIALLY (a DatasetWriter
    never reopens a shard): bloom hash pairs are finalized the moment the
    shard name changes, so task memory is bounded by ONE shard's key
    count per tracker — partitioned writes hold one tracker per open
    partition writer, preserving the bound per writer."""

    def __init__(self) -> None:
        self.stats: dict[str, dict] = {}
        self._meta_vals: dict[str, dict[str, set]] = {}
        self._meta_rngs: dict[str, dict] = {}
        self._hashes: list[tuple[int, int]] = []
        self._hash_shard: str | None = None

    def _finalize_bloom(self, name: str) -> None:
        bloom = _bloom_build(self._hashes)
        if bloom is not None:
            self.stats[name]["bloom"] = bloom
        self._hashes.clear()

    def add(self, rec: "codec.Record", cur: str) -> None:
        if self._hash_shard is not None and cur != self._hash_shard:
            self._finalize_bloom(self._hash_shard)
        self._hash_shard = cur
        s = self.stats.setdefault(cur, {"min_key": rec.key, "max_key": rec.key})
        s["min_key"] = min(s["min_key"], rec.key)
        s["max_key"] = max(s["max_key"], rec.key)
        self._hashes.append(_bloom_key_hashes(rec.key))
        # per-shard metadata value sets for data skipping: track each
        # key's distinct values up to a small cap; past the cap the key
        # is high-cardinality in this shard and recorded as unprunable
        mv = self._meta_vals.setdefault(cur, {})
        mr = self._meta_rngs.setdefault(cur, {})
        for mk, v in (rec.metadata or {}).items():
            vs = mv.setdefault(mk, set())
            if len(vs) <= _META_VALUES_CAP:
                vs.add(v)
            _meta_range_add(mr, mk, v)

    def finish(self) -> dict[str, dict]:
        if self._hash_shard is not None:
            self._finalize_bloom(self._hash_shard)
            self._hash_shard = None
        for name, mv in self._meta_vals.items():
            kept = {
                mk: sorted(vs) for mk, vs in mv.items() if len(vs) <= _META_VALUES_CAP
            }
            if kept:
                self.stats[name]["meta_values"] = kept
        for name, mr in self._meta_rngs.items():
            kept_r = _meta_ranges_kept(mr)
            if kept_r:
                self.stats[name]["meta_ranges"] = kept_r
        return self.stats


def sink_options(options: dict) -> dict:
    """The shard sink's options, parsed and validated once on the driver:
    the DataSource writers pass their string options, the facade its
    typed arguments.  Returns ShardSink's keyword arguments."""
    compression = options.get("compression", "none")
    if compression not in codec._CODECS:
        raise codec.ShardPackCodecError(
            f"compression '{compression}' not available (have {sorted(codec._CODECS)})"
        )

    def opt_int(name: str) -> int | None:
        v = options.get(name)
        return int(v) if v not in (None, "") else None

    pb = options.get("partition_by") or []
    if isinstance(pb, str):
        pb = [k.strip() for k in pb.split(",") if k.strip()]
    return {
        "compression": compression,
        "target_shard_bytes": int(
            options.get("target_shard_bytes", codec.DEFAULT_TARGET_SHARD_BYTES)
        ),
        "max_record_bytes": opt_int("max_record_bytes"),
        "max_entry_bytes": opt_int("max_entry_bytes"),
        # chunk-level compression (draft.md:144-148): entries larger than
        # this compress in independently-decodable chunks so ranged reads
        # into one huge entry touch O(chunk) bytes (codec.read_entry_slice)
        "chunk_bytes": opt_int("chunk_bytes"),
        "partition_by": list(pb),
        "max_partition_writers": int(options.get("max_partition_writers", 64)),
    }


def commit_options(
    overwrite: bool,
    partition_overwrite_mode: str,
    partition_by: list[str],
    dataset_metadata: dict | None,
) -> bool:
    """The commit options, checked once for both writers (the DataSource
    writer and the facade ``Writer``).  Returns whether the overwrite is
    dynamic: it replaces ONLY the partitions present in the new data
    (Spark's spark.sql.sources.partitionOverwriteMode=dynamic)."""
    if partition_overwrite_mode not in ("static", "dynamic"):
        raise codec.ShardPackIOError(
            "partition_overwrite_mode must be static|dynamic, "
            f"got {partition_overwrite_mode!r}"
        )
    dynamic = overwrite and partition_overwrite_mode == "dynamic"
    if dynamic and not partition_by:
        raise codec.ShardPackIOError(
            "partition_overwrite_mode=dynamic requires partition_by"
        )
    if dataset_metadata is not None and (
        not isinstance(dataset_metadata, dict)
        or not all(isinstance(v, str) for v in dataset_metadata.values())
    ):
        raise codec.ShardPackIOError(
            "dataset_metadata must be an object of string values"
        )
    return dynamic


class ShardSink:
    """THE write path for shard files: push records in, get manifest
    entries (name, counts, pruning stats) out.  The DataSource batch
    writer, the stream sink (into its task staging dir) and the
    Spark-free writer facade all write through it.

    Unpartitioned, it is one DatasetWriter plus one _StatsTracker under
    ``basename``.  With ``partition_by`` it routes: one writer per
    distinct partition-value tuple (``{basename}-p{i:04d}``), so every
    output shard is partition-PURE (one value per partition key) and
    the manifest/marker can prune and replace by exact partition match.

    Memory stays bounded: each open writer buffers one compression
    stream and its _StatsTracker holds one shard's key hashes; the
    writer count is capped (a task fed N random partitions would
    otherwise open N handles AND emit N tiny shards — the fix at
    scale is `df.repartition(F.element_at("metadata", lit(k)))` so
    each task sees few partition values, same as Spark's dynamic
    partition inserts)."""

    def __init__(
        self,
        out_dir: str,
        basename: str,
        *,
        partition_by: list[str] | None = None,
        compression: str = "none",
        target_shard_bytes: int = codec.DEFAULT_TARGET_SHARD_BYTES,
        max_record_bytes: int | None = None,
        max_entry_bytes: int | None = None,
        max_partition_writers: int = 64,
        chunk_bytes: int | None = None,
    ):
        self.out_dir = out_dir
        self.basename = basename
        self.partition_by = partition_by or []
        self.max_partition_writers = max_partition_writers
        self._writer_kw = dict(
            compression=compression,
            target_shard_bytes=target_shard_bytes,
            max_record_bytes=max_record_bytes,
            max_entry_bytes=max_entry_bytes,
            chunk_bytes=chunk_bytes,
        )
        self._writers: dict[tuple, tuple[codec.DatasetWriter, _StatsTracker]] = {}

    def write(self, rec: "codec.Record") -> None:
        md = rec.metadata or {}
        pv = tuple(md.get(k) for k in self.partition_by)
        ent = self._writers.get(pv)
        if ent is None:
            basename = self.basename
            if self.partition_by:
                if len(self._writers) >= self.max_partition_writers:
                    raise codec.ShardPackIOError(
                        f"task saw more than max_partition_writers="
                        f"{self.max_partition_writers} distinct values of "
                        f"partition_by={self.partition_by}; repartition the "
                        "input by the partition keys first "
                        "(df.repartition(F.element_at('metadata', lit(k)))) "
                        "or raise the option"
                    )
                basename = f"{basename}-p{len(self._writers):04d}"
            w = codec.DatasetWriter(self.out_dir, basename=basename, **self._writer_kw)
            ent = self._writers[pv] = (w, _StatsTracker())
        w, tracker = ent
        w.write(rec)
        tracker.add(rec, os.path.basename(w._writer.path))

    def close(self) -> list[dict]:
        """Finish every shard; one manifest entry per shard."""
        shards: list[dict] = []
        for pv, (w, tracker) in self._writers.items():
            stats = tracker.finish()
            for r in w.close():
                name = os.path.basename(r["path"])
                entry = {"path": name, "records": r["records"], "bytes": r["bytes"]}
                if self.partition_by:
                    entry["partition"] = dict(zip(self.partition_by, pv))
                shards.append({**entry, **stats.get(name, {})})
        return shards

    def abort(self) -> None:
        """Close open handles and remove every shard file written so far
        (the in-progress one included); nothing is published."""
        be = storage.for_path(self.out_dir)
        paths: list[str] = []
        for w, _ in self._writers.values():
            paths.extend(r["path"] for r in w.results)
            if w._writer is not None:
                paths.append(w._writer.path)
                try:
                    w._writer.close()
                except Exception:
                    pass
        for p in paths:
            try:
                be.remove(p)
            except (FileNotFoundError, OSError):
                pass


# --- the commit itself -------------------------------------------------------

# Manifest checkpointing (the Delta-checkpoint analog): when an append
# chain's parts list exceeds this, the commit merges the prior state
# into ONE part and publishes [merged, new] — amortized
# O(live shards / threshold) metadata per commit, and query planning
# reads at most threshold+1 part objects instead of one per historical
# commit.  0 disables (then fold_manifest_parts is the manual bound).
DEFAULT_MANIFEST_CHECKPOINT_PARTS = 64


def _flatten_root_parts(path: str, be, root: dict) -> list[dict]:
    """The shard list a root's parts describe, dropped names excluded —
    flatten of THIS root object (not a re-read of the live pointer, so
    it composes with the single-observation CAS rule)."""
    if "shards" in root:
        return list(root["shards"])
    shards: list[dict] = []
    for rel in root.get("parts", []):
        shards.extend(json.loads(be.read_bytes(os.path.join(path, rel)))["shards"])
    dropped = set(root.get("dropped") or ())
    if dropped:
        shards = [s for s in shards if s["path"] not in dropped]
    return shards


def _prior_parts(path: str, prior: dict | None) -> list[str]:
    """The part list a new root builds on: the prior root's parts.  A v2
    inline manifest is migrated here: its shard list becomes the first
    part, once, and is never rewritten again."""
    parts = list((prior or {}).get("parts", []))
    if not parts and (prior or {}).get("shards"):
        parts = [_write_manifest_part(path, prior["shards"])]
    return parts


def publish_root(path: str, be, vid: int, **fields) -> dict | None:
    """THE publication step of every manifest commit (writers, folds,
    convert): stamp ``fields`` as snapshot ``vid``, claim
    ``_manifest/root-{vid}.json``, then write the live pointer.
    Returns the published manifest, or None when a concurrent commit
    already owns ``vid`` (each caller decides: retry, or raise).

    Archiving the root BEFORE the live swap means the root replays this
    commit's exact view forever (shard files and parts are immutable,
    until an overwrite deletes the data files and resets history).
    put_if_absent is the commit's SERIALIZATION POINT: claiming
    root-{vid} atomically makes this commit version vid.  A backend
    with no conditional create (whose lock is at best advisory) gets a
    plain atomic put — single-writer deployments only, as documented.
    Empty optional keys (``dropped``, ``partition_by``,
    ``user_metadata``) are left out of the root."""
    manifest = {
        "version": 3,
        "version_id": vid,
        "committed_at": round(time.time(), 3),
        **{
            k: v
            for k, v in fields.items()
            if v or k not in ("dropped", "partition_by", "user_metadata")
        },
    }
    arch = os.path.join(path, MANIFEST_PARTS_DIR, f"root-{vid:08d}.json")
    be.makedirs(os.path.dirname(arch))
    payload = json.dumps(manifest, indent=1, sort_keys=True).encode()
    try:
        if not be.put_if_absent(arch, payload):
            return None
    except storage.UnsupportedOperation:
        be.write_atomic(arch, payload)
    _write_manifest(path, manifest)
    return manifest


def commit_attempt(
    path: str,
    be,
    new_shards: list[dict],
    state: dict,
    *,
    overwrite: bool = False,
    dynamic_overwrite: bool = False,
    spec_basename: str | None = None,
    partition_by: list[str] | None = None,
    compression: str = "none",
    target_shard_bytes: int = codec.DEFAULT_TARGET_SHARD_BYTES,
    dataset_metadata: dict | None = None,
    manifest_checkpoint_parts: int = DEFAULT_MANIFEST_CHECKPOINT_PARTS,
) -> dict | None:
    """One CAS attempt; returns the committed manifest or None to retry.

    ``state`` carries the attempt-invariant work across retries
    ({"new_part": None, "spec_done": False}): the manifest part is
    content-stable so it is written once, and spec renames move real
    files so they must never re-run."""
    partition_by = partition_by or []
    prior, prior_vid = _observe_latest(
        path,
        # append needs only parts+totals; spec naming needs the
        # prior shard COUNT, dynamic partition overwrite needs the
        # per-shard partition values, and full overwrite the live
        # shard names it deletes
        flatten=bool(spec_basename) or overwrite or dynamic_overwrite,
    )
    spec_trash: list[str] = []
    if spec_basename and not state["spec_done"]:
        # spec renames run once (first attempt): they move real files,
        # and a CAS retry must not redo moves whose sources are gone
        state["spec_done"] = True
        seq = 0 if (overwrite or prior is None) else len(prior.get("shards", []))
        for s in sorted(new_shards, key=lambda s: s["path"]):
            spec = codec.shard_name(spec_basename, seq)
            target = os.path.join(path, spec)
            if be.exists(target):
                # spec names restart at 0 on overwrite, colliding with
                # the committed files.  NEVER clobber committed data
                # before the new manifest is durable: move the old
                # file aside (the .trash suffix hides it from the
                # *.shardpack listing), so a crash in this window
                # makes old-manifest reads fail LOUDLY on a missing
                # file instead of silently serving new bytes under
                # stale stats.  Trash is deleted after the manifest
                # swap below.
                trashed = target + f".trash-{uuid.uuid4().hex[:8]}"
                be.move(target, trashed)
                spec_trash.append(trashed)
            be.move(os.path.join(path, s["path"]), target)
            s["path"] = spec
            seq += 1
    # Log-structured commit (v3): this commit's shards go into ONE new
    # immutable part file; the root manifest lists part files and is
    # the only thing rewritten.  Appends therefore cost O(new shards)
    # no matter how many shards the dataset already holds — at 400k
    # shards a v2-style full-manifest rewrite would be ~GBs per commit.
    # The part is content-stable across CAS retries: write it once.
    if state["new_part"] is None:
        state["new_part"] = _write_manifest_part(path, new_shards)
    new_part = state["new_part"]
    dropped: list[str] = []
    if overwrite and not (dynamic_overwrite and prior is not None):
        old_names = set(live_view(path, prior).names) - {s["path"] for s in new_shards}
        if prior:
            # shards dropped by earlier dynamic overwrites are absent
            # from the visible (filtered) view but their files remain
            # for time travel — a FULL overwrite resets history, so
            # they die here with everything else
            old_names |= set(prior.get("dropped") or ()) - {
                s["path"] for s in new_shards
            }
        if dynamic_overwrite and old_names:
            # no commit log, but the directory holds visible ad-hoc
            # shards whose partitions nobody recorded: deleting them
            # (static-overwrite behavior) under a DYNAMIC overwrite
            # would silently destroy partitions the caller believed
            # untouched — refuse and direct to the adoption path
            raise codec.ShardPackIOError(
                f"dynamic partition overwrite on {path}: directory "
                "has shards but no commit log, so their partitions are "
                "unknown; run convert_to_dataset + a partitioned "
                "rewrite, or use mode('overwrite') with "
                "partition_overwrite_mode=static"
            )
        parts = [new_part]
        total = sum(s["records"] for s in new_shards)
    elif prior is None:
        # first manifest over this directory: codec-written shards
        # (the supported ad-hoc path, previously served by the plain
        # listing) must fold INTO the commit log, or the new
        # manifest-trusting reader would silently hide them forever.
        # Commit-named files (c{seq}-part-*) are EXCLUDED: they are
        # another in-flight writer's not-yet-committed output, which
        # that writer's own commit will publish — adopting them here
        # would double-count them (and break commit isolation).
        new_names = {s["path"] for s in new_shards}
        committish = re.compile(r"c\d{8}-part-")
        adhoc = [
            n
            for n in live_view(path, None).names
            if n not in new_names and not committish.match(n)
        ]
        old_names = set()
        parts = []
        total = sum(s["records"] for s in new_shards)
        if adhoc:
            entries = []
            for n in sorted(adhoc):
                full = os.path.join(path, n)
                idx = codec.read_index(full)
                entries.append(
                    {
                        "path": n,
                        "records": len(idx.offsets),
                        "bytes": be.getsize(full),
                    }
                )
            parts.append(_write_manifest_part(path, entries))
            total += sum(e["records"] for e in entries)
        parts.append(new_part)
    elif dynamic_overwrite:
        # Replace ONLY the partitions present in the new data
        # (partitionOverwriteMode=dynamic semantics): the new commit
        # appends its part like any other, and logically DROPS every
        # live shard whose partition tuple matches an incoming one via
        # the root's `dropped` list — O(replaced) metadata, no part
        # rewrites.  Files stay on disk for time travel; vacuum
        # reclaims them once no retained snapshot references them.
        old_names = set()
        new_pvs = {
            tuple((k, (s.get("partition") or {}).get(k)) for k in partition_by)
            for s in new_shards
        }
        replaced: list[str] = []
        replaced_records = 0
        # marker-committed (not-yet-folded) stream shards are just as
        # live as manifest ones: a replace that skipped them would
        # leave stale rows in the "replaced" partition.  They join
        # the dropped list (visibility is names-minus-dropped either
        # way) but NOT the record arithmetic — marker records were
        # never part of the manifest's total.
        already_dropped = set(prior.get("dropped") or ())
        marker_stats = [
            s for s in _marker_entries(path) if s["path"] not in already_dropped
        ]
        for s, counted in [(s, True) for s in prior.get("shards", [])] + [
            (s, False) for s in marker_stats
        ]:
            part = s.get("partition") or {}
            if any(k not in part for k in partition_by):
                raise codec.ShardPackIOError(
                    "dynamic partition overwrite requires every live "
                    f"shard to carry partition values for "
                    f"{partition_by}; shard {s['path']} predates "
                    "the partitioned layout — rewrite once with "
                    "mode('overwrite') + partition_by first"
                )
            if tuple((k, part.get(k)) for k in partition_by) in new_pvs:
                replaced.append(s["path"])
                if counted:
                    replaced_records += s.get("records", 0)
        parts = _prior_parts(path, prior) + [new_part]
        dropped = sorted(set(prior.get("dropped") or ()) | set(replaced))
        total = (
            prior.get("total_records", 0)
            - replaced_records
            + sum(s["records"] for s in new_shards)
        )
        if manifest_checkpoint_parts and len(parts) > manifest_checkpoint_parts:
            # checkpoint: prior state (replaced shards still listed —
            # the new root's dropped list keeps excluding them, so the
            # view is unchanged) merges into one part
            base = _flatten_root_parts(path, be, {**prior, "dropped": []})
            parts = [_write_manifest_part(path, base), new_part]
    else:
        old_names = set()
        parts = _prior_parts(path, prior) + [new_part]
        dropped = list(prior.get("dropped") or ())
        total = prior.get("total_records", 0) + sum(s["records"] for s in new_shards)
        if manifest_checkpoint_parts and len(parts) > manifest_checkpoint_parts:
            # checkpoint: the prior chain merges into ONE part; this
            # commit's own part rides separately so the content-stable
            # retry cache (state["new_part"]) stays valid
            base = _flatten_root_parts(path, be, prior)
            parts = [_write_manifest_part(path, base), new_part]
    # informational layout record (compaction reads it to preserve
    # partition purity); a full overwrite RESETS it to this commit's
    # layout, append/dynamic carry the prior keys forward
    full_reset = overwrite and not (dynamic_overwrite and prior is not None)
    # dataset-level custom metadata: merge over the prior commit's
    # (this commit's keys win); full overwrite starts fresh
    um = {} if full_reset else dict((prior or {}).get("user_metadata") or {})
    um.update(dataset_metadata or {})
    # next snapshot id: strictly 1 + the id floor from the SAME
    # observation that produced `prior` (never a fresh listing — see
    # _observe_latest for why that would lose commits).  Losing the
    # claim means a concurrent commit owns vid: return None and the
    # caller re-reads (now seeing the winner's root) and retries.
    vid = 1 + prior_vid
    manifest = publish_root(
        path,
        be,
        vid,
        compression=compression,
        target_shard_bytes=target_shard_bytes,
        parts=parts,
        total_records=total,
        dropped=dropped,
        partition_by=partition_by
        or ([] if full_reset else (prior or {}).get("partition_by")),
        user_metadata=um,
    )
    if manifest is None:
        return None
    for t in spec_trash:
        # displaced spec-named files die only after the new manifest
        # is durable (same rule as overwrite's old-file deletion)
        be.remove(t)
    if full_reset:
        # old files die only after the new manifest is durable; a crash
        # mid-deletion leaves invisible extras, cleaned next overwrite.
        # (dynamic partition overwrite never enters: it keeps history,
        # and its replaced shards stay on disk for time travel)
        for name in old_names:
            try:
                be.remove(os.path.join(path, name))
            except FileNotFoundError:
                # a dropped-list straggler vacuum already reclaimed
                pass
        # drop prior parts, orphan parts from crashed commits, and the
        # now-unreadable version history (its shard files are gone)
        keep = {os.path.basename(p) for p in parts} | {f"root-{vid:08d}.json"}
        pd = os.path.join(path, MANIFEST_PARTS_DIR)
        for f in be.listdir(pd):
            if f not in keep:
                be.remove(os.path.join(pd, f))
        for f in be.glob_names(path, "_batch_*.json"):
            be.remove(os.path.join(path, f))
        for f in be.glob_names(path, "*.tmp-*"):
            be.remove(os.path.join(path, f))
        st = os.path.join(path, STAGING_DIR)
        if be.isdir(st):
            be.remove_tree(st)
    return manifest


def publish_patch(base: str, hidden: str) -> str:
    """Atomically publish an already-written patch data directory
    (``_patches/{hidden}``, hidden from list_patches) as the next
    ``p{seq}`` logical patch; returns the logical name.

    Publication is backend-capability-driven (the pyspark-free half of
    patches.write_patch — the facade's record-level patch writers share
    it):
    - atomic rename: rename the hidden dir to p{seq} (one atomic op);
    - rename-less stores: the data stays in its hidden dir forever and
      a p{seq}.ptr pointer object names it, committed via conditional
      create (put_if_absent) — losing the CAS retries with seq+1, so
      two concurrent patch writers serialize without directory renames.

    Also GCs temp/data dirs orphaned by crashed writers (older than an
    hour: ``.tmp-*`` always, ``.d-*`` when no pointer references it,
    ``.gone-*`` compaction leftovers)."""
    be = storage.for_path(base)
    proot = os.path.join(base, PATCH_DIR)
    with _CommitLock(base, timeout=600.0):
        seq = 1 + max([int(d[1:]) for d in list_patches(base)] or [0])
        if be.atomic_rename:
            name = f"p{seq:08d}"
            be.replace(os.path.join(proot, hidden), os.path.join(proot, name))
        else:
            for _ in range(64):
                name = f"p{seq:08d}"
                ptr = os.path.join(proot, name + ".ptr")
                if be.put_if_absent(ptr, json.dumps({"dir": hidden}).encode()):
                    break
                seq += 1
            else:
                raise codec.ShardPackIOError(f"patch commit contention under {base}")
        cutoff = time.time() - 3600
        referenced = set()
        for d in be.listdir(proot):
            if d.endswith(".ptr"):
                try:
                    referenced.add(
                        json.loads(be.read_bytes(os.path.join(proot, d)))["dir"]
                    )
                except (OSError, ValueError, KeyError):
                    continue
        for d in be.listdir(proot):
            full = os.path.join(proot, d)
            stale = (
                d.startswith(".tmp-")
                or d.startswith(".gone-")  # compact_patches unlisted it
                or (d.startswith(".d-") and d not in referenced)
            )
            try:
                if stale and be.mtime(full) < cutoff:
                    be.remove_tree(full)
            except (OSError, FileNotFoundError):
                continue
    return name


def fold_manifest_parts(path: str, max_parts: int = 1) -> dict:
    """Maintenance: merge the live root's manifest parts into one.

    The log-structured commit keeps appends O(new shards) by writing one
    immutable part per commit — but the LIVE root then lists one part
    per historical commit, and every planning flatten reads them all: a
    year of hourly appends is ~8.8k part objects opened per query
    planning pass.  This rewrites the live view's shard list into ONE
    part and publishes a metadata-only commit pointing at it —
    O(live shards) metadata, zero data files touched, and the planning
    read drops back to one object.

    Archived snapshot roots keep referencing the old parts (immutable,
    so time travel replays exactly); vacuum reclaims them once their
    roots expire.  The root's ``dropped`` list rides along unchanged —
    it still hides logically-deleted STREAM-MARKER shards, and the new
    part contains no dropped manifest shards (the flatten already
    excluded them).  No-op when the live root already has at most
    ``max_parts`` parts.  Returns {"folded_parts", "version"}."""
    if max_parts < 1:
        raise ValueError(f"max_parts must be >= 1, got {max_parts}")
    be = storage.for_path(path)
    with _CommitLock(path):
        prior, prior_vid = _observe_latest(path, flatten=True)
        if prior is None:
            return {"folded_parts": 0}
        parts = prior.get("parts") or []
        if len(parts) <= max_parts:
            return {"folded_parts": 0}
        new_part = _write_manifest_part(path, prior.get("shards", []))
        vid = 1 + prior_vid
        # a lost claim under a broken/advisory lock means a concurrent
        # commit landed — rerun the fold then
        if publish_root(
            path,
            be,
            vid,
            compression=prior.get("compression", "none"),
            target_shard_bytes=prior.get(
                "target_shard_bytes", codec.DEFAULT_TARGET_SHARD_BYTES
            ),
            parts=[new_part],
            total_records=prior.get("total_records", 0),
            dropped=prior.get("dropped"),
            partition_by=prior.get("partition_by"),
            user_metadata=prior.get("user_metadata"),
        ) is None:
            raise codec.ShardPackIOError(
                f"fold_manifest_parts lost the commit race on {path}; "
                "rerun after the concurrent commit finishes"
            )
        return {"folded_parts": len(parts), "version": vid}


def commit_shards(
    path: str,
    new_shards: list[dict],
    *,
    overwrite: bool = False,
    dynamic_overwrite: bool = False,
    spec_basename: str | None = None,
    partition_by: list[str] | None = None,
    compression: str = "none",
    target_shard_bytes: int = codec.DEFAULT_TARGET_SHARD_BYTES,
    dataset_metadata: dict | None = None,
    manifest_checkpoint_parts: int = DEFAULT_MANIFEST_CHECKPOINT_PARTS,
) -> dict:
    """Publish already-written shards as one atomic commit (the full
    protocol: liveness lock around a CAS-retried commit_attempt).
    Returns the committed manifest.  Every writer commits through here:
    the facade ``Writer``, the DataSource batch writer, and so
    ``compact_dataset``.

    Every entry of ``new_shards`` is stamped with ``compression`` —
    shards in one commit share a codec by construction."""
    for s in new_shards:
        s["compression"] = compression
    be = storage.for_path(path)
    with _CommitLock(path):
        state = {"new_part": None, "spec_done": False}
        for _ in range(64):
            manifest = commit_attempt(
                path,
                be,
                new_shards,
                state,
                overwrite=overwrite,
                dynamic_overwrite=dynamic_overwrite,
                spec_basename=spec_basename,
                partition_by=partition_by,
                compression=compression,
                target_shard_bytes=target_shard_bytes,
                dataset_metadata=dataset_metadata,
                manifest_checkpoint_parts=manifest_checkpoint_parts,
            )
            if manifest is not None:
                return manifest
        raise codec.ShardPackIOError(
            f"commit contention on {path}: could not claim a "
            "snapshot id in 64 attempts"
        )
