"""Pyspark-free dataset metadata layer: manifests, snapshots, pruning.

Everything a READER needs to resolve "which shard files, at which
version, with which per-shard stats" lives here, importable without a
JVM or pyspark on the path — the module graph is stdlib + `codec` +
`storage` only.  `format.datasource` builds the Spark DataSource on top
of these exact functions (it re-imports them, so there is ONE source of
truth for commit-log semantics), and `format.reader` builds the
Spark-free training-loader facade on the same functions.

Commit-log model (see format/datasource.py's module docstring for the
writer-side protocol): a live root pointer `_shardpack_manifest.json`,
immutable part files + archived snapshot roots under `_manifest/`,
streaming micro-batch markers `_batch_*.json`, and a root-level
`dropped` list for logical deletes (dynamic partition overwrite).

Every read path answers two questions here, once.  Which shards does
the commit log make visible?  ``live_view`` resolves the newest
committed state (pointer plus newer archived roots) and reads each
stream marker once through ``_marker_entries``; ``snapshot_view`` pins
an archived version and refuses one whose shard files are gone.
Which of them could hold the probed keys?  The resulting ``ShardView``
carries the per-shard stats and the one shard predicate: ``prune`` for
the DSv2 planner's keys, prefixes and key range, ``candidates`` for the
facade's ``lookup_many``.  The DSv2 batch
planner, the stream planner and the facade ``Dataset`` all consume a
``ShardView``, so visibility and pruning cannot drift between them.
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
import re
from typing import TYPE_CHECKING

from shardpack_spark.format import codec, storage

if TYPE_CHECKING:
    from collections.abc import Iterator

MANIFEST_NAME = "_shardpack_manifest.json"
MANIFEST_PARTS_DIR = "_manifest"
PATCH_DIR = "_patches"
TOMBSTONE_KEY = "__tombstone"


def _norm_path(p: str | None) -> str | None:
    """Accept plain paths and file: URIs (SQL DDL and catalog layers hand
    the table location over as 'file:/x' or 'file:///x').  Other schemes
    (sim://, memory://, s3://, ...) pass through and select their storage
    backend (storage.for_path)."""
    if p and p.startswith("file:"):
        return storage.strip_file_uri(p)
    return p


def _load_manifest(
    path: str, version: int | None = None, flatten: bool = True
) -> dict | None:
    """The commit manifest as a flat {"shards": [...]} view: the newest
    committed state (``_observe_latest``; None when nothing is
    committed), or with ``version`` that archived snapshot.

    v2 roots inline the full shard list.  v3 roots (log-structured) list
    immutable part files under `_manifest/`, each holding the shards of
    ONE commit — appends then cost O(new shards), not O(dataset), which
    is what keeps commit time flat at 100 TB / 400k shards.

    ``version`` pins a snapshot: every batch commit archives its root as
    `_manifest/root-{id:08d}.json`, and because shard files and manifest
    parts are immutable, loading an old root reproduces exactly that
    commit's view (time travel).  History spans appends since the last
    overwrite/compaction — overwrite deletes the old data files, so it
    resets the version chain too."""
    if version is None:
        return _observe_latest(path, flatten)[0]
    be = storage.for_path(path)
    mp = os.path.join(path, MANIFEST_PARTS_DIR, f"root-{version:08d}.json")
    if not be.exists(mp):
        raise codec.ShardPackIOError(
            f"version {version} not available under {path} "
            "(never committed, or removed by a later overwrite)"
        )
    return _read_root(be, path, mp, flatten)


def _read_pointer(path: str, flatten: bool = True) -> dict | None:
    """The live pointer `_shardpack_manifest.json` as written — only a
    cache of the newest snapshot root, which may lag a commit whose
    pointer write failed after its root CAS.  Readers want
    ``_load_manifest``; ``_observe_latest`` and ``vacuum`` read this."""
    be = storage.for_path(path)
    mp = os.path.join(path, MANIFEST_NAME)
    if not be.exists(mp):
        return None
    return _read_root(be, path, mp, flatten)


def _read_root(be, path: str, mp: str, flatten: bool) -> dict:
    """One root file ``mp`` of the dataset at ``path``, its v3 parts
    flattened unless ``flatten`` is False."""
    root = json.loads(be.read_bytes(mp))
    if root.get("version", 2) >= 3 and "parts" in root:
        if not flatten:
            # metadata-only view: parts list + totals without opening a
            # single part file — what an APPEND commit needs, keeping it
            # O(new shards) even when the dataset holds 400k (a flatten
            # here would read every part just to append one)
            return dict(root)
        shards: list[dict] = []
        for rel in root["parts"]:
            part_path = os.path.join(path, rel)
            try:
                shards.extend(json.loads(be.read_bytes(part_path))["shards"])
            except FileNotFoundError:
                raise codec.ShardPackIOError(
                    f"manifest part {rel} missing under {path} "
                    "(snapshot removed by a later overwrite?)"
                ) from None
        # dynamic partition overwrite drops shards LOGICALLY: part files
        # are immutable, so the root lists the names its view excludes
        # (the files stay for older snapshots; vacuum reclaims them)
        dropped = set(root.get("dropped") or ())
        if dropped:
            shards = [s for s in shards if s["path"] not in dropped]
        return {**root, "shards": shards}
    return root


def _root_ids(path: str) -> list[int]:
    """Version ids of all archived snapshot roots (one listing, no JSON
    parsing)."""
    be = storage.for_path(path)
    return sorted(
        int(f[5:13])
        for f in be.glob_names(os.path.join(path, MANIFEST_PARTS_DIR), "root-*.json")
        if f[5:13].isdigit()
    )


def _observe_latest(path: str, flatten: bool = True) -> tuple[dict | None, int]:
    """ONE consistent observation of the newest committed state:
    (manifest | None, version-id floor for the next commit).

    On object stores two racing commits can publish their roots via
    conditional put (the real serialization point) and then write the
    live pointer out of order; the pointer may briefly lag or regress.
    'Latest' therefore resolves as max(pointer.version_id, max archived
    root id): one extra listing, zero extra JSON reads in the common
    case.

    The vid floor MUST come from the same listing that resolved the
    manifest: re-listing at claim time would let a commit observe a
    newer root id than the state it merged and claim an unclaimed
    higher vid, silently dropping the unseen commits — with one
    observation, claiming floor+1 collides (CAS) with any commit that
    landed in between, forcing the re-merge.

    The catch-up listing is BOUNDED: only roots sorting after the
    pointer's version are requested (``glob_names_after``; zero-padded
    ids make the name order the numeric order).  Roots at or below the
    pointer cannot change the answer, so skipping them is free — and on
    a dataset with a long retained history it is the difference between
    O(1) and O(lifetime commits) LIST work per observation (measured:
    the archived-root listing was the dominant drift in commit cost at
    depth 10k, tools/checkpoint_probe.py).

    ``flatten=False`` returns the metadata-only view (no part files
    opened) — sufficient for append commits."""
    m = _read_pointer(path, flatten)
    ptr = (m or {}).get("version_id", 0)
    be = storage.for_path(path)
    newer = be.glob_names_after(
        os.path.join(path, MANIFEST_PARTS_DIR),
        "root-*.json",
        f"root-{ptr:08d}.json",
    )
    ids = [int(f[5:13]) for f in newer if f[5:13].isdigit()]
    top = max(ids) if ids else 0
    if top > ptr:
        m = _load_manifest(path, top, flatten=flatten)
    return m, max(top, ptr)


def version_at(path: str, ts) -> int:
    """Newest snapshot version committed at or before ``ts`` — time
    travel by timestamp (``version=N`` already exists; this resolves N).

    ``ts`` is epoch seconds (int/float) or an ISO-8601 string
    ('2026-08-15' / '2026-08-15T10:30:00[+00:00]'; naive strings are
    UTC).  Commits record ``committed_at`` in their archived roots;
    roots predating that field fall back to the root FILE's mtime
    (storage-dependent, but archived roots are immutable so their mtime
    is their commit time wherever the store preserves it).  Raises
    ShardPackIOError when no snapshot is that old — distinguishing
    'dataset didn't exist yet' from 'give me the oldest'."""
    be = storage.for_path(path)
    if isinstance(ts, str):
        from datetime import datetime, timezone

        t = datetime.fromisoformat(ts)
        if t.tzinfo is None:
            t = t.replace(tzinfo=timezone.utc)
        ts = t.timestamp()
    d = os.path.join(path, MANIFEST_PARTS_DIR)
    best = None
    for f in be.glob_names(d, "root-*.json"):
        if not f[5:13].isdigit():
            continue
        vid = int(f[5:13])
        full = os.path.join(d, f)
        at = None
        try:
            at = json.loads(be.read_bytes(full)).get("committed_at")
        except (OSError, ValueError):
            pass
        if at is None:
            try:
                at = be.mtime(full)
            except OSError:
                continue
        if at <= ts and (best is None or vid > best):
            best = vid
    if best is None:
        raise codec.ShardPackIOError(
            f"no snapshot of {path} committed at or before {ts}"
        )
    return best


def list_versions(path: str) -> list[dict]:
    """Committed snapshots, oldest first:
    [{version, total_records, committed_at|None}]."""
    be = storage.for_path(path)
    d = os.path.join(path, MANIFEST_PARTS_DIR)
    out = []
    for f in be.glob_names(d, "root-*.json"):
        r = json.loads(be.read_bytes(os.path.join(d, f)))
        out.append(
            {
                "version": int(f[5:13]),
                "total_records": r.get("total_records", 0),
                "committed_at": r.get("committed_at"),
            }
        )
    return out


def dataset_partitions(path: str, version: int | None = None) -> list[dict]:
    """Live partitions of a partitioned dataset, metadata-only (no shard
    opened): ``[{"partition": {k: v}, "shards", "records", "bytes"}]``,
    sorted by partition tuple.  Shards without recorded partition values
    (pre-partitioning appends) aggregate under partition=None, making a
    mixed layout visible instead of invisible.

    The live view (``version=None``) includes not-yet-folded stream-batch
    marker shards — the same visibility readers have.  A ``version``
    pins the archived snapshot exactly (markers are unversioned)."""
    view = live_view(path) if version is None else snapshot_view(path, version)
    shard_list = [view.stats[n] for n in view.names if n in view.stats]
    agg: dict[tuple | None, dict] = {}
    for s in shard_list:
        part = s.get("partition")
        k = tuple(sorted(part.items())) if part is not None else None
        e = agg.setdefault(k, {"shards": 0, "records": 0, "bytes": 0})
        e["shards"] += 1
        e["records"] += s.get("records", 0)
        e["bytes"] += s.get("bytes", 0)
    return [
        {"partition": dict(k) if k is not None else None, **agg[k]}
        for k in sorted(agg, key=lambda t: (t is None, json.dumps(t)))
    ]


# --- per-shard pruning stats (key ranges, blooms, metadata skipping) --------
#
# Manifest [min_key, max_key] ranges prune point lookups only when shards
# hold disjoint key ranges (key-sorted compaction).  Hash-placed keys make
# every range span the whole keyspace and range pruning keeps everything —
# the common case for content-hash record keys at 100 TB.  A small per-shard
# Bloom filter over the exact key set restores O(1)-shard point lookups for
# ANY placement: ~10 bits/key ≈ <1% false-positive rate, so a lookup opens
# the owning shard plus at most a handful of false positives out of 400k.
# Filters ride in the commit manifest (base64; ~1.7 KiB per 1k keys).

_BLOOM_BITS_PER_KEY = 10
_BLOOM_HASHES = 7
_BLOOM_MAX_BITS = 1 << 20  # cap: 128 KiB of filter per shard

# per-shard metadata data skipping: a metadata key whose distinct values
# within a shard stay at or below this cap gets its value SET recorded in
# the manifest; `where_meta` reads skip shards whose set excludes the
# probe value.  Past the cap the key is high-cardinality in that shard
# and unprunable (absent from the map) — skipping stays sound.
_META_VALUES_CAP = 16


def _bloom_key_hashes(key: str) -> tuple[int, int]:
    """Two independent 64-bit hashes; probes i = h1 + i*h2 (double
    hashing), the standard Bloom construction."""
    d = hashlib.sha256(key.encode("utf-8")).digest()
    return int.from_bytes(d[:8], "little"), int.from_bytes(d[8:16], "little") | 1


def _bloom_build(hash_pairs: list[tuple[int, int]]) -> dict | None:
    if not hash_pairs:
        return None
    m = min(max(64, len(hash_pairs) * _BLOOM_BITS_PER_KEY), _BLOOM_MAX_BITS)
    bits = bytearray((m + 7) // 8)
    for h1, h2 in hash_pairs:
        for i in range(_BLOOM_HASHES):
            b = (h1 + i * h2) % m
            bits[b >> 3] |= 1 << (b & 7)
    return {
        "m": m,
        "k": _BLOOM_HASHES,
        "bits": base64.b64encode(bytes(bits)).decode("ascii"),
    }


def _bloom_bits(bloom: dict) -> bytes:
    """A filter's decoded bit array; b"" when its ``bits`` are missing or
    undecodable, which _bloom_maybe_contains answers True for."""
    try:
        return base64.b64decode(bloom.get("bits", ""))
    except (AttributeError, TypeError, ValueError):
        return b""


def _bloom_maybe_contains(
    bloom: dict, bits: bytes, key: str, hashes: tuple[int, int] | None = None
) -> bool:
    """False => key is definitely absent; True => might be present.
    Malformed filters answer True (pruning must stay a pure optimization).
    ``hashes`` lets planners hoist the (shard-independent) key hashes out
    of a shards x keys loop."""
    try:
        m, k = int(bloom["m"]), int(bloom["k"])
    except (KeyError, TypeError, ValueError):
        return True
    if m <= 0 or (m + 7) // 8 > len(bits):
        return True
    h1, h2 = hashes if hashes is not None else _bloom_key_hashes(key)
    for i in range(k):
        b = (h1 + i * h2) % m
        if not (bits[b >> 3] >> (b & 7)) & 1:
            return False
    return True


def _marker_entries(path: str) -> list[dict]:
    """Shard entries of the stream-batch markers (`_batch_*.json`), in
    marker order — the one tolerant marker reader.  A torn or malformed
    marker (unreadable, not JSON, an entry without a ``path``) commits
    nothing and is skipped whole.  Only the strict maintenance readers,
    ``verify_dataset`` (an auditor) and ``fold_stream_markers`` (deletes
    markers under the commit lock), parse markers themselves and raise."""
    be = storage.for_path(path)
    out: list[dict] = []
    for f in be.glob_names(path, "_batch_*.json"):
        try:
            shards = json.loads(be.read_bytes(os.path.join(path, f))).get("shards", [])
            if not all(isinstance(s["path"], str) for s in shards):
                continue
        except (OSError, ValueError, KeyError, TypeError, AttributeError):
            continue  # a torn marker commits nothing
        out.extend(shards)
    return out


_UNSET = object()


def live_view(path: str, manifest=_UNSET) -> ShardView:
    """The live view every reader plans from: ONE manifest resolution
    (the newest committed state, see _observe_latest) and ONE marker read.

    When a commit log exists (manifest and/or stream markers), only files
    it names are visible — files from failed or in-flight jobs are not.
    Ad-hoc directories without any commit log fall back to listing.
    Pass an already-observed ``manifest`` (possibly None) to avoid
    resolving it again.  Markers record the same per-shard stats the
    manifest does (the stream sink carries them through the commit
    rename), so an always-on ingest prunes exactly like a batch-written
    directory; a marker entry wins over a manifest entry of the same
    name (they cannot coexist in correct histories; markers are newer
    when they do)."""
    if manifest is _UNSET:
        manifest = _load_manifest(path)
    stats = {s["path"]: s for s in (manifest or {}).get("shards", [])}
    stats.update((s["path"], s) for s in _marker_entries(path))
    names = set(stats)
    if manifest is not None:
        # the root's logical-delete list applies to MARKER shards too: a
        # dynamic partition overwrite replaces not-yet-folded stream
        # shards by dropping their names while the marker file stays (it
        # remains the stream writer's replay guard).  Manifest shards
        # were already filtered during the flatten.
        names -= set(manifest.get("dropped") or ())
    if not names and manifest is None:
        # ad-hoc directory (codec-written, no commit log): plain listing,
        # EXCLUDING commit-named files — `c{seq}-part-*` shards only ever
        # come from a DataSource job or stream batch whose marker/manifest
        # is the visibility gate; after a crash between shard move and
        # log write they are uncommitted orphans, not data (the same rule
        # the first-commit ad-hoc adoption applies)
        committish = re.compile(r"c\d{8}-part-")
        listed = [
            n
            for p in codec.list_shards(path)
            if not committish.match(n := os.path.basename(p))
        ]
        return ShardView(None, listed, {})
    # existence filter (tolerates vacuumed/rolled-back stragglers in old
    # logs) via ONE directory listing, not O(shards) stat round-trips —
    # at 400k shards on an object store per-name stats would dominate
    # planning
    present = set(storage.for_path(path).listdir(path))
    return ShardView(manifest, sorted(n for n in names if n in present), stats)


def snapshot_view(path: str, version: int) -> ShardView:
    """A pinned snapshot: exactly the archived root's shard set (batch
    commits only — stream-marker shards are unversioned).  Raises
    ShardPackIOError when the version is not available, or when a later
    overwrite or compaction removed one of its shard files (checked
    against ONE directory listing)."""
    m = _load_manifest(path, version)
    stats = {s["path"]: s for s in m.get("shards", [])}
    present = set(storage.for_path(path).listdir(path))
    missing = sorted(n for n in stats if n not in present)
    if missing:
        raise codec.ShardPackIOError(
            f"version {version}: shard(s) {missing[:3]} removed "
            "by a later overwrite/compaction"
        )
    return ShardView(m, sorted(stats), stats)


def _names_matching_meta(
    names: list[str],
    stats: dict[str, dict],
    where_meta: dict | None,
    where_meta_range: dict | None,
) -> list[str]:
    """Metadata data skipping over shard names, shared by the batch and
    stream readers.

    ``where_meta``: drop shards whose recorded value set for a probed key
    EXCLUDES the probe value; a PARTITION-pure shard's recorded value is
    exact (writer-enforced), so equality prunes even where value sets
    overflow their cap.  Keys absent from a shard's stats are
    high-cardinality or untracked — unprunable, kept.

    ``where_meta_range``: zone maps — drop shards whose recorded
    [min,max] for a probed key cannot intersect the probe interval.
    Two domains, dispatched on the recorded JSON type: NUMERIC (float
    bounds; probe bounds must parse as numbers) and STRING
    (lexicographic bounds — ISO dates/timestamps order correctly; probe
    bounds must be strings).  A domain mismatch between probe and
    record keeps the shard (unprunable): numeric order and
    lexicographic order disagree, so cross-domain pruning would be
    unsound.

    Both are PURE optimizations: the caller's row-level filter still
    applies, so semantics never depend on pruning."""
    if where_meta:

        def meta_may_match(name: str) -> bool:
            s = stats.get(name, {})
            part = s.get("partition")
            mv = s.get("meta_values")
            for k, v in where_meta.items():
                if part and k in part:
                    if part[k] != v:
                        return False
                    continue
                if mv and k in mv and v not in mv[k]:
                    return False
            return True

        names = [n for n in names if meta_may_match(n)]
    if where_meta_range:

        def range_may_match(name: str) -> bool:
            mr = stats.get(name, {}).get("meta_ranges")
            if not mr:
                return True
            for k, bounds in where_meta_range.items():
                if k not in mr:
                    continue
                s_lo, s_hi = mr[k]
                lo, hi = bounds[0], bounds[1]
                if isinstance(s_lo, str):
                    # lexicographic domain: only string probes compare
                    if lo is not None and isinstance(lo, str) and s_hi < lo:
                        return False
                    if hi is not None and isinstance(hi, str) and s_lo > hi:
                        return False
                    continue
                try:
                    if lo is not None and s_hi < float(lo):
                        return False
                    if hi is not None and s_lo > float(hi):
                        return False
                except (TypeError, ValueError):
                    continue  # string probe vs numeric record: keep
            return True

        names = [n for n in names if range_may_match(n)]
    return names


def _str_range(key: str, lo, hi) -> bool:
    """Does the ``where_meta_range`` probe ``key: (lo, hi)`` compare
    lexicographically?  A bound is in the STRING domain when it is a str
    that does not parse as a float — ISO dates and timestamps, sortable
    ids; numeric strings stay numeric for back-compatibility with
    numeric zone-map probes.  Bounds that mix the two domains are
    ambiguous and raise ShardPackIOError."""
    domains = set()
    for b in (lo, hi):
        if b is not None:
            try:
                float(b)
                domains.add(False)
            except (TypeError, ValueError):
                domains.add(isinstance(b, str))
    if len(domains) > 1:
        raise codec.ShardPackIOError(
            f"where_meta_range[{key!r}]: bounds mix numeric and "
            f"string domains ({lo!r}, {hi!r})"
        )
    return domains == {True}


class ShardView:
    """What a reader sees and which shards it may skip.

    ``names`` are the sorted visible shard names, ``stats`` maps a name
    to its per-shard manifest/marker entry (bytes, records, key range,
    Bloom filter, meta value sets and ranges, partition values) and
    ``manifest`` is the root they were resolved from (None without one).
    Build it with ``live_view`` or ``snapshot_view``; the DSv2 batch and
    stream planners build one per planning call, a facade ``Dataset``
    one per open, and each Bloom filter's bits are decoded at most once
    per view.

    Key pruning (``prune``, ``candidates``) is a PURE optimization:
    shards without stats, without a key range, or with a malformed or
    undecodable filter keep every key."""

    def __init__(self, manifest: dict | None, names: list[str], stats: dict[str, dict]):
        self.manifest = manifest
        self.names = names
        self.stats = stats
        self._bits: dict[str, bytes] = {}

    def sizes(self, names) -> dict[str, tuple[int, int | None]]:
        """name -> (bytes, records|None) for each of ``names`` whose
        entry records its byte size."""
        out: dict[str, tuple[int, int | None]] = {}
        for n in names:
            s = self.stats.get(n) or {}
            if isinstance(s.get("bytes"), int):
                rec = s.get("records")
                out[n] = (s["bytes"], rec if isinstance(rec, int) else None)
        return out

    def prune(self, names, keys=(), prefixes=(), lo=None, hi=None) -> list[str]:
        """``names`` whose shards may hold a record the key predicate
        accepts.  ``keys`` and ``prefixes`` form a UNION — never prune a
        shard any one of them could touch, matching parquet partition
        pruning — and the key range is a separate CONJUNCT (Spark pushes
        AND-ed filters): ``lo`` / ``hi`` are ``(bound, inclusive)`` or
        None, and a shard survives iff [min_key, max_key] intersects
        them; bound exclusivity prunes the exactly-touching shard too."""
        if not keys and not prefixes and lo is None and hi is None:
            return list(names)
        # hoisted: a plan costs O(shards x keys) bit probes, not sha256es
        hashes = {k: _bloom_key_hashes(k) for k in keys}
        kept = []
        for name in names:
            st = self.stats.get(name)
            if not st:
                kept.append(name)  # unstatted shard: conservative
                continue
            kmin, kmax = st.get("min_key"), st.get("max_key")
            ranged = kmin is not None and kmax is not None
            # keys with prefix p live in [p, p + U+10FFFF...); overlap
            # with [min_key, max_key] iff max_key >= p and min_key has
            # no greater prefix.  Blooms hash whole keys — no help here.
            point_ok = (
                (not keys and not prefixes)
                or any(self._may_hold(name, st, k, hashes[k]) for k in keys)
                or any(not ranged or (kmax >= p and kmin[: len(p)] <= p) for p in prefixes)
            )
            if not point_ok:
                continue
            if ranged and lo is not None and (kmax < lo[0] or (kmax == lo[0] and not lo[1])):
                continue
            if ranged and hi is not None and (kmin > hi[0] or (kmin == hi[0] and not hi[1])):
                continue
            kept.append(name)
        return kept

    def candidates(self, names, keys) -> Iterator[tuple[str, set[str]]]:
        """(name, the subset of ``keys`` its shard may hold) for each of
        ``names``, in order, whose subset is not empty."""
        hashes = {k: _bloom_key_hashes(k) for k in keys}
        for name in names:
            st = self.stats.get(name) or {}
            cand = {k for k in keys if self._may_hold(name, st, k, hashes[k])}
            if cand:
                yield name, cand

    def _may_hold(self, name: str, st: dict, key: str, hashes: tuple[int, int]) -> bool:
        """The one per-key probe: [min_key, max_key] range, then Bloom."""
        kmin, kmax = st.get("min_key"), st.get("max_key")
        if kmin is not None and kmax is not None and not kmin <= key <= kmax:
            return False
        bloom = st.get("bloom")
        if not bloom:
            return True
        bits = self._bits.get(name)
        if bits is None:
            bits = self._bits[name] = _bloom_bits(bloom)
        return _bloom_maybe_contains(bloom, bits, key, hashes)


# --- patches (side-car layout resolution; pyspark-free) ---------------------


def list_patches(base: str) -> list[str]:
    """Logical patch names in application order.

    Two publication styles coexist: directory-named patches
    (``p{seq}/``, the atomic-rename path) and pointer-committed patches
    (``p{seq}.ptr`` naming a hidden data dir — the rename-less path, see
    patches.write_patch).  Both list as the logical ``p{seq}`` name;
    resolve a name to its data directory with ``patch_path``."""
    root = os.path.join(base, PATCH_DIR)
    be = storage.for_path(base)
    names = set()
    for d in be.listdir(root):
        if d.startswith("p") and d[1:].isdigit() and be.isdir(os.path.join(root, d)):
            names.add(d)
        elif d.startswith("p") and d.endswith(".ptr") and d[1:-4].isdigit():
            names.add(d[:-4])
    return sorted(names)


def patch_path(base: str, name: str) -> str:
    """Data directory of the logical patch ``name``."""
    root = os.path.join(base, PATCH_DIR)
    be = storage.for_path(base)
    ptr = os.path.join(root, name + ".ptr")
    if be.exists(ptr):
        return os.path.join(root, json.loads(be.read_bytes(ptr))["dir"])
    return os.path.join(root, name)
