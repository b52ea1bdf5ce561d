"""Python DataSource V2 for the ShardPack format (Spark >= 4.0).

    register(spark)  # also records the session's cores for read planning
    df = spark.read.format("shardpack").load("/path/to/dataset")
    df.write.format("shardpack").mode("append").save("/path/to/dataset")
    stream = spark.readStream.format("shardpack").load("/path/to/dataset")

Row schema (SURVEY.md §1.3):
    key       STRING
    metadata  MAP<STRING,STRING>
    entries   ARRAY<STRUCT<file_name STRING, content_type STRING,
                           encoding STRING, size BIGINT, data BINARY>>

Scale mapping (reference semantics -> Spark execution):
- read tasks are sized by bytes per core, Spark's FilePartition rule:
  max_split = min(split_target_bytes, max(4 MiB open cost, sum(shard
  bytes + open cost) / defaultParallelism)).  Shards over max_split split
  into record ranges (manifest record counts, or the EOF offset table,
  draft.md:124-127); the rest pack, in name order, into grouped
  partitions of at most max_split — so ~1 MB shards cost ~one task per
  core, not one Python worker launch each, and a 1000-executor cluster
  gets even work regardless of shard sizing.  defaultParallelism is the
  one of the session that ran register(spark), for batch and stream
  reads alike.  A class registered directly with spark.dataSource.register
  plans for the planning worker's CPUs instead, and reaches workers that
  cannot import the package only after shardpack_spark.ship_package(spark)
  has shipped it to the context; register(spark) does both
- key filters prune partitions BEFORE any shard is opened (the bucket
  index access path, src/bucket.rs:147-169, as partition pruning) using
  two manifest stats per shard: the [min,max] key range (decisive when
  shards hold disjoint sorted ranges — equality, IN, prefix, AND the
  >/>=/</<=-comparison conjuncts of a key-range scan all prune through
  it) and a ~10-bits/key Bloom filter over the exact key set (decisive
  for hash-placed keys, where every range overlaps); filters are also
  re-applied by Spark, so pruning is purely an optimization
- write side: one DataWriter per task, rolling shards at
  `target_shard_bytes` (src/shard/config.rs:1); the driver-side commit()
  writes a dataset manifest with per-shard stats

Consistency model (single logical writer per dataset directory):
- every shard streams into a `.inprogress` temp name and is renamed to
  `*.shardpack` only when its footer is durable, so a killed task can
  never leave a footer-less file that a reader would try to parse
- shard names carry a monotonic commit-sequence prefix `c{seq:08d}-`
  (batch jobs: 1 + max existing seq, chosen driver-side; streaming
  batches: the micro-batch id), the spec's sequential-naming intent
  (draft.md:23-30) lifted to commit granularity
- readers trust the commit log when one exists: the union of the
  manifest's shard list and the `_batch_*.json` marker files.  Files not
  named there (e.g. a task that finished before its job failed) are
  invisible.  Directories with no manifest/markers — shards written
  directly via the codec — fall back to a plain listing
- the manifest is log-structured (v3): each commit writes ONE immutable
  part file under `_manifest/` and atomically swaps a small root that
  lists the parts — appends cost O(new shards), not O(dataset), so
  commit time stays flat at 400k-shard scale; v2 inline manifests are
  still read and migrate to parts on their first append
- the root is swapped atomically (tmp file + rename); on overwrite the
  previous files are deleted only AFTER the new root is durable, so a
  crash anywhere leaves a readable dataset (extra invisible files at
  worst, self-healed by the next overwrite commit)

Options:
    compression         none|gzip|lz4|zstd|snappy     (write; default none)
    target_shard_bytes  int                           (write; default 256 MiB)
    partition_by        "k1,k2"  (write; route records into partition-PURE
                                  shards keyed by these METADATA keys.
                                  Flat-directory hive partitioning: values
                                  ride per-shard in the manifest, giving
                                  exact where_meta pruning and dynamic
                                  overwrite; layout recorded at the root
                                  for compaction)
    partition_overwrite_mode  static|dynamic  (write; with mode=overwrite
                                  and partition_by, `dynamic` replaces ONLY
                                  the partitions present in the new data —
                                  Spark's partitionOverwriteMode semantics.
                                  Replaced shards are dropped logically
                                  (root `dropped` list), files retained for
                                  time travel until vacuum)
    max_partition_writers  int   (write; default 64 — cap on per-task open
                                  partition writers; repartition by the
                                  partition keys to stay under it)
    manifest_checkpoint_parts  int  (write; default 64 — when the commit
                                  log's parts chain exceeds this, the
                                  commit merges prior state into ONE part
                                  (Delta-checkpoint analog), bounding
                                  planning reads on long append chains;
                                  0 disables, fold_manifest_parts is the
                                  manual equivalent)
    verify_checksums    true|false                    (read; default true)
    split_target_bytes  int         (read; default 128 MiB — the largest
                                     read task; smaller when the dataset's
                                     bytes per core are, see Scale mapping)
    skip_payload        true|false  (read; entry headers without payload
                                     bytes — the metadata-only access path,
                                     src/bucket.rs:185-188)
    entry_names         json list   (read; modality-selective decode — only
                                     the named entries' payloads are
                                     decompressed, others come back
                                     header-only with data NULL and their
                                     true size; a caption-only job over
                                     caption+image records pays zero image
                                     decompression)
    metadata_only       true|false  (read; key+metadata only, entries NULL;
                                     payload-heavy shards are read with
                                     per-record seeks, payloads never leave
                                     the disk)
    timestamp_as_of     float|ISO   (read; time travel by TIMESTAMP —
                                     resolves to the newest snapshot
                                     committed at or before the instant
                                     via version_at(); an explicit
                                     `version` wins if both are set)
    version             int         (read; pin an archived snapshot — every
                                     batch commit saves its root, so version
                                     N replays exactly that commit's view;
                                     history spans appends since the last
                                     overwrite/compaction)
    where_meta          json object (read; {meta_key: value} data skipping
                                     via per-shard low-cardinality value
                                     sets; pruning only — pair with a row
                                     filter, as read_shardpack does)
    only_shards         json list   (read; explicit shard scoping — set by
                                     read_version_delta)
    with_shard_column   true|false  (read; append a `_shard` string column
                                     naming the shard file each record came
                                     from — parquet's _metadata.file_path
                                     analog for provenance/debug; drop it
                                     before writing back)
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import uuid
from dataclasses import dataclass
from typing import TYPE_CHECKING

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    StringStartsWith,
    WriterCommitMessage,
)
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from shardpack_spark import ship_package
from shardpack_spark.format import codec, storage
from shardpack_spark.format.stream_offsets import CappedListingOffsets
from shardpack_spark.format.commit import (  # noqa: F401  (re-exported:
    # the writer-side commit protocol lives pyspark-free in format.commit
    # so the Spark-free writer facade shares ONE implementation)
    DEFAULT_MANIFEST_CHECKPOINT_PARTS,
    STAGING_DIR,
    ShardSink,
    _CommitLock,
    _StatsTracker,
    _next_commit_seq,
    _prior_parts,
    _write_manifest_part,
    commit_shards,
    fold_manifest_parts,
    publish_root,
    sink_options,
)
from shardpack_spark.format.writer import (  # noqa: F401
    # extension -> MIME map shared with the Spark-free pack_files facade
    INGEST_CONTENT_TYPES as _INGEST_CONTENT_TYPES,
)
from shardpack_spark.format.manifest import (  # noqa: F401  (re-exported:
    # manifest/pruning logic lives pyspark-free in format.manifest so the
    # Spark-free reader facade shares ONE implementation; existing callers
    # keep importing these names from here)
    MANIFEST_NAME,
    MANIFEST_PARTS_DIR,
    _load_manifest,
    _marker_entries,
    _names_matching_meta,
    _norm_path,
    _observe_latest,
    _read_pointer,
    _root_ids,
    _str_range,
    ShardView,
    dataset_partitions,
    list_versions,
    live_view,
    snapshot_view,
    version_at,
)

if TYPE_CHECKING:
    from collections.abc import Iterator, Sequence


SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("metadata", MapType(StringType(), StringType())),
        StructField(
            "entries",
            ArrayType(
                StructType(
                    [
                        StructField("file_name", StringType()),
                        StructField("content_type", StringType()),
                        StructField("encoding", StringType()),
                        StructField("size", LongType()),
                        StructField("data", BinaryType()),
                    ]
                )
            ),
        ),
    ]
)


@dataclass
class ShardPartition(InputPartition):
    path: str
    offsets: list[int] | None  # None -> whole shard (unless rec_range set)
    # [start, end) RECORD index range, resolved to byte offsets by the
    # EXECUTOR (one EOF-index tail read in the task that owns the shard).
    # Planning oversized shards then needs only manifest metadata — the
    # driver never opens a shard file, which at 400k shards on an object
    # store is the difference between metadata-speed planning and O(n)
    # remote reads.
    rec_range: tuple[int, int] | None = None
    # Bin of small shards: when set, this ONE task reads every listed
    # shard whole (path == group[0]).  The inverse of record-range
    # splitting — _plan_partitions packs shards up to its bytes-per-core
    # max_split, so 20 ~1 MB shards cost ~parallelism Python-worker task
    # launches per scan, not 20 (a launch reaches Python code after ~25 ms
    # on a 4-core host with a reused, zip-guarded worker, ~0.3 s unguarded;
    # tools/worker_floor_probe.py measures both).
    group: list[str] | None = None


# Spark's spark.sql.files.openCostInBytes default: the bytes one more
# file (here: one more shard, one more Python task input) is worth
OPEN_COST = 4 * 1024 * 1024


def _plan_partitions(
    path: str,
    names: Sequence[str],
    split_target: int,
    stats: dict[str, tuple[int, int | None]] | None = None,
    parallelism: int | None = None,
) -> list[ShardPartition]:
    """Size read tasks by bytes per core, Spark's FilePartition rule:
    max_split = min(split_target, max(OPEN_COST, sum(size + OPEN_COST)
    // parallelism)), parallelism being the registering session's
    defaultParallelism (ShardPackDataSource.parallelism, set by register())
    else this process's CPUs.  A shard over max_split splits into ceil(size /
    max_split) near-equal record ranges; the rest next-fit, in name
    order, into ``group`` bins costing (size + OPEN_COST each) at most
    max_split, so many ~MB shards cost ~parallelism Python tasks, not one
    each.  A bin also closes early while the shards left are needed one
    per task to reach min(#shards, parallelism) tasks.

    ``stats`` carries manifest/marker-recorded (bytes, records) pairs: a
    committed dataset plans with ZERO per-shard I/O — sizes decide the
    split count, record counts produce [start, end) record ranges, and
    the owning EXECUTOR resolves ranges to byte offsets with one
    EOF-index read.  The driver opens a shard only for log-less ad-hoc
    directories: one pass stats each shard and reads the offset table of
    any large enough to split."""
    be = storage.for_path(path)
    stats = stats or {}
    names = sorted(names)
    parallelism = max(1, parallelism or os.cpu_count() or 1)
    # committed datasets plan from pure metadata (stats has every name);
    # log-less ad-hoc dirs probe shards in an I/O thread pool, the
    # reference's parallel index build (R8, src/index/bucket.rs:85-117)
    needs_io = any(None in stats.get(n, (None, None)) for n in names)

    def probe(name: str) -> tuple[int, list[int] | None]:
        # one I/O pass: a shard with no recorded count that may split (as
        # max_split >= min(split_target, OPEN_COST)) reads its offset table
        sp = os.path.join(path, name)
        size, records = stats.get(name, (None, None))
        size = be.getsize(sp) if size is None else size
        may_split = records is None and size > min(split_target, OPEN_COST)
        return size, codec.read_index(sp).offsets if may_split else None

    if needs_io and len(names) > 8:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(16, len(names))) as ex:
            probed = dict(zip(names, ex.map(probe, names)))
    else:
        probed = {n: probe(n) for n in names}
    sizes = {n: s for n, (s, _) in probed.items()}
    total_cost = sum(sizes.values()) + OPEN_COST * len(names)
    max_split = min(split_target, max(OPEN_COST, total_cost // parallelism))

    def ranges(name: str) -> list[ShardPartition]:
        sp = os.path.join(path, name)
        offsets = probed[name][1]
        n = len(offsets) if offsets is not None else stats[name][1]
        k = min(n, -(-sizes[name] // max_split))
        cuts = [n * i // k for i in range(k + 1)] if k > 0 else []
        return [
            ShardPartition(sp, offsets[lo:hi])
            if offsets is not None
            else ShardPartition(sp, None, rec_range=(lo, hi))
            for lo, hi in zip(cuts, cuts[1:])
        ]

    split = {n: ranges(n) for n in names if sizes[n] > max_split}
    whole_left = len(names) - len(split)
    # bins needed so the plan has >= min(#shards, parallelism) tasks
    floor = min(whole_left, parallelism - sum(len(r) for r in split.values()))
    slots: list = []  # range partitions and bin member lists, in name order
    cur: list[str] | None = None
    cur_cost = opened = 0
    for name in names:
        if name in split:
            slots.extend(split[name])
            cur = None
            continue
        cost = sizes[name] + OPEN_COST
        if cur is None or cur_cost + cost > max_split or opened + whole_left <= floor:
            cur, cur_cost, opened = [], 0, opened + 1
            slots.append(cur)
        cur.append(os.path.join(path, name))
        cur_cost += cost
        whole_left -= 1
    return [
        s
        if isinstance(s, ShardPartition)
        else ShardPartition(s[0], None, group=s if len(s) > 1 else None)
        for s in slots
    ]


def _arrow_batches(
    partition: ShardPartition,
    verify: bool,
    skip_payload: bool = False,
    metadata_only: bool = False,
    shard_column: bool = False,
    entry_names: "frozenset[str] | None" = None,
):
    """Yield Arrow RecordBatches (not rows): bulk columnar transfer to the
    JVM instead of per-row pickling — the difference between a Python-speed
    scan and an Arrow-speed scan on binary-heavy data."""
    if partition.group:
        # coalesced small shards: one task streams each member whole
        for member in partition.group:
            yield from _arrow_batches(
                ShardPartition(member, None),
                verify,
                skip_payload,
                metadata_only,
                shard_column,
                entry_names,
            )
        return
    if partition.offsets is None and partition.rec_range is not None:
        # record-range split planned from manifest metadata alone: THIS
        # task resolves its range with one EOF-index read of the shard
        # it is about to consume anyway, then streams the contiguous
        # byte span in a single ranged read
        lo, hi = partition.rec_range
        idx = codec.read_index(partition.path)
        lo, hi = min(lo, len(idx.offsets)), min(hi, len(idx.offsets))
        record_iter = (
            codec.iter_records_span(
                partition.path,
                idx.offsets[lo],
                idx.offsets[hi] if hi < len(idx.offsets) else idx.index_start,
                hi - lo,
                verify_checksums=verify,
                skip_payload=skip_payload or metadata_only,
                skip_entries=metadata_only,
                entry_names=entry_names,
            )
            if hi > lo
            else iter(())
        )
    else:
        record_iter = codec.iter_records(
            partition.path,
            verify_checksums=verify,
            offsets=partition.offsets,
            skip_payload=skip_payload or metadata_only,
            skip_entries=metadata_only,
            entry_names=entry_names,
        )
    yield from codec.arrow_batches(
        record_iter,
        skip_payload,
        metadata_only,
        os.path.basename(partition.path) if shard_column else None,
        entry_names,
    )


class ShardPackReader(DataSourceReader):
    """Base reader WITHOUT pushFilters — Spark raises if a reader defines
    pushFilters while spark.sql.python.filterPushdown.enabled is false, so
    the pruning variant below is chosen only when the conf is on."""

    def __init__(self, options: dict, parallelism: int | None = None):
        self.path = _norm_path(options.get("path"))
        if not self.path:
            raise codec.ShardPackIOError("shardpack reader requires a path")
        self.verify = str(options.get("verify_checksums", "true")).lower() == "true"
        self.split_target = int(options.get("split_target_bytes", 128 * 1024 * 1024))
        self.parallelism = parallelism  # cores to plan for; None: this process's
        self.skip_payload = str(options.get("skip_payload", "false")).lower() == "true"
        self.metadata_only = str(options.get("metadata_only", "false")).lower() == "true"
        # modality-selective decode: JSON list of entry file names whose
        # payloads to decompress; other entries come back header-only
        # (data NULL like skip_payload, true size) — a text-only job over
        # image+caption records pays zero image decompression
        en = options.get("entry_names")
        self.entry_names: "frozenset[str] | None" = (
            frozenset(json.loads(en)) if en else None
        )
        self.shard_column = str(options.get("with_shard_column", "false")).lower() == "true"
        v = options.get("version")
        self.version = int(v) if v is not None and str(v) != "" else None
        # time travel by TIMESTAMP: resolve the newest snapshot committed
        # at or before the given instant (epoch seconds or ISO-8601) to a
        # version pin; an explicit version option wins when both are set
        tso = options.get("timestamp_as_of")
        if tso not in (None, "") and self.version is None:
            try:
                tso = float(tso)
            except (TypeError, ValueError):
                pass  # ISO string: version_at parses it
            self.version = version_at(self.path, tso)
        # explicit shard scoping (set by read_version_delta): a JSON list
        # of shard names to read instead of the whole visible set
        only = options.get("only_shards")
        self.only_shards = set(json.loads(only)) if only else None
        # deterministic shard sampling for estimate-from-a-fraction scans
        # (profile a 100 TB corpus by reading ~1% of its shards): a shard
        # is kept iff sha256(name) mod 1e6 < fraction*1e6 — stable across
        # runs and processes, independent of listing order
        ss = options.get("shard_sample")
        self.shard_sample = float(ss) if ss is not None and str(ss) != "" else None
        if self.shard_sample is not None and not 0.0 < self.shard_sample <= 1.0:
            raise codec.ShardPackIOError(
                f"shard_sample must be in (0, 1], got {self.shard_sample}"
            )
        wm = options.get("where_meta")
        self.where_meta: dict[str, str] | None = json.loads(wm) if wm else None
        # {meta_key: [lo|null, hi|null]} inclusive numeric bounds probed
        # against the manifest's per-shard meta_ranges zone maps
        wmr = options.get("where_meta_range")
        self.where_meta_range: dict | None = json.loads(wmr) if wmr else None
        # head-of-scan planning cut: stop planning shards once manifest
        # record counts cover N.  Conservative (unknown counts add 0), so
        # the plan always holds >= N records when they exist; the exact
        # row cap is read_shardpack's .limit(N) on top.
        lr = options.get("limit_records")
        self.limit_records: int | None = int(lr) if lr else None
        self._key_filters: list[str] = []
        self._prefix_filters: list[str] = []
        # conjunctive key-range constraint from </>= comparisons on `key`:
        # (bound, inclusive) — tightest lower / upper bound pushed so far
        self._range_lo: tuple[str, bool] | None = None
        self._range_hi: tuple[str, bool] | None = None

    def partitions(self) -> Sequence[ShardPartition]:
        if self.version is not None:
            view = snapshot_view(self.path, self.version)
            present = set(storage.for_path(self.path).listdir(self.path))
            missing = [n for n in view.names if n not in present]
            if missing:
                raise codec.ShardPackIOError(
                    f"version {self.version}: shard(s) {missing[:3]} removed "
                    "by a later overwrite/compaction"
                )
        else:
            view = live_view(self.path)
        names = view.names
        if self.only_shards is not None:
            names = [n for n in names if n in self.only_shards]
        if self.shard_sample is not None and self.shard_sample < 1.0:
            cut = int(self.shard_sample * 1_000_000)
            names = [
                n
                for n in names
                if int.from_bytes(
                    hashlib.sha256(n.encode("utf-8")).digest()[:8], "little"
                )
                % 1_000_000
                < cut
            ]
        if self.where_meta or self.where_meta_range:
            names = _names_matching_meta(
                names, view.stats, self.where_meta, self.where_meta_range
            )
        if not names:
            if view.manifest is not None or self.only_shards is not None:
                # a committed-but-empty dataset (all rows tombstoned and
                # compacted, a columnar column with no records, an empty
                # delta) is a valid EMPTY relation, not an error; Spark
                # requires >=1 partition (it invokes read(None) on an
                # empty plan), so hand back a sentinel read() drops
                return [ShardPartition("", [])]
            raise codec.ShardPackIOError(f"no .shardpack files under {self.path}")
        names = view.prune(
            names, self._key_filters, self._prefix_filters, self._range_lo, self._range_hi
        )
        mstats = view.sizes(names)
        tail_k: int | None = None  # records the last kept shard is cut to
        if self.limit_records and self.limit_records > 0 and names:
            # truncate planning at the first prefix of the (pruned,
            # name-ordered) shard sequence whose recorded record counts
            # reach N — a 10^5-shard dataset previews with a 1-shard
            # plan.  R21's "reads only needed offsets": the tail shard
            # plans a [0, k) record range the executor resolves to byte
            # offsets with one EOF-index read.
            kept_n, need = [], self.limit_records
            for n in names:
                kept_n.append(n)
                rec = mstats.get(n, (None, None))[1]
                if rec is not None:
                    if need - rec <= 0:
                        if need < rec:
                            tail_k = need
                        need = 0
                        break
                    need -= rec
            names = kept_n
        if tail_k is None:
            return _plan_partitions(
                self.path, names, self.split_target, mstats, self.parallelism
            )
        # the cut shard plans on its own, outside the bins, so its [0, k)
        # record range survives coalescing (its record count is known, so
        # it plans whole or as record ranges, never as offsets)
        head, tail = (
            _plan_partitions(self.path, ns, self.split_target, mstats, self.parallelism)
            for ns in (names[:-1], names[-1:])
        )
        return head + [
            ShardPartition(p.path, None, rec_range=(lo, min(hi, tail_k)))
            for p in tail
            for lo, hi in [p.rec_range or (0, tail_k)]
            if lo < tail_k
        ]

    def read(self, partition: ShardPartition):
        storage.guard_zip_directory_reloads()
        if partition is None or not partition.path:
            return  # empty-delta sentinel
        yield from _arrow_batches(
            partition,
            self.verify,
            self.skip_payload,
            self.metadata_only,
            self.shard_column,
            self.entry_names,
        )


class ShardPackPruningReader(ShardPackReader):
    """Reader with key-filter pushdown for manifest-based shard pruning
    (the bucket-index access path, src/bucket.rs:147-169): point/IN/prefix
    probes prune via [min,max] ranges + per-shard blooms, and key-range
    comparisons (>, >=, <, <=) prune via range intersection — decisive on
    sorted / range-partitioned layouts (compact_dataset(sort_by_key=True)),
    where a key-range scan opens only the shards whose ranges overlap."""

    def pushFilters(self, filters):  # noqa: N802 (Spark API name)
        """Record key equality/prefix/range filters; all filters are
        returned so Spark re-applies them — pruning is a strict
        optimization, mirroring parquet partition pruning."""
        for f in filters:
            if isinstance(f, EqualTo) and tuple(f.attribute) == ("key",):
                self._key_filters.append(f.value)
            elif isinstance(f, In) and tuple(f.attribute) == ("key",):
                # key IN (...) — each value prunes like its own EqualTo;
                # the union of candidates keeps every shard any value
                # could live in (multi-key lookups, inverted-index reads)
                self._key_filters.extend(v for v in f.value if v is not None)
            elif isinstance(f, StringStartsWith) and tuple(f.attribute) == ("key",):
                self._prefix_filters.append(f.value)
            elif (
                isinstance(f, (GreaterThan, GreaterThanOrEqual))
                and tuple(f.attribute) == ("key",)
                and isinstance(f.value, str)
            ):
                # key > / >= v: keep the TIGHTEST lower bound (largest
                # value; at equal values the exclusive form is stricter)
                incl = isinstance(f, GreaterThanOrEqual)
                cur = self._range_lo
                if cur is None or f.value > cur[0] or (f.value == cur[0] and not incl):
                    self._range_lo = (f.value, incl)
            elif (
                isinstance(f, (LessThan, LessThanOrEqual))
                and tuple(f.attribute) == ("key",)
                and isinstance(f.value, str)
            ):
                incl = isinstance(f, LessThanOrEqual)
                cur = self._range_hi
                if cur is None or f.value < cur[0] or (f.value == cur[0] and not incl):
                    self._range_hi = (f.value, incl)
        return filters


@dataclass
class ShardCommitMessage(WriterCommitMessage):
    shards: list[dict]


def _batches_to_records(iterator) -> Iterator[codec.Record]:
    """Arrow RecordBatches -> codec.Record stream.

    The Arrow write path (DataSourceArrowWriter, Spark 4) hands tasks
    columnar batches instead of pickled Rows; one `to_pylist()` per
    column materializes plain Python objects (bytes/str/tuples) in C,
    which profiles ~4x faster than per-row Row unpickling on
    binary-heavy data."""
    for batch in iterator:
        keys = batch.column("key").to_pylist()
        metas = batch.column("metadata").to_pylist()
        entry_lists = batch.column("entries").to_pylist()
        for key, meta, ents in zip(keys, metas, entry_lists):
            entries = [
                codec.FileEntry(
                    file_name=e["file_name"] or "",
                    content_type=e["content_type"] or "application/octet-stream",
                    data=bytes(e["data"]) if e["data"] is not None else b"",
                    encoding="none",
                )
                for e in (ents or [])
            ]
            yield codec.Record(
                key=key or "", entries=entries, metadata=dict(meta or {})
            )


class ShardPackWriter(DataSourceArrowWriter):
    def __init__(self, options: dict, overwrite: bool):
        self.path = _norm_path(options.get("path"))
        if not self.path:
            raise codec.ShardPackIOError("shardpack writer requires a path")
        self.overwrite = overwrite
        # Partitioned layout (``partition_by``): route records to
        # partition-pure shards keyed by these METADATA keys (the
        # hive-partitioning analog for a key/metadata/entries record
        # model).  Shards stay in ONE flat directory — partition values
        # ride in the manifest, where exact planning-time pruning and
        # dynamic overwrite read them — so every flat-layout code path
        # (listing, vacuum, streaming watermarks) keeps working.
        self.sink_options = sink_options(options)
        self.partition_by: list[str] = self.sink_options["partition_by"]
        # Spec-parity naming (reference draft.md:23-30): commit() renames
        # this job's shards to sequential `{spec_basename}-{seq:06d}.shardpack`.
        # The rename happens driver-side at commit, where a global sequence
        # exists without cross-task coordination; numbering continues from
        # the prior manifest so appends stay monotonic.  Do not mix with
        # default `c{seq}-` names in a directory consumed as a STREAM — the
        # watermark assumes one naming mode's sort order.
        self.spec_basename = options.get("spec_naming")
        if self.partition_by and self.spec_basename:
            raise codec.ShardPackIOError(
                "partition_by and spec_naming cannot combine: spec renames "
                "assign one global sequence, which would interleave "
                "partitions into shared names"
            )
        pom = str(options.get("partition_overwrite_mode", "static")).lower()
        if pom not in ("static", "dynamic"):
            raise codec.ShardPackIOError(
                f"partition_overwrite_mode must be static|dynamic, got {pom!r}"
            )
        # dynamic overwrite == mode('overwrite') that replaces ONLY the
        # partitions present in the new data (Spark's
        # spark.sql.sources.partitionOverwriteMode=dynamic semantics)
        self.dynamic_overwrite = overwrite and pom == "dynamic"
        if self.dynamic_overwrite and not self.partition_by:
            raise codec.ShardPackIOError(
                "partition_overwrite_mode=dynamic requires partition_by"
            )
        # dataset-level custom metadata (the spec's `--metadata k=v`
        # shard-level fields, docs/draft.md:136-148, lifted to the
        # dataset where our commit log lives): a JSON object recorded in
        # the manifest root under `user_metadata`.  Append/dynamic merge
        # key-wise (this commit's keys win); a full overwrite resets to
        # exactly this commit's object.
        um = options.get("dataset_metadata")
        self.dataset_metadata: dict | None = json.loads(um) if um else None
        if self.dataset_metadata is not None and (
            not isinstance(self.dataset_metadata, dict)
            or not all(isinstance(v, str) for v in self.dataset_metadata.values())
        ):
            raise codec.ShardPackIOError(
                "dataset_metadata must be a JSON object of string values"
            )
        # manifest checkpointing: merge the parts chain into one part
        # when it exceeds this (Delta-checkpoint analog; 0 disables)
        mcp = options.get("manifest_checkpoint_parts")
        self.manifest_checkpoint_parts = (
            int(mcp) if mcp not in (None, "") else DEFAULT_MANIFEST_CHECKPOINT_PARTS
        )
        storage.for_path(self.path).makedirs(self.path)
        # driver-side: monotonic commit sequence for this job's shard names
        self.commit_seq = _next_commit_seq(self.path)

    def write(self, iterator) -> ShardCommitMessage:
        """One task -> one sequence of shards named with a task-unique
        basename (no cross-task coordination needed at any scale)."""
        storage.guard_zip_directory_reloads()
        from pyspark import TaskContext

        tc = TaskContext.get()
        basename = f"c{self.commit_seq:08d}-part-{tc.partitionId():05d}-{uuid.uuid4().hex[:8]}"
        sink = ShardSink(self.path, basename, **self.sink_options)
        for rec in _batches_to_records(iterator):
            sink.write(rec)
        return ShardCommitMessage(shards=sink.close())

    def commit(self, messages) -> None:
        """Publish this job's shards as one atomic commit — the full
        protocol (CAS-claimed snapshot roots, liveness lock, pointer
        cache) lives pyspark-free in commit.commit_shards; see its
        docstring for the safety model."""
        storage.guard_zip_directory_reloads()
        commit_shards(
            self.path,
            [s for m in messages if m is not None for s in m.shards],
            overwrite=self.overwrite,
            dynamic_overwrite=self.dynamic_overwrite,
            spec_basename=self.spec_basename,
            partition_by=self.partition_by,
            compression=self.sink_options["compression"],
            target_shard_bytes=self.sink_options["target_shard_bytes"],
            dataset_metadata=self.dataset_metadata,
            manifest_checkpoint_parts=self.manifest_checkpoint_parts,
        )

    def abort(self, messages) -> None:
        be = storage.for_path(self.path)
        for m in messages or []:
            if m is None:
                continue
            for s in m.shards:
                be.remove(os.path.join(self.path, s["path"]))


class ShardPackStreamReader(DataSourceStreamReader):
    """Shard directory as an append-only stream; executor-side reads.

    The offset is a high-watermark over committed shard *names*, which the
    writer side keeps monotonic via the `c{seq:08d}-` prefix: a name sorts
    strictly above every name committed before it, so `name > watermark`
    is exactly-once — no count-into-a-resorted-listing, which skipped and
    duplicated records when uuid basenames sorted out of order.

    partitions() plans per-shard (record-range-split) partitions that
    executors read as Arrow batches — the driver never materializes
    records, so multi-shard backfills scale like a batch scan."""

    def __init__(self, options: dict, parallelism: int | None = None):
        self.path = _norm_path(options.get("path"))
        if not self.path:
            raise codec.ShardPackIOError("shardpack stream reader requires a path")
        self.verify = str(options.get("verify_checksums", "true")).lower() == "true"
        self.split_target = int(options.get("split_target_bytes", 128 * 1024 * 1024))
        self.parallelism = parallelism  # as ShardPackReader's
        # Admission control: cap how many shards a micro-batch admits so a
        # deep backlog (or a bulk import landing mid-stream) drains as
        # bounded batches instead of one giant catch-up batch.  0 = no cap.
        max_shards = int(options.get("max_shards_per_batch", 0))
        self.shard_column = str(options.get("with_shard_column", "false")).lower() == "true"
        # metadata data skipping for stream consumers (a tailer of one
        # partition/lang must not read every committed shard): same
        # option syntax and same pruning-only semantics as the batch
        # reader — combine with a row-level .filter() for exactness.
        # Skipped shards are PERMANENTLY skipped for this query (the
        # watermark advances past them), which is the point.
        wm = options.get("where_meta")
        self.where_meta: dict[str, str] | None = json.loads(wm) if wm else None
        wmr = options.get("where_meta_range")
        self.where_meta_range: dict | None = json.loads(wmr) if wmr else None
        # earliest (default) replays the whole committed history; latest
        # tails from the shards committed as of query START (the standard
        # startingOffsets=latest semantics — only NEW commits flow).
        # Evaluated in initialOffset, which the engine calls once for a
        # fresh query and then checkpoints — restarts resume the
        # checkpoint, never "latest again".
        sp = str(options.get("starting_position", "earliest")).lower()
        if sp not in ("earliest", "latest"):
            raise codec.ShardPackIOError(
                f"starting_position must be earliest|latest, got {sp!r}"
            )
        # offset/floor/admission-control discipline shared with the WARC
        # stream source (see stream_offsets module doc)
        self._offsets = CappedListingOffsets(self._visible_names, max_shards, sp)
        self._view: ShardView | None = None

    def _visible_names(self) -> list[str]:
        # one live view per offset query; partitions() plans the batch it
        # bounded from the same view instead of reading the log again
        self._view = live_view(self.path)
        return self._view.names

    def initialOffset(self) -> dict:  # noqa: N802
        return self._offsets.initial()

    def latestOffset(self) -> dict:  # noqa: N802
        return self._offsets.latest()

    def partitions(self, start: dict, end: dict) -> Sequence[ShardPartition]:
        lo, hi = self._offsets.advance(start, end)
        view = self._view
        if view is None or not view.names or view.names[-1] < hi:
            view = live_view(self.path)  # a restart, or an end this view never saw
        names = [n for n in view.names if lo < n <= hi]
        if self.where_meta or self.where_meta_range:
            names = _names_matching_meta(
                names, view.stats, self.where_meta, self.where_meta_range
            )
        return _plan_partitions(
            self.path, names, self.split_target, view.sizes(names), self.parallelism
        )

    def commit(self, end: dict) -> None:
        self._offsets.commit(end)

    def read(self, partition: ShardPartition):
        storage.guard_zip_directory_reloads()
        # schema() advertises _shard for streams too — batches must match
        yield from _arrow_batches(partition, self.verify, shard_column=self.shard_column)



class ShardPackStreamWriter(DataSourceStreamArrowWriter):
    """Streaming sink with batch-commit visibility.

    Tasks write shards into `_staging/<task-uuid>/`; the driver-side
    commit renames them to `c{batchId:08d}-<name>` in the dataset root and
    writes a `_batch_{id}.json` marker naming them.  Readers trust only
    marker/manifest-listed files, so a batch's shards appear atomically at
    commit.  On a restart that replays a committed micro-batch, the marker
    already exists and commit() discards the replayed staging output
    instead of renaming it — exactly-once at the batch level."""

    def __init__(self, options: dict):
        self.path = _norm_path(options.get("path"))
        if not self.path:
            raise codec.ShardPackIOError("shardpack stream writer requires a path")
        # validated here, on the driver, as the batch writer's are;
        # partition_by gives partition-pure streamed shards (same layout
        # and manifest semantics as the batch writer's; values ride in
        # the batch MARKER until fold_stream_markers moves them into the
        # manifest — pruning reads both)
        self.sink_options = sink_options(options)
        self.partition_by: list[str] = self.sink_options["partition_by"]
        # the marker of a batch whose tasks wrote no shard needs the
        # directory too (a sink creates its task dir on the first record)
        storage.for_path(self.path).makedirs(self.path)

    def write(self, iterator) -> ShardCommitMessage:
        storage.guard_zip_directory_reloads()
        from pyspark import TaskContext

        tc = TaskContext.get()
        task_dir = os.path.join(
            self.path, STAGING_DIR, f"task-{tc.partitionId():05d}-{uuid.uuid4().hex[:8]}"
        )
        sink = ShardSink(
            task_dir,
            f"part-{tc.partitionId():05d}-{uuid.uuid4().hex[:8]}",
            **self.sink_options,
        )
        for rec in _batches_to_records(iterator):
            sink.write(rec)
        staging = storage.relpath(task_dir, self.path)
        return ShardCommitMessage(shards=[{**s, "staging": staging} for s in sink.close()])

    def commit(self, messages, batchId: int) -> None:  # noqa: N803 (Spark API)
        storage.guard_zip_directory_reloads()
        be = storage.for_path(self.path)
        marker = os.path.join(self.path, f"_batch_{batchId:08d}.json")
        staged = [s for m in messages if m is not None for s in m.shards]
        if be.exists(marker):
            # replayed micro-batch: the original commit already made these
            # records visible — discard the replay's staging output
            self._drop_staging(staged)
            return
        final = []
        for s in staged:
            name = f"c{batchId:08d}-{s['path']}"
            # move = rename locally, copy+delete on rename-less stores —
            # either way the file is invisible to readers until the
            # marker below names it, so per-file atomicity is not needed
            be.move(
                os.path.join(self.path, s["staging"], s["path"]),
                os.path.join(self.path, name),
            )
            # carry the pruning stats (key range / bloom / meta values)
            # through the rename so folded stream shards prune like
            # batch-written ones
            final.append({**{k: v for k, v in s.items() if k != "staging"}, "path": name})
        # the marker IS the commit point (atomic tmp+rename / object put)
        payload: dict = {"batch": batchId, "shards": final}
        if self.partition_by:
            # layout record — fold_stream_markers moves it to the
            # manifest root, where compaction reads it to preserve
            # partition purity
            payload["partition_by"] = self.partition_by
        be.write_atomic(marker, json.dumps(payload).encode())
        self._drop_staging(staged)

    def abort(self, messages, batchId: int) -> None:  # noqa: N803
        self._drop_staging([s for m in messages or [] if m is not None for s in m.shards])

    def _drop_staging(self, staged: list[dict]) -> None:
        be = storage.for_path(self.path)
        for d in {s["staging"] for s in staged}:
            be.remove_tree(os.path.join(self.path, d))


class ShardPackDataSource(DataSource):
    """format("shardpack") — register with register(spark)."""

    # the registering session's defaultParallelism: register() registers
    # a subclass that sets it, so batch loads, read_shardpack and
    # readStream all size read tasks for the session's cores rather than
    # the planning worker's CPUs
    parallelism: int | None = None

    @classmethod
    def name(cls) -> str:
        return "shardpack"

    def schema(self) -> StructType:
        storage.guard_zip_directory_reloads()
        if str(self.options.get("with_shard_column", "false")).lower() == "true":
            return StructType(SCHEMA.fields + [StructField("_shard", StringType())])
        return SCHEMA

    def reader(self, schema: StructType) -> ShardPackReader:
        storage.guard_zip_directory_reloads()
        # reader() runs in a planning worker with no SparkSession, so the
        # pruning variant (which requires the filterPushdown conf) is
        # selected via an explicit option; read_shardpack() sets it
        # automatically driver-side.
        prune = str(self.options.get("prune_by_key", "false")).lower() == "true"
        cls = ShardPackPruningReader if prune else ShardPackReader
        return cls(self.options, self.parallelism)

    def writer(self, schema: StructType, overwrite: bool) -> ShardPackWriter:
        storage.guard_zip_directory_reloads()
        return ShardPackWriter(self.options, overwrite)

    def streamReader(self, schema: StructType) -> ShardPackStreamReader:  # noqa: N802
        storage.guard_zip_directory_reloads()
        return ShardPackStreamReader(self.options, self.parallelism)

    def streamWriter(self, schema: StructType, overwrite: bool) -> ShardPackStreamWriter:  # noqa: N802
        storage.guard_zip_directory_reloads()
        return ShardPackStreamWriter(self.options)


def register(spark) -> None:
    # Idempotent per session: re-registering emits a JVM-side "data source
    # shardpack replaced a previously registered data source" warning that
    # drowns real signal in bench/driver logs. Callers (queries, bench,
    # CLI) all call register() defensively, so dedupe here.
    if getattr(spark, "_shardpack_registered", False):
        return
    # the package zip must reach the context before the class is
    # registered: registration captures the context's Python includes
    ship_package(spark)
    # ShardPackDataSource pickles by reference, so a class attribute set
    # here would not reach the planning workers; a subclass made here
    # pickles by value (a few hundred bytes) and carries the core count
    source = type(
        ShardPackDataSource.__name__,
        (ShardPackDataSource,),
        {"parallelism": spark.sparkContext.defaultParallelism},
    )
    spark.dataSource.register(source)
    spark._shardpack_registered = True


def compact_dataset(
    spark,
    path: str,
    target_shard_bytes: int = codec.DEFAULT_TARGET_SHARD_BYTES,
    compression: str | None = None,
    sort_by_key: bool = False,
) -> dict:
    """Maintenance job: rewrite a dataset's shards at the target size.

    This replaces the reference's destructive delete (Bucket::delete
    removed whole shards, destroying co-located keys — SURVEY.md D5):
    deletions/updates are expressed as filters on read, and compaction
    rewrites the surviving records into right-sized shards.

    Object-store-safe commit: the rewrite appends new `c{seq}-` shards to
    the SAME directory, then the overwrite commit swaps the manifest
    atomically and only afterwards deletes the old files.  A crash at any
    point leaves a readable dataset — before the swap, readers still see
    the old manifest (new files are invisible); after it, the new one.
    No directory renames, no backup window.

    ``sort_by_key`` range-partitions the rewrite on the record key, so
    output shards hold DISJOINT key ranges: the manifest's per-shard
    min/max then prunes a point lookup to exactly one shard, where
    hash-placed shards all overlap and pruning keeps everything.  Costs
    one extra range-exchange during the (already full-rewrite) job — the
    standard sort-compaction trade.
    """
    register(spark)
    view = live_view(path)
    manifest = view.manifest or {}
    comp = compression or manifest.get("compression", "none")
    df = read_shardpack(spark, path)
    # size the write parallelism to the target: one task per output shard
    # (each task-local writer rolls independently, so without this the
    # output inherits one shard per input partition); manifest-recorded
    # sizes first, stat only for log-less ad-hoc dirs
    be = storage.for_path(path)
    sizes = view.sizes(view.names)
    total_bytes = sum(
        (sizes.get(n) or (None,))[0] or be.getsize(os.path.join(path, n))
        for n in view.names
    )
    n_parts = max(1, -(-total_bytes // target_shard_bytes))
    pb = manifest.get("partition_by") or []
    if sort_by_key and pb:
        # range-exchange on (partition keys, key): each task holds a
        # contiguous slice of ONE partition (at boundaries, two), so the
        # per-partition writer fan-out emits few right-sized shards with
        # DISJOINT key ranges inside every partition — ranging on the
        # key alone would hand every task all P partitions (P tiny
        # shards per task, and the max_partition_writers cap at large P)
        from pyspark.sql import functions as F

        pcols = [F.element_at("metadata", F.lit(k)) for k in pb]
        df = df.repartitionByRange(n_parts, *pcols, "key").sortWithinPartitions(
            *pcols, "key"
        )
    elif sort_by_key:
        df = df.repartitionByRange(n_parts, "key").sortWithinPartitions("key")
    elif pb:
        # co-locate each partition's records so the rewrite emits few,
        # right-sized partition-pure shards (the writer routes per
        # partition value regardless — this avoids P tiny shards/task)
        from pyspark.sql import functions as F

        df = df.repartition(
            n_parts, *[F.element_at("metadata", F.lit(k)) for k in pb]
        )
    else:
        df = df.repartition(n_parts)
    w = (
        df.write.format("shardpack")
        .option("target_shard_bytes", target_shard_bytes)
        .option("compression", comp)
    )
    if pb:
        # preserve the partitioned layout (and re-enable dynamic
        # overwrite) across compaction
        w = w.option("partition_by", ",".join(pb))
    if manifest.get("user_metadata"):
        # a compaction rewrites data, not identity: custom dataset
        # metadata survives the full-overwrite commit
        w = w.option("dataset_metadata", json.dumps(manifest["user_metadata"]))
    w.mode("overwrite").save(path)
    new_manifest = _load_manifest(path) or {}
    return {
        "shards": len(new_manifest.get("shards", [])),
        "records": new_manifest.get("total_records", 0),
    }


def convert_to_dataset(
    spark,
    path: str,
    key_stats: bool = True,
    compression: str = "none",
) -> dict:
    """Adopt a log-less shard directory into the commit log with a
    DISTRIBUTED index scan — the CONVERT-TO-DELTA / add_files analog,
    and SURVEY §3.3's large-catalog planning job.

    A directory populated by the raw codec (or copied in) has no
    manifest: every scan pays a listing plus one EOF-index read per
    oversized shard at PLAN time, on the driver, and gets no pruning.
    The first DataSource append folds such files into its manifest, but
    reads their indexes serially on the driver — at 10^5 shards on an
    object store that is hours of driver I/O.  This utility moves the
    scan into ONE Spark job: executors read each shard's EOF index (and,
    with ``key_stats``, its record headers — never the payload bytes)
    and return one bounded stats row per shard; the driver then commits
    manifest version 1 through the normal CAS protocol.  Afterwards
    every scan plans from pure metadata with the same bloom / min-max /
    meta-value pruning as DataSource-written datasets.

    Each shard's stats come from the writers' own ``_StatsTracker``, so
    an adopted dataset is indistinguishable from a written one.  Returns the
    committed manifest.  Raises if a commit log already exists (nothing
    to convert) or appears concurrently (that writer already adopted the
    ad-hoc files; convert aborts and removes its orphan part).
    """
    register(spark)  # ships the package for the closure below
    if _load_manifest(path) is not None or _marker_entries(path):
        raise codec.ShardPackIOError(
            f"{path} already has a commit log; convert_to_dataset adopts "
            "log-less directories only"
        )
    names = live_view(path, None).names
    if not names:
        raise codec.ShardPackIOError(f"{path}: no shard files to adopt")
    root = path
    want_keys = key_stats

    def _scan(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for name in pdf["name"]:
                full = os.path.join(root, name)
                idx = codec.read_index(full)  # validates magic + offsets
                tracker = _StatsTracker()
                if want_keys and idx.offsets:
                    # offsets=None lets iter_records' header-seek fast
                    # path engage on payload-heavy shards (key+metadata
                    # reads only, payload bytes never leave the store)
                    for rec in codec.iter_records(
                        full,
                        verify_checksums=False,
                        skip_payload=True,
                        skip_entries=True,
                    ):
                        tracker.add(rec, name)
                entry = {
                    "path": name,
                    "records": len(idx.offsets),
                    "bytes": storage.for_path(full).getsize(full),
                    **tracker.finish().get(name, {}),
                }
                rows.append(json.dumps(entry))
            yield pd.DataFrame({"entry": rows})

    n_tasks = max(1, min(len(names), spark.sparkContext.defaultParallelism * 4))
    stat_rows = (
        spark.createDataFrame([(n,) for n in names], "name string")
        .repartition(n_tasks)
        .mapInPandas(_scan, "entry string")
        .collect()  # bounded: one manifest-entry-sized row per shard
    )
    entries = [json.loads(r["entry"]) for r in stat_rows]

    be = storage.for_path(path)
    part: str | None = None
    with _CommitLock(path):
        for _ in range(64):
            prior, prior_vid = _observe_latest(path, flatten=False)
            if prior is not None:
                # a concurrent first commit won and adopted the ad-hoc
                # files itself; our stats part (if written) is an orphan
                if part is not None:
                    be.remove(os.path.join(path, part))
                raise codec.ShardPackIOError(
                    f"{path}: a commit log appeared during convert "
                    "(another writer adopted the directory); aborting"
                )
            if part is None:
                part = _write_manifest_part(path, entries)
            manifest = publish_root(
                path,
                be,
                1 + prior_vid,
                compression=compression,
                target_shard_bytes=codec.DEFAULT_TARGET_SHARD_BYTES,
                parts=[part],
                total_records=sum(e["records"] for e in entries),
            )
            if manifest is not None:
                return manifest
        raise codec.ShardPackIOError(
            f"convert contention on {path}: could not claim a snapshot id"
        )


def read_version_delta(
    spark, path: str, since_version: int, to_version: int | None = None, **options
):
    """Rows appended between two snapshots — incremental processing
    without a streaming checkpoint.

    The log-structured manifest makes the delta exact and free to plan:
    snapshot roots list immutable part files, so the shards new in
    (since_version, to_version] are simply the set difference of two
    shard lists — only THOSE files are opened.  ``since_version=0``
    means everything up to ``to_version``.  An incremental rollup/ingest
    job records the version it processed and calls this with it on the
    next run; appends since then are read, nothing is re-read.

    Append-only semantics: deltas are defined across appends.  An
    overwrite/compaction resets the version chain (prior snapshots'
    files are gone), so consumers should fold their state before
    compacting.
    """
    base: set[str] = set()
    if since_version > 0:
        base = {
            s["path"] for s in _load_manifest(path, since_version).get("shards", [])
        }
    cur = _load_manifest(path, to_version)
    if cur is None:
        raise codec.ShardPackIOError(f"no manifest under {path}")
    new = [s["path"] for s in cur.get("shards", []) if s["path"] not in base]
    return read_shardpack(spark, path, only_shards=json.dumps(new), **options)


def verify_dataset(spark, path: str) -> dict:
    """fsck for a shardpack dataset: distributed integrity audit.

    Re-reads EVERY committed shard with checksum verification on (the
    spec's R11 verify path) and reconciles the commit log against the
    directory: per-shard record counts must match the manifest, every
    named shard must exist, and files not named by any commit are
    reported as orphans (harmless — readers ignore them — but worth
    reclaiming).  The re-read fans out one task per shard through
    mapInPandas, so auditing 100 TB is a normal shard-parallel job, not
    a driver loop.

    Returns {"ok": bool, "shards_ok": n, "mismatched": [...],
    "corrupt": [...], "missing": [...], "orphans": [...]}.
    """
    be = storage.for_path(path)
    manifest = _load_manifest(path) or {"shards": []}
    expected = {s["path"]: s.get("records") for s in manifest.get("shards", [])}
    for f in be.glob_names(path, "_batch_*.json"):
        for s in json.loads(be.read_bytes(os.path.join(path, f))).get("shards", []):
            expected[s["path"]] = s.get("records")

    on_disk = {os.path.basename(p) for p in codec.list_shards(path)}
    missing = [n for n in expected if n not in on_disk]
    # shards a dynamic partition overwrite dropped are expected-absent
    # from the live view but still on disk for older snapshots — label
    # them instead of flagging replaced data as orphaned
    dropped = set(manifest.get("dropped") or ())
    orphans = sorted(on_disk - set(expected) - dropped)

    present = [(n, expected[n]) for n in expected if n not in missing]
    if not present:
        return {
            "ok": not missing,
            "shards_ok": 0,
            "mismatched": [],
            "corrupt": [],
            "missing": sorted(missing),
            "orphans": orphans,
        }

    ship_package(spark)
    base = path

    def check(batches):
        import pandas as _pd

        for pdf in batches:
            names, counts, errors = [], [], []
            for name, exp in zip(pdf["name"], pdf["expected"]):
                full = os.path.join(base, name)
                # a null 'records' arrives here as NaN (pandas column),
                # never None — treat any non-finite as "no expectation"
                has_exp = exp is not None and not _pd.isna(exp)
                try:
                    got = sum(
                        1 for _ in codec.iter_records(full, verify_checksums=True)
                    )
                    errors.append(
                        "" if (not has_exp or int(exp) == got) else f"count {got} != manifest {int(exp)}"
                    )
                except Exception as ex:  # corrupt shard: keep auditing others
                    got = -1
                    errors.append(f"corrupt: {type(ex).__name__}: {ex}")
                names.append(name)
                counts.append(got)
            yield _pd.DataFrame({"name": names, "records": counts, "error": errors})

    pdf_in = spark.createDataFrame(
        [(n, e) for n, e in present], "name string, expected long"
    ).repartition(min(len(present), spark.sparkContext.defaultParallelism))
    rows = pdf_in.mapInPandas(check, "name string, records long, error string").collect()

    corrupt = sorted(r["name"] for r in rows if r["error"].startswith("corrupt"))
    mismatched = sorted(
        r["name"] for r in rows if r["error"] and not r["error"].startswith("corrupt")
    )
    ok_count = sum(1 for r in rows if not r["error"])
    return {
        "ok": not (missing or corrupt or mismatched),
        "shards_ok": ok_count,
        "mismatched": mismatched,
        "corrupt": corrupt,
        "missing": sorted(missing),
        "orphans": orphans,
    }


def fold_stream_markers(path: str, keep_last: int = 100) -> dict:
    """Maintenance: fold committed stream-batch markers into the manifest log.

    A long-running stream leaves one `_batch_{id}.json` per micro-batch;
    readers list and parse every one of them when planning, so an
    always-on ingest accumulates unbounded planning cost.  This moves all
    but the newest ``keep_last`` markers' shard entries into ONE manifest
    part (O(folded markers), under the commit lock) and deletes those
    markers.  The tail is kept because marker existence is the stream
    writer's replay detection — a restart replays at most the newest
    uncommitted batch, so a generous tail is belt and braces.

    Folded entries carry everything the marker recorded — bytes/records,
    key range + bloom, meta value sets/ranges, partition values, and the
    sink's partition_by layout — so pruning and dynamic overwrite work
    identically before and after a fold.  Run ``compact_dataset`` when a
    right-sized rewrite is wanted.

    ``keep_last`` must be >= 1: folding EVERY marker would delete the
    newest batch's replay-detection record, and a restart replaying that
    batch would commit its records a second time.
    """
    if keep_last < 1:
        raise ValueError(
            f"keep_last must be >= 1 (marker existence is the stream "
            f"writer's replay detection), got {keep_last}"
        )
    be = storage.for_path(path)
    with _CommitLock(path):
        markers = [
            os.path.join(path, f) for f in be.glob_names(path, "_batch_*.json")
        ]
        to_fold = markers[:-keep_last]
        if not to_fold:
            return {"folded": 0}
        shards: list[dict] = []
        marker_pb: list[str] = []
        for mp in to_fold:
            m = json.loads(be.read_bytes(mp))
            shards.extend(m.get("shards", []))
            marker_pb = m.get("partition_by") or marker_pb  # newest wins
        prior, prior_vid0 = _observe_latest(path, flatten=False)
        prior = prior or {}
        # marker shards a dynamic overwrite logically dropped must not
        # fold back in (their files await vacuum, not resurrection)
        prior_dropped = set(prior.get("dropped") or ())
        if prior_dropped:
            shards = [s for s in shards if s["path"] not in prior_dropped]
        # A fold is a COMMIT like any other: archive its root so every
        # live-manifest state is a named snapshot.  Without this,
        # rollback() to any archived version would silently drop the
        # folded stream entries (their markers are deleted below, and no
        # root references their part).  Same-observation version floor,
        # as in batch commit; a lost claim under a broken lock means a
        # concurrent commit — rerun the fold then.
        vid = 1 + prior_vid0
        if publish_root(
            path,
            be,
            vid,
            compression=prior.get("compression", "none"),
            target_shard_bytes=prior.get(
                "target_shard_bytes", codec.DEFAULT_TARGET_SHARD_BYTES
            ),
            parts=_prior_parts(path, prior) + [_write_manifest_part(path, shards)],
            total_records=prior.get("total_records", 0)
            + sum(s["records"] for s in shards),
            # layout record: keep the prior manifest's, else adopt the
            # (newest) folded marker's — compaction reads it to preserve
            # partition purity of a stream-partitioned ingest
            partition_by=prior.get("partition_by") or marker_pb,
            # a fold must not resurrect shards a dynamic overwrite
            # dropped: the prior root's exclusion list rides along
            dropped=prior.get("dropped"),
            user_metadata=prior.get("user_metadata"),
        ) is None:
            raise codec.ShardPackIOError(
                f"fold_stream_markers lost the commit race on {path} "
                f"(version {vid} claimed concurrently); re-run"
            )
        for mp in to_fold:  # only after the new root is durable
            be.remove(mp)
        return {"folded": len(to_fold), "shards": len(shards), "version": vid}


def rollback(path: str, to_version: int) -> dict:
    """Make snapshot ``to_version`` the live manifest again (undo commits).

    The append-only commit log makes this metadata-only: the archived
    root `root-{to_version}` lists exactly the manifest parts (and hence
    shards) of that snapshot, all immutable, so re-pointing the live
    manifest at it restores the dataset byte-for-byte — no data copy at
    any scale.  Roots NEWER than the target are deleted (their commits
    are being undone; the next commit re-uses their version ids, so a
    stale root must not shadow it), which also makes the rolled-back
    commits' shards unreferenced — ``vacuum`` then reclaims them.

    The bad-ingest workflow this exists for (write-audit-publish):
    append a batch, audit the delta (``read_version_delta`` +
    expectations ``check``), and on failure ``rollback`` to the
    pre-ingest version — the failed batch vanishes atomically.

    Runs under the commit lock.  Returns {"restored_version",
    "dropped_versions", "total_records"}.

    Streaming caveat (inherent to undo, same as other table formats):
    a stream consuming this dataset keyed its progress to shard names it
    may already have read from the undone commits; once vacuum reclaims
    those shards their commit sequences are re-used by later commits,
    which can sort at-or-below the stream's name watermark.  Restart
    such streams with a fresh checkpoint after a rollback.
    """
    be = storage.for_path(path)
    with _CommitLock(path):
        snap = _load_manifest(path, to_version)  # raises if never committed
        parts_dir = os.path.join(path, MANIFEST_PARTS_DIR)
        newer = sorted(
            f
            for f in be.glob_names(parts_dir, "root-*.json")
            if f[5:13].isdigit() and int(f[5:13]) > to_version
        )
        # Drop newer roots FIRST, then swap the live pointer — the
        # reverse order broke once _load_manifest started preferring
        # the max archived root: a pointer at to_version with
        # newer roots still present would read as "pointer lagging a
        # concurrent commit" and resolve to the very state being undone.
        # Crash safety: a crash mid-deletion leaves a PREFIX of the
        # newer roots; the pointer still names the newest surviving
        # root's state or older, and re-running rollback (idempotent)
        # heals the rest.
        for f in newer:
            be.remove(os.path.join(parts_dir, f))
        live = {k: v for k, v in snap.items() if k != "shards"} or {}
        live.setdefault("version", 3)
        live["version_id"] = to_version
        # direct pointer write: _write_manifest's only-if-newer guard
        # must not compare against the pre-rollback pointer
        be.write_atomic(
            os.path.join(path, MANIFEST_NAME),
            json.dumps(live, indent=1, sort_keys=True).encode(),
        )
        return {
            "restored_version": to_version,
            "dropped_versions": [int(f[5:13]) for f in newer],
            "total_records": snap.get("total_records", 0),
        }


def vacuum(
    path: str,
    keep_versions: int = 1,
    grace_seconds: float = 3600.0,
    dry_run: bool = False,
) -> dict:
    """Reclaim storage no retained snapshot can reach (lakehouse VACUUM).

    Time travel + immutable shards mean a dataset only ever GROWS debris:
    crashed write tasks leave committed-by-nobody ``c{seq}-part-*`` shards
    (the driver's abort() cannot run if the driver died), a crash during
    overwrite's post-swap deletion leaves invisible old files, spec-naming
    commits can strand ``*.trash-*`` displaced files, and every commit
    archives a ``root-{v}.json`` forever.  fsck (verify_dataset) REPORTS
    orphans; this reclaims them.  At 100 TB this is the difference between
    storage that tracks live data and storage that tracks write history.

    Retention model (mirrors open-table-format VACUUM semantics):

    - the newest ``keep_versions`` snapshot roots are retained; time
      travel to older versions stops working (their root files are
      deleted — shard files they reference stay if any retained snapshot
      also references them, which in append-only chains is all of them);
    - a shard/part file is deleted only if NO retained root, the live
      manifest, and no stream-batch marker references it;
    - nothing younger than ``grace_seconds`` is deleted: an in-flight
      job's task shards exist on disk before its commit publishes them,
      and the grace window (default 1 h) is what keeps vacuum safe to run
      concurrently with writers — same contract as Delta's retention
      check.  Commit-atomic metadata (expired roots) skips the age check.

    Runs under the commit lock so the referenced-set computation cannot
    race a concurrent commit's manifest merge.  Directories without a
    manifest (ad-hoc codec output) are left untouched — without a commit
    log nothing is provably dead.  Driver-side file ops: vacuum is
    metadata-bounded (O(files in directory)), not data-bounded, so a
    Spark job buys nothing here.

    Returns ``{"retained_versions", "expired_versions", "deleted_shards",
    "deleted_parts", "deleted_debris", "bytes_reclaimed", "dry_run"}``;
    with ``dry_run=True`` the same report is computed and nothing is
    removed.
    """
    import time as _time

    if keep_versions < 1:
        raise ValueError(
            f"keep_versions must be >= 1 (the live snapshot is always "
            f"retained), got {keep_versions}"
        )
    out: dict = {
        "retained_versions": [],
        "expired_versions": [],
        "deleted_shards": [],
        "deleted_parts": [],
        "deleted_debris": [],
        "bytes_reclaimed": 0,
        "dry_run": dry_run,
    }
    be = storage.for_path(path)
    with _CommitLock(path):
        # the live POINTER, not _load_manifest: _observe_latest
        # flattens the pointer's parts before it looks for newer roots,
        # so those parts must stay referenced even when a newer root
        # exists (and any newer root is retained below)
        manifest = _read_pointer(path)
        has_markers = bool(be.glob_names(path, "_batch_*.json"))
        if manifest is None and not has_markers:
            # no commit log of any kind (ad-hoc codec output): nothing is
            # provably dead, leave the directory untouched
            return out
        manifest = manifest or {"shards": [], "parts": []}
        now = _time.time()

        def _rm(p: str, bucket: str, min_age: float = grace_seconds) -> None:
            try:
                mtime = be.mtime(p)
                size = be.getsize(p)
            except (OSError, FileNotFoundError):
                return
            if min_age > 0 and now - mtime < min_age:
                return
            out[bucket].append(storage.relpath(p, path))
            out["bytes_reclaimed"] += size
            if not dry_run:
                be.remove(p)

        parts_dir = os.path.join(path, MANIFEST_PARTS_DIR)
        roots = sorted(
            f for f in be.glob_names(parts_dir, "root-*.json") if f[5:13].isdigit()
        )
        retained_roots = roots[-keep_versions:]
        out["retained_versions"] = [int(f[5:13]) for f in retained_roots]

        # Referenced set: live manifest (covers pre-versioning datasets whose
        # root was never archived) + every retained snapshot + stream markers
        # (committed micro-batches not yet folded into the manifest log).
        referenced_shards = {s["path"] for s in manifest.get("shards", [])}
        referenced_parts = {os.path.basename(p) for p in manifest.get("parts", [])}

        def _cov_ref(m) -> str | None:
            ref = ((m or {}).get("user_metadata") or {}).get("warc_covered_ref")
            return os.path.basename(ref) if ref else None

        referenced_coverage = {_cov_ref(manifest)} - {None}
        for rf in retained_roots:
            referenced_parts.add(rf)
            snap = _load_manifest(path, int(rf[5:13]))
            referenced_shards.update(s["path"] for s in snap.get("shards", []))
            referenced_parts.update(os.path.basename(p) for p in snap.get("parts", []))
            referenced_coverage |= {_cov_ref(snap)} - {None}
        referenced_shards.update(s["path"] for s in _marker_entries(path))

        # 1) expired snapshot roots — commit-atomic, no age gate needed
        for rf in roots[:-keep_versions]:
            out["expired_versions"].append(int(rf[5:13]))
            _rm(os.path.join(parts_dir, rf), "deleted_debris", min_age=0)
        # 2) manifest parts no retained root lists (orphans of crashed
        #    commits; age-gated — a commit in progress elsewhere holds the
        #    lock, but belt and braces costs nothing)
        for f in be.listdir(parts_dir):
            if f in referenced_parts or f.startswith("root-"):
                continue
            _rm(os.path.join(parts_dir, f), "deleted_parts")
        # 3) unreferenced shard files older than the grace window
        for full in codec.list_shards(path):
            if os.path.basename(full) not in referenced_shards:
                _rm(full, "deleted_shards")
        # 4) crash debris: displaced spec-named files, torn in-progress
        #    writes, stale lock remnants, stale staging output
        for pat in ("*.trash-*", "*.inprogress", "_commit.lock.*", "*.tmp-*", "*.pia-*"):
            for f in be.glob_names(path, pat):
                _rm(os.path.join(path, f), "deleted_debris")
        # 4b) coverage side objects (warc dump locators): content-addressed
        #     files under _warc_coverage/ that no retained snapshot's
        #     user_metadata references — each overwrite/append points at a
        #     new superset object, so expired versions strand their old one
        covdir = os.path.join(path, "_warc_coverage")
        if be.isdir(covdir):
            for f in be.listdir(covdir):
                if f not in referenced_coverage:
                    _rm(os.path.join(covdir, f), "deleted_debris")
        staging = os.path.join(path, STAGING_DIR)
        if be.isdir(staging):
            # task staging DIRECTORIES (stream writes land in
            # _staging/task-*/ and are moved out at batch commit);
            # a dir is stale only when nothing inside it is recent
            for f in be.listdir(staging):
                full = os.path.join(staging, f)
                try:
                    if be.isdir(full):
                        children = be.listdir(full)
                        mtimes = [be.mtime(full)] + [
                            be.mtime(os.path.join(full, g)) for g in children
                        ]
                        if now - max(mtimes) < grace_seconds:
                            continue
                        size = sum(
                            be.getsize(os.path.join(full, g)) for g in children
                        )
                        out["deleted_debris"].append(storage.relpath(full, path))
                        out["bytes_reclaimed"] += size
                        if not dry_run:
                            be.remove_tree(full)
                    else:
                        _rm(full, "deleted_debris")
                except (OSError, FileNotFoundError):
                    continue
    return out


# extension -> content type for directory ingestion (the spec's
# recommended types, docs/draft.md:185-197, plus the formats this repo
# decodes natively)


def ingest_files(
    spark,
    input_path: str,
    out: str,
    group_by_stem: bool = True,
    key_prefix: str = "",
    glob: str | None = None,
    mode: str = "append",
    content_types: dict[str, str] | None = None,
    **writer_options,
) -> None:
    """Pack a directory of files into a shardpack dataset — the
    reference CLI's primary use case (`shardpack create --input dir`,
    docs/draft.md:132-148) as ONE distributed job.

    Files are read with Spark's built-in ``binaryFile`` source
    (recursive), so listing and byte transfer scale with the cluster,
    not the driver.  ``group_by_stem=True`` (default) packs files that
    share a path-minus-extension into ONE record with one entry per
    file — the spec's sample+annotation shape (img0001.jpg +
    img0001.json -> record "img0001" with two entries); with False each
    file is its own single-entry record.  Record keys are the
    slash-normalized path relative to ``input_path`` (minus extension
    when grouping), prefixed with ``key_prefix``; entries within a
    record sort by file name, so output is deterministic for a given
    tree.  Content types come from the extension map (unknowns ->
    application/octet-stream); record metadata carries the entry count
    and total bytes as strings.

    ``writer_options`` pass through (compression, target_shard_bytes,
    max_record_bytes, partition_by, dataset_metadata, ...).
    """
    from pyspark.sql import functions as F

    register(spark)
    ctypes = {**_INGEST_CONTENT_TYPES, **(content_types or {})}
    reader = spark.read.format("binaryFile").option("recursiveFileLookup", "true")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    files = reader.load(input_path)

    base = _norm_path(input_path).rstrip("/") + "/"
    rel = F.regexp_replace(
        F.regexp_replace(F.col("path"), r"^file:", ""), re.escape(base), ""
    )
    stem = F.regexp_replace(rel, r"\.[^./]+$", "") if group_by_stem else rel
    ext = F.lower(F.regexp_extract(rel, r"\.([^./]+)$", 1))
    ct_expr = F.coalesce(
        *[F.when(ext == e, F.lit(c)) for e, c in sorted(ctypes.items())],
        F.lit("application/octet-stream"),
    )
    entries = files.select(
        (F.concat(F.lit(key_prefix), stem) if key_prefix else stem).alias("key"),
        F.struct(
            F.element_at(F.split(rel, "/"), -1).alias("file_name"),
            ct_expr.alias("content_type"),
            F.lit("none").alias("encoding"),
            F.col("length").cast("long").alias("size"),
            F.col("content").alias("data"),
        ).alias("e"),
    )
    if group_by_stem:
        # co-locating a record's entries is inherently a shuffle on the
        # stem — the only full-data exchange in the pipeline
        grouped = entries.groupBy("key").agg(
            F.array_sort(
                F.collect_list("e"),
                lambda a, b: F.when(a["file_name"] < b["file_name"], -1)
                .when(a["file_name"] > b["file_name"], 1)
                .otherwise(0),
            ).alias("entries")
        )
    else:
        # one file = one record: map-only, no payload ever shuffles
        grouped = entries.select("key", F.array("e").alias("entries"))
    records = grouped.select(
        "key",
        F.create_map(
            F.lit("n_entries"), F.size("entries").cast("string"),
            F.lit("n_bytes"),
            F.aggregate("entries", F.lit(0).cast("long"), lambda acc, e: acc + e["size"])
            .cast("string"),
        ).alias("metadata"),
        "entries",
    )
    w = records.write.format("shardpack")
    for k, v in writer_options.items():
        w = w.option(k, v)
    w.mode(mode).save(out)


def records_from_entries(df) -> "DataFrame":
    """Entry-level rows -> shardpack record rows (the exact inverse of
    ``read_shardpack(explode_entries=True)`` / the CLI's ``export``):
    group by key, entries sorted by file name, first metadata map wins
    (entry rows of one key carry identical metadata by construction).
    ``export`` -> ``records_from_entries`` -> write round-trips a
    dataset through parquet byte for byte."""
    from pyspark.sql import functions as F

    return (
        df.groupBy("key")
        .agg(
            F.first("metadata").alias("metadata"),
            F.array_sort(
                F.collect_list(
                    F.struct("file_name", "content_type", "encoding", "size", "data")
                ),
                lambda a, b: F.when(a["file_name"] < b["file_name"], -1)
                .when(a["file_name"] > b["file_name"], 1)
                .otherwise(0),
            ).alias("entries"),
        )
        .select("key", "metadata", "entries")
    )


def write_partitioned(
    df,
    path: str,
    partition_by: list[str] | str,
    mode: str = "append",
    dynamic: bool = False,
    tasks: int | None = None,
    **options,
) -> None:
    """Partition-routed write with the scale-correct exchange built in.

    Repartitions by the partition-key metadata values FIRST, so each
    write task sees few distinct partitions (few open writers, few
    right-sized shards — the same exchange Spark's dynamic partition
    inserts plan), then writes with ``partition_by`` (+
    ``partition_overwrite_mode=dynamic`` when ``dynamic``).  Without the
    exchange, a task fed random partitions opens one writer per value it
    sees and emits tiny shards — the raw option requires callers to
    repartition themselves; this helper is that call spelled once.

    ``tasks`` caps the exchange's partition count (default: Spark's
    shuffle partitioning).  Extra ``options`` pass through to the writer
    (compression, target_shard_bytes, ...).
    """
    from pyspark.sql import functions as F

    keys = (
        [k.strip() for k in partition_by.split(",") if k.strip()]
        if isinstance(partition_by, str)
        else list(partition_by)
    )
    if not keys:
        raise codec.ShardPackIOError("write_partitioned requires partition keys")
    exprs = [F.element_at("metadata", F.lit(k)) for k in keys]
    df = df.repartition(tasks, *exprs) if tasks else df.repartition(*exprs)
    w = df.write.format("shardpack").option("partition_by", ",".join(keys))
    if dynamic:
        w = w.option("partition_overwrite_mode", "dynamic")
        mode = "overwrite"
    for k, v in options.items():
        w = w.option(k, v)
    w.mode(mode).save(path)


def read_shardpack(
    spark,
    path: str,
    columns: list | None = None,
    where_meta: dict | None = None,
    where_meta_range: dict | None = None,
    limit_records: int | None = None,
    explode_entries: bool = False,
    entry_names: list | None = None,
    **options,
):
    """Driver-side read helper: enables key-filter pruning automatically
    when spark.sql.python.filterPushdown.enabled is on.

    ``columns`` is the projection-aware entry point: the Python
    DataSource API has no column-pruning hook (only pushFilters as of
    Spark 4.1), so a bare ``.select("key","metadata")`` still decodes
    every payload executor-side.  Passing the projection here instead
    sets ``skip_payload`` whenever no entry-data column is requested —
    the reader then seeks past payload bytes entirely (R4: index-style
    metadata reads never touch the data at any scale).

    ``where_meta`` ({meta_key: value}) is metadata data skipping: shards
    whose manifest value set excludes a probe value are never opened
    (low-cardinality keys only — ≤16 distinct values per shard), and the
    equivalent row filter is applied on top so semantics don't depend on
    pruning.

    ``where_meta_range`` ({meta_key: (lo, hi)}, either bound None for
    open) is NUMERIC zone-map skipping: writers record a per-shard
    [min,max] over every metadata key whose values all parse as finite
    numbers, and shards whose recorded range cannot intersect the probe
    interval are never opened — a quality cut like n_chars >= 1000 over
    a length-clustered corpus becomes metadata-only planning.  Bounds
    are inclusive; the matching row filter (numeric cast, so non-numeric
    and missing values drop) is applied on top, so semantics never
    depend on pruning.

    ``limit_records=N`` is a head-of-scan preview: planning stops at
    the first prefix of the (pruned, name-ordered) shard sequence whose
    manifest record counts reach N — previewing a 10^5-shard dataset
    plans ~1 shard, and the tail shard plans a [0, k) record range the
    owning executor resolves with one EOF-index read (the R21
    offset-seek path).  An exact ``.limit(N)`` is applied BEFORE the
    where_meta row filters, so the result is "filter(first-N-scanned)",
    not "first N matches" — use it to peek, not to paginate.  Shards
    without recorded counts (log-less directories) plan conservatively
    (never under-plan); the row cap stays exact.

    CAVEAT (Spark 4.1 Python-DSv2): when the SAME returned DataFrame is
    branched into differently-filtered legs of one query (self-union,
    self-join), Spark deduplicates the plan-equal Python scans while
    ignoring their pushed filters — every leg then executes the
    last-planned leg's pruned partition set and the others silently
    lose rows.  Call read_shardpack once PER differently-filtered leg
    (distinct relations are never deduplicated; verified by test and by
    the q53 point+range union).  Parquet/JVM sources are unaffected."""
    register(spark)
    reader = spark.read.format("shardpack")
    if where_meta:
        options["where_meta"] = json.dumps(where_meta)
    if where_meta_range:
        options["where_meta_range"] = json.dumps(
            {k: [v[0], v[1]] for k, v in where_meta_range.items()}
        )
    if limit_records is not None and limit_records > 0:
        options["limit_records"] = str(int(limit_records))
    if entry_names is not None:
        # modality-selective decode: only these entry file names'
        # payloads decompress; others ride as header-only rows with
        # data NULL (like skip_payload) and their true size
        options["entry_names"] = json.dumps(sorted(set(entry_names)))
    if (
        "prune_by_key" not in options
        # case-insensitive like the JVM's toBoolean: conf.set(..., True)
        # stores 'True' and Spark honors it — so must this gate
        and str(
            spark.conf.get("spark.sql.python.filterPushdown.enabled", "false")
        ).lower()
        == "true"
    ):
        options["prune_by_key"] = "true"
    if (
        columns is not None
        and not explode_entries  # exploded view consumes the entries array
        and "skip_payload" not in options
        and "metadata_only" not in options
        and all(isinstance(c, str) for c in columns)
    ):
        # nested projections ('entries.size', 'entries[0].file_name')
        # still need entry HEADERS — only a projection touching no
        # entries path at all may null them out, and only one touching
        # no .data path may skip payload bytes
        needs_entries = any(c == "entries" or c.startswith("entries.") or c.startswith("entries[") for c in columns)
        needs_data = any(
            c == "entries" or (".data" in c and c.split(".")[0].split("[")[0] == "entries")
            for c in columns
        )
        if not needs_entries:
            options["metadata_only"] = "true"  # index-only read
        elif not needs_data:
            options["skip_payload"] = "true"  # headers without payloads
    for k, v in options.items():
        if v is None:
            # a None option value NPEs in the JVM option-map transfer;
            # treat it as "not set" so callers can thread optional kwargs
            continue
        reader = reader.option(k, v)
    df = reader.load(path)
    if limit_records is not None and limit_records > 0:
        df = df.limit(int(limit_records))
    if where_meta:
        from pyspark.sql import functions as F

        for k, v in where_meta.items():
            df = df.filter(F.element_at("metadata", F.lit(k)) == v)
    if where_meta_range:
        from pyspark.sql import functions as F

        for k, (lo, hi) in where_meta_range.items():
            # bound domain decides the row comparison: numeric bounds
            # cast the value to double (non-numeric rows drop); STRING
            # bounds compare lexicographically on the raw value (the
            # ISO-date/timestamp tailing cut — correct because ISO-8601
            # orders lexicographically).  Mixed domains raise.
            if _str_range(k, lo, hi):
                val = F.element_at("metadata", F.lit(k))
                if lo is not None:
                    df = df.filter(val >= lo)
                if hi is not None:
                    df = df.filter(val <= hi)
            else:
                # try_cast, not cast: ANSI mode makes cast THROW on a
                # non-numeric value — the documented semantics are
                # "non-numeric and missing values drop"
                num = F.element_at("metadata", F.lit(k)).try_cast("double")
                if lo is not None:
                    df = df.filter(num >= float(lo))
                if hi is not None:
                    df = df.filter(num <= float(hi))
    if explode_entries:
        # one row per FILE ENTRY (the spec's entry-level access,
        # draft.md:84-94): key/metadata repeat per entry, entry fields
        # flatten to top level — SURVEY §1.3's exploded view
        from shardpack_spark.operators.multimodal import explode_entries as _xe

        df = _xe(df)
    return df.select(*columns) if columns else df


def publish_checked(
    df,
    path: str,
    rules,
    audit=None,
    **write_options,
):
    """Write-audit-publish in one call: append ``df``, audit exactly the
    appended rows, and roll the commit back atomically if the audit
    fails.

    The append-only commit log makes the audit PRECISE and the undo
    METADATA-ONLY: the new snapshot's delta vs the pre-write version is
    the exact set of shards this commit added (read_version_delta), and
    rollback() re-points the live manifest at the prior root — no data
    copy, no tombstones, the failed batch simply never becomes current.
    Readers of the live table never see unaudited rows EXCEPT in the
    window between commit and audit completion; pin ``version=prior``
    for strict isolation, or vacuum-then-retry after a failure.

    ``rules`` is a list of expectations (operators/expectations.Rule)
    evaluated on the appended rows; ``audit`` optionally adds an
    arbitrary callable DataFrame -> bool for checks rules cannot
    express.  Returns {"published", "version", "prior_version",
    "check"}; on failure the dict carries the rolled-back state.
    """
    from shardpack_spark.operators.expectations import check as _check

    spark = df.sparkSession
    register(spark)
    prior_version = _observe_latest(path, flatten=False)[1]
    writer = df.write.format("shardpack").mode("append")
    for k, v in write_options.items():
        writer = writer.option(k, v)
    writer.save(path)
    new_version = _observe_latest(path, flatten=False)[1]
    delta = read_version_delta(spark, path, prior_version, to_version=new_version)
    report = _check(delta, rules) if rules else {"passed": True, "rules": []}
    ok = report["passed"] and (audit is None or bool(audit(delta)))
    if not ok:
        if prior_version > 0:
            rollback(path, prior_version)
        else:
            # first-ever commit failed its audit: the pre-write state was
            # EMPTY, so the undo removes the new snapshot outright —
            # its shards, parts, root, and the live pointer (same
            # delete-after-metadata ordering as overwrite cleanup)
            be = storage.for_path(path)
            with _CommitLock(path):
                snap = _load_manifest(path, new_version)
                be.remove(os.path.join(path, MANIFEST_NAME))
                be.remove(
                    os.path.join(
                        path, MANIFEST_PARTS_DIR, f"root-{new_version:08d}.json"
                    )
                )
                for rel in snap.get("parts", []):
                    be.remove(os.path.join(path, rel))
                for s in snap.get("shards", []):
                    be.remove(os.path.join(path, s["path"]))
        return {
            "published": False,
            "version": prior_version,
            "prior_version": prior_version,
            "check": report,
        }
    return {
        "published": True,
        "version": new_version,
        "prior_version": prior_version,
        "check": report,
    }
