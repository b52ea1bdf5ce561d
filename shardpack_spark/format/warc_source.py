"""``format("warc")`` — a Python DataSource over WARC crawl archives.

The read path for web-scale training data in its native form: point the
engine at a directory of ``*.warc.gz`` files (the Common Crawl layout —
tens of thousands of ~1 GiB files per crawl) and get one row per record,
HTTP responses already split into status/headers/payload.  Downstream is
the existing pipeline: ``operators.webcorpus.warc_to_documents`` →
``html_to_text`` → hygiene → dedup → shardpack.

Scale shape:
- **one task per file**: gzip members can't be split without an external
  index, so per-file is the parallel grain — exactly how production
  crawl jobs shard (a crawl's file count >> any cluster's core count).
- **streaming within a task**: the parser (``format/warc.py``) holds one
  record at a time; a 1 GiB archive never materializes. Rows flow out as
  Arrow batches.
- **cheap filters at the source**: ``record_types`` (e.g. 'response')
  drops non-content records before they reach Spark; ``skip_payload``
  serves inventory scans headers-only; ``max_payload_bytes`` caps
  hostile Content-Length values.  These are reader OPTIONS, not pushed
  filters — the Python DataSource API has no pushdown hook for
  non-shardpack schemas, and per-record skipping inside the parser is
  just as effective.
- **any storage backend**: files resolve through ``format.storage``
  (local, sim://, memory://, s3://) like every other format surface.

Per-record degradation throughout: a malformed record (or corrupt gzip
member) yields one row with ``parse_error`` set and parsing resyncs at
the next member — mirroring the decode_path='surrogate' philosophy of
the multimodal operators; ``decode_path_rollup``-style alerting works by
aggregating ``parse_error IS NOT NULL``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    In,
    InputPartition,
)
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from shardpack_spark import ship_by_value
from shardpack_spark.format import (
    cdx_public,
    manifest,
    reader,
    storage,
    warc,
    warc_index,
)
from shardpack_spark.format.codec import ShardPackIOError
# module-level, not inside __init__: the streaming runner worker unpickles
# this module BY VALUE and cannot import shardpack_spark by name at runtime
from shardpack_spark.format.stream_offsets import CappedListingOffsets

WARC_SCHEMA = StructType(
    [
        StructField("file", StringType()),
        StructField("record_offset", LongType()),
        StructField("warc_type", StringType()),
        StructField("record_id", StringType()),
        StructField("target_uri", StringType()),
        StructField("warc_date", StringType()),
        StructField("content_type", StringType()),
        StructField("warc_headers", MapType(StringType(), StringType())),
        StructField("http_status", IntegerType()),
        StructField("http_content_type", StringType()),
        StructField("payload", BinaryType()),
        StructField("truncated", BooleanType()),
        StructField("parse_error", StringType()),
    ]
)

_BATCH_ROWS = 256
# byte budget per Arrow batch (sum of payload bytes): bounds executor
# memory on chunky archives and stays far under pa.binary()'s 2 GiB
# array capacity even if one capped 256 MiB record follows it
_BATCH_PAYLOAD_BYTES = 64 * 1024 * 1024


@dataclass
class WarcFilePartition(InputPartition):
    """One scan task: a whole archive (start=0, end=None), a
    member-aligned byte range (point-lookup pruning), or — with
    ``snap=True`` — a COARSE byte range the owning executor snaps to
    member boundaries itself via :func:`warc_index.snap_bounds` (split
    planning never streams sidecars driver-side)."""

    path: str
    start: int = 0
    end: int | None = None
    snap: bool = False


# listing lives in the pyspark-free parser module so the CLI's
# warc-import shares it without importing pyspark.sql.datasource; kept
# under the old private name here for the reader/stream-reader call sites
_list_warc_files = warc.list_warc_files


def _plan_file_partitions(
    files: list[str],
    base_path: str,
    split_archives: bool,
    target_split_bytes: int,
) -> list["WarcFilePartition"]:
    """Files -> scan partitions, splitting archives bigger than
    ``target_split_bytes`` into COARSE byte-grid ranges when a ``.cdxj``
    sidecar exists (``format/warc_index.py``); the owning executor snaps
    each range to member boundaries task-side
    (:func:`warc_index.snap_bounds`).  Shared by the batch reader and
    each streaming micro-batch, so a huge archive landing in a stream
    doesn't become one giant task either.

    Driver I/O is O(archives) SMALL reads: ONE directory listing for
    sidecar discovery (not a HEAD per file), then one ~100 B header read
    per indexed archive (magic + staleness guard + archive_size — the
    grid needs nothing else).  Sidecar ROWS are never streamed at plan
    time: a ~90k-file crawl dump with ~8 MB sidecars would otherwise
    read ~0.7 TB sequentially on the driver before any task launches.
    The index is never auto-built here (that would be a hidden full
    scan); build it at export time or via the warc-index CLI."""
    indexed: set[str] | None = None
    if split_archives and target_split_bytes > 0 and files:
        be = storage.for_path(base_path)
        if len(files) == 1 and files[0] == base_path:
            indexed = (
                {base_path}
                if be.exists(warc_index.index_path(base_path))
                else set()
            )
        else:
            base = base_path.rstrip("/")
            names = be.glob_names(base, "*" + warc_index.INDEX_SUFFIX)
            have = {f"{base}/{n}" for n in names}
            indexed = {f for f in files if warc_index.index_path(f) in have}
    def one(p: str) -> list[WarcFilePartition]:
        if indexed is not None and p in indexed:
            # header-only: validates magic/version + staleness and yields
            # the size the grid is cut from; stale/foreign -> whole-file
            # fallback, never a mis-seek
            head = warc_index.index_header(p)
            if head is not None:
                size = int(head["archive_size"])
                if size > target_split_bytes:
                    return [
                        WarcFilePartition(
                            p, s, min(s + target_split_bytes, size), snap=True
                        )
                        for s in range(0, size, target_split_bytes)
                    ]
        return [WarcFilePartition(p)]

    if indexed and len(files) > 8:
        # overlap the per-archive header reads (same bounded pool as the
        # lookup planner and the shardpack manifest planner); ex.map
        # keeps file order so plans stay deterministic
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(16, len(files))) as ex:
            per_file = list(ex.map(one, files))
    else:
        per_file = [one(p) for p in files]
    return [pt for sub in per_file for pt in sub]


def _lookup_partitions(
    files: list[str],
    ids: list[str],
    uris: list[str],
    record_types: "frozenset[str] | None" = None,
) -> list["WarcFilePartition"]:
    """Point-lookup partition pruning: for each archive WITH a fresh
    sidecar, emit one member-range partition per member that holds a
    matching record (indexed files with zero matches contribute NO
    partitions); archives without a usable sidecar fall back to a
    whole-file scan — Spark re-applies the filters either way, so
    pruning never changes results, only I/O.

    Per-archive sidecar scans run on a bounded thread pool (16-way, the
    same shape as the shardpack manifest planner's): a lookup against a
    many-archive dump overlaps its sidecar I/O instead of streaming the
    files one after another driver-side.  Results keep file order
    (ex.map), so the plan stays deterministic."""
    id_set, uri_set = set(ids), set(uris)
    have: set[str] | None = None
    if len(files) > 1:
        # one listing for sidecar discovery (same reasoning as
        # _plan_file_partitions: never a HEAD per archive)
        base = files[0].rstrip("/").rsplit("/", 1)[0]
        be = storage.for_path(base)
        names = be.glob_names(base, "*" + warc_index.INDEX_SUFFIX)
        have = {f"{base}/{n}" for n in names}

    def one(p: str) -> list[WarcFilePartition]:
        head = (
            warc_index.index_header(p)
            if have is None or warc_index.index_path(p) in have
            else None
        )
        if head is None:
            return [WarcFilePartition(p)]
        kinds = head.get("kinds")
        if kinds is not None and (
            record_types is None or not record_types <= set(kinds)
        ):
            # PARTIAL sidecar (public-CDX conversion: responses only).  A
            # row MISS says nothing about record types it never
            # enumerated, so pruning is sound only when the reader
            # surfaces a subset of the enumerated kinds — otherwise a
            # whole-file scan keeps e.g. request/metadata rows visible.
            return [WarcFilePartition(p)]
        flds = head.get("fields")
        if flds is not None and (
            (id_set and "id" not in flds) or (uri_set and "u" not in flds)
        ):
            # the sidecar's source never carried the filtered identity
            # field (public CDX has no record ids): every row MISSES
            # vacuously, and pruning on that would drop rows a full scan
            # returns — whole-file scan instead
            return [WarcFilePartition(p)]
        # single streamed pass, rows arrive in offset order: a hit marks
        # its member; the member's END is the next DISTINCT offset (or
        # archive size for the last) — never materializes the row set
        sub: list[WarcFilePartition] = []
        archive_size = int(head["archive_size"])
        pending_hit: int | None = None
        prev_off: int | None = None
        st: dict = {}
        for r in warc_index.iter_index_rows(p, validated=True, status=st):
            if prev_off is None or r.offset != prev_off:
                if pending_hit is not None:
                    sub.append(WarcFilePartition(p, pending_hit, r.offset))
                    pending_hit = None
                prev_off = r.offset
            if (r.record_id in id_set) or (r.target_uri in uri_set):
                pending_hit = r.offset
        if not st.get("complete"):
            # TORN sidecar: records after the tear are invisible to this
            # pass, and a zero-match verdict for them would DROP rows a
            # full scan returns.  Emitted hit ranges can't be kept
            # alongside a tail scan either (an overlapping range would
            # duplicate rows) — one whole-file scan is the lossless
            # degradation, mirroring locator_rows_for_archive's rule.
            return [WarcFilePartition(p)]
        if pending_hit is not None:
            sub.append(WarcFilePartition(p, pending_hit, archive_size))
        return sub

    if len(files) > 8:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(16, len(files))) as ex:
            per_file = list(ex.map(one, files))
    else:
        per_file = [one(p) for p in files]
    parts = [pt for sub in per_file for pt in sub]
    if not parts:
        # the engine calls read(None) when partitions() is empty — hand it
        # one explicit empty range instead (start == end yields no rows)
        parts.append(WarcFilePartition(files[0], 0, 0))
    return parts


def _locator_partitions(
    index_path: str, files: list[str], ids: list[str], uris: list[str]
) -> "list[WarcFilePartition] | None":
    """Point-lookup planning served by a ``warc_dump_index`` locator
    dataset: one manifest-pruned shard lookup per value hands back the
    exact ``(archive, member offset)`` pairs — O(values) reads instead
    of O(archives) sidecar scans, the difference between planning a
    lookup against 90k archives in milliseconds vs minutes.

    Correctness without trust: the locator's ``user_metadata`` names the
    archives it covers (``warc_covered``, maintained across
    append/sync), so a MISS prunes a covered file to zero while files
    OUTSIDE the coverage fall back to whole-file scans with the filters
    re-applied.  Returns None — caller falls back to per-archive sidecar
    planning — when the locator is unusable, keyed for the other
    identity column, or the filter mixes in values it cannot serve."""
    try:
        man = manifest._load_manifest(index_path) or {}
        um = man.get("user_metadata") or {}
        key_kind = um.get("warc_key")
        # side-object coverage set (legacy inline warc_covered honored);
        # None = coverage unprovable -> nothing may be pruned to zero
        covered = warc_index.read_warc_coverage(index_path, um) or set()
    except Exception:
        return None
    if key_kind == "record_id":
        values, other = ids, uris
    elif key_kind == "target_uri":
        values, other = uris, ids
    else:
        return None
    if other or not values:
        # a filter on the identity column this locator is NOT keyed by
        # cannot be served — half-pruning would drop rows
        return None
    file_set = set(files)
    parts: list[WarcFilePartition] = [
        WarcFilePartition(f) for f in files if f not in covered
    ]
    try:
        ds = reader.open_dataset(index_path, verify_checksums=False)
        hits: set[tuple[str, int]] = set()
        # batched: each manifest-surviving shard is read once for ALL
        # values naming it — a 10k-id IN filter plans in O(shards
        # touched) reads, not O(values) serial pruned lookups
        for locs in ds.lookup_many(values).values():
            for loc in locs:
                f = loc.metadata.get("file")
                off = int(loc.metadata.get("offset", "0"))
                if f and f in file_set and f in covered:
                    hits.add((f, off))
    except Exception:
        return None  # unreadable locator: sidecar planning decides
    # (off, off+1): iter_warc_records stops before any member whose
    # START is >= end_offset, so this parses exactly the one member
    parts.extend(WarcFilePartition(f, off, off + 1) for f, off in sorted(hits))
    if not parts:
        parts.append(WarcFilePartition(files[0], 0, 0))
    return parts


_PUBLIC_CDX_KINDS = frozenset({"response", "revisit"})


def _public_cdx_partitions(
    cdx_index: str,
    files: list[str],
    uris: list[str],
    record_types: "frozenset[str] | None",
    trust_misses: bool = False,
) -> "list[WarcFilePartition] | None":
    """Point-lookup planning served by a PUBLIC Common Crawl CDX index
    (``format/cdx_public.py``): ``surt(uri)`` -> cluster.idx bisect ->
    one gzip block -> ``(filename, offset, length)`` -> one member-range
    partition per hit.  O(values) ranged reads against the index the
    crawl already ships — no house sidecar or locator build needed.

    Soundness: the public index enumerates response/revisit records
    ONLY, so it may prune iff the read surfaces a subset of those types
    (``record_types`` option) — passing ``cdx_index`` asserts the index
    belongs to this dump (it carries no coverage manifest of its own);
    files the index's hits never name are pruned to zero under that
    assertion, and Spark re-applies the filters on whatever is read.

    Key parity: a FOREIGN index was keyed by the full public ``surt``
    library, whose canonicalization may diverge from the house
    :func:`cdx_public.surt` on edge cases (session-id stripping, percent
    escapes) — a diverged key looks like a MISS, and trusting it would
    prune rows a full scan returns.  So a miss (or a block hit whose
    rows' ``url`` never string-equals the filter value — verified hits
    prove key parity for that value) only prunes when the index carries
    this engine's emit marker (:func:`cdx_public.house_emitted`) or the
    user asserts parity via the ``cdx_trust_misses`` option; otherwise
    the planner returns None and sidecar planning decides.  Also None
    when the contract can't hold at all: unrestricted record types,
    record_id filters mixed in, locator-less index rows, unreadable
    index."""
    if record_types is None or not record_types <= _PUBLIC_CDX_KINDS:
        return None
    if not uris:
        return None
    trust = trust_misses or cdx_public.house_emitted(cdx_index)
    by_base: dict[str, list[str]] = {}
    for f in files:
        by_base.setdefault(f.rsplit("/", 1)[-1], []).append(f)
    hits: set[tuple[str, int, int]] = set()
    try:
        for u in uris:
            verified = False
            for row in cdx_public.lookup_public_cdx(cdx_index, url=u):
                fn, off = row.get("filename"), row.get("offset")
                if fn is None or off is None:
                    return None  # rows without locators cannot prune
                if row.get("url") == u:
                    verified = True
                end = off + row["length"] if row.get("length") else off + 1
                # filename fields are dump-relative: prefer an exact or
                # path-suffix match; only when the recorded path shape
                # doesn't line up with the listing (rehomed dumps) fall
                # back to the basename bucket — a basename shared across
                # segments must not attach foreign byte ranges when the
                # true path is resolvable
                bucket = by_base.get(fn.rsplit("/", 1)[-1], [])
                exact = [f for f in bucket if f == fn or f.endswith("/" + fn)]
                for f in exact or bucket:
                    hits.add((f, off, end))
            if not verified and not trust:
                # miss, or hits that never echo the filter value: key
                # parity with the foreign indexer is unproven for u
                return None
    except Exception:
        return None  # unreadable/foreign index: sidecar planning decides
    parts = [WarcFilePartition(f, o, e) for f, o, e in sorted(hits)]
    if not parts:
        parts.append(WarcFilePartition(files[0], 0, 0))
    return parts


class WarcReader(DataSourceReader):
    """Base reader WITHOUT pushFilters — Spark's planning worker raises
    DATA_SOURCE_PUSHDOWN_DISABLED if a reader class even DEFINES
    pushFilters while spark.sql.python.filterPushdown.enabled is false
    (pyspark/sql/worker/plan_data_source_read.py), so the pruning
    variant below is chosen only when the conf is on — same split as the
    shardpack reader/ShardPackPruningReader pair."""

    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ShardPackIOError("warc reader requires a path")
        rt = options.get("record_types")
        self.record_types: frozenset[str] | None = (
            frozenset(s.strip() for s in rt.split(",") if s.strip()) if rt else None
        )
        self.skip_payload = str(options.get("skip_payload", "false")).lower() == "true"
        # Default cap 256 MiB: a crafted Content-Length in an untrusted
        # crawl must not buffer an attacker-chosen allocation (a ~50 MB
        # gzip member can inflate ~1000x) — no legitimate crawl record
        # approaches this.  Explicit 0 = unlimited (trusted archives).
        mpb = options.get("max_payload_bytes")
        self.max_payload_bytes: int | None = (
            256 * 1024 * 1024 if mpb in (None, "") else (int(mpb) or None)
        )
        # drop rows whose parse failed instead of surfacing them (the
        # default SURFACES them: silent loss is the thing telemetry exists
        # to prevent)
        self.drop_errors = str(options.get("drop_errors", "false")).lower() == "true"
        # split big archives into member-aligned byte ranges when a .cdxj
        # sidecar exists (format/warc_index.py) — a user with a few huge
        # .warc.gz files gets N tasks per archive instead of one.  The
        # index is never auto-built here (that would be a hidden full
        # scan); build it at export time or via the warc-index CLI.
        self.split_archives = (
            str(options.get("split_archives", "true")).lower() == "true"
        )
        self.target_split_bytes = int(
            options.get("target_split_bytes", 128 * 1024 * 1024)
        )
        # dump-wide locator (operators.webcorpus.warc_dump_index): serves
        # record_id/target_uri pushdown in O(values) reads instead of
        # O(archives) sidecar scans; coverage-checked, see
        # _locator_partitions
        self.dump_index = options.get("dump_index") or None
        # public Common Crawl CDX index (cdx-*.gz [+ cluster.idx], or one
        # cdx file): serves target_uri pushdown straight from the index
        # the crawl ships — see _public_cdx_partitions for the soundness
        # contract (record_types must stay within response/revisit)
        self.cdx_index = options.get("cdx_index") or None
        # user assertion that the public index's keys match the house
        # surt() (e.g. a marker-less copy of an index this engine
        # emitted) — lets a lookup MISS prune even without the emit
        # marker; see _public_cdx_partitions' key-parity contract
        self.cdx_trust_misses = (
            str(options.get("cdx_trust_misses", "false")).lower() == "true"
        )
        self._id_filters: list[str] = []
        self._uri_filters: list[str] = []
        self._file_filters: list[str] = []

    def partitions(self):
        files = _list_warc_files(self.path)
        if self._file_filters:
            keep = set(self._file_filters)
            pruned = [p for p in files if p in keep]
            # an unknown file name yields zero rows, not a scan: the
            # filter is re-applied anyway, so an empty range is correct
            files = pruned or [files[0]]
            if not pruned:
                return [WarcFilePartition(files[0], 0, 0)]
        if self._id_filters or self._uri_filters:
            if self.dump_index:
                parts = _locator_partitions(
                    self.dump_index, files, self._id_filters, self._uri_filters
                )
                if parts is not None:
                    return parts
            if self.cdx_index and not self._id_filters:
                parts = _public_cdx_partitions(
                    self.cdx_index,
                    files,
                    self._uri_filters,
                    self.record_types,
                    trust_misses=self.cdx_trust_misses,
                )
                if parts is not None:
                    return parts
            return _lookup_partitions(
                files, self._id_filters, self._uri_filters, self.record_types
            )
        return _plan_file_partitions(
            files,
            self.path,
            self.split_archives,
            self.target_split_bytes,
        )

    def read(self, partition: WarcFilePartition):
        storage.guard_zip_directory_reloads()
        import pyarrow as pa

        be = storage.for_path(partition.path)
        start, end = partition.start, partition.end
        if partition.snap:
            bounds = warc_index.snap_bounds(
                partition.path, start, end if end is not None else 0, be=be
            )
            if bounds is None:
                # sidecar vanished or went stale between planning and
                # execution: every task of this archive reaches the same
                # header verdict, so exactly the 0-task serializes a
                # whole-file scan and the rest yield nothing — correct
                # rows, degraded parallelism, never a mis-seek
                if partition.start != 0:
                    return
                start, end = 0, None
            else:
                start, end = bounds
                if start is None:
                    return  # no member starts inside this coarse range
        cols: dict[str, list] = {f.name: [] for f in WARC_SCHEMA.fields}
        pending_payload_bytes = 0

        def flush():
            batch = pa.RecordBatch.from_arrays(
                [
                    pa.array(cols["file"], pa.string()),
                    pa.array(cols["record_offset"], pa.int64()),
                    pa.array(cols["warc_type"], pa.string()),
                    pa.array(cols["record_id"], pa.string()),
                    pa.array(cols["target_uri"], pa.string()),
                    pa.array(cols["warc_date"], pa.string()),
                    pa.array(cols["content_type"], pa.string()),
                    pa.array(cols["warc_headers"], pa.map_(pa.string(), pa.string())),
                    pa.array(cols["http_status"], pa.int32()),
                    pa.array(cols["http_content_type"], pa.string()),
                    pa.array(cols["payload"], pa.binary()),
                    pa.array(cols["truncated"], pa.bool_()),
                    pa.array(cols["parse_error"], pa.string()),
                ],
                names=[f.name for f in WARC_SCHEMA.fields],
            )
            for k in cols:
                cols[k] = []
            return batch

        with be.open_read(partition.path) as f:
            for rec in warc.iter_warc_records(
                f,
                parse_http=True,
                max_payload_bytes=self.max_payload_bytes,
                skip_payload=self.skip_payload,
                start_offset=start,
                end_offset=end,
            ):
                if rec.parse_error and self.drop_errors:
                    continue
                if (
                    self.record_types is not None
                    and not rec.parse_error
                    and rec.warc_type not in self.record_types
                ):
                    continue
                cols["file"].append(partition.path)
                cols["record_offset"].append(rec.offset)
                cols["warc_type"].append(rec.warc_type or None)
                cols["record_id"].append(rec.record_id)
                cols["target_uri"].append(rec.target_uri)
                cols["warc_date"].append(rec.date)
                cols["content_type"].append(rec.content_type)
                cols["warc_headers"].append(sorted(rec.headers.items()))
                cols["http_status"].append(rec.http_status)
                cols["http_content_type"].append(
                    rec.http_headers.get("content-type")
                )
                # responses carry the parsed body; non-HTTP records carry
                # the raw block
                body = (
                    None
                    if self.skip_payload
                    else (rec.payload if rec.payload is not None else rec.block)
                )
                cols["payload"].append(body)
                pending_payload_bytes += len(body) if body is not None else 0
                cols["truncated"].append(rec.truncated)
                cols["parse_error"].append(rec.parse_error)
                # flush on rows OR accumulated payload bytes: with the
                # 256 MiB per-record cap, 256 chunky ~100 MB records would
                # otherwise pile a multi-GiB Arrow batch (pa.binary()
                # arrays overflow at 2 GiB; executor memory spikes first)
                if (
                    len(cols["file"]) >= _BATCH_ROWS
                    or pending_payload_bytes >= _BATCH_PAYLOAD_BYTES
                ):
                    pending_payload_bytes = 0
                    yield flush()
        if cols["file"]:
            yield flush()


class WarcPushdownReader(WarcReader):
    """Pruning variant: carries ``pushFilters``, so it may only be
    instantiated when ``spark.sql.python.filterPushdown.enabled`` is true
    (the planning worker rejects the override otherwise — see the base
    class docstring).  ``WarcDataSource.reader()`` selects it via the
    explicit ``prune_by_key`` option, which :func:`read_warc` sets
    driver-side iff the conf reads true — the planning worker has no
    SparkSession to consult."""

    def pushFilters(self, filters):  # noqa: N802 (Spark API name)
        """Record record_id / target_uri / file equality+IN filters; ALL
        filters are returned so Spark re-applies them — pruning is a
        strict optimization (same contract as the shardpack reader's key
        pushdown).  With a .cdxj sidecar present, partitions() then opens
        only the members the looked-up records live in — point lookup by
        id/URI over a crawl directory reads O(matches) members, not the
        corpus; indexed files with no match are skipped entirely.  A
        ``file`` filter prunes the LISTING (re-reading one archive out of
        a ~90k-file dump plans one file, no index needed)."""
        for f in filters:
            if isinstance(f, EqualTo) and tuple(f.attribute) == ("record_id",):
                self._id_filters.append(f.value)
            elif isinstance(f, In) and tuple(f.attribute) == ("record_id",):
                self._id_filters.extend(v for v in f.value if v is not None)
            elif isinstance(f, EqualTo) and tuple(f.attribute) == ("target_uri",):
                self._uri_filters.append(f.value)
            elif isinstance(f, In) and tuple(f.attribute) == ("target_uri",):
                self._uri_filters.extend(v for v in f.value if v is not None)
            elif isinstance(f, EqualTo) and tuple(f.attribute) == ("file",):
                self._file_filters.append(f.value)
            elif isinstance(f, In) and tuple(f.attribute) == ("file",):
                self._file_filters.extend(v for v in f.value if v is not None)
        return filters


class WarcStreamReader(DataSourceStreamReader):
    """Incremental crawl ingest: ``spark.readStream.format("warc")`` over
    a directory crawl files LAND in — each micro-batch admits the files
    that arrived since the last offset (file name = offset unit; crawl
    files are named monotonically so arrivals sort after history).

    Same restart discipline as the shardpack stream source: the engine's
    own start offset is kept as a consumed FLOOR, so a fresh reader whose
    capped ``latestOffset`` momentarily sorts below the checkpoint yields
    an empty batch, never a duplicate.  ``max_files_per_batch`` is the
    admission control that drains a deep backlog (a bulk drop of 10k
    archives) as bounded batches.

    Cap caveat (see ``stream_offsets`` module doc): the first batch after
    a restart AND the first pass of a fresh ``availableNow`` query are
    UNCAPPED — availableNow snapshots ``latestOffset()`` before
    ``initialOffset()``, so the initial backlog lands in one batch.  For
    a bounded bulk backfill, run the first drain with a micro-batch
    trigger (capped from batch one), then switch to availableNow."""

    def __init__(self, options: dict):
        self._batch = WarcReader(options)  # validates path + row options
        self.path = self._batch.path
        max_files = int(options.get("max_files_per_batch", 0))
        sp = str(options.get("starting_position", "earliest")).lower()
        if sp not in ("earliest", "latest"):
            raise ShardPackIOError(
                f"starting_position must be earliest|latest, got {sp!r}"
            )
        self._offsets = CappedListingOffsets(
            lambda: _list_warc_files(self.path, allow_empty=True), max_files, sp
        )

    def initialOffset(self) -> dict:  # noqa: N802
        return self._offsets.initial()

    def latestOffset(self) -> dict:  # noqa: N802
        return self._offsets.latest()

    def partitions(self, start: dict, end: dict):
        lo, hi = self._offsets.advance(start, end)
        admitted = [
            p
            for p in _list_warc_files(self.path, allow_empty=True)
            if lo < p <= hi
        ]
        # same sidecar-driven splitting as the batch reader: a huge
        # archive landing in the stream becomes N member-aligned range
        # tasks, not one; offsets stay per-FILE so exactly-once admission
        # is untouched (a file's ranges always travel in one batch)
        return _plan_file_partitions(
            admitted,
            self.path,
            self._batch.split_archives,
            self._batch.target_split_bytes,
        )

    def commit(self, end: dict) -> None:
        self._offsets.commit(end)

    def read(self, partition: WarcFilePartition):
        yield from self._batch.read(partition)


class WarcDataSource(DataSource):
    """``spark.read.format("warc").load(dir_or_file)`` — see module doc."""

    @classmethod
    def name(cls) -> str:
        return "warc"

    def schema(self) -> StructType:
        storage.guard_zip_directory_reloads()
        return WARC_SCHEMA

    def reader(self, schema: StructType) -> WarcReader:
        storage.guard_zip_directory_reloads()
        # reader() runs in a planning worker with no SparkSession, so the
        # pruning variant (which requires the filterPushdown conf) is
        # selected via an explicit option; read_warc() sets it
        # automatically driver-side (mirrors shardpack's prune_by_key).
        prune = str(self.options.get("prune_by_key", "false")).lower() == "true"
        cls = WarcPushdownReader if prune else WarcReader
        return cls(self.options)

    def streamReader(self, schema: StructType) -> WarcStreamReader:  # noqa: N802
        storage.guard_zip_directory_reloads()
        return WarcStreamReader(self.options)


def register_warc(spark) -> None:
    """Idempotent per session (mirrors datasource.register)."""
    if getattr(spark, "_shardpack_warc_registered", False):
        return
    ship_by_value()
    # NOTE: a sibling spark.newSession() cannot register OR use a Python
    # data source its parent registered (Spark checks name existence
    # globally but resolves per-session) — run per-session conf
    # experiments by toggling confs on the owning session instead.
    spark.dataSource.register(WarcDataSource)
    spark._shardpack_warc_registered = True


def read_warc(spark, path: str, **options):
    """Reader facade: ``read_warc(spark, dir, record_types='response')``.

    Enables the filter-pushdown reader variant only when the session
    actually permits it — a session with
    ``spark.sql.python.filterPushdown.enabled`` unset/false (the Spark
    default) gets the base reader and a plain full scan + Spark-side
    filter (correct, just unpruned) instead of a planning-worker abort."""
    register_warc(spark)
    if (
        "prune_by_key" not in options
        # case-insensitive like the JVM's toBoolean: a session configured
        # with a Python bool stores 'True', which Spark honors — the
        # pruning path must engage for it too
        and str(
            spark.conf.get("spark.sql.python.filterPushdown.enabled", "false")
        ).lower()
        == "true"
    ):
        options["prune_by_key"] = "true"
    r = spark.read.format("warc")
    for k, v in options.items():
        r = r.option(k, v)
    return r.load(path)
