"""Sidecar record index for WARC archives — the CDX analog, pyspark-free.

The crawl ecosystem's answer to "WARC is sequential": a tiny index of
``(member offset, record id, target URI, type)`` per record, stored next
to the archive, giving two capabilities gzip members alone cannot:

- **point lookup**: find a record by id/URI and decompress ONE member,
  not the archive — the same EOF-index random-access promise the
  shardpack format makes for its own shards (reference
  ``docs/draft.md:124-127``), applied to the crawl container;
- **splittable archives**: a huge single ``.warc.gz`` (member-per-record)
  can be scanned by N parallel tasks, each seeking to a member boundary
  and parsing a byte range — without an index the parallel grain is
  strictly per-file.

Wire format (``<archive>.cdxj``, UTF-8 text): a JSON header line
``{"magic": "shardpack-warc-cdxj", "version": 1, "records": N,
"archive_size": S}`` followed by ONE compact JSON object per record in
offset order — ``{"o": member_offset, "t": warc_type, "id": record_id,
"u": target_uri}`` with absent/null fields omitted and parse-error rows
carrying ``{"o": ..., "e": "<reason>"}``.  Offset order means the offsets
column is already sorted for range splitting, and grep/jq work on the
sidecar directly (the reason CDXJ in the wild is line-JSON too).
Streamed builds (header ``records: -1``) append a ``{"end": N}`` trailer
so completeness stays checkable — see :func:`iter_index_rows`.

Staleness guard: ``archive_size`` is recorded at build time and checked
against the live archive on every read — an index whose archive was
rewritten is treated as ABSENT (sequential fallback), never trusted into
mis-seeks.

Scale shape: the index is ~60-100 bytes/record — a 1 GiB archive of
~100k records carries a ~8 MB sidecar; building is one headers-only
sequential pass (``skip_payload=True``: Content-Length bytes are drained,
never buffered); lookups read the sidecar + one member.  All I/O goes
through ``format.storage`` (local, sim://, memory://, s3://).
"""

from __future__ import annotations

import gzip
import hashlib
import json
from dataclasses import dataclass

from shardpack_spark.format import manifest, storage
from shardpack_spark.format.codec import ShardPackIOError
from shardpack_spark.format.warc import WarcRecord, iter_warc_records

INDEX_SUFFIX = ".cdxj"
_INDEX_FLUSH_BYTES = 8 * 1024 * 1024  # streamed-build chunk size
_MAGIC = "shardpack-warc-cdxj"
_VERSION = 1


def index_path(archive_path: str) -> str:
    return archive_path + INDEX_SUFFIX


@dataclass
class WarcIndexRow:
    offset: int
    warc_type: str | None = None
    record_id: str | None = None
    target_uri: str | None = None
    error: str | None = None


@dataclass
class WarcIndex:
    """Parsed sidecar: rows in offset order + the size the archive had
    when indexed."""

    rows: list[WarcIndexRow]
    archive_size: int

    def member_offsets(self) -> list[int]:
        """Sorted DISTINCT member offsets — the legal seek/split points.
        Several records can share one offset (multi-record members)."""
        return sorted({r.offset for r in self.rows})

    def find(
        self, record_id: str | None = None, uri: str | None = None
    ) -> WarcIndexRow | None:
        """First row matching record_id (exact) or target URI (exact)."""
        for r in self.rows:
            if record_id is not None and r.record_id == record_id:
                return r
            if uri is not None and r.target_uri == uri:
                return r
        return None

    def split_ranges(self, target_split_bytes: int) -> list[tuple[int, int]]:
        """Greedy member-aligned byte ranges covering [0, archive_size):
        each range holds whole members and ~target_split_bytes of
        compressed data (the last may be smaller).  Every archive byte is
        in exactly one range, so a union of range scans equals one
        sequential scan — including parse-error records."""
        offs = self.member_offsets()
        if not offs or target_split_bytes <= 0:
            return [(0, self.archive_size)]
        ranges: list[tuple[int, int]] = []
        start = 0
        for off in offs:
            if off - start >= target_split_bytes:
                ranges.append((start, off))
                start = off
        ranges.append((start, self.archive_size))
        # leading offs[0] == 0 never closes a range (off - start == 0)
        return [r for r in ranges if r[1] > r[0]]


def _archive_size(be, path: str) -> int:
    with be.open_read(path) as f:
        f.seek(0, 2)
        return f.tell()


def _row_obj(r: WarcIndexRow) -> dict:
    o: dict = {"o": r.offset}
    # identity fields are orthogonal to the error flag: a short-block /
    # lying-Content-Length record keeps its parsed headers, and the Spark
    # reader emits it WITH its id — so a pushdown lookup on that id must
    # find the member.  Dropping t/id/u on error rows made indexed
    # pruning return 0 rows where an unindexed scan returns 1, violating
    # the 'pruning never changes results, only I/O' contract.
    if r.error is not None:
        o["e"] = r.error[:120]
    if r.warc_type:
        o["t"] = r.warc_type
    if r.record_id:
        o["id"] = r.record_id
    if r.target_uri:
        o["u"] = r.target_uri
    return o


def write_warc_index(
    archive_path: str,
    rows: list[WarcIndexRow],
    archive_size: int,
    be=None,
    kinds: "list[str] | None" = None,
    fields: "list[str] | None" = None,
) -> None:
    """Serialize + atomically publish the sidecar.  Exporters that know
    offsets from writing (``write_warc(sizes_out=...)`` cumulative sums)
    call this directly — no second read pass over the archive.

    ``kinds``: record the WARC-Type values this sidecar enumerates when
    it is PARTIAL — a sidecar converted from a public Common Crawl CDX
    (``cdx_to_sidecars``) names only ``response`` records, so readers
    that surface other types must not trust a row MISS.  Absent = the
    sidecar enumerates every record (house builds).  Split planning is
    unaffected either way: offsets are cut points, and a byte-range
    union is lossless regardless of which members contributed them.

    ``fields``: the identity row keys (``'id'``/``'u'``/``'t'``) this
    sidecar's SOURCE carried — the public CDX records target URIs but no
    WARC record ids, so a converted sidecar's rows all have ``id``
    absent, and a lookup pruner filtering on record_id must not read a
    row MISS as proof of absence (``_lookup_partitions`` whole-file
    falls back when the filtered field isn't enumerated).  Absent = all
    identity fields were available to the builder (house builds)."""
    be = be or storage.for_path(archive_path)
    head_obj = {
        "magic": _MAGIC,
        "version": _VERSION,
        "records": len(rows),
        "archive_size": archive_size,
    }
    if kinds is not None:
        head_obj["kinds"] = sorted(set(kinds))
    if fields is not None:
        head_obj["fields"] = sorted(set(fields))
    head = json.dumps(head_obj)
    lines = [head]
    lines.extend(
        json.dumps(_row_obj(r), separators=(",", ":"), ensure_ascii=False)
        for r in sorted(rows, key=lambda r: r.offset)
    )
    be.write_atomic(index_path(archive_path), ("\n".join(lines) + "\n").encode())


def build_warc_index(archive_path: str, be=None) -> dict:
    """One headers-only pass over the archive -> sidecar.  Returns a
    summary dict (records / members / errors / archive_size).

    Streaming write, O(1) memory in the record count: a sequential parse
    yields offsets in non-decreasing order, so row lines go to the
    publish-on-close write handle in ~8 MiB chunks — the huge-archive
    case this index exists for (say 100 GiB / ~10M records) never
    buffers its rows.  Because the true record count is only known at
    end-of-pass and object stores can't prepend, the header's
    ``records`` field is written as -1 (unknown) on this path; readers
    never rely on it (``len(rows)`` on read, ``archive_size`` is the
    staleness guard).  ``write_warc_index`` — the exporters' list-based
    path — still records the real count.

    The stream ends with a TRAILER line ``{"end": N}`` carrying the true
    row count: without it, a ``records=-1`` sidecar truncated exactly at
    a newline boundary parses cleanly to the cut and would read as
    complete — the silent-coverage hole the ``iter_index_rows`` status
    gate exists to close.  A count-bearing header needs no trailer (a
    clean-cut tear already shows as a count mismatch)."""
    be = be or storage.for_path(archive_path)
    size = _archive_size(be, archive_path)
    n = members = errors = 0
    last_off = None
    handle = be.create(index_path(archive_path))
    try:
        # header first: counts aren't known yet, but the fields a READER
        # trusts are magic/version/archive_size (staleness guard);
        # records is informational — declare it -1 (unknown) here and
        # let read_warc_index use len(rows).
        handle.write(
            (
                json.dumps(
                    {
                        "magic": _MAGIC,
                        "version": _VERSION,
                        "records": -1,
                        "archive_size": size,
                    }
                )
                + "\n"
            ).encode()
        )
        buf: list[bytes] = []
        buf_bytes = 0
        with be.open_read(archive_path) as f:
            for rec in iter_warc_records(f, parse_http=False, skip_payload=True):
                row = WarcIndexRow(
                    offset=rec.offset,
                    warc_type=rec.warc_type or None,
                    record_id=rec.record_id,
                    target_uri=rec.target_uri,
                    error=rec.parse_error,
                )
                line = (
                    json.dumps(
                        _row_obj(row), separators=(",", ":"), ensure_ascii=False
                    )
                    + "\n"
                ).encode()
                buf.append(line)
                buf_bytes += len(line)
                if buf_bytes >= _INDEX_FLUSH_BYTES:
                    handle.write(b"".join(buf))
                    buf, buf_bytes = [], 0
                n += 1
                if rec.offset != last_off:
                    members += 1
                    last_off = rec.offset
                if rec.parse_error:
                    errors += 1
        if buf:
            handle.write(b"".join(buf))
        handle.write((json.dumps({"end": n}) + "\n").encode())
        handle.close()
    except BaseException:
        handle.abort()
        raise
    return {
        "archive": archive_path,
        "records": n,
        "members": members,
        "errors": errors,
        "archive_size": size,
    }


def index_header(archive_path: str, be=None) -> dict | None:
    """Validate the sidecar header: magic/version AND the staleness guard
    (live archive size == recorded size).  Returns the header dict, or
    None for absent/foreign/torn/STALE sidecars — callers fall back to
    sequential parsing, never a mis-seek."""
    be = be or storage.for_path(archive_path)
    ip = index_path(archive_path)
    if not be.exists(ip):
        return None
    try:
        head_line = be.read_bytes(ip, 0, 4096).split(b"\n", 1)[0]
        head = json.loads(head_line.decode("utf-8"))
        if head.get("magic") != _MAGIC or head.get("version") != _VERSION:
            return None
    except (ValueError, KeyError, IndexError, OSError):
        return None  # torn/foreign sidecar: sequential fallback, not a crash
    if _archive_size(be, archive_path) != head.get("archive_size"):
        return None  # archive rewritten since indexing — offsets are lies
    return head


def iter_index_rows(
    archive_path: str, be=None, validated: bool = False, status: dict | None = None
):
    """STREAM sidecar rows without materializing them — the planning and
    lookup primitive for huge archives (a 100 GiB archive's sidecar is
    ~800 MB; loading it per planning call is exactly the allocation this
    index family exists to avoid).  Yields :class:`WarcIndexRow` in
    offset order; yields nothing for an unusable sidecar unless the
    caller already ran :func:`index_header` (``validated=True``).
    Torn row lines end the stream at the damage point (offsets already
    yielded remain valid seek points).

    ``status``: optional dict filled when the generator finishes —
    ``status['complete']`` is True iff the stream reached a clean end:
    no torn/damaged line stopped it early, no dangling partial final
    line, and the recorded row count matched the rows seen — from the
    header's ``records`` field when it was known at write time, else
    from the streamed build's ``{"end": N}`` trailer (a ``records=-1``
    sidecar WITHOUT a trailer is incomplete by definition: a tear at a
    newline boundary is otherwise invisible).  Consumers that
    DERIVE indexes from the sidecar (dump locator, lookup planning) must
    check it: a torn sidecar silently misses every record after the
    tear, and treating the archive as fully enumerated would let a
    pruned MISS drop rows a full scan returns.  ``complete`` stays False
    if the caller abandons the generator early."""
    if status is not None:
        status["complete"] = False
        status["rows"] = 0
    be = be or storage.for_path(archive_path)
    if not validated and index_header(archive_path, be=be) is None:
        return
    expected = -1
    trailer: int | None = None
    n = 0
    with be.open_read(index_path(archive_path)) as f:
        # explicit buffered line split: storage handles expose read(),
        # not necessarily line iteration (pyarrow NativeFile isn't
        # iterable)
        buf = b""
        first = True
        while True:
            chunk = f.read(1 << 20)
            if chunk:
                buf += chunk
                lines = buf.split(b"\n")
                buf = lines.pop()  # incomplete last line carries over
            else:
                lines = [buf] if buf else []
                buf = b""
            for raw in lines:
                if first:
                    first = False  # header line
                    try:
                        expected = int(
                            json.loads(raw.decode("utf-8")).get("records", -1)
                        )
                    except (ValueError, TypeError, AttributeError):
                        expected = -1  # header damage: count unknowable
                    continue
                if not raw.strip():
                    continue
                try:
                    d = json.loads(raw.decode("utf-8"))
                    if isinstance(d, dict) and "o" not in d and "end" in d:
                        # streamed-build trailer: the count the header
                        # couldn't record (not a row — never yielded)
                        trailer = int(d["end"])
                        continue
                    row = WarcIndexRow(
                        offset=int(d["o"]),
                        warc_type=d.get("t"),
                        record_id=d.get("id"),
                        target_uri=d.get("u"),
                        error=d.get("e"),
                    )
                except (ValueError, KeyError, TypeError):
                    # torn tail: stop at the damage, keep what parsed.
                    # TypeError covers a line that parses as a JSON
                    # scalar (corrupt/foreign file passing header
                    # validation) — d["o"] on a non-dict must stop the
                    # stream, not escape out of planning/lookup.
                    return
                n += 1
                yield row
            if not chunk:
                if status is not None:
                    status["rows"] = n
                    status["complete"] = (
                        n == expected if expected >= 0 else trailer == n
                    )
                return


def read_warc_index(archive_path: str, be=None) -> WarcIndex | None:
    """Load the WHOLE sidecar, or None when absent/foreign/STALE —
    convenient for normal crawl archives (~8 MB sidecar per 1 GiB
    archive); planning and lookup paths stream via
    :func:`iter_index_rows` instead."""
    be = be or storage.for_path(archive_path)
    head = index_header(archive_path, be=be)
    if head is None:
        return None
    rows = list(iter_index_rows(archive_path, be=be, validated=True))
    return WarcIndex(rows=rows, archive_size=int(head["archive_size"]))


def split_ranges_for(
    archive_path: str, target_split_bytes: int, be=None
) -> list[tuple[int, int]] | None:
    """Member-aligned split ranges computed by STREAMING the sidecar —
    O(distinct members) memory, never the row set.  None when the
    sidecar is unusable or the archive is not bigger than the target
    (callers keep the whole-file partition)."""
    be = be or storage.for_path(archive_path)
    head = index_header(archive_path, be=be)
    if head is None:
        return None
    size = int(head["archive_size"])
    if size <= target_split_bytes or target_split_bytes <= 0:
        return None
    ranges: list[tuple[int, int]] = []
    start = 0
    last = None
    for row in iter_index_rows(archive_path, be=be, validated=True):
        if row.offset == last:
            continue  # multi-record member
        last = row.offset
        if row.offset - start >= target_split_bytes:
            ranges.append((start, row.offset))
            start = row.offset
    ranges.append((start, size))
    return [r for r in ranges if r[1] > r[0]]


_BISECT_WINDOW = 1 << 20  # stop bisecting, stream linearly, below this
_PROBE_BYTES = 64 * 1024  # initial ranged read per probe (doubled as needed)


def _row_offset_at(be, ip: str, pos: int, size: int) -> tuple[int, int] | None:
    """First parseable row line starting at/after byte ``pos`` of the
    sidecar: ``(archive_offset, line_start_byte)``, or None when no
    parseable row COMPLETES in ``[pos, size)`` — reads never touch bytes
    at or past ``size``, so a concurrent append past the probed snapshot
    size cannot leak into the bisect.  ``pos == 0`` skips the header
    line; ``pos > 0`` drops the (possibly partial) line in progress.
    Damaged lines are skipped forward — the probe never *misreads*, it
    only walks further."""
    read_at = pos
    buf = b""
    dropped = False
    want = _PROBE_BYTES
    while True:
        if not buf.count(b"\n"):
            if read_at >= size:
                return None  # no complete line left inside the bound
            chunk = be.read_bytes(ip, read_at, min(want, size - read_at))
            if not chunk:
                return None
            buf += chunk
            read_at += len(chunk)
            want = min(want * 2, 8 << 20)
            continue
        lines = buf.split(b"\n")
        tail = lines.pop()  # incomplete (or empty) remainder
        base = pos
        for raw in lines:
            line_start = base
            base += len(raw) + 1
            if not dropped:
                dropped = True  # header at pos 0, partial line otherwise
                continue
            if not raw.strip():
                continue
            try:
                d = json.loads(raw.decode("utf-8"))
                return (int(d["o"]), line_start)
            except (ValueError, KeyError, TypeError):
                continue  # damaged line: walk forward
        pos = base
        buf = tail


def snap_bounds(
    archive_path: str, start: int, end: int, be=None
) -> tuple[int | None, int | None] | None:
    """Task-side snap of a coarse planner byte range ``[start, end)`` to
    member boundaries — the executor half of split planning.

    At 100 TB the driver must NOT stream sidecars at plan time (a ~90k
    archive dump × ~8 MB sidecars is a day of sequential driver I/O
    before any task launches), so the planner cuts a fixed byte grid
    from the sidecar HEADER alone (~100 B per archive; same pattern as
    the shardpack EOF-index resolved task-side, reference
    docs/draft.md:124-127) and each task snaps its own range here.

    Each task BISECTS the sidecar by byte position (rows are line-JSON
    in offset order) to land just below its ``start``, then streams only
    its own slice — O(log(sidecar) probes + the task's share of rows),
    not a prefix scan: an 800-split scan of a 100 GiB archive reads each
    sidecar byte ~once across all tasks instead of ~400x.

    Ownership is by VISIBLE (parseable) row boundaries, identical for
    every task: ``seek`` = first visible member offset >= start,
    ``stop`` = first visible member offset >= end.  Adjacent tasks
    compute the same boundary from the same rows, so the union over the
    grid covers ``[0, archive_size)`` exactly — members whose index row
    is damaged are parsed by whichever task owns the preceding visible
    boundary (the WARC parser walks real bytes; the sidecar only picks
    seek/stop points).  Returns:

    - ``(seek, stop)``: parse members in ``[seek, stop)``; equal values
      mean nothing to scan here.
    - ``(seek, None)``: no visible offset >= end — this task owns
      everything from ``seek`` to EOF (file tail, or a sidecar torn at
      the tail).  At most one task per archive takes this branch.
    - ``(None, None)``: no visible offset at/after ``start`` — nothing
      to scan.  Exception: the ``start == 0`` task always parses from
      byte 0 (``seek`` forced to 0), so archives whose early rows are
      damaged — or sidecars with zero usable rows — stay lossless.
    - ``None``: sidecar absent/foreign/STALE at read time — the caller
      falls back (every task sees the same header verdict, so exactly
      one whole-file scan results).
    """
    be = be or storage.for_path(archive_path)
    if index_header(archive_path, be=be) is None:
        return None
    ip = index_path(archive_path)
    try:
        size = be.getsize(ip)
    except Exception:
        size = _archive_size(be, ip)
    # bisect byte positions: find a line start whose row offset < start
    # (scan begins there); 0 when none is known
    lo, lo_line_start = 0, False
    hi = size
    if start > 0:
        while hi - lo > _BISECT_WINDOW:
            mid = (lo + hi) // 2
            probe = _row_offset_at(be, ip, mid, size)
            if probe is None or probe[0] >= start:
                hi = mid
            else:
                # probe[1] is a LINE START > mid (partial line at mid is
                # dropped), so lo strictly advances — guaranteed to halve
                lo, lo_line_start = probe[1], True
    # stream rows from lo, skipping damaged lines
    seek: int | None = 0 if start == 0 else None
    buf = b""
    dropped = lo_line_start  # a known line start needs no partial-drop
    read_at = lo
    while True:
        chunk = be.read_bytes(ip, read_at, 1 << 20)
        if chunk:
            read_at += len(chunk)
            buf += chunk
            lines = buf.split(b"\n")
            buf = lines.pop()
        else:
            lines = [buf] if buf else []
            buf = b""
        for raw in lines:
            if not dropped:
                dropped = True  # header (pos 0) or partial line
                continue
            if not raw.strip():
                continue
            try:
                off = int(json.loads(raw.decode("utf-8"))["o"])
            except (ValueError, KeyError, TypeError):
                continue  # damaged line: boundaries come from visible rows
            if seek is None and off >= start:
                seek = off
            if off >= end:
                return (seek if seek is not None else off, off)
        if not chunk:
            break
    if seek is not None:
        return (seek, None)
    return (None, None)


COVERAGE_DIR = "_warc_coverage"


def write_warc_coverage(dataset_path: str, covered: set[str], be=None) -> dict:
    """Persist a dump locator's archive-coverage set as its own tiny
    side object and return the user_metadata fields that reference it.

    The coverage set is O(archives) — ~7-9 MB of JSON at a ~90k-archive
    crawl — and it used to live INLINE in the manifest's user_metadata,
    which every manifest version copies and every planning call parses.
    Storing it as one content-addressed gzip under
    ``<dataset>/_warc_coverage/`` keeps the manifest fixed-size (a ~40 B
    ref + a count) while time travel stays consistent: appends write a
    NEW superset object under a new hash name, and each manifest version
    keeps referencing the object that was current when it committed.
    Identical coverage re-published (idempotent sync) dedupes to the
    same name.  Returns ``{'warc_covered_ref', 'warc_covered_count'}``."""
    payload = gzip.compress(
        json.dumps(sorted(covered)).encode(), mtime=0  # content-addressable
    )
    name = f"cov-{hashlib.sha256(payload).hexdigest()[:16]}.json.gz"
    rel = f"{COVERAGE_DIR}/{name}"
    be = be or storage.for_path(dataset_path)
    full = dataset_path.rstrip("/") + "/" + rel
    if not be.exists(full):
        be.makedirs(dataset_path.rstrip("/") + "/" + COVERAGE_DIR)
        be.write_atomic(full, payload)
    return {"warc_covered_ref": rel, "warc_covered_count": str(len(covered))}


def read_warc_coverage(
    dataset_path: str, user_metadata: dict | None, be=None
) -> set[str] | None:
    """Coverage set recorded by :func:`write_warc_coverage` — or the
    legacy inline ``warc_covered`` JSON array older locators carry.
    ``None`` means coverage is UNKNOWN (missing/unreadable ref): callers
    must then treat no archive as covered, so a locator MISS can never
    prune a file whose enumeration cannot be proven."""
    um = user_metadata or {}
    be = be or storage.for_path(dataset_path)
    ref = um.get("warc_covered_ref")
    if ref:
        if "/../" in f"/{ref}/" or ref.startswith("/"):
            return None  # a ref may only point inside the dataset
        try:
            data = be.read_bytes(dataset_path.rstrip("/") + "/" + ref, 0, None)
            names = json.loads(gzip.decompress(data).decode("utf-8"))
            return {n for n in names if isinstance(n, str)}
        except Exception:
            return None
    legacy = um.get("warc_covered")
    if legacy is not None:
        try:
            names = json.loads(legacy)
            return {n for n in names if isinstance(n, str)}
        except Exception:
            return None
    return None


def locator_metadata(
    dataset_path: str, key: str, files: list[str], append: bool
) -> dict:
    """The user_metadata a dump-locator build commits: its key kind and
    the archives it covers, ``files`` plus, for an append, the coverage
    of the newest committed locator state.  The Spark builder
    (``operators.webcorpus.warc_dump_index``) and the CLI
    ``warc-dump-index`` both commit this."""
    covered = set(files)
    if append:
        um = (manifest._load_manifest(dataset_path) or {}).get("user_metadata")
        covered |= read_warc_coverage(dataset_path, um) or set()
    return {"warc_key": key, **write_warc_coverage(dataset_path, covered)}


def locator_rows_for_archive(
    archive_path: str, key: str = "record_id", be=None
) -> list[tuple]:
    """COMPLETE locator rows ``(key, file, offset, uri, type)`` for one
    archive — the per-archive unit of a dump-locator build (Spark task
    or CLI loop both call this).

    Rows come from the ``.cdxj`` sidecar when it is fresh AND its row
    stream finished cleanly; a TORN sidecar (damaged line / count
    mismatch) is discarded whole and the archive gets one headers-only
    parse instead.  The completeness gate is what keeps dump-locator
    coverage honest: the locator declares every archive it indexed as
    covered (a MISS on a covered file prunes to zero), so an archive may
    only be indexed from a source that enumerated ALL of its records —
    a sidecar torn at byte N silently misses everything after N, and
    snap_bounds-style lossless degradation does not exist for a derived
    index.  Identity-less rows (no id/uri for the chosen key) are
    skipped — they cannot be looked up."""
    be = be or storage.for_path(archive_path)
    rows: list[tuple] = []
    head = index_header(archive_path, be=be)
    if head is not None and head.get("kinds") is not None:
        head = None  # PARTIAL sidecar (public-CDX conversion): it only
        # names some record types, and a locator built from it would
        # claim complete coverage it does not have — full parse instead
    if head is not None and head.get("fields") is not None:
        need = "id" if key == "record_id" else "u"
        if need not in head["fields"]:
            head = None  # rows never carried the locator's key field
    if head is not None:
        st: dict = {}
        for r in iter_index_rows(archive_path, be=be, validated=True, status=st):
            k = r.record_id if key == "record_id" else r.target_uri
            if k:
                rows.append((k, archive_path, r.offset, r.target_uri, r.warc_type))
        if st.get("complete"):
            return rows
        rows = []  # torn sidecar: rows after the tear are invisible
    with be.open_read(archive_path) as fh:
        for rec in iter_warc_records(fh, parse_http=False, skip_payload=True):
            k = rec.record_id if key == "record_id" else rec.target_uri
            if k:
                rows.append((k, archive_path, rec.offset, rec.target_uri, rec.warc_type))
    return rows


def lookup_via_dump_index(
    index_path: str,
    value: str,
    parse_http: bool = True,
    max_payload_bytes: int | None = None,
) -> list[WarcRecord]:
    """Dump-wide point lookup served from a
    :func:`operators.webcorpus.warc_dump_index` dataset: the shardpack
    manifest path (min/max key ranges + per-shard Bloom filters) prunes
    to the one shard naming the record, whose locator row hands back
    ``(archive file, member offset)`` — then exactly ONE gzip member
    decompresses.  O(1) reads over a ~90k-file dump, and Spark-free end
    to end (reader facade), so the CLI and any plain python process can
    random-access a crawl the way the per-archive ``.cdxj`` path
    random-accesses one file.  Returns every match (duplicate ids /
    re-crawled URIs are legal in the locator); missing keys return []."""
    from shardpack_spark.format import reader as reader_mod

    ds = reader_mod.open_dataset(index_path, verify_checksums=False)
    out: list[WarcRecord] = []
    for loc in ds.lookup(value):
        f = loc.metadata.get("file")
        off = int(loc.metadata.get("offset", "0"))
        if not f:
            continue
        be = storage.for_path(f)
        with be.open_read(f) as fh:
            for rec in iter_warc_records(
                fh,
                parse_http=parse_http,
                max_payload_bytes=max_payload_bytes,
                start_offset=off,
            ):
                if rec.record_id == value or rec.target_uri == value:
                    out.append(rec)
                    break
                if rec.offset > off:
                    break  # left the located member: stale locator row
    return out


def lookup_record(
    archive_path: str,
    record_id: str | None = None,
    uri: str | None = None,
    be=None,
    parse_http: bool = True,
    max_payload_bytes: int | None = None,
) -> WarcRecord | None:
    """Indexed point lookup: sidecar row -> seek to its member -> parse
    forward within the member until the record matches (multi-record
    members make the scan necessary; for the conformant record-per-member
    layout it decompresses exactly one member).  None when the sidecar is
    missing/stale or the id/URI is not indexed."""
    if record_id is None and uri is None:
        raise ShardPackIOError("lookup_record needs record_id or uri")
    be = be or storage.for_path(archive_path)
    if index_header(archive_path, be=be) is None:
        return None
    # streamed scan: never materializes the row set (huge-archive
    # sidecars are ~GB); stops at the first match
    row = next(
        (
            r
            for r in iter_index_rows(archive_path, be=be, validated=True)
            if (record_id is not None and r.record_id == record_id)
            or (uri is not None and r.target_uri == uri)
        ),
        None,
    )
    if row is None:
        return None
    with be.open_read(archive_path) as f:
        for rec in iter_warc_records(
            f,
            parse_http=parse_http,
            max_payload_bytes=max_payload_bytes,
            start_offset=row.offset,
        ):
            if record_id is not None and rec.record_id == record_id:
                return rec
            if uri is not None and rec.target_uri == uri:
                return rec
            if rec.offset > row.offset:
                return None  # left the indexed member: not present
    return None
