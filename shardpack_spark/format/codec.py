"""Pure-Python ShardPack codec.

Spec conformance (citations into /root/reference/docs/draft.md):
- shard = record blocks then EOF index           (draft.md:33-51)
- record block = header + key + metadata + M file entries (draft.md:55-94)
- file entry = name, content type, size, optional encoding, data
                                                 (draft.md:84-94)
- EOF index = record count, offset table, shard metadata, magic footer
                                                 (draft.md:100-123)
- random access via the offset table             (draft.md:124-127)
- sequential shard naming                        (draft.md:24-30)

Integrity: SHA-256 over the UNCOMPRESSED payload, stored per entry and
verified after decompression on read — the semantics of the reference's
compute/verify pair (src/checksum.rs:15-29) without its whole-shard read
bug (SURVEY.md D4).  Compression: none, gzip (stdlib) and lz4|snappy|zstd
(pyarrow's native codecs) — the reference declares all five but implements
two (SURVEY.md D9).  Decoding yields exactly the entry's declared size or
raises ShardPackCodecError (``decompress``).

All integers are little-endian.  Layout (exact bytes, this implementation):

  record block:
    u64  record_size        (total bytes of this block, incl. this field)
    u32  key_len,   key bytes (utf-8)
    u32  meta_len,  record metadata bytes (utf-8 JSON, '' -> 0)
    u32  n_entries
    per entry:
      u32 name_len,  file_name bytes
      u32 ctype_len, content_type bytes
      u32 enc_len,   encoding bytes ('none'|'gzip'|'lz4'|'zstd'|'snappy')
      u64 file_size            (uncompressed payload size)
      32B sha256(uncompressed payload)
      u64 data_len,  stored (possibly compressed) payload bytes
  EOF index:
    u64  n_records
    u64  offsets[n_records]   (file offset of each record block start)
    u32  shard_meta_len, shard metadata bytes (utf-8 JSON)
    u64  index_start          (file offset where the EOF index begins)
    8B   magic b"SHARDPK1"
"""

from __future__ import annotations

import functools
import gzip as _gzip
import hashlib
import io
import json
import os
import struct
import zlib
from collections.abc import Iterable, Iterator
from dataclasses import dataclass, field

import pyarrow as pa

from shardpack_spark.format import storage

MAGIC = b"SHARDPK1"
DEFAULT_TARGET_SHARD_BYTES = 256 * 1024 * 1024  # reference src/shard/config.rs:1
# NOTE: no precompiled struct.Struct objects at module level — the
# whole module can be cloudpickled by value into Spark plans (before
# shardpack_spark.ship_package reaches the context) and Struct
# instances are not picklable.


class ShardPackError(Exception):
    """Base error (reference taxonomy src/error.rs:4-14)."""


class ShardPackIOError(ShardPackError):
    pass


class ShardPackIndexError(ShardPackError):
    pass


class ShardPackChecksumError(ShardPackError):
    pass


class ShardPackCodecError(ShardPackError):
    pass


# --- compression codecs -----------------------------------------------------
#
# Every codec but gzip is pyarrow's native one (pyarrow is a declared
# dependency).  The on-disk framings are fixed: 'lz4' is the LZ4 *block*
# format (pyarrow 'lz4_raw', not the lz4 frame format), 'snappy' is raw
# snappy, 'zstd' is standard RFC 8878 frames.  pa.Codec objects are NOT
# picklable and this module travels to Python workers via cloudpickle,
# so codecs are built per call (~0.2 us, far below one decompress).


def _gzip_c(b: bytes) -> bytes:
    # mtime=0 -> deterministic output for identical payloads
    buf = io.BytesIO()
    with _gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as f:
        f.write(b)
    return buf.getvalue()


def _decode_lz4(b: bytes, n: int) -> bytes:
    # An LZ4 block does not record its decoded length, and pyarrow hands
    # back n bytes whatever the block held: a block that decodes shorter
    # would leave uninitialized memory in the tail.  A block of exactly
    # n bytes cannot fit in n - 1, so that second decode must fail.
    lz4 = pa.Codec("lz4_raw")
    out = lz4.decompress(b, n, asbytes=True)
    if n:
        try:
            lz4.decompress(b, n - 1, asbytes=True)
        except OSError:
            return out
        raise ShardPackCodecError(f"lz4: block decodes to fewer than the declared {n} bytes")
    return out


def _decode_snappy(b: bytes, n: int) -> bytes:
    # Raw snappy opens with its decoded length as a varint; pyarrow only
    # checks that the buffer is large enough, so a larger declared size
    # would also leave an uninitialized tail.
    size = shift = 0
    for byte in b[:5]:
        size |= (byte & 0x7F) << shift
        if byte < 0x80:
            break
        shift += 7
    else:
        raise ShardPackCodecError("snappy: truncated length preamble")
    if size != n:
        raise ShardPackCodecError(f"snappy: payload holds {size} bytes, entry declares {n}")
    return pa.Codec("snappy").decompress(b, n, asbytes=True)


# name -> (compress(bytes), decompress(bytes, expected_size)); zstd needs
# no length guard: pyarrow rejects a frame that decodes to any size but n
_CODECS: dict[str, tuple] = {
    "none": (lambda b: b, lambda b, n: b),
    "gzip": (_gzip_c, lambda b, n: _gzip.decompress(b)),
    "lz4": (lambda b: pa.Codec("lz4_raw").compress(b, asbytes=True), _decode_lz4),
    "snappy": (lambda b: pa.Codec("snappy").compress(b, asbytes=True), _decode_snappy),
    "zstd": (
        lambda b: pa.Codec("zstd").compress(b, asbytes=True),
        lambda b, n: pa.Codec("zstd").decompress(b, n, asbytes=True),
    ),
}


def compress(data: bytes, encoding: str) -> bytes:
    if ";chunk=" in encoding:
        base, _, cb = encoding.partition(";chunk=")
        return _encode_chunked(data, base, int(cb))
    if encoding not in _CODECS:
        raise ShardPackCodecError(
            f"compression '{encoding}' not available (have: {sorted(_CODECS)})"
        )
    return _CODECS[encoding][0](data)


def decompress(data: bytes, encoding: str, expected_size: int) -> bytes:
    """Decode a stored payload to exactly ``expected_size`` bytes, the
    size its entry header declares, or raise ShardPackCodecError: corrupt
    input, any native codec exception, and a payload that decodes to
    another length all fail typed."""
    base = encoding.partition(";chunk=")[0]
    if base not in _CODECS:
        raise ShardPackCodecError(
            f"compression '{base}' not available (have: {sorted(_CODECS)})"
        )
    try:
        if ";chunk=" in encoding:
            out = _decode_chunked(data, base)
        else:
            out = _CODECS[base][1](data, expected_size)
    except (OSError, ValueError, EOFError, struct.error, zlib.error) as e:
        raise ShardPackCodecError(f"{encoding}: corrupt payload: {e}") from e
    if len(out) != expected_size:
        raise ShardPackCodecError(
            f"{encoding}: decoded {len(out)} bytes, entry declares {expected_size}"
        )
    return out


# --- chunk-level entry compression (draft.md:144-148) -------------------------
#
# The spec allows compression "on a per-file-entry basis or at a chunk
# level".  Whole-entry compression makes random access into one multi-GB
# entry (a long video, a giant tensor) an all-or-nothing decompress;
# chunked entries restore O(chunk) ranged reads.  The stored payload
# becomes a self-describing container (all little-endian):
#
#   4B  magic b"SPCH"
#   u32 n_chunks
#   u64 raw_chunk_bytes      (uncompressed size of every chunk but the last)
#   u64 raw_total            (uncompressed entry size)
#   per chunk: u64 comp_len, u32 crc32(compressed bytes)
#   then the compressed chunk payloads, concatenated
#
# The entry's encoding tag carries the base codec and chunk size
# ('zstd;chunk=4194304') — format-version-gated by construction: a
# reader without this code fails loudly on the unknown tag instead of
# returning wrong bytes.  The entry-level sha256 (full uncompressed
# payload) is unchanged and still verified on full reads; per-chunk
# crc32 lets a RANGED read verify exactly the chunks it touched.

_CHUNK_MAGIC = b"SPCH"


def _encode_chunked(data: bytes, base_codec: str, chunk_bytes: int) -> bytes:
    if chunk_bytes <= 0:
        raise ShardPackCodecError(f"chunk_bytes must be positive, got {chunk_bytes}")
    if base_codec not in _CODECS or base_codec == "none":
        raise ShardPackCodecError(
            f"chunked compression needs a real base codec, got '{base_codec}'"
        )
    n = max(1, -(-len(data) // chunk_bytes))
    comps = [
        _CODECS[base_codec][0](data[i * chunk_bytes : (i + 1) * chunk_bytes])
        for i in range(n)
    ]
    head = _CHUNK_MAGIC + struct.pack("<IQQ", n, chunk_bytes, len(data))
    table = b"".join(
        struct.pack("<QI", len(c), zlib.crc32(c) & 0xFFFFFFFF) for c in comps
    )
    return head + table + b"".join(comps)


def _parse_chunk_container(stored: bytes):
    """-> (n_chunks, raw_chunk_bytes, raw_total, [(comp_len, crc)],
    payload_base_offset)."""
    if stored[:4] != _CHUNK_MAGIC:
        raise ShardPackCodecError("chunked entry payload missing SPCH magic")
    n, cb, total = struct.unpack_from("<IQQ", stored, 4)
    table = [
        struct.unpack_from("<QI", stored, 24 + 12 * i) for i in range(n)
    ]
    return n, cb, total, table, 24 + 12 * n


def _decode_chunked(stored: bytes, base_codec: str) -> bytes:
    n, cb, total, table, base = _parse_chunk_container(stored)
    out = []
    pos = base
    for i, (clen, crc) in enumerate(table):
        blob = stored[pos : pos + clen]
        if zlib.crc32(blob) & 0xFFFFFFFF != crc:
            raise ShardPackChecksumError(f"chunk {i} crc32 mismatch")
        raw_len = min(cb, total - i * cb)
        out.append(decompress(blob, base_codec, raw_len))
        pos += clen
    return b"".join(out)


# --- data model -------------------------------------------------------------

@dataclass
class FileEntry:
    file_name: str
    content_type: str  # MIME, e.g. image/jpeg, application/json (draft.md:185-195)
    data: bytes
    encoding: str = "none"
    # Uncompressed payload size.  Populated by the decoder so metadata-only
    # reads (skip_payload) still report the true size without decoding the
    # bytes; None means "len(data)".
    declared_size: int | None = None

    @property
    def size(self) -> int:
        return self.declared_size if self.declared_size is not None else len(self.data)


@dataclass
class Record:
    key: str
    entries: list[FileEntry] = field(default_factory=list)
    metadata: dict[str, str] = field(default_factory=dict)


# --- encode -----------------------------------------------------------------

def _lp_bytes(b: bytes) -> bytes:
    return struct.pack("<I", len(b)) + b


def encode_record(
    record: Record, compression: str = "none", chunk_bytes: int | None = None
) -> bytes:
    """Serialize one record block; payloads compressed per `compression`
    unless an entry carries its own non-default encoding.

    ``chunk_bytes``: entries larger than this compress at CHUNK level
    (encoding tag '{codec};chunk={n}') so ranged reads into one huge
    entry decompress O(chunk) bytes — draft.md:144-148's chunk-level
    compression.  Smaller entries and uncompressed entries are stored as
    before (raw bytes are already range-addressable)."""
    body = io.BytesIO()
    key_b = record.key.encode("utf-8")
    meta_b = json.dumps(record.metadata, sort_keys=True).encode("utf-8") if record.metadata else b""
    body.write(_lp_bytes(key_b))
    body.write(_lp_bytes(meta_b))
    body.write(struct.pack("<I", len(record.entries)))
    for e in record.entries:
        enc = e.encoding if e.encoding != "none" else compression
        if (
            chunk_bytes
            and enc != "none"
            and ";chunk=" not in enc
            and len(e.data) > chunk_bytes
        ):
            enc = f"{enc};chunk={chunk_bytes}"
        stored = compress(e.data, enc)
        body.write(_lp_bytes(e.file_name.encode("utf-8")))
        body.write(_lp_bytes(e.content_type.encode("utf-8")))
        body.write(_lp_bytes(enc.encode("utf-8")))
        body.write(struct.pack("<Q", len(e.data)))
        body.write(hashlib.sha256(e.data).digest())
        body.write(struct.pack("<Q", len(stored)))
        body.write(stored)
    payload = body.getvalue()
    return struct.pack("<Q", 8 + len(payload)) + payload


def decode_record(
    buf: bytes,
    pos: int = 0,
    verify_checksums: bool = True,
    skip_payload: bool = False,
    skip_entries: bool = False,
    entry_names: "set[str] | frozenset[str] | None" = None,
) -> tuple[Record, int]:
    """Parse one record block at `pos`; returns (record, next_pos).

    ``skip_payload``: parse entry headers but never decompress/copy the
    payload bytes — the metadata-only access path (Bucket::get_metadata,
    src/bucket.rs:185-188, served without touching payloads).
    ``skip_entries``: stop after key+metadata; entries come back empty.
    ``entry_names``: decode payloads ONLY for entries with these file
    names; others come back header-only (data=b"", true declared_size) —
    the modality-selective read: a text loader over image+caption
    records pays zero image decompression.
    """
    (record_size,) = struct.unpack_from("<Q", buf, pos)
    end = pos + record_size
    p = pos + 8

    def lp() -> bytes:
        nonlocal p
        (n,) = struct.unpack_from("<I", buf, p)
        p += 4
        out = buf[p : p + n]
        p += n
        return out

    key = lp().decode("utf-8")
    meta_b = lp()
    metadata = json.loads(meta_b) if meta_b else {}
    if skip_entries:
        return Record(key=key, entries=[], metadata=metadata), end
    (n_entries,) = struct.unpack_from("<I", buf, p)
    p += 4
    entries: list[FileEntry] = []
    for _ in range(n_entries):
        name = lp().decode("utf-8")
        ctype = lp().decode("utf-8")
        enc = lp().decode("utf-8")
        (file_size,) = struct.unpack_from("<Q", buf, p)
        p += 8
        digest = buf[p : p + 32]
        p += 32
        (data_len,) = struct.unpack_from("<Q", buf, p)
        p += 8
        if skip_payload or (entry_names is not None and name not in entry_names):
            p += data_len  # seek past the stored bytes: no copy, no decode
            entries.append(
                FileEntry(
                    file_name=name,
                    content_type=ctype,
                    data=b"",
                    encoding=enc,
                    declared_size=file_size,
                )
            )
            continue
        stored = buf[p : p + data_len]
        p += data_len
        data = decompress(bytes(stored), enc, expected_size=file_size)
        if verify_checksums and hashlib.sha256(data).digest() != digest:
            raise ShardPackChecksumError(f"checksum mismatch for entry '{name}' of key '{key}'")
        entries.append(
            FileEntry(
                file_name=name, content_type=ctype, data=data, encoding=enc, declared_size=file_size
            )
        )
    if p != end:
        raise ShardPackCodecError(f"record at {pos}: consumed {p - pos} of {record_size} bytes")
    return Record(key=key, entries=entries, metadata=metadata), end


# --- shard write ------------------------------------------------------------

class ShardWriter:
    """Single-pass shard writer: stream record blocks, append EOF index on
    close (draft.md:399-401).  Tracks size in memory — no read-back probe
    (avoids the reference's O(shard) size probe, SURVEY.md §3.1 step 3).

    Crash safety via the storage WriteHandle contract: the shard becomes
    visible at its final name only when close() returns with the footer
    written (local FS: hidden tmp + atomic rename; object stores:
    whole-object put / multipart complete).  A failed/killed task can
    never leave a footer-less .shardpack that poisons later reads.

    ``max_record_bytes`` / ``max_entry_bytes`` are the reference
    roadmap's record-size limits (/root/reference/src/lib.rs:16-26)
    turned into writer validation: an oversized record/entry raises
    ShardPackCodecError *before* any bytes land, instead of silently
    producing a monster shard that breaks executor memory sizing."""

    def __init__(
        self,
        path: str,
        compression: str = "none",
        shard_metadata: dict | None = None,
        max_record_bytes: int | None = None,
        max_entry_bytes: int | None = None,
        chunk_bytes: int | None = None,
    ):
        if compression not in _CODECS:
            raise ShardPackCodecError(f"compression '{compression}' not available")
        if chunk_bytes is not None and chunk_bytes <= 0:
            raise ShardPackCodecError(f"chunk_bytes must be positive, got {chunk_bytes}")
        self.path = path
        self.compression = compression
        self.shard_metadata = shard_metadata or {}
        self.max_record_bytes = max_record_bytes
        self.max_entry_bytes = max_entry_bytes
        self.chunk_bytes = chunk_bytes
        self._f = storage.for_path(path).create(path)
        self._offsets: list[int] = []
        self._pos = 0

    @property
    def current_size(self) -> int:
        return self._pos

    @property
    def record_count(self) -> int:
        return len(self._offsets)

    def write_record(self, record: Record) -> int:
        if self.max_entry_bytes is not None:
            for e in record.entries:
                if len(e.data) > self.max_entry_bytes:
                    raise ShardPackCodecError(
                        f"entry '{e.file_name}' of key '{record.key}': "
                        f"{len(e.data)} bytes exceeds max_entry_bytes="
                        f"{self.max_entry_bytes}"
                    )
        block = encode_record(record, self.compression, chunk_bytes=self.chunk_bytes)
        if self.max_record_bytes is not None and len(block) > self.max_record_bytes:
            raise ShardPackCodecError(
                f"record '{record.key}': encoded block {len(block)} bytes "
                f"exceeds max_record_bytes={self.max_record_bytes}"
            )
        self._offsets.append(self._pos)
        self._f.write(block)
        self._pos += len(block)
        return len(block)

    def abort(self) -> None:
        """Discard the in-flight shard (task failure cleanup)."""
        self._f.abort()

    def close(self) -> dict:
        index_start = self._pos
        self._f.write(struct.pack("<Q", len(self._offsets)))
        for off in self._offsets:
            self._f.write(struct.pack("<Q", off))
        meta_b = json.dumps(self.shard_metadata, sort_keys=True).encode("utf-8")
        self._f.write(_lp_bytes(meta_b))
        self._f.write(struct.pack("<Q", index_start))
        self._f.write(MAGIC)
        self._f.close()  # publish: the shard appears atomically, footer and all
        # size is tracked in memory — no post-close stat round-trip
        index_bytes = 8 + 8 * len(self._offsets) + 4 + len(meta_b) + 8 + len(MAGIC)
        return {
            "path": self.path,
            "records": len(self._offsets),
            "bytes": index_start + index_bytes,
        }


# --- shard read -------------------------------------------------------------

@dataclass
class ShardIndex:
    offsets: list[int]
    shard_metadata: dict
    index_start: int


def read_index(path: str) -> ShardIndex:
    """Load only the EOF index: one tail read, no record payloads.

    Size comes from seek-to-end on the already-open handle, not a
    separate stat — one round trip fewer per shard on object stores."""
    with storage.for_path(path).open_read(path) as f:
        f.seek(0, 2)
        size = f.tell()
        if size < 16 + len(MAGIC):
            raise ShardPackIndexError(f"{path}: too small to be a shardpack file")
        f.seek(size - 8 - len(MAGIC))
        tail = f.read(8 + len(MAGIC))
        if tail[8:] != MAGIC:
            raise ShardPackIndexError(f"{path}: bad magic footer")
        (index_start,) = struct.unpack("<Q", tail[:8])
        if index_start >= size:
            raise ShardPackIndexError(f"{path}: index offset {index_start} out of range")
        f.seek(index_start)
        idx = f.read(size - index_start)
    (n_records,) = struct.unpack_from("<Q", idx, 0)
    offsets = list(struct.unpack_from(f"<{n_records}Q", idx, 8))
    p = 8 + 8 * n_records
    (meta_len,) = struct.unpack_from("<I", idx, p)
    p += 4
    meta_b = idx[p : p + meta_len]
    shard_metadata = json.loads(meta_b) if meta_b else {}
    return ShardIndex(offsets=offsets, shard_metadata=shard_metadata, index_start=index_start)


def read_record_at(
    path: str,
    offset: int,
    verify_checksums: bool = True,
    skip_payload: bool = False,
    skip_entries: bool = False,
    entry_names: "set[str] | None" = None,
) -> Record:
    """O(1) random access: seek to the offset-table position (draft.md:167-175).

    Reads the block header first, then exactly the block — a partial read,
    fixing the reference's whole-shard fetch (SURVEY.md D4).
    """
    with storage.for_path(path).open_read(path) as f:
        f.seek(offset)
        head = f.read(8)
        (record_size,) = struct.unpack("<Q", head)
        rest = f.read(record_size - 8)
    rec, _ = decode_record(
        head + rest, 0, verify_checksums, skip_payload, skip_entries, entry_names
    )
    return rec


def read_entry_slice(
    path: str,
    record_offset: int,
    file_name: str,
    start: int,
    length: int,
) -> bytes:
    """Ranged read INSIDE one entry's uncompressed payload: ``length``
    bytes at ``start``, touching O(covered bytes) of storage instead of
    the whole entry (draft.md:144-148's chunk-level promise).

    I/O shape by encoding:
    - 'none': one ranged read of exactly the requested span — raw bytes
      are already range-addressable;
    - '{codec};chunk=N': reads the chunk table plus ONLY the compressed
      chunks covering the span; each touched chunk verifies its crc32
      (the entry-level sha256 covers full reads, which a partial read by
      definition cannot check);
    - whole-entry codecs: falls back to reading + decompressing the
      entire entry (write with ``chunk_bytes`` to make slices cheap).

    Entry headers are parsed progressively with seeks, so a record whose
    sibling entries hold gigabytes costs only their header bytes.
    Raises ShardPackIndexError when the entry name is absent, and
    returns fewer than ``length`` bytes only at payload end (file slice
    semantics)."""
    if start < 0 or length < 0:
        raise ShardPackCodecError("start/length must be nonnegative")
    with storage.for_path(path).open_read(path) as f:
        f.seek(record_offset)
        (record_size,) = struct.unpack("<Q", f.read(8))
        end = record_offset + record_size

        def lp_skip() -> None:
            (n,) = struct.unpack("<I", f.read(4))
            f.seek(n, 1)

        def lp_read() -> bytes:
            (n,) = struct.unpack("<I", f.read(4))
            return f.read(n)

        lp_skip()  # key
        lp_skip()  # metadata
        (n_entries,) = struct.unpack("<I", f.read(4))
        for _ in range(n_entries):
            name = lp_read().decode("utf-8")
            lp_skip()  # content_type
            enc = lp_read().decode("utf-8")
            (file_size,) = struct.unpack("<Q", f.read(8))
            f.seek(32, 1)  # sha256
            (data_len,) = struct.unpack("<Q", f.read(8))
            data_pos = f.tell()
            if name != file_name:
                f.seek(data_len, 1)
                continue
            want = max(0, min(length, file_size - start))
            if want == 0:
                return b""
            if enc == "none":
                f.seek(data_pos + start)
                return f.read(want)
            if ";chunk=" in enc:
                base_codec = enc.partition(";chunk=")[0]
                head = f.read(24)
                if head[:4] != _CHUNK_MAGIC:
                    raise ShardPackCodecError(
                        f"entry '{name}': chunked tag without SPCH container"
                    )
                n, cb, total = struct.unpack("<IQQ", head[4:24])
                table = [
                    struct.unpack("<QI", f.read(12)) for _ in range(n)
                ]
                payload_base = data_pos + 24 + 12 * n
                c0 = start // cb
                c1 = (start + want - 1) // cb
                skip = sum(cl for cl, _ in table[:c0])
                f.seek(payload_base + skip)
                out = []
                for i in range(c0, c1 + 1):
                    clen, crc = table[i]
                    blob = f.read(clen)
                    if zlib.crc32(blob) & 0xFFFFFFFF != crc:
                        raise ShardPackChecksumError(
                            f"entry '{name}': chunk {i} crc32 mismatch"
                        )
                    raw_len = min(cb, total - i * cb)
                    out.append(decompress(blob, base_codec, raw_len))
                raw = b"".join(out)
                off = start - c0 * cb
                return raw[off : off + want]
            # whole-entry compression: no sub-entry addressing possible
            stored = f.read(data_len)
            data = decompress(stored, enc, expected_size=file_size)
            return data[start : start + want]
        if f.tell() > end:
            raise ShardPackCodecError(f"record at {record_offset}: header overrun")
    raise ShardPackIndexError(
        f"record at {record_offset} has no entry named '{file_name}'"
    )


def iter_records_span(
    path: str,
    start: int,
    end: int,
    n_records: int,
    verify_checksums: bool = True,
    skip_payload: bool = False,
    skip_entries: bool = False,
    entry_names: "set[str] | None" = None,
) -> Iterator[Record]:
    """Stream ``n_records`` record blocks from the byte span [start, end)
    in ONE ranged read — the record-range-split read path (a split is a
    contiguous slice of the offset table, so its bytes are contiguous
    too; per-record seeks here would cost one I/O round trip per record
    on an object store)."""
    buf = storage.for_path(path).read_bytes(path, start, end - start)
    pos = 0
    for _ in range(n_records):
        rec, pos = decode_record(
            buf, pos, verify_checksums, skip_payload, skip_entries, entry_names
        )
        yield rec


def _check_head(off: int, size: int, key_len: int, limit: int | None) -> None:
    # smallest block: size, key, metadata length, entry count
    if size < 20 + key_len or (limit is not None and off + size > limit):
        raise ShardPackCodecError(
            f"record at {off}: damaged block head (size {size}, key length {key_len})"
        )


def _key_at(buf: bytes, off: int) -> bytes:
    """Key bytes of the block at ``off`` in an in-memory record region:
    the keyed walk's probe reads size, key length and key, nothing else."""
    if not 0 <= off <= len(buf) - 12:
        raise ShardPackCodecError(f"record at {off}: offset outside the record region")
    size, key_len = struct.unpack_from("<QI", buf, off)
    _check_head(off, size, key_len, len(buf))
    return buf[off + 12 : off + 12 + key_len]


def _read_head(f, off: int, limit: int | None) -> tuple[bytes, int, int]:
    """The same probe on an open shard: (block prefix, size, key_len).
    The prefix is the size field plus up to 4 KiB (key+metadata sit at
    the block head), extended through a longer key; ``f`` is left right
    after it."""
    if off < 0:
        raise ShardPackCodecError(f"record at {off}: offset outside the shard")
    f.seek(off)
    head = f.read(8)
    size = struct.unpack("<Q", head)[0] if len(head) == 8 else 0
    _check_head(off, size, 0, limit)
    head += f.read(min(size - 8, 4096))
    key_len = struct.unpack_from("<I", head, 8)[0] if len(head) >= 12 else size
    _check_head(off, size, key_len, limit)
    if len(head) < 12 + key_len:
        head += f.read(12 + key_len - len(head))
    if len(head) < 12 + key_len:
        raise ShardPackCodecError(f"record at {off}: truncated block head")
    return head, size, key_len


def iter_records(
    path: str,
    verify_checksums: bool = True,
    offsets: list[int] | None = None,
    skip_payload: bool = False,
    skip_entries: bool = False,
    entry_names: "set[str] | None" = None,
    keys: "set[str] | frozenset[str] | None" = None,
) -> Iterator[Record]:
    """Sequential streaming (draft.md:213-218); with `offsets`, reads only
    the selected record blocks (partition range / pruned access path).

    ``keys``: the keyed walk (point lookups, src/bucket.rs:147-169) —
    the unkeyed call's records whose key is in ``keys``, in shard order
    and with the same I/O, but only blocks whose probed key matches go
    through ``decode_record``.  So only RETURNED records are
    decompressed and checksum-verified; whole-shard integrity is an
    unkeyed walk or ``verify_dataset``.  A damaged block head raises
    ShardPackCodecError."""
    want = None if keys is None else {k.encode("utf-8") for k in keys}
    opts = (verify_checksums, skip_payload, skip_entries, entry_names)
    if offsets is not None:
        if want is None:
            for off in offsets:
                yield read_record_at(path, off, *opts)
            return
        with storage.for_path(path).open_read(path) as f:
            for off in offsets:
                head, size, key_len = _read_head(f, off, None)
                if head[12 : 12 + key_len] in want:
                    yield decode_record(head + f.read(size - len(head)), 0, *opts)[0]
        return
    idx = read_index(path)
    # Metadata-only scans of payload-heavy shards: seek from block head
    # to block head and never pull the payload bytes off disk at all
    # (the index-serves-metadata access path, src/bucket.rs:185-188).
    avg = idx.index_start / max(1, len(idx.offsets))
    if skip_entries and avg > 64 * 1024:
        with storage.for_path(path).open_read(path) as f:
            for off in idx.offsets:
                head, _, key_len = _read_head(f, off, idx.index_start)
                if want is not None and head[12 : 12 + key_len] not in want:
                    continue
                # extend the prefix through the metadata only when its
                # length demands it (f sits right after the prefix)
                if len(head) < 16 + key_len:
                    head += f.read(16 + key_len - len(head))
                (meta_len,) = struct.unpack_from("<I", head, 12 + key_len)
                if len(head) < 16 + key_len + meta_len:
                    head += f.read(16 + key_len + meta_len - len(head))
                yield decode_record(head, 0, skip_entries=True)[0]
        return
    if want is None:
        yield from iter_records_span(path, 0, idx.index_start, len(idx.offsets), *opts)
        return
    buf = storage.for_path(path).read_bytes(path, 0, idx.index_start)
    for off in idx.offsets:
        if _key_at(buf, off) in want:
            yield decode_record(buf, off, *opts)[0]


# --- Arrow export ------------------------------------------------------------


def arrow_batches(
    records: Iterable[Record],
    skip_payload: bool = False,
    metadata_only: bool = False,
    shard: str | None = None,
    entry_names: frozenset[str] | None = None,
    batch_size: int = 1024,
) -> Iterator[pa.RecordBatch]:
    """``records`` as Arrow RecordBatches in the DataSource row schema:
    ``key``, ``metadata`` (a map, items sorted) and ``entries`` (a list
    of file_name/content_type/encoding/size/data structs), plus a
    constant ``_shard`` column when ``shard`` names the source shard
    file.  A payload that was never read (``skip_payload``, or an entry
    outside ``entry_names``) is NULL ``data``, distinct from an empty
    b"" payload; ``metadata_only`` makes ``entries`` NULL.  The Spark
    reader and the facade's ``Dataset.to_batches`` both build here."""
    entry_struct = pa.struct(
        [
            pa.field("file_name", pa.string()),
            pa.field("content_type", pa.string()),
            pa.field("encoding", pa.string()),
            pa.field("size", pa.int64()),
            pa.field("data", pa.binary()),
        ]
    )
    entry_type = pa.list_(entry_struct)
    meta_type = pa.map_(pa.string(), pa.string())
    batch_keys: list[str] = []
    batch_meta: list[list[tuple[str, str]]] = []
    batch_entries: list[list[dict] | None] = []

    def flush():
        if metadata_only:
            entries_arr = pa.nulls(len(batch_keys), entry_type)
        else:
            entries_arr = pa.array(batch_entries, entry_type)
        arrays = [
            pa.array(batch_keys, pa.string()),
            pa.array(batch_meta, meta_type),
            entries_arr,
        ]
        names = ["key", "metadata", "entries"]
        if shard is not None:
            # row provenance: which shard file a record came from (the
            # Arrow analog of parquet's _metadata.file_path) — a constant
            # per partition, so the column costs one repeated string
            arrays.append(pa.array([shard] * len(batch_keys), pa.string()))
            names.append("_shard")
        return pa.RecordBatch.from_arrays(arrays, names=names)

    for rec in records:
        batch_keys.append(rec.key)
        batch_meta.append(sorted((rec.metadata or {}).items()))
        if not metadata_only:
            batch_entries.append(
                [
                    {
                        "file_name": e.file_name,
                        "content_type": e.content_type,
                        "encoding": e.encoding,
                        "size": e.size,
                        # NULL for never-read payloads (skip_payload or an
                        # unselected entry under entry_names) — distinct
                        # from an actually-empty b"" payload
                        "data": None
                        if (
                            skip_payload
                            or (
                                entry_names is not None
                                and e.file_name not in entry_names
                            )
                        )
                        else e.data,
                    }
                    for e in rec.entries
                ]
            )
        if len(batch_keys) >= batch_size:
            yield flush()
            batch_keys, batch_meta, batch_entries = [], [], []
    if batch_keys:
        yield flush()


# --- dataset (bucket of sequentially numbered shards) -----------------------

def shard_name(basename: str, shard_id: int) -> str:
    """Spec naming dataset-train-000000.shardpack (draft.md:24-30), NOT the
    reference code's shard_{:016x} (divergence D14)."""
    return f"{basename}-{shard_id:06d}.shardpack"


class DatasetWriter:
    """Writes a directory of shards with byte-based rollover.

    Rollover at target_shard_bytes mirrors Bucket::write's intent
    (src/bucket.rs:111-121) but tracks size in-memory and actually writes
    to the new shard after rollover (fixing divergences D2, D3)."""

    def __init__(
        self,
        directory: str,
        basename: str = "part",
        compression: str = "none",
        target_shard_bytes: int = DEFAULT_TARGET_SHARD_BYTES,
        start_shard_id: int = 0,
        max_record_bytes: int | None = None,
        max_entry_bytes: int | None = None,
        chunk_bytes: int | None = None,
    ):
        storage.for_path(directory).makedirs(directory)
        self.directory = directory
        self.basename = basename
        self.compression = compression
        self.target = target_shard_bytes
        self.max_record_bytes = max_record_bytes
        self.max_entry_bytes = max_entry_bytes
        self.chunk_bytes = chunk_bytes
        self._shard_id = start_shard_id
        self._writer: ShardWriter | None = None
        self.results: list[dict] = []

    def _open_next(self) -> ShardWriter:
        path = os.path.join(self.directory, shard_name(self.basename, self._shard_id))
        self._shard_id += 1
        return ShardWriter(
            path,
            self.compression,
            max_record_bytes=self.max_record_bytes,
            max_entry_bytes=self.max_entry_bytes,
            chunk_bytes=self.chunk_bytes,
        )

    def write(self, record: Record) -> None:
        if self._writer is None:
            self._writer = self._open_next()
        elif self._writer.current_size >= self.target and self._writer.record_count > 0:
            self.results.append(self._writer.close())
            self._writer = self._open_next()
        self._writer.write_record(record)

    def close(self) -> list[dict]:
        if self._writer is not None:
            self.results.append(self._writer.close())
            self._writer = None
        return self.results


def write_dataset(
    directory: str,
    records: Iterable[Record],
    basename: str = "part",
    compression: str = "none",
    target_shard_bytes: int = DEFAULT_TARGET_SHARD_BYTES,
) -> list[dict]:
    w = DatasetWriter(directory, basename, compression, target_shard_bytes)
    for r in records:
        w.write(r)
    return w.close()


def list_shards(directory: str) -> list[str]:
    return sorted(
        os.path.join(directory, f)
        for f in storage.for_path(directory).listdir(directory)
        if f.endswith(".shardpack")
    )
