"""Pure-Python/NumPy pixel codecs for the format's canonical image types.

The reference spec names ``image/png`` and ``image/jpeg`` as first-class
entry content types (draft.md:185-190), but this environment ships no
image wheel — so without a real decoder, perceptual image dedup and
resize degrade to byte-digest surrogates.  This module closes that gap
with decoders built only on the stdlib (`zlib`, `struct`) and numpy:

- PNG (RFC 2083 / ISO 15948): full decode — bit depths 1/2/4/8/16,
  color types gray / RGB / palette / gray+alpha / RGBA, all five
  filters, Adam7 interlace, chunk CRC verification.  The encoder emits
  8/16-bit gray / GA / RGB / RGBA with a selectable filter and optional
  interlace (the thumbnail writer, and the tests' generator for every
  PNG decoder path).
- JPEG (ITU-T T.81): baseline sequential DCT AND progressive (SOF2)
  Huffman decode — spectral selection, successive approximation,
  interleaved DC scans, EOB runs, AC refinement (Annex G.2) — with
  arbitrary sampling factors (4:4:4 / 4:2:2 / 4:2:0 MCU walks),
  restart markers, dequant + vectorized float IDCT, JFIF YCbCr→RGB.
  Hierarchical/lossless frame types and arithmetic coding are rejected
  with a clear error; callers degrade those payloads to the byte-digest
  surrogate.
- GIF (87a/89a): first-frame LZW decode, interlace, transparency.

Only PNG is encoded here (``resize_images`` writes PNG thumbnails); the
JPEG and GIF fixture encoders the tests use live in
``tests/imagefixtures.py``.

Scale note: these run inside Arrow-batched `mapInPandas` workers, linear
in payload bytes.  PNG rows defilter with vectorized numpy (Sub/Up are
cumsum/add; only Average/Paeth pay a per-byte Python loop).  JPEG
entropy decode is bit-serial Python — correct everywhere and
bit-identical on every cluster, fast enough for thumbnails and
fingerprints rather than bulk camera-JPEG decoding.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_PNG_SIG = b"\x89PNG\r\n\x1a\n"

# color type -> samples per pixel
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}

# Adam7 pass offsets/strides: (x0, y0, dx, dy)
_ADAM7 = [
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
]


# --------------------------------------------------------------------------
# PNG
# --------------------------------------------------------------------------


def _png_chunks(data: bytes):
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG (bad signature)")
    pos = 8
    while pos + 12 <= len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        if pos + 12 + length > len(data):
            raise ValueError("truncated PNG chunk")
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack_from(">I", data, pos + 8 + length)
        if zlib.crc32(ctype + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
        yield ctype, body
        pos += 12 + length
        if ctype == b"IEND":
            return
    raise ValueError("PNG missing IEND")


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _defilter(arr: np.ndarray, height: int, rowbytes: int, bpp: int) -> np.ndarray:
    """Reverse PNG row filters over ``height`` scanlines of
    ``1 + rowbytes`` bytes each; returns (height, rowbytes) uint8.

    Sub is a per-channel cumulative sum mod 256 (vectorized); Up is a
    vectorized add; Average/Paeth carry a true sequential dependency and
    loop per byte."""
    stride = rowbytes + 1
    if arr.size < height * stride:
        raise ValueError("PNG pixel data shorter than expected")
    out = np.zeros((height, rowbytes), dtype=np.uint8)
    prev = np.zeros(rowbytes, dtype=np.int64)
    for y in range(height):
        ft = int(arr[y * stride])
        row = arr[y * stride + 1 : y * stride + 1 + rowbytes].astype(np.int64)
        if ft == 0:
            rec = row
        elif ft == 1:  # Sub
            rec = row.copy()
            for off in range(bpp):
                rec[off::bpp] = np.cumsum(row[off::bpp]) % 256
        elif ft == 2:  # Up
            rec = (row + prev) % 256
        elif ft == 3:  # Average
            rec = np.zeros(rowbytes, dtype=np.int64)
            for i in range(rowbytes):
                a = rec[i - bpp] if i >= bpp else 0
                rec[i] = (row[i] + ((a + prev[i]) >> 1)) % 256
        elif ft == 4:  # Paeth
            rec = np.zeros(rowbytes, dtype=np.int64)
            for i in range(rowbytes):
                a = int(rec[i - bpp]) if i >= bpp else 0
                c = int(prev[i - bpp]) if i >= bpp else 0
                rec[i] = (row[i] + _paeth(a, int(prev[i]), c)) % 256
        else:
            raise ValueError(f"unknown PNG filter type {ft}")
        out[y] = rec
        prev = rec
    return out


def _rows_to_samples(
    rows: np.ndarray, width: int, channels: int, depth: int
) -> np.ndarray:
    """(h, rowbytes) uint8 scanline bytes -> (h, width, channels) samples.

    16-bit samples return uint16; sub-byte depths (gray or palette
    indices) return the raw 0..2^depth-1 values as uint8 — gray scaling
    to 0..255 happens in the caller, palette indices must stay raw."""
    h = rows.shape[0]
    if depth == 8:
        return rows[:, : width * channels].reshape(h, width, channels)
    if depth == 16:
        b = rows[:, : width * channels * 2].reshape(h, width * channels, 2)
        return (
            (b[:, :, 0].astype(np.uint16) << 8) | b[:, :, 1].astype(np.uint16)
        ).reshape(h, width, channels)
    # 1/2/4-bit: leftmost pixel lives in the high bits of each byte
    bits = np.unpackbits(rows, axis=1)
    vals = bits.reshape(h, -1, depth)
    weights = 1 << np.arange(depth - 1, -1, -1)
    packed = (vals * weights).sum(axis=2).astype(np.uint8)
    return packed[:, :width].reshape(h, width, 1)


#: Decode-work budget defaults.  These decoders run bit-serial Python
#: inside executor tasks over UNTRUSTED crawl bytes; a crafted header
#: can demand arbitrary work before any payload error surfaces (a
#: 100000x100000 IHDR allocates 10 GB; a thousand-scan SOF2 walks the
#: entropy stream a thousand times).  The guards below reject such
#: inputs in milliseconds with the same ValueError the malformed-input
#: paths raise, so the telemetry layer records them as 'surrogate'
#: honestly instead of stalling an executor core.  64 Mpx admits any
#: plausible crawl photo (8K video frames are 33 Mpx); 64 scans is ~6x
#: what real progressive encoders emit (typically <= 10).
DEFAULT_MAX_PIXELS = 64_000_000
DEFAULT_MAX_SCANS = 64


def decode_png(data: bytes, max_pixels: int | None = DEFAULT_MAX_PIXELS) -> np.ndarray:
    """PNG bytes -> numpy pixels.

    Shapes: gray (H, W); gray+alpha (H, W, 2); RGB (H, W, 3); RGBA
    (H, W, 4).  dtype uint8, except 16-bit source channels -> uint16.
    Palette images expand through PLTE to RGB (RGBA when tRNS is
    present).  Raises ValueError on anything malformed, and on images
    whose IHDR declares more than ``max_pixels`` pixels BEFORE any
    allocation or inflate work (decode-work bomb guard; None disables)."""
    ihdr = None
    idat = []
    plte = None
    trns = None
    for ctype, body in _png_chunks(bytes(data)):
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"PLTE":
            plte = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"tRNS":
            trns = body
        elif ctype == b"IDAT":
            idat.append(body)
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR or IDAT")
    width, height, depth, color, comp, filt, interlace = ihdr
    if width < 1 or height < 1:
        raise ValueError("PNG has zero dimension")
    if max_pixels is not None and width * height > max_pixels:
        raise ValueError(
            f"PNG declares {width}x{height} = {width * height} pixels, "
            f"over the decode budget of {max_pixels} (decode-work bomb guard)"
        )
    if comp != 0 or filt != 0:
        raise ValueError("unknown PNG compression/filter method")
    if color not in _PNG_CHANNELS:
        raise ValueError(f"unknown PNG color type {color}")
    valid_depths = {
        0: (1, 2, 4, 8, 16),
        2: (8, 16),
        3: (1, 2, 4, 8),
        4: (8, 16),
        6: (8, 16),
    }[color]
    if depth not in valid_depths:
        raise ValueError(f"invalid PNG bit depth {depth} for color type {color}")
    channels = _PNG_CHANNELS[color]
    bpp = max(1, channels * depth // 8)
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error as e:
        raise ValueError(f"PNG IDAT inflate failed: {e}") from e
    arr = np.frombuffer(raw, dtype=np.uint8)

    def rowbytes(w: int) -> int:
        return (w * channels * depth + 7) // 8

    out_dtype = np.uint16 if depth == 16 else np.uint8
    img = np.zeros((height, width, channels), dtype=out_dtype)
    if interlace == 0:
        rows = _defilter(arr, height, rowbytes(width), bpp)
        img[:] = _rows_to_samples(rows, width, channels, depth)
    elif interlace == 1:
        off = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (width - x0 + dx - 1) // dx
            ph = (height - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            rb = rowbytes(pw)
            need = ph * (rb + 1)
            rows = _defilter(arr[off : off + need], ph, rb, bpp)
            off += need
            img[y0::dy, x0::dx] = _rows_to_samples(rows, pw, channels, depth)
    else:
        raise ValueError(f"unknown PNG interlace method {interlace}")

    if color == 3:  # palette
        if plte is None:
            raise ValueError("palette PNG missing PLTE")
        idx = img[:, :, 0].astype(np.int64)
        if idx.max(initial=0) >= len(plte):
            raise ValueError("PNG palette index out of range")
        rgb = plte[idx]
        if trns is not None:
            alpha = np.full(len(plte), 255, dtype=np.uint8)
            alpha[: len(trns)] = np.frombuffer(trns, dtype=np.uint8)
            return np.dstack([rgb, alpha[idx]])
        return rgb
    if color == 0 and depth < 8:
        # scale 1/2/4-bit gray to the full 8-bit range (exact: the spec's
        # sample scaling v * 255 / (2^d - 1) is integral for these depths)
        img = (img.astype(np.uint16) * (255 // ((1 << depth) - 1))).astype(np.uint8)
    if channels == 1:
        return img[:, :, 0]
    return img


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


def _filter_rows(
    raws: np.ndarray, bpp: int, filter_type: int
) -> bytes:
    """Forward-filter (h, rowbytes) raw scanline bytes with one filter
    type for every row (the encoder's choice; decoders must accept any
    mix, which tests exercise by sweeping this parameter)."""
    h, rowbytes = raws.shape
    out = bytearray()
    prev = np.zeros(rowbytes, dtype=np.int64)
    for y in range(h):
        row = raws[y].astype(np.int64)
        if filter_type == 0:
            filt = row
        elif filter_type == 1:
            left = np.zeros(rowbytes, dtype=np.int64)
            left[bpp:] = row[:-bpp]
            filt = (row - left) % 256
        elif filter_type == 2:
            filt = (row - prev) % 256
        elif filter_type == 3:
            left = np.zeros(rowbytes, dtype=np.int64)
            left[bpp:] = row[:-bpp]
            filt = (row - ((left + prev) >> 1)) % 256
        elif filter_type == 4:
            filt = np.zeros(rowbytes, dtype=np.int64)
            for i in range(rowbytes):
                a = int(row[i - bpp]) if i >= bpp else 0
                c = int(prev[i - bpp]) if i >= bpp else 0
                filt[i] = (int(row[i]) - _paeth(a, int(prev[i]), c)) % 256
        else:
            raise ValueError(f"unknown PNG filter type {filter_type}")
        out.append(filter_type)
        out += filt.astype(np.uint8).tobytes()
        prev = row
    return bytes(out)


def encode_png(
    arr: np.ndarray,
    *,
    filter_type: int = 0,
    interlace: bool = False,
    level: int = 6,
) -> bytes:
    """numpy pixels -> PNG bytes (lossless round trip with decode_png).

    Accepts uint8/uint16 arrays shaped (H, W) gray, (H, W, 2) gray+alpha,
    (H, W, 3) RGB, (H, W, 4) RGBA; float inputs are clipped/rounded to
    uint8.  ``filter_type`` applies one PNG filter to every scanline;
    ``interlace`` emits Adam7."""
    a = np.asarray(arr)
    if a.dtype not in (np.uint8, np.uint16):
        a = np.clip(np.round(a), 0, 255).astype(np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    if a.ndim != 3 or a.shape[2] not in (1, 2, 3, 4):
        raise ValueError(f"unsupported array shape {arr.shape}")
    h, w, channels = a.shape
    if h < 1 or w < 1:
        raise ValueError("empty image")
    depth = 16 if a.dtype == np.uint16 else 8
    color = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    bpp = channels * depth // 8

    def raw_rows(sub: np.ndarray) -> np.ndarray:
        ph, pw = sub.shape[:2]
        if depth == 16:
            return (
                sub.astype(">u2").view(np.uint8).reshape(ph, pw * channels * 2)
            )
        return sub.reshape(ph, pw * channels)

    if not interlace:
        stream = _filter_rows(raw_rows(a), bpp, filter_type)
    else:
        parts = []
        for x0, y0, dx, dy in _ADAM7:
            sub = a[y0::dy, x0::dx]
            if sub.shape[0] and sub.shape[1]:
                parts.append(_filter_rows(raw_rows(sub), bpp, filter_type))
        stream = b"".join(parts)
    ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, 1 if interlace else 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(stream, level))
        + _png_chunk(b"IEND", b"")
    )


# --------------------------------------------------------------------------
# JPEG (ITU-T T.81 baseline sequential DCT)
# --------------------------------------------------------------------------


def _zigzag() -> np.ndarray:
    """Linear (row*8+col) index for each position in zigzag scan order,
    generated rather than transcribed."""
    order = np.empty(64, dtype=np.int64)
    r = c = 0
    for i in range(64):
        order[i] = r * 8 + c
        if (r + c) % 2 == 0:  # moving up-right
            if c == 7:
                r += 1
            elif r == 0:
                c += 1
            else:
                r -= 1
                c += 1
        else:  # moving down-left
            if r == 7:
                c += 1
            elif c == 0:
                r += 1
            else:
                r += 1
                c -= 1
    return order


_ZIGZAG = _zigzag()


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8-point DCT-II matrix A: forward coefs = A @ x,
    inverse x = A.T @ coefs.  2-D: F = A @ B @ A.T, B = A.T @ F @ A."""
    k = np.arange(8)
    A = np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / 16) * np.sqrt(2 / 8)
    A[0, :] = np.sqrt(1 / 8)
    return A


_DCT_A = _dct_matrix()


class _HuffTable:
    """Canonical JPEG Huffman table from DHT (bits, values); decode via
    the spec's mincode/maxcode/valptr walk."""

    def __init__(self, bits: list[int], values: bytes):
        if sum(bits) != len(values):
            raise ValueError("DHT bits/values mismatch")
        self.values = values
        self.mincode = [0] * 17
        self.maxcode = [-1] * 17
        self.valptr = [0] * 17
        code = 0
        k = 0
        for length in range(1, 17):
            n = bits[length - 1]
            if n:
                self.valptr[length] = k
                self.mincode[length] = code
                self.maxcode[length] = code + n - 1
                code += n
                k += n
            code <<= 1


class _BitReader:
    """MSB-first bit reader over destuffed entropy-coded bytes."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.bitbuf = 0
        self.nbits = 0

    def read_bit(self) -> int:
        if self.nbits == 0:
            if self.pos >= len(self.data):
                raise ValueError("JPEG entropy data exhausted")
            self.bitbuf = self.data[self.pos]
            self.pos += 1
            self.nbits = 8
        self.nbits -= 1
        return (self.bitbuf >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v


def _decode_huff(br: _BitReader, tbl: _HuffTable) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | br.read_bit()
        if tbl.maxcode[length] >= 0 and code <= tbl.maxcode[length]:
            return tbl.values[tbl.valptr[length] + code - tbl.mincode[length]]
    raise ValueError("invalid JPEG Huffman code")


def _receive_extend(br: _BitReader, s: int) -> int:
    if s == 0:
        return 0
    v = br.read_bits(s)
    if v < (1 << (s - 1)):
        v -= (1 << s) - 1
    return v


def decode_jpeg(
    data: bytes,
    max_pixels: int | None = DEFAULT_MAX_PIXELS,
    max_scans: int | None = DEFAULT_MAX_SCANS,
) -> np.ndarray:
    """JPEG bytes -> uint8 pixels, (H, W) gray or (H, W, 3) RGB.

    Supports SOF0/SOF1 sequential Huffman scans with any h/v sampling
    factors and restart markers, AND SOF2 progressive Huffman frames
    (spectral selection + successive approximation, interleaved DC
    scans, EOB runs, AC refinement — ITU-T T.81 Annex G.2); rejects
    hierarchical/lossless frame types and arithmetic-coded streams with
    ValueError.

    Decode-work bomb guards (None disables either): frames declaring
    more than ``max_pixels`` pixels are rejected at the SOF header, and
    progressive files with more than ``max_scans`` SOS segments are
    rejected when the budget is crossed — each progressive scan is a
    bit-serial walk over all the frame's blocks, so a crafted
    thousand-scan file is O(scans x blocks) CPU with no such cap."""
    data = bytes(data)
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, _HuffTable] = {}
    huff_ac: dict[int, _HuffTable] = {}
    frame = None
    restart_interval = 0
    planes: dict[int, np.ndarray] = {}  # progressive coefficient state
    seen_scan = 0
    i = 2
    n = len(data)
    while i + 4 <= n:
        if data[i] != 0xFF:
            raise ValueError("JPEG marker expected")
        marker = data[i + 1]
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        (seglen,) = struct.unpack_from(">H", data, i + 2)
        body = data[i + 4 : i + 2 + seglen]
        i += 2 + seglen
        if marker == 0xDB:  # DQT (possibly several tables)
            p = 0
            while p < len(body):
                pq, tq = body[p] >> 4, body[p] & 15
                p += 1
                if pq == 0:
                    tbl = np.frombuffer(body[p : p + 64], dtype=np.uint8).astype(np.int64)
                    p += 64
                else:
                    tbl = np.frombuffer(body[p : p + 128], dtype=">u2").astype(np.int64)
                    p += 128
                qt[tq] = tbl  # zigzag order, as transmitted
        elif marker == 0xC4:  # DHT (possibly several tables)
            p = 0
            while p < len(body):
                tc, th = body[p] >> 4, body[p] & 15
                bits = list(body[p + 1 : p + 17])
                nv = sum(bits)
                values = body[p + 17 : p + 17 + nv]
                (huff_dc if tc == 0 else huff_ac)[th] = _HuffTable(bits, values)
                p += 17 + nv
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 sequential, SOF2 progressive
            precision = body[0]
            if precision != 8:
                raise ValueError(f"unsupported JPEG sample precision {precision}")
            h_img = struct.unpack_from(">H", body, 1)[0]
            w_img = struct.unpack_from(">H", body, 3)[0]
            ncomp = body[5]
            comps = []
            for c in range(ncomp):
                cid, hv, tq = body[6 + 3 * c : 9 + 3 * c]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 15, "tq": tq})
            if max_pixels is not None and w_img * h_img > max_pixels:
                raise ValueError(
                    f"JPEG declares {w_img}x{h_img} = {w_img * h_img} pixels, "
                    f"over the decode budget of {max_pixels} "
                    "(decode-work bomb guard)"
                )
            frame = {
                "w": w_img,
                "h": h_img,
                "comps": comps,
                "progressive": marker == 0xC2,
            }
        elif 0xC3 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            raise ValueError(
                f"unsupported JPEG frame type SOF{marker - 0xC0} "
                "(baseline sequential and progressive Huffman are implemented)"
            )
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack_from(">H", body, 0)[0]
        elif marker == 0xDA:  # SOS: scan follows
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = body[0]
            scan = []
            for c in range(ns):
                cs, tables = body[1 + 2 * c], body[2 + 2 * c]
                comp = next(x for x in frame["comps"] if x["id"] == cs)
                scan.append((comp, tables >> 4, tables & 15))
            if not frame["progressive"]:
                return _decode_scan(
                    data, i, frame, scan, qt, huff_dc, huff_ac, restart_interval
                )
            seen_scan += 1
            if max_scans is not None and seen_scan > max_scans:
                raise ValueError(
                    f"JPEG progressive scan count exceeds the decode budget "
                    f"of {max_scans} (decode-work bomb guard)"
                )
            ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
            ah, al = body[3 + 2 * ns] >> 4, body[3 + 2 * ns] & 15
            i = _decode_progressive_scan(
                data, i, frame, scan, huff_dc, huff_ac, restart_interval,
                planes, ss, se, ah, al,
            )
        # all other markers (APPn, COM, DNL...) are skipped
    if frame is not None and frame.get("progressive") and seen_scan:
        return _reconstruct(frame, planes, qt)
    raise ValueError("JPEG has no scan (SOS) segment")


def _frame_geometry(frame):
    """(hmax, vmax, mcus_x, mcus_y) for a validated frame header."""
    w_img, h_img, comps = frame["w"], frame["h"], frame["comps"]
    if w_img < 1 or h_img < 1:
        raise ValueError("JPEG has zero dimension")
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    if hmax < 1 or vmax < 1:
        raise ValueError("bad JPEG sampling factors")
    mcus_x = (w_img + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (h_img + 8 * vmax - 1) // (8 * vmax)
    return hmax, vmax, mcus_x, mcus_y


def _comp_blocks(frame, comp) -> tuple[int, int]:
    """Non-interleaved block-grid dims (bw, bh) of one component: the
    spec's ceil(ceil(dim * sampling / max_sampling) / 8) (T.81 A.2.2) —
    NOT the MCU-padded grid an interleaved scan walks."""
    hmax, vmax, _, _ = _frame_geometry(frame)
    cw = (frame["w"] * comp["h"] + hmax - 1) // hmax
    chh = (frame["h"] * comp["v"] + vmax - 1) // vmax
    return (cw + 7) // 8, (chh + 7) // 8


def _entropy_segments(data: bytes, start: int) -> tuple[list[bytes], int]:
    """Entropy-coded segments from ``start``: destuff 0xFF00, split at
    RSTn, stop at any other marker.  Returns (segments, end position of
    the first non-RST marker) so multi-scan (progressive) parsing can
    resume the marker walk."""
    segments = []
    cur = bytearray()
    i, n = start, len(data)
    while i < n:
        b = data[i]
        if b != 0xFF:
            cur.append(b)
            i += 1
            continue
        nxt = data[i + 1] if i + 1 < n else 0xD9
        if nxt == 0x00:
            cur.append(0xFF)
            i += 2
        elif 0xD0 <= nxt <= 0xD7:
            segments.append(bytes(cur))
            cur = bytearray()
            i += 2
        else:
            break
    segments.append(bytes(cur))
    return segments, i


def _decode_scan(data, start, frame, scan, qt, huff_dc, huff_ac, restart_interval):
    w_img, h_img = frame["w"], frame["h"]
    hmax, vmax, mcus_x, mcus_y = _frame_geometry(frame)
    segments, _ = _entropy_segments(data, start)

    # per-component coefficient planes (in MCU-padded block grids)
    planes = {}
    for comp, _, _ in scan:
        bw, bh = mcus_x * comp["h"], mcus_y * comp["v"]
        planes[comp["id"]] = np.zeros((bh * bw, 64), dtype=np.int64)
    pred = {comp["id"]: 0 for comp, _, _ in scan}

    seg_idx = 0
    br = _BitReader(segments[0])
    mcu_count = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                seg_idx += 1
                if seg_idx >= len(segments):
                    raise ValueError("JPEG missing restart segment")
                br = _BitReader(segments[seg_idx])
                for k in pred:
                    pred[k] = 0
            for comp, dc_id, ac_id in scan:
                if dc_id not in huff_dc or ac_id not in huff_ac:
                    raise ValueError("JPEG scan references undefined Huffman table")
                dt, at = huff_dc[dc_id], huff_ac[ac_id]
                ch, cv = comp["h"], comp["v"]
                for by in range(cv):
                    for bx in range(ch):
                        coefs = np.zeros(64, dtype=np.int64)
                        s = _decode_huff(br, dt)
                        pred[comp["id"]] += _receive_extend(br, s)
                        coefs[0] = pred[comp["id"]]
                        k = 1
                        while k < 64:
                            rs = _decode_huff(br, at)
                            r, size = rs >> 4, rs & 15
                            if size == 0:
                                if r == 15:
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("JPEG AC coefficient overrun")
                            coefs[k] = _receive_extend(br, size)
                            k += 1
                        row = (my * cv + by) * (mcus_x * ch) + (mx * ch + bx)
                        planes[comp["id"]][row] = coefs
            mcu_count += 1

    return _reconstruct(frame, planes, qt)


def _reconstruct(frame, planes, qt):
    """Coefficient planes (MCU-padded, zigzag order) -> pixels:
    dequantize + IDCT + assemble each component plane, upsample to full
    resolution, YCbCr->RGB for 3 components.  Shared by the sequential
    and progressive paths."""
    w_img, h_img = frame["w"], frame["h"]
    hmax, vmax, mcus_x, mcus_y = _frame_geometry(frame)
    out_planes = []
    for comp in frame["comps"]:
        q = qt.get(comp["tq"])
        if q is None:
            raise ValueError("JPEG component references undefined quant table")
        if comp["id"] not in planes:
            raise ValueError("JPEG component has no scan data")
        ch, cv = comp["h"], comp["v"]
        bw, bh = mcus_x * ch, mcus_y * cv
        coefs = planes[comp["id"]] * q[None, :]  # both in zigzag order
        blocks = np.zeros((coefs.shape[0], 64))
        blocks[:, _ZIGZAG] = coefs
        blocks = blocks.reshape(-1, 8, 8)
        pix = np.einsum("ij,njk,kl->nil", _DCT_A.T, blocks, _DCT_A) + 128.0
        pix = np.clip(np.round(pix), 0, 255).astype(np.uint8)
        plane = (
            pix.reshape(bh, bw, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(bh * 8, bw * 8)
        )
        plane = np.repeat(np.repeat(plane, vmax // cv, axis=0), hmax // ch, axis=1)
        out_planes.append(plane[:h_img, :w_img])

    if len(out_planes) == 1:
        return out_planes[0]
    if len(out_planes) != 3:
        raise ValueError(f"unsupported JPEG component count {len(out_planes)}")
    y, cb, cr = (p.astype(np.float64) for p in out_planes)
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(np.round(np.dstack([r, g, b])), 0, 255).astype(np.uint8)


def _decode_progressive_scan(
    data, start, frame, scan, huff_dc, huff_ac, restart_interval,
    planes, ss, se, ah, al,
):
    """Decode ONE progressive scan's entropy data into the persistent
    per-component coefficient planes (T.81 G.2); returns the byte
    position after the scan so the caller resumes the marker walk.

    Four scan kinds: DC first (Ah=0, coefficients arrive << Al), DC
    refinement (one bit per block sets bit Al), AC first (band
    [Ss, Se] with EOB-run codes), AC refinement (correction bits for
    history-nonzero coefficients, new coefficients at +-2^Al).  DC
    scans may interleave several components (MCU walk); AC scans are
    single-component over the component's own block grid (A.2.2).
    Restart markers reset DC predictors AND the EOB run."""
    hmax, vmax, mcus_x, mcus_y = _frame_geometry(frame)
    segments, end = _entropy_segments(data, start)
    if ss == 0:
        if se != 0:
            raise ValueError("progressive DC scan must have Se=0")
    else:
        if len(scan) != 1:
            raise ValueError("progressive AC scan must be single-component")
        if not ss <= se <= 63:
            raise ValueError("bad progressive spectral band")
    for comp, _, _ in scan:
        if comp["id"] not in planes:
            bw, bh = mcus_x * comp["h"], mcus_y * comp["v"]
            planes[comp["id"]] = np.zeros((bh * bw, 64), dtype=np.int64)

    # a scan is interleaved (MCU walk) iff it carries >1 component; a
    # single-component scan walks that component's own block grid (A.2)
    def block_walk():
        if len(scan) > 1:
            for my in range(mcus_y):
                for mx in range(mcus_x):
                    units = []
                    for comp, dc_id, ac_id in scan:
                        ch, cv = comp["h"], comp["v"]
                        for by in range(cv):
                            for bx in range(ch):
                                row = (my * cv + by) * (mcus_x * ch) + (mx * ch + bx)
                                units.append((comp, dc_id, ac_id, row))
                    yield units  # one restart unit = one MCU
        else:
            comp, dc_id, ac_id = scan[0]
            bw, bh = _comp_blocks(frame, comp)
            for by in range(bh):
                for bx in range(bw):
                    row = by * (mcus_x * comp["h"]) + bx
                    yield [(comp, dc_id, ac_id, row)]  # restart unit = 1 block

    pred = {comp["id"]: 0 for comp, _, _ in scan}
    eobrun = 0
    seg_idx = 0
    br = _BitReader(segments[0])
    unit_count = 0
    for units in block_walk():
        if restart_interval and unit_count and unit_count % restart_interval == 0:
            seg_idx += 1
            if seg_idx >= len(segments):
                raise ValueError("JPEG missing restart segment")
            br = _BitReader(segments[seg_idx])
            for k in pred:
                pred[k] = 0
            eobrun = 0
        for comp, dc_id, ac_id, row in units:
            coefs = planes[comp["id"]][row]
            if ss == 0:
                if ah == 0:  # DC first
                    if dc_id not in huff_dc:
                        raise ValueError("JPEG scan references undefined Huffman table")
                    s = _decode_huff(br, huff_dc[dc_id])
                    pred[comp["id"]] += _receive_extend(br, s)
                    coefs[0] = pred[comp["id"]] << al
                else:  # DC refinement: one bit per block
                    if br.read_bit():
                        coefs[0] |= 1 << al
            else:
                if ac_id not in huff_ac:
                    raise ValueError("JPEG scan references undefined Huffman table")
                if ah == 0:
                    eobrun = _ac_first_block(br, huff_ac[ac_id], coefs, ss, se, al, eobrun)
                else:
                    eobrun = _ac_refine_block(br, huff_ac[ac_id], coefs, ss, se, al, eobrun)
        unit_count += 1
    return end


def _ac_first_block(br, tbl, coefs, ss, se, al, eobrun):
    """AC first scan (Ah=0) for one block: band coefficients arrive as
    (run, size) pairs shifted left Al; EOBn codes skip 2^n+bits blocks."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = _decode_huff(br, tbl)
        r, size = rs >> 4, rs & 15
        if size == 0:
            if r < 15:  # EOBn: run of blocks ending here
                eobrun = (1 << r) - 1
                if r:
                    eobrun += br.read_bits(r)
                break
            k += 16  # ZRL
        else:
            k += r
            if k > se:
                raise ValueError("JPEG AC coefficient overrun")
            coefs[k] = _receive_extend(br, size) << al
            k += 1
    return eobrun


def _ac_refine_block(br, tbl, coefs, ss, se, al, eobrun):
    """AC refinement scan (Ah=Al+1) for one block: every coefficient the
    decoder already knows nonzero gets a correction bit as the scan
    passes over it; ZRL/(run,1) symbols position newly-nonzero
    coefficients among the zero-HISTORY slots only (T.81 G.1.2.3)."""
    p1 = 1 << al
    m1 = -1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = _decode_huff(br, tbl)
            r, size = rs >> 4, rs & 15
            val = 0
            if size == 0:
                if r < 15:  # EOBn: count INCLUDES this block — its
                    # remaining correction bits are read below, then
                    # the run decrements (T.81 G.1.2.3 order)
                    eobrun = 1 << r
                    if r:
                        eobrun += br.read_bits(r)
                    break
                # ZRL: skip 16 zero-history positions
            elif size == 1:
                val = p1 if br.read_bit() else m1
            else:
                raise ValueError("bad JPEG AC refinement symbol")
            while k <= se:
                c = int(coefs[k])
                if c != 0:
                    if br.read_bit() and (c & p1) == 0:
                        coefs[k] = c + (p1 if c > 0 else m1)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if val and k <= se:
                coefs[k] = val
            k += 1
    if eobrun > 0:
        while k <= se:  # EOB run still corrects history-nonzero coefs
            c = int(coefs[k])
            if c != 0:
                if br.read_bit() and (c & p1) == 0:
                    coefs[k] = c + (p1 if c > 0 else m1)
            k += 1
        eobrun -= 1
    return eobrun


# --------------------------------------------------------------------------
# GIF (GIF87a/89a, first frame)
# --------------------------------------------------------------------------


def _lzw_decode(data: bytes, min_code_size: int, max_pixels: int) -> bytes:
    """GIF-variant LZW: variable code width starting at min_code_size+1,
    clear/EOI codes, dictionary capped at 12 bits."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    table: list[bytes] = []
    code_size = prev = None

    def reset():
        nonlocal table, code_size, prev
        table = [bytes([i]) for i in range(clear)] + [b"", b""]
        code_size = min_code_size + 1
        prev = None

    reset()
    acc = nbits = 0
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= code_size:
            code = acc & ((1 << code_size) - 1)
            acc >>= code_size
            nbits -= code_size
            if code == clear:
                reset()
                continue
            if code == eoi:
                return bytes(out)
            if prev is None:
                if code >= len(table):
                    raise ValueError("GIF LZW: first code out of range")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(table[prev] + entry[:1])
            elif code == len(table):
                entry = table[prev] + table[prev][:1]
                table.append(entry)
            else:
                raise ValueError("GIF LZW: code out of range")
            out += entry
            if len(out) > max_pixels:
                raise ValueError("GIF LZW: output exceeds frame size")
            prev = code
            if len(table) >= (1 << code_size) and code_size < 12:
                code_size += 1
    return bytes(out)


def decode_gif(data: bytes, max_pixels: int | None = DEFAULT_MAX_PIXELS) -> np.ndarray:
    """GIF87a/89a first frame -> uint8 pixels, (H, W, 3) RGB or
    (H, W, 4) RGBA when a transparent index is declared.  Pure-Python
    LZW + palette expansion; interlaced frames supported.  Animation
    beyond the first image descriptor is ignored (the perceptual/
    thumbnail use case keys on the first frame).

    Decode-work bomb guard: GIF dimensions are u16, so a crafted header
    can declare up to 4.3 Gpx and the bit-serial LZW would try to emit
    them all; screens/frames over ``max_pixels`` are rejected from the
    header (None disables)."""
    data = bytes(data)
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    try:
        return _decode_gif_body(data, max_pixels)
    except (struct.error, IndexError) as e:
        raise ValueError(f"malformed GIF: {e}") from e


def _decode_gif_body(data: bytes, max_pixels: int | None = None) -> np.ndarray:
    sw, sh, flags, _bg, _ar = struct.unpack_from("<HHBBB", data, 6)
    if max_pixels is not None and sw * sh > max_pixels:
        raise ValueError(
            f"GIF declares a {sw}x{sh} logical screen, over the decode "
            f"budget of {max_pixels} pixels (decode-work bomb guard)"
        )
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 7)
        gct = np.frombuffer(data[pos : pos + 3 * n], dtype=np.uint8).reshape(-1, 3)
        pos += 3 * n
    transparent = None
    while pos < len(data):
        b = data[pos]
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension
            label = data[pos + 1]
            pos += 2
            if label == 0xF9 and data[pos] >= 4:  # graphic control
                gflags = data[pos + 1]
                if gflags & 1:
                    transparent = data[pos + 4]
            while data[pos]:  # skip sub-blocks
                pos += 1 + data[pos]
            pos += 1
            continue
        if b != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{b:02x}")
        # image descriptor
        ix, iy, iw, ih, iflags = struct.unpack_from("<HHHHB", data, pos + 1)
        pos += 10
        lct = gct
        if iflags & 0x80:
            n = 2 << (iflags & 7)
            lct = np.frombuffer(data[pos : pos + 3 * n], dtype=np.uint8).reshape(-1, 3)
            pos += 3 * n
        if lct is None:
            raise ValueError("GIF frame has no color table")
        min_code = data[pos]
        pos += 1
        blocks = []
        while data[pos]:
            ln = data[pos]
            blocks.append(data[pos + 1 : pos + 1 + ln])
            pos += 1 + ln
        pos += 1
        if iw < 1 or ih < 1:
            raise ValueError("GIF frame has zero dimension")
        if max_pixels is not None and iw * ih > max_pixels:
            raise ValueError(
                f"GIF frame declares {iw}x{ih} = {iw * ih} pixels, over "
                f"the decode budget of {max_pixels} (decode-work bomb guard)"
            )
        idx_bytes = _lzw_decode(b"".join(blocks), min_code, iw * ih)
        if len(idx_bytes) < iw * ih:
            raise ValueError("GIF frame pixel data truncated")
        idx = np.frombuffer(idx_bytes[: iw * ih], dtype=np.uint8).reshape(ih, iw)
        if iflags & 0x40:  # interlaced: 4-pass row shuffle
            rows = np.concatenate(
                [np.arange(0, ih, 8), np.arange(4, ih, 8),
                 np.arange(2, ih, 4), np.arange(1, ih, 2)]
            )
            deinter = np.empty_like(idx)
            deinter[rows] = idx
            idx = deinter
        if idx.max(initial=0) >= len(lct):
            raise ValueError("GIF palette index out of range")
        rgb = lct[idx.astype(np.int64)]
        # frame placement inside the logical screen: the common
        # single-frame case is full-screen; offset frames pad with the
        # frame's own top-left pixel (deterministic, library-free)
        if (ix, iy, iw, ih) != (0, 0, sw, sh) and sw >= iw and sh >= ih and sw * sh:
            full = np.tile(rgb[0, 0], (sh, sw, 1))
            full[iy : iy + ih, ix : ix + iw] = rgb
            rgb = full
        if transparent is not None and transparent < len(lct):
            alpha = np.where(idx == transparent, 0, 255).astype(np.uint8)
            if rgb.shape[:2] != alpha.shape:
                a_full = np.full(rgb.shape[:2], 255, dtype=np.uint8)
                a_full[iy : iy + ih, ix : ix + iw] = alpha
                alpha = a_full
            return np.dstack([rgb, alpha])
        return rgb
    raise ValueError("GIF has no image descriptor")


# --------------------------------------------------------------------------
# Dispatch + pixel utilities
# --------------------------------------------------------------------------


def decode_image(data: bytes) -> np.ndarray:
    """Magic-dispatched pixel decode: PNG, baseline or progressive JPEG,
    or GIF (first frame) -> numpy array (see the per-format decoders for
    shapes).  Raises ValueError for other formats or malformed payloads —
    callers degrade those to the byte-digest surrogate."""
    data = bytes(data)
    if data[:8] == _PNG_SIG:
        return decode_png(data)
    if data[:2] == b"\xff\xd8":
        return decode_jpeg(data)
    if data[:6] in (b"GIF87a", b"GIF89a"):
        return decode_gif(data)
    raise ValueError("unsupported image format (not PNG/JPEG/GIF)")


def to_gray(arr: np.ndarray) -> np.ndarray:
    """Pixels -> 2-D float64 luma grid (BT.601 weights, the usual
    RGB-to-L convention); gray+alpha takes the gray
    channel, alpha never influences luminance."""
    a = np.asarray(arr, dtype=np.float64)
    if a.ndim == 2:
        return a
    if a.ndim == 3 and a.shape[2] == 2:
        return a[:, :, 0]
    if a.ndim == 3 and a.shape[2] in (3, 4):
        return (
            0.299 * a[:, :, 0] + 0.587 * a[:, :, 1] + 0.114 * a[:, :, 2]
        )
    raise ValueError(f"unsupported pixel array shape {arr.shape}")


def resize_array(arr: np.ndarray, width: int, height: int) -> np.ndarray:
    """Bilinear resample to (height, width), half-pixel-center sampling
    (the align_corners=False convention), channel-preserving, float64
    math, deterministic."""
    a = np.asarray(arr, dtype=np.float64)
    squeeze = a.ndim == 2
    if squeeze:
        a = a[:, :, None]
    h, w, c = a.shape
    if width < 1 or height < 1:
        raise ValueError("target dimensions must be positive")
    sx = (np.arange(width) + 0.5) * (w / width) - 0.5
    sy = (np.arange(height) + 0.5) * (h / height) - 0.5
    x0 = np.clip(np.floor(sx).astype(np.int64), 0, w - 1)
    y0 = np.clip(np.floor(sy).astype(np.int64), 0, h - 1)
    x1 = np.clip(x0 + 1, 0, w - 1)
    y1 = np.clip(y0 + 1, 0, h - 1)
    fx = np.clip(sx - x0, 0.0, 1.0)[None, :, None]
    fy = np.clip(sy - y0, 0.0, 1.0)[:, None, None]
    tl = a[y0[:, None], x0[None, :]]
    tr = a[y0[:, None], x1[None, :]]
    bl = a[y1[:, None], x0[None, :]]
    br = a[y1[:, None], x1[None, :]]
    out = (
        tl * (1 - fx) * (1 - fy)
        + tr * fx * (1 - fy)
        + bl * (1 - fx) * fy
        + br * fx * fy
    )
    return out[:, :, 0] if squeeze else out
