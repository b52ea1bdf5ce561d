"""Image fixture generators for the codec and operator tests.

The package only decodes JPEG and GIF (``shardpack_spark.operators.imagecodec``);
the encoders the tests build their payloads with live here.

- ``encode_jpeg``: two-pass baseline JFIF encoder (uniform-length
  canonical Huffman tables over the symbols used, Annex K quant bases on
  the libjpeg quality curve) and, with ``progressive=True``, a
  libjpeg-shaped SOF2 scan script — the generator for every progressive
  decoder path.
- ``_mk_gif``: GIF89a writer over a reference LZW encoder written from
  the spec, independently of the decoder.
"""

from __future__ import annotations

import struct

import numpy as np

from shardpack_spark.operators.imagecodec import _DCT_A, _ZIGZAG

# Annex K example quantization tables (public spec constants), natural
# (row-major) order; any table works — it travels in DQT — these give
# the conventional quality/size curve.
_QT_LUMA = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.int64,
)
_QT_CHROMA = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.int64,
)


# --- JPEG encoder ----------------------------------------------------------


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.out.append(0x00)
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # 1-bits padding per spec


def _quality_scale(base: np.ndarray, quality: int) -> np.ndarray:
    quality = min(max(int(quality), 1), 100)
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((base * scale + 50) // 100, 1, 255)


def _magnitude(v: int) -> int:
    return int(v).bit_length() if v >= 0 else int(-v).bit_length()


def _block_symbols(coefs: np.ndarray, pred: int) -> tuple[list, int]:
    """One quantized zigzag block -> [(kind, symbol, value, size), ...]
    where kind is 'dc' or 'ac'; returns the updated DC predictor."""
    syms = []
    dc = int(coefs[0])
    diff = dc - pred
    s = _magnitude(diff)
    syms.append(("dc", s, diff, s))
    k = 63
    while k >= 1 and coefs[k] == 0:
        k -= 1
    last_nonzero = k
    run = 0
    for k in range(1, last_nonzero + 1):
        v = int(coefs[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            syms.append(("ac", 0xF0, 0, 0))  # ZRL
            run -= 16
        s = _magnitude(v)
        syms.append(("ac", (run << 4) | s, v, s))
        run = 0
    if last_nonzero < 63:
        syms.append(("ac", 0x00, 0, 0))  # EOB
    return syms, dc


def _build_uniform_huff(symbols: set[int]) -> tuple[list[int], bytes, dict]:
    """Canonical Huffman table giving every used symbol one shared code
    length L = ceil(log2(n+1)) — valid (never assigns the all-ones code,
    since n <= 2^L - 1), tiny to emit, and spec-constant-free.  Returns
    (bits[16], values, {symbol: (code, L)})."""
    vals = sorted(symbols) or [0]
    n = len(vals)
    L = max(1, (n + 1 - 1).bit_length())  # ceil(log2(n+1))
    while (1 << L) < n + 1:
        L += 1
    bits = [0] * 16
    bits[L - 1] = n
    codes = {v: (i, L) for i, v in enumerate(vals)}
    return bits, bytes(vals), codes


def encode_jpeg(
    arr: np.ndarray,
    *,
    quality: int = 85,
    subsampling: str = "444",
    restart_interval: int = 0,
    progressive: bool = False,
) -> bytes:
    """uint8 pixels -> baseline (or progressive) JFIF JPEG bytes.

    (H, W) encodes grayscale (one component); (H, W, 3) encodes RGB as
    YCbCr, ``subsampling`` '444' (no chroma subsampling) or '420'
    (2x2-averaged chroma).  Two-pass: symbols are counted first and the
    DHT tables are uniform-length canonical codes over exactly the
    symbols used.  ``restart_interval`` > 0 emits DRI + RSTn markers
    every that many MCUs (exercises the decoder's restart path).

    ``progressive=True`` emits a SOF2 frame with a libjpeg-shaped scan
    script — successive-approximation DC (Al=1 then refine), banded AC
    first scans and two AC refinement levels for luma — so a decoded
    result carries the EXACT same coefficients as the baseline stream
    (progressive transmission is lossless in coefficients once all
    scans land).  This is the fixture generator for the progressive
    decoder paths (DC/AC first + refine, EOB runs, per-scan DHT)."""
    a = np.asarray(arr)
    if a.dtype != np.uint8:
        a = np.clip(np.round(a), 0, 255).astype(np.uint8)
    gray = a.ndim == 2
    if not gray and (a.ndim != 3 or a.shape[2] != 3):
        raise ValueError(f"unsupported array shape {arr.shape}")
    if subsampling not in ("444", "420"):
        raise ValueError(f"unsupported subsampling {subsampling!r}")
    h_img, w_img = a.shape[:2]
    if h_img < 1 or w_img < 1:
        raise ValueError("empty image")

    if gray:
        planes = [a.astype(np.float64)]
        samp = [(1, 1)]
        qsel = [0]
    else:
        rgb = a.astype(np.float64)
        r, g, b = rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
        cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
        if subsampling == "420":
            def half(p):
                ph = p[: (p.shape[0] // 2) * 2, : (p.shape[1] // 2) * 2]
                if ph.size == 0:  # 1-pixel-wide/tall edge case: plain decimation
                    return p[::2, ::2]
                q = ph.reshape(ph.shape[0] // 2, 2, ph.shape[1] // 2, 2).mean(axis=(1, 3))
                # odd trailing row/col: extend by edge replication
                if p.shape[1] % 2:
                    q = np.hstack([q, p[: q.shape[0] * 2 : 2, -1:]])
                if p.shape[0] % 2:
                    q = np.vstack([q, q[-1:]])
                return q

            planes = [y, half(cb), half(cr)]
            samp = [(2, 2), (1, 1), (1, 1)]
        else:
            planes = [y, cb, cr]
            samp = [(1, 1), (1, 1), (1, 1)]
        qsel = [0, 1, 1]

    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcus_x = (w_img + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (h_img + 8 * vmax - 1) // (8 * vmax)
    # tables held in ZIGZAG order throughout (the DQT wire order, and the
    # order the quantize step below consumes)
    qts = [
        _quality_scale(_QT_LUMA, quality)[_ZIGZAG],
        _quality_scale(_QT_CHROMA, quality)[_ZIGZAG],
    ][: max(qsel) + 1]

    # blockify each plane, padded by edge replication to its MCU grid
    comp_blocks = []
    for (ch, cv), plane in zip(samp, planes):
        tw, th = mcus_x * ch * 8, mcus_y * cv * 8
        p = plane
        if p.shape[0] < th:
            p = np.vstack([p, np.repeat(p[-1:], th - p.shape[0], axis=0)])
        if p.shape[1] < tw:
            p = np.hstack([p, np.repeat(p[:, -1:], tw - p.shape[1], axis=1)])
        blocks = (
            p.reshape(th // 8, 8, tw // 8, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
        )
        comp_blocks.append(blocks)

    # FDCT + quantize every block, vectorized per component
    comp_coefs = []
    for ci, blocks in enumerate(comp_blocks):
        fd = np.einsum("ij,njk,kl->nil", _DCT_A, blocks - 128.0, _DCT_A.T)
        zz = fd.reshape(-1, 64)[:, _ZIGZAG]
        comp_coefs.append(
            np.round(zz / qts[qsel[ci]][None, :]).astype(np.int64)
        )

    if progressive:
        return _encode_progressive(
            h_img, w_img, samp, qsel, qts, comp_coefs,
            mcus_x, mcus_y, restart_interval,
        )

    # MCU walk -> symbol stream (pass 1: counts; pass 2: bits)
    def mcu_stream():
        pred = [0] * len(planes)
        count = 0
        for my in range(mcus_y):
            for mx in range(mcus_x):
                if restart_interval and count and count % restart_interval == 0:
                    yield ("rst", (count // restart_interval - 1) % 8)
                    pred = [0] * len(planes)
                for ci, (ch, cv) in enumerate(samp):
                    bw = mcus_x * ch
                    for by in range(cv):
                        for bx in range(ch):
                            idx = (my * cv + by) * bw + (mx * ch + bx)
                            syms, pred[ci] = _block_symbols(
                                comp_coefs[ci][idx], pred[ci]
                            )
                            for kind, sym, val, size in syms:
                                yield (kind, ci, sym, val, size)
                count += 1

    dc_syms: list[set[int]] = [set() for _ in planes]
    ac_syms: list[set[int]] = [set() for _ in planes]
    for item in mcu_stream():
        if item[0] == "rst":
            continue
        kind, ci, sym = item[0], item[1], item[2]
        (dc_syms if kind == "dc" else ac_syms)[ci].add(sym)
    # table ids: 0 = luma (component 0), 1 = chroma (components 1, 2)
    tsel = [0] + [1] * (len(planes) - 1)
    dc_tables = []
    ac_tables = []
    for t in range(max(tsel) + 1):
        dsy = set().union(*[dc_syms[ci] for ci in range(len(planes)) if tsel[ci] == t])
        asy = set().union(*[ac_syms[ci] for ci in range(len(planes)) if tsel[ci] == t])
        dc_tables.append(_build_uniform_huff(dsy))
        ac_tables.append(_build_uniform_huff(asy))

    bw_ = _BitWriter()
    body = bytearray()
    for item in mcu_stream():
        if item[0] == "rst":
            bw_.flush()
            body += bw_.out
            bw_ = _BitWriter()
            body += bytes([0xFF, 0xD0 + item[1]])
            continue
        kind, ci, sym, val, size = item
        codes = (dc_tables if kind == "dc" else ac_tables)[tsel[ci]][2]
        code, length = codes[sym]
        bw_.write(code, length)
        if size:
            v = val if val >= 0 else val + (1 << size) - 1
            bw_.write(v, size)
    bw_.flush()
    body += bw_.out

    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    for tq, q in enumerate(qts):
        out += b"\xff\xdb" + struct.pack(">H", 2 + 65) + bytes([tq]) + bytes(
            int(q[i]) for i in range(64)
        )
    sof = bytes([8]) + struct.pack(">HH", h_img, w_img) + bytes([len(planes)])
    for ci, (ch, cv) in enumerate(samp):
        sof += bytes([ci + 1, (ch << 4) | cv, qsel[ci]])
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    for tc, tables in ((0, dc_tables), (1, ac_tables)):
        for th, (bits, values, _) in enumerate(tables):
            seg = bytes([(tc << 4) | th]) + bytes(bits) + values
            out += b"\xff\xc4" + struct.pack(">H", 2 + len(seg)) + seg
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    sos = bytes([len(planes)])
    for ci in range(len(planes)):
        sos += bytes([ci + 1, (tsel[ci] << 4) | tsel[ci]])
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
    out += body
    out += b"\xff\xd9"
    return bytes(out)


def _prog_scan_script(ncomp: int) -> list[dict]:
    """libjpeg-shaped progressive scan script: successive-approximation
    DC (Al=1 then a refine pass), banded luma AC (1-5 then 6-63) at
    Al=2 with two refinement levels, single-band chroma AC at Al=1 with
    one refinement — exercises every decoder scan kind including
    multi-level AC refinement and EOB runs."""
    if ncomp == 1:
        return [
            {"cis": [0], "ss": 0, "se": 0, "ah": 0, "al": 1},
            {"cis": [0], "ss": 1, "se": 5, "ah": 0, "al": 2},
            {"cis": [0], "ss": 6, "se": 63, "ah": 0, "al": 2},
            {"cis": [0], "ss": 1, "se": 63, "ah": 2, "al": 1},
            {"cis": [0], "ss": 0, "se": 0, "ah": 1, "al": 0},
            {"cis": [0], "ss": 1, "se": 63, "ah": 1, "al": 0},
        ]
    cis = list(range(ncomp))
    return [
        {"cis": cis, "ss": 0, "se": 0, "ah": 0, "al": 1},
        {"cis": [0], "ss": 1, "se": 5, "ah": 0, "al": 2},
        {"cis": [1], "ss": 1, "se": 63, "ah": 0, "al": 1},
        {"cis": [2], "ss": 1, "se": 63, "ah": 0, "al": 1},
        {"cis": [0], "ss": 6, "se": 63, "ah": 0, "al": 2},
        {"cis": [0], "ss": 1, "se": 63, "ah": 2, "al": 1},
        {"cis": cis, "ss": 0, "se": 0, "ah": 1, "al": 0},
        {"cis": [0], "ss": 1, "se": 63, "ah": 1, "al": 0},
        {"cis": [1], "ss": 1, "se": 63, "ah": 1, "al": 0},
        {"cis": [2], "ss": 1, "se": 63, "ah": 1, "al": 0},
    ]


def _prog_scan_events(
    scan, samp, comp_coefs, mcus_x, mcus_y, w_img, h_img, restart_interval
) -> list[tuple]:
    """One progressive scan -> flat event list: ('sym', ci, symbol) /
    ('bits', value, nbits) / ('rst', n).  Deterministic, so the caller
    runs a stats pass (symbol sets -> DHT) and an emission pass over
    the SAME list."""
    cis, ss, se = scan["cis"], scan["ss"], scan["se"]
    ah, al = scan["ah"], scan["al"]
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    ev: list[tuple] = []

    def units():
        if len(cis) > 1:  # interleaved (DC) scan: MCU walk
            for my in range(mcus_y):
                for mx in range(mcus_x):
                    u = []
                    for ci in cis:
                        ch, cv = samp[ci]
                        for by in range(cv):
                            for bx in range(ch):
                                u.append(
                                    (ci, (my * cv + by) * (mcus_x * ch) + (mx * ch + bx))
                                )
                    yield u
        else:  # non-interleaved: the component's own block grid (A.2.2)
            ci = cis[0]
            ch, cv = samp[ci]
            bw = ((w_img * ch + hmax - 1) // hmax + 7) // 8
            bh = ((h_img * cv + vmax - 1) // vmax + 7) // 8
            for by in range(bh):
                for bx in range(bw):
                    yield [(ci, by * (mcus_x * ch) + bx)]

    if ss == 0 and ah == 0:  # DC first: diffs of (DC >> Al)
        pred = dict.fromkeys(cis, 0)
        for count, u in enumerate(units()):
            if restart_interval and count and count % restart_interval == 0:
                ev.append(("rst", (count // restart_interval - 1) % 8))
                pred = dict.fromkeys(cis, 0)
            for ci, idx in u:
                v = int(comp_coefs[ci][idx][0]) >> al  # arithmetic point transform
                diff = v - pred[ci]
                pred[ci] = v
                s = _magnitude(diff)
                ev.append(("sym", ci, s))
                if s:
                    ev.append(("bits", diff if diff >= 0 else diff + (1 << s) - 1, s))
        return ev
    if ss == 0:  # DC refinement: bit Al of each DC, one per block
        for count, u in enumerate(units()):
            if restart_interval and count and count % restart_interval == 0:
                ev.append(("rst", (count // restart_interval - 1) % 8))
            for ci, idx in u:
                ev.append(("bits", (int(comp_coefs[ci][idx][0]) >> al) & 1, 1))
        return ev
    ci = cis[0]
    blocks = [idx for u in units() for _, idx in u]
    if ah == 0:
        _prog_ac_first(ev, ci, blocks, comp_coefs[ci], ss, se, al, restart_interval)
    else:
        _prog_ac_refine(ev, ci, blocks, comp_coefs[ci], ss, se, al, restart_interval)
    return ev


def _prog_ac_first(ev, ci, blocks, coefs, ss, se, al, restart_interval):
    """AC first scan (Ah=0): band run-length coding of |coef| >> Al with
    cross-block EOB runs (EOBn symbols)."""
    eobrun = 0

    def flush():
        nonlocal eobrun
        if eobrun:
            n = eobrun.bit_length() - 1
            ev.append(("sym", ci, n << 4))
            if n:
                ev.append(("bits", eobrun - (1 << n), n))
            eobrun = 0

    for count, idx in enumerate(blocks):
        if restart_interval and count and count % restart_interval == 0:
            flush()
            ev.append(("rst", (count // restart_interval - 1) % 8))
        row = coefs[idx]
        vals = []
        for k in range(ss, se + 1):
            c = int(row[k])
            a = (c if c >= 0 else -c) >> al
            vals.append(a if c >= 0 else -a)
        last = -1
        for j, v in enumerate(vals):
            if v:
                last = j
        if last < 0:
            eobrun += 1
            if eobrun == 0x7FFF:
                flush()
            continue
        flush()
        run = 0
        for j in range(last + 1):
            v = vals[j]
            if v == 0:
                run += 1
                continue
            while run > 15:
                ev.append(("sym", ci, 0xF0))
                run -= 16
            s = _magnitude(v)
            ev.append(("sym", ci, (run << 4) | s))
            ev.append(("bits", v if v >= 0 else v + (1 << s) - 1, s))
            run = 0
        if last < se - ss:
            eobrun += 1
            if eobrun == 0x7FFF:
                flush()
    flush()


def _prog_ac_refine(ev, ci, blocks, coefs, ss, se, al, restart_interval):
    """AC refinement scan (Ah=Al+1): correction bits for history-nonzero
    coefficients ride after the symbol they follow (libjpeg's buffered-
    bits discipline), newly-nonzero coefficients code as (run, 1) +
    sign; EOB runs carry the pending correction bits of every block
    they cover."""
    eobrun = 0
    pending: list[int] = []  # correction bits owed to the pending EOB run

    def flush():
        nonlocal eobrun, pending
        if eobrun:
            n = eobrun.bit_length() - 1
            ev.append(("sym", ci, n << 4))
            if n:
                ev.append(("bits", eobrun - (1 << n), n))
            eobrun = 0
        for b in pending:
            ev.append(("bits", b, 1))
        pending = []

    for count, idx in enumerate(blocks):
        if restart_interval and count and count % restart_interval == 0:
            flush()
            ev.append(("rst", (count // restart_interval - 1) % 8))
        row = coefs[idx]
        absv, signs = [], []
        eobpos = -1  # band-relative index of the last NEWLY-nonzero coef
        for k in range(ss, se + 1):
            c = int(row[k])
            a = (c if c >= 0 else -c) >> al
            absv.append(a)
            signs.append(1 if c >= 0 else 0)
            if a == 1:
                eobpos = k - ss
        run = 0
        cur: list[int] = []  # correction bits since the last emitted symbol
        for j, t in enumerate(absv):
            if t == 0:
                run += 1
                continue
            # fold trailing zeros into the EOB run unless a newly-nonzero
            # coefficient still follows (j <= eobpos)
            while run > 15 and j <= eobpos:
                flush()
                ev.append(("sym", ci, 0xF0))
                run -= 16
                for b in cur:
                    ev.append(("bits", b, 1))
                cur = []
            if t > 1:  # history-nonzero: correction bit only
                cur.append(t & 1)
                continue
            flush()
            ev.append(("sym", ci, (run << 4) | 1))
            ev.append(("bits", signs[j], 1))
            for b in cur:
                ev.append(("bits", b, 1))
            cur = []
            run = 0
        if run > 0 or cur:
            eobrun += 1
            pending.extend(cur)
            if eobrun == 0x7FFF or len(pending) > 900:
                flush()
    flush()


def _encode_progressive(
    h_img, w_img, samp, qsel, qts, comp_coefs, mcus_x, mcus_y, restart_interval
) -> bytes:
    """Assemble the SOF2 file: shared headers, then per scan an optional
    DHT (rebuilt from exactly that scan's symbols), SOS, entropy body."""
    ncomp = len(samp)
    tsel = [0] + [1] * (ncomp - 1)  # DC table ids for interleaved DC scans
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    for tq, q in enumerate(qts):
        out += b"\xff\xdb" + struct.pack(">H", 2 + 65) + bytes([tq]) + bytes(
            int(q[i]) for i in range(64)
        )
    sof = bytes([8]) + struct.pack(">HH", h_img, w_img) + bytes([ncomp])
    for ci, (ch, cv) in enumerate(samp):
        sof += bytes([ci + 1, (ch << 4) | cv, qsel[ci]])
    out += b"\xff\xc2" + struct.pack(">H", 2 + len(sof)) + sof
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)

    for scan in _prog_scan_script(ncomp):
        ev = _prog_scan_events(
            scan, samp, comp_coefs, mcus_x, mcus_y, w_img, h_img, restart_interval
        )
        ss, ah = scan["ss"], scan["ah"]
        is_dc = ss == 0
        # per-scan tables over exactly the symbols used (components that
        # share a table id pool their symbols); DC-refinement scans carry
        # no Huffman symbols at all, so no DHT
        tables: dict[int, tuple] = {}
        if not (is_dc and ah > 0):
            merged: dict[int, set] = {}
            for ci in scan["cis"]:
                tid = tsel[ci] if is_dc else 0
                merged.setdefault(tid, set()).update(
                    e[2] for e in ev if e[0] == "sym" and e[1] == ci
                )
            tables = {tid: _build_uniform_huff(s) for tid, s in merged.items()}
            tc = 0 if is_dc else 1
            for tid, (bits_, values_, _) in sorted(tables.items()):
                seg = bytes([(tc << 4) | tid]) + bytes(bits_) + values_
                out += b"\xff\xc4" + struct.pack(">H", 2 + len(seg)) + seg

        sos = bytes([len(scan["cis"])])
        for ci in scan["cis"]:
            tid = tsel[ci] if is_dc else 0
            # DC scan: (dc_tbl, dc_tbl); AC scan: dc nibble unused, ac=tid
            sos += bytes([ci + 1, ((tid << 4) | tid) if is_dc else tid])
        sos += bytes([ss, scan["se"], (ah << 4) | scan["al"]])
        out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

        bw_ = _BitWriter()
        body = bytearray()
        for e in ev:
            if e[0] == "rst":
                bw_.flush()
                body += bw_.out
                bw_ = _BitWriter()
                body += bytes([0xFF, 0xD0 + e[1]])
                continue
            if e[0] == "sym":
                _, ci, sym = e
                tid = tsel[ci] if is_dc else 0
                code, length = tables[tid][2][sym]
                bw_.write(code, length)
            else:
                _, v, nbits = e
                bw_.write(v, nbits)
        bw_.flush()
        body += bw_.out
        out += body

    out += b"\xff\xd9"
    return bytes(out)


# --- GIF encoder ----------------------------------------------------------


def _lzw_encode(indices, min_code_size):
    """Reference GIF-LZW encoder (test-side, written against the spec
    independently of the decoder): growing dictionary, variable width,
    clear + EOI codes."""
    clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1
    table = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    code_size = min_code_size + 1
    out = bytearray()
    acc = nbits = 0

    def emit(code):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += code_size
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear)
    w = b""
    for px in bytes(indices):
        wk = w + bytes([px])
        if wk in table:
            w = wk
            continue
        emit(table[w])
        table[wk] = next_code
        next_code += 1
        if next_code > (1 << code_size) and code_size < 12:
            code_size += 1
        w = bytes([px])
    if w:
        emit(table[w])
    emit(eoi)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _mk_gif(idx, palette, transparent=None, interlace=False):
    h, w = idx.shape
    ncol = len(palette)
    bits = max(1, (ncol - 1).bit_length())
    size_field = max(0, bits - 1)
    table = bytearray()
    for r, g, b in palette:
        table += bytes([r, g, b])
    table += b"\x00" * (3 * ((2 << size_field) - ncol))
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | size_field, 0, 0)
    out += table
    if transparent is not None:
        out += bytes([0x21, 0xF9, 4, 0x01, 0, 0, transparent, 0])
    rows = idx
    if interlace:
        order = list(range(0, h, 8)) + list(range(4, h, 8)) + list(range(2, h, 4)) + list(range(1, h, 2))
        rows = idx[order]
    out += struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, 0x40 if interlace else 0)
    mcs = max(2, bits)
    out += bytes([mcs])
    payload = _lzw_encode(rows.tobytes(), mcs)
    for i in range(0, len(payload), 200):
        blk = payload[i : i + 200]
        out += bytes([len(blk)]) + blk
    out += b"\x00\x3b"
    return bytes(out)
