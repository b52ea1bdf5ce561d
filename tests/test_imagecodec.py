"""Pure-Python image codecs: PNG (full), baseline + progressive JPEG and
GIF decode, no wheels.  JPEG and GIF streams come from the fixture
encoders in ``tests/imagefixtures.py``.

Round trips alone could hide a symmetric encoder/decoder bug, so the
decoders are also checked against hand-built byte fixtures (a PNG
assembled chunk by chunk, a one-block JPEG whose IDCT output is derived
on paper) and the DCT matrix against a naive O(n^2) cosine-sum
reference.
"""

from __future__ import annotations

import hashlib
import struct
import zlib

import numpy as np
import pytest

from shardpack_spark.operators import imagecodec as ic
from tests.imagefixtures import _mk_gif, encode_jpeg


# --- PNG round trips ---------------------------------------------------------


@pytest.mark.parametrize("shape", [(11, 7), (11, 7, 2), (16, 16, 3), (9, 13, 4), (1, 1), (2, 3, 3)])
@pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
def test_png_roundtrip_filters(shape, filter_type):
    rng = np.random.default_rng(hash((shape, filter_type)) % 2**32)
    a = rng.integers(0, 256, size=shape, dtype=np.uint8)
    out = ic.decode_png(ic.encode_png(a, filter_type=filter_type))
    assert out.dtype == np.uint8
    assert np.array_equal(out, a.reshape(out.shape))


@pytest.mark.parametrize("shape", [(11, 7), (16, 16, 3), (9, 13, 4)])
def test_png_roundtrip_interlaced(shape):
    rng = np.random.default_rng(1)
    a = rng.integers(0, 256, size=shape, dtype=np.uint8)
    for ft in (0, 2, 4):
        out = ic.decode_png(ic.encode_png(a, filter_type=ft, interlace=True))
        assert np.array_equal(out, a.reshape(out.shape))


def test_png_roundtrip_16bit():
    rng = np.random.default_rng(2)
    a = rng.integers(0, 65536, size=(8, 5, 3), dtype=np.uint16)
    out = ic.decode_png(ic.encode_png(a, filter_type=4))
    assert out.dtype == np.uint16
    assert np.array_equal(out, a)
    g = rng.integers(0, 65536, size=(6, 9), dtype=np.uint16)
    assert np.array_equal(ic.decode_png(ic.encode_png(g, interlace=True)), g)


# --- PNG hand-built fixtures (decoder checked against the spec, not our
# own encoder) ----------------------------------------------------------------


def _chunk(ctype: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


def _png(ihdr: bytes, *chunks: bytes) -> bytes:
    return (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", ihdr)
        + b"".join(chunks)
        + _chunk(b"IEND", b"")
    )


def test_png_hand_built_rgb():
    # 2x2 RGB8: rows (filter 0) written explicitly per the spec layout
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
    row0 = b"\x00" + bytes([255, 0, 0, 0, 255, 0])
    row1 = b"\x00" + bytes([0, 0, 255, 10, 20, 30])
    png = _png(ihdr, _chunk(b"IDAT", zlib.compress(row0 + row1)))
    out = ic.decode_png(png)
    assert np.array_equal(
        out,
        np.array([[[255, 0, 0], [0, 255, 0]], [[0, 0, 255], [10, 20, 30]]], np.uint8),
    )


def test_png_hand_built_1bit_gray():
    # 8x2, 1-bit: 0xAA = 10101010 (leftmost pixel in the high bit), 0x55 inverse
    ihdr = struct.pack(">IIBBBBB", 8, 2, 1, 0, 0, 0, 0)
    png = _png(ihdr, _chunk(b"IDAT", zlib.compress(b"\x00\xaa\x00\x55")))
    out = ic.decode_png(png)
    assert np.array_equal(out[0], np.array([255, 0] * 4, np.uint8))
    assert np.array_equal(out[1], np.array([0, 255] * 4, np.uint8))


def test_png_hand_built_4bit_gray_scaling():
    # 3x1, 4-bit samples 0x0, 0xF, 0x7 -> 0, 255, 119 (v * 17)
    ihdr = struct.pack(">IIBBBBB", 3, 1, 4, 0, 0, 0, 0)
    png = _png(ihdr, _chunk(b"IDAT", zlib.compress(b"\x00\x0f\x70")))
    assert np.array_equal(ic.decode_png(png), np.array([[0, 255, 119]], np.uint8))


def test_png_palette_and_trns():
    # 4x1 indexed: palette [red, green, blue], tRNS alpha for entry 0 only
    ihdr = struct.pack(">IIBBBBB", 4, 1, 8, 3, 0, 0, 0)
    plte = _chunk(b"PLTE", bytes([255, 0, 0, 0, 255, 0, 0, 0, 255]))
    idat = _chunk(b"IDAT", zlib.compress(b"\x00\x00\x01\x02\x00"))
    rgb = ic.decode_png(_png(ihdr, plte, idat))
    assert np.array_equal(
        rgb, np.array([[[255, 0, 0], [0, 255, 0], [0, 0, 255], [255, 0, 0]]], np.uint8)
    )
    rgba = ic.decode_png(_png(ihdr, plte, _chunk(b"tRNS", bytes([7])), idat))
    assert rgba.shape == (1, 4, 4)
    assert list(rgba[0, :, 3]) == [7, 255, 255, 7]


def test_png_rejects_corruption():
    a = np.zeros((4, 4), np.uint8)
    good = ic.encode_png(a)
    with pytest.raises(ValueError):
        ic.decode_png(b"\x89PNG\r\n\x1a\njunk")
    # flip one IDAT byte: CRC must catch it
    bad = bytearray(good)
    bad[40] ^= 0xFF
    with pytest.raises(ValueError):
        ic.decode_png(bytes(bad))
    with pytest.raises(ValueError):
        ic.decode_png(good[:-16])  # truncated (IEND gone)


# --- DCT sanity against a naive reference ------------------------------------


def test_dct_matrix_matches_naive_definition():
    A = ic._dct_matrix()
    rng = np.random.default_rng(3)
    x = rng.standard_normal(8)
    # DCT-II with orthonormal scaling, written as the textbook double sum
    naive = np.array(
        [
            (np.sqrt(1 / 8) if k == 0 else np.sqrt(2 / 8))
            * sum(x[n] * np.cos((2 * n + 1) * k * np.pi / 16) for n in range(8))
            for k in range(8)
        ]
    )
    assert np.allclose(A @ x, naive)
    assert np.allclose(A.T @ (A @ x), x)  # orthonormal inverse


# --- JPEG --------------------------------------------------------------------


def _smooth_rgb(h, w, seed=0):
    """Band-limited (smooth) test image — JPEG's intended content."""
    yy, xx = np.mgrid[0:h, 0:w]
    r = 128 + 100 * np.sin(xx / 9.0) * np.cos(yy / 7.0)
    g = 128 + 90 * np.cos(xx / 13.0 + 1) * np.sin(yy / 5.0 + 2)
    b = 128 + 80 * np.sin((xx + yy) / 11.0)
    return np.clip(np.round(np.dstack([r, g, b])), 0, 255).astype(np.uint8)


def test_jpeg_solid_color_roundtrip():
    solid = np.full((24, 24, 3), [200, 60, 120], dtype=np.uint8)
    out = ic.decode_jpeg(encode_jpeg(solid, quality=90))
    assert out.shape == (24, 24, 3)
    assert np.abs(out.astype(int) - solid.astype(int)).max() <= 4


def test_jpeg_gray_roundtrip():
    grad = np.tile(np.linspace(0, 255, 64), (48, 1)).astype(np.uint8)
    out = ic.decode_jpeg(encode_jpeg(grad, quality=90))
    assert out.shape == (48, 64)
    assert np.abs(out.astype(int) - grad.astype(int)).max() <= 6


@pytest.mark.parametrize("subsampling", ["444", "420"])
@pytest.mark.parametrize("restart_interval", [0, 2])
def test_jpeg_smooth_image_psnr(subsampling, restart_interval):
    img = _smooth_rgb(37, 53)
    enc = encode_jpeg(
        img, quality=90, subsampling=subsampling, restart_interval=restart_interval
    )
    dec = ic.decode_jpeg(enc)
    assert dec.shape == img.shape
    mse = ((dec.astype(float) - img.astype(float)) ** 2).mean()
    psnr = 10 * np.log10(255**2 / mse)
    assert psnr > 30, f"psnr {psnr:.1f} dB too low for a smooth image at q90"


def test_jpeg_odd_dimensions_and_determinism():
    img = _smooth_rgb(17, 19, seed=1)
    e1 = encode_jpeg(img, quality=80, subsampling="420")
    e2 = encode_jpeg(img, quality=80, subsampling="420")
    assert e1 == e2, "encoder must be bit-deterministic"
    assert ic.decode_jpeg(e1).shape == (17, 19, 3)


# sha256 of encode_jpeg output, pinned when the encoder moved from the
# package into tests/imagefixtures.py: every JPEG decoder test above and
# below decodes these fixture streams, so a drift here would silently
# change what they check.
_GOLDEN_JPEG_SHA256 = {
    "gray": "f097432fcca71a83f6b831ebc164639637bfbf24d9adcd8808867a4167fec228",
    "rgb420_restart": "395a2712ab751bdfef1306de9ffd31b6c8a9634f009c62421572b2683727e518",
    "progressive_gray": "423f6178e333966b185a33597e68fca49e587ee00ff991a75974c1badf5b392f",
    "progressive_rgb420_restart": "a4bcffb8cb1e5f40e27400a135c249c5820b00bc980ae0decb26220b4ee07514",
}


def test_jpeg_encoder_golden_bytes():
    grad = np.tile(np.linspace(0, 255, 64), (48, 1)).astype(np.uint8)
    streams = {
        "gray": encode_jpeg(grad, quality=90),
        "rgb420_restart": encode_jpeg(
            _smooth_rgb(37, 53), quality=90, subsampling="420", restart_interval=2
        ),
        "progressive_gray": encode_jpeg(grad, progressive=True),
        "progressive_rgb420_restart": encode_jpeg(
            _smooth_rgb(40, 56), progressive=True, subsampling="420", restart_interval=3
        ),
    }
    got = {k: hashlib.sha256(v).hexdigest() for k, v in streams.items()}
    assert got == _GOLDEN_JPEG_SHA256


def test_jpeg_hand_built_single_block():
    """One 8x8 gray block, DC-only: coef 16*4=64 -> every pixel
    64/8 + 128 = 136 (derived from the orthonormal IDCT by hand)."""
    dqt = b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes([4] * 64)
    sof = b"\xff\xc0" + struct.pack(">H", 11) + bytes([8]) + struct.pack(">HH", 8, 8) + bytes([1, 1, 0x11, 0])
    # DC table: single symbol (category 5) with a 1-bit code; AC: EOB only
    dht_dc = b"\xff\xc4" + struct.pack(">H", 20) + bytes([0x00, 1] + [0] * 15) + bytes([5])
    dht_ac = b"\xff\xc4" + struct.pack(">H", 20) + bytes([0x10, 1] + [0] * 15) + bytes([0x00])
    sos = b"\xff\xda" + struct.pack(">H", 8) + bytes([1, 1, 0x00, 0, 63, 0])
    # bits: DC code '0', diff=16 -> '10000', EOB '0', pad '1' => 0b01000001
    jpeg = b"\xff\xd8" + dqt + sof + dht_dc + dht_ac + sos + bytes([0b01000001]) + b"\xff\xd9"
    out = ic.decode_jpeg(jpeg)
    assert out.shape == (8, 8)
    assert np.all(out == 136)


def test_jpeg_rejects_lossless_arithmetic_and_garbage():
    img = _smooth_rgb(16, 16)
    for sof_marker, name in ((0xC3, "SOF3"), (0xC9, "SOF9"), (0xCB, "SOF11")):
        enc = bytearray(encode_jpeg(img))
        sof = enc.find(b"\xff\xc0")
        enc[sof + 1] = sof_marker  # masquerade as lossless / arithmetic
        with pytest.raises(ValueError, match=name):
            ic.decode_jpeg(bytes(enc))
    # a baseline stream relabeled SOF2 is structurally invalid progressive
    # (its single scan claims the full 0..63 band in a "DC" scan)
    enc = bytearray(encode_jpeg(img))
    enc[enc.find(b"\xff\xc0") + 1] = 0xC2
    with pytest.raises(ValueError):
        ic.decode_jpeg(bytes(enc))
    with pytest.raises(ValueError):
        ic.decode_jpeg(b"\xff\xd8\xff\xc0 not a jpeg")
    with pytest.raises(ValueError):
        ic.decode_jpeg(b"not even soi")


# --- progressive JPEG (SOF2) --------------------------------------------------


@pytest.mark.parametrize(
    "shape,kw",
    [
        ((48, 64), {}),
        ((17, 19), {"quality": 70}),
        ((33, 41, 3), {"subsampling": "420"}),
        ((32, 32, 3), {"quality": 95}),
        ((24, 24), {"restart_interval": 2}),
        ((40, 56, 3), {"subsampling": "420", "restart_interval": 3}),
    ],
)
def test_jpeg_progressive_roundtrip_equals_baseline(shape, kw):
    """Progressive transmission is lossless in coefficients: once every
    scan lands, decode must be BIT-IDENTICAL to the baseline encode of
    the same image at the same quality."""
    img = _smooth_rgb(*shape[:2]) if len(shape) == 3 else np.tile(
        np.linspace(0, 255, shape[1]), (shape[0], 1)
    ).astype(np.uint8)
    enc = encode_jpeg(img, progressive=True, **kw)
    # really a SOF2 multi-scan file, not a relabeled baseline
    assert b"\xff\xc2" in enc and enc.count(b"\xff\xda") >= 6
    assert np.array_equal(ic.decode_jpeg(enc), ic.decode_jpeg(encode_jpeg(img, **kw)))


def test_jpeg_progressive_noise_flat_and_checkerboard():
    """Adversarial coefficient populations: dense AC (noise), all-zero AC
    (flat -> maximal EOB runs), max-frequency AC (checkerboard)."""
    rng = np.random.default_rng(11)
    cases = [
        (rng.integers(0, 256, (48, 64, 3), dtype=np.uint8), {"quality": 95}),
        (rng.integers(0, 256, (31, 33), dtype=np.uint8), {"quality": 25}),
        (np.full((64, 64), 128, dtype=np.uint8), {}),
        (np.full((72, 40, 3), 200, dtype=np.uint8), {"subsampling": "420"}),
        ((np.indices((40, 40)).sum(0) % 2 * 255).astype(np.uint8), {"quality": 95}),
    ]
    for img, kw in cases:
        prog = ic.decode_jpeg(encode_jpeg(img, progressive=True, **kw))
        base = ic.decode_jpeg(encode_jpeg(img, **kw))
        assert np.array_equal(prog, base), (img.shape, kw)


def test_jpeg_progressive_psnr_bound():
    img = _smooth_rgb(37, 53)
    dec = ic.decode_jpeg(encode_jpeg(img, quality=90, progressive=True))
    mse = ((dec.astype(float) - img.astype(float)) ** 2).mean()
    psnr = 10 * np.log10(255**2 / mse)
    assert psnr > 30, f"psnr {psnr:.1f} dB too low for a smooth image at q90"


def test_jpeg_progressive_hand_built_fixture():
    """Wire-format pin INDEPENDENT of our encoder: a 8x16 gray SOF2 file
    written bit-by-bit from T.81 Annex G — DC first (Al=1), DC refine,
    AC first with an EOB1 run, AC refine with a correction bit riding
    the EOB run.  Final coefficients: block0 DC=4, AC[zz1]=3; block1
    DC=-2 — asserted equal to a hand-built BASELINE file carrying the
    same coefficients, so both entropy layers pin each other."""
    dqt = b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes([4] * 64)
    sof2 = (
        b"\xff\xc2" + struct.pack(">H", 11) + bytes([8])
        + struct.pack(">HH", 8, 16) + bytes([1, 1, 0x11, 0])
    )

    def dht(cls_id: int, bits_: list, values: bytes) -> bytes:
        seg = bytes([cls_id]) + bytes(bits_) + values
        return b"\xff\xc4" + struct.pack(">H", 2 + len(seg)) + seg

    def sos(ss, se, ahal) -> bytes:
        return b"\xff\xda" + struct.pack(">H", 8) + bytes([1, 1, 0x00, ss, se, ahal])

    jpeg = (
        b"\xff\xd8" + dqt + sof2
        # scan 1 — DC first, Al=1: sends DC>>1 = [2, -1] as diffs 2, -3
        # (both category 2, 1-bit code '0'): 0 10 0 00 + pad -> 0x43
        + dht(0x00, [1] + [0] * 15, bytes([2])) + sos(0, 0, 0x01) + bytes([0x43])
        # scan 2 — DC refine to Al=0: bits (4&1, -2&1) = 0,0 -> 0x3F
        + sos(0, 0, 0x10) + bytes([0x3F])
        # scan 3 — AC first 1..63, Al=1: blk0 (0,1)+'1' then EOB1+ext'0'
        # codes: 0x01='00', 0x10='01': 00 1 01 0 + pad -> 0x2B
        + dht(0x10, [0, 2] + [0] * 14, bytes([0x01, 0x10])) + sos(1, 63, 0x01) + bytes([0x2B])
        # scan 4 — AC refine 1..63, Ah=1: EOB1 ('0') + ext '0', then the
        # buffered correction bit '1' for blk0's AC (2 -> 3) -> 0x3F
        + dht(0x10, [1] + [0] * 15, bytes([0x10])) + sos(1, 63, 0x10) + bytes([0x3F])
        + b"\xff\xd9"
    )
    out = ic.decode_jpeg(jpeg)
    assert out.shape == (8, 16)

    # equivalent baseline file: DC diffs 4, -6 (category 3, code '0');
    # AC blk0 (0,2)=3 then EOB, blk1 EOB; codes 0x00='00', 0x02='01'
    sof0 = (
        b"\xff\xc0" + struct.pack(">H", 11) + bytes([8])
        + struct.pack(">HH", 8, 16) + bytes([1, 1, 0x11, 0])
    )
    base = (
        b"\xff\xd8" + dqt + sof0
        + dht(0x00, [1] + [0] * 15, bytes([3]))
        + dht(0x10, [0, 2] + [0] * 14, bytes([0x00, 0x02]))
        + sos(0, 63, 0)
        # 0 100 | 01 11 | 00 || 0 001 | 00 + pad -> 0x47 0x04
        + bytes([0x47, 0x04]) + b"\xff\xd9"
    )
    ref = ic.decode_jpeg(base)
    assert np.array_equal(out, ref)
    # and the coefficients really landed: DC-only block1 is flat, block0
    # carries a horizontal AC ripple (zigzag 1 = natural (0,1))
    assert len(set(out[:, 8:].ravel().tolist())) == 1
    assert len(set(out[0, :8].tolist())) > 1


def test_jpeg_truncated_scan_raises():
    img = _smooth_rgb(24, 24)
    enc = encode_jpeg(img)
    with pytest.raises(ValueError):
        ic.decode_jpeg(enc[: len(enc) // 2])


# --- dispatch + pixel utilities ----------------------------------------------


def test_decode_image_dispatch():
    a = np.arange(64, dtype=np.uint8).reshape(8, 8)
    assert np.array_equal(ic.decode_image(ic.encode_png(a)), a)
    assert ic.decode_image(encode_jpeg(a)).shape == (8, 8)
    with pytest.raises(ValueError):
        ic.decode_image(b"GIF89a\x01\x00\x01\x00")  # real format, no pure decoder


def test_to_gray_weights_and_shapes():
    px = np.array([[[255, 0, 0], [0, 255, 0]]], np.uint8)
    g = ic.to_gray(px)
    assert np.allclose(g, [[0.299 * 255, 0.587 * 255]])
    ga = np.dstack([np.full((2, 2), 9), np.full((2, 2), 200)]).astype(np.uint8)
    assert np.allclose(ic.to_gray(ga), 9)
    assert np.allclose(ic.to_gray(np.full((3, 3), 7.0)), 7.0)


def test_resize_array_identity_and_interp():
    img = np.arange(12.0).reshape(3, 4)
    assert np.allclose(ic.resize_array(img, 4, 3), img)
    # 2x upscale of a 2-px gradient: half-pixel-center bilinear midpoints
    up = ic.resize_array(np.array([[0.0, 100.0]]), 4, 1)
    assert np.allclose(up, [[0.0, 25.0, 75.0, 100.0]])
    rgb = np.stack([np.full((4, 4), v) for v in (10.0, 20.0, 30.0)], axis=2)
    down = ic.resize_array(rgb, 2, 2)
    assert down.shape == (2, 2, 3)
    assert np.allclose(down[0, 0], [10, 20, 30])


# --- GIF ---------------------------------------------------------------------


@pytest.mark.parametrize("interlace", [False, True])
def test_gif_roundtrip(interlace):
    rng = np.random.default_rng(11)
    palette = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (20, 40, 60), (200, 200, 0)]
    idx = rng.integers(0, len(palette), size=(13, 9), dtype=np.uint8)
    gif = _mk_gif(idx, palette, interlace=interlace)
    out = ic.decode_gif(gif)
    assert out.shape == (13, 9, 3)
    want = np.array(palette, np.uint8)[idx]
    assert np.array_equal(out, want)
    assert np.array_equal(ic.decode_image(gif), want)


def test_gif_transparency_and_errors():
    palette = [(0, 0, 0), (255, 255, 255)]
    idx = np.array([[0, 1], [1, 0]], np.uint8)
    rgba = ic.decode_gif(_mk_gif(idx, palette, transparent=0))
    assert rgba.shape == (2, 2, 4)
    assert list(rgba[:, :, 3].ravel()) == [0, 255, 255, 0]
    with pytest.raises(ValueError):
        ic.decode_gif(b"GIF89a" + b"\x00" * 6)
    with pytest.raises(ValueError):
        ic.decode_gif(b"not a gif")
    # truncated pixel stream fails typed, not silently short
    good = _mk_gif(idx, palette)
    with pytest.raises(ValueError):
        ic.decode_gif(good[:20] + b"\x2c" + good[21:30])


def test_gif_large_image_exercises_code_width_growth():
    """>4096-run image forces dictionary growth through several code
    widths — the LZW path beyond the trivial fixed-width case."""
    rng = np.random.default_rng(5)
    palette = [(i * 16, 255 - i * 16, i * 8) for i in range(16)]
    idx = rng.integers(0, 16, size=(64, 64), dtype=np.uint8)
    out = ic.decode_gif(_mk_gif(idx, palette))
    assert np.array_equal(out, np.array(palette, np.uint8)[idx])


# --- decode-work bomb guards ---------------------------------------------------


def test_png_pixel_bomb_rejected_fast():
    """A 100000x100000 IHDR demands a 10 GB allocation before any payload
    error can surface; the budget guard must reject it from the header
    alone, in milliseconds, with the same ValueError malformed inputs
    raise (so telemetry degrades to 'surrogate' honestly)."""
    import time

    ihdr = struct.pack(">IIBBBBB", 100000, 100000, 8, 0, 0, 0, 0)
    bomb = _png(ihdr, _chunk(b"IDAT", zlib.compress(b"\x00" * 16)))
    t0 = time.perf_counter()
    with pytest.raises(ValueError, match="decode budget"):
        ic.decode_png(bomb)
    assert time.perf_counter() - t0 < 0.2
    # the guard is a budget, not a parser change: disabling it shifts the
    # failure to the real payload error (row data too short), not success
    with pytest.raises(ValueError, match="shorter than expected"):
        ic.decode_png(bomb, max_pixels=None)
    # an in-budget image still decodes
    img = np.arange(64, dtype=np.uint8).reshape(8, 8)
    assert np.array_equal(ic.decode_png(ic.encode_png(img)), img)


def test_jpeg_pixel_bomb_rejected_at_sof():
    import time

    sof0 = (
        b"\xff\xc0" + struct.pack(">H", 11) + bytes([8])
        + struct.pack(">HH", 60000, 60000) + bytes([1, 1, 0x11, 0])
    )
    bomb = b"\xff\xd8" + sof0 + b"\xff\xd9"
    t0 = time.perf_counter()
    with pytest.raises(ValueError, match="decode budget"):
        ic.decode_jpeg(bomb)
    assert time.perf_counter() - t0 < 0.2


def test_jpeg_scan_bomb_rejected_fast():
    """A crafted SOF2 with 1000 scans is O(scans x blocks) bit-serial
    Python; the scan budget trips at DEFAULT_MAX_SCANS regardless of how
    many more follow.  Built from the Annex G fixture's scan grammar:
    one DC-first scan, then endlessly repeated 1-byte DC-refine scans."""
    import time

    dqt = b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes([4] * 64)
    sof2 = (
        b"\xff\xc2" + struct.pack(">H", 11) + bytes([8])
        + struct.pack(">HH", 8, 16) + bytes([1, 1, 0x11, 0])
    )
    dht = b"\xff\xc4" + struct.pack(">H", 20) + b"\x00" + bytes([1] + [0] * 15) + bytes([2])

    def sos(ahal: int) -> bytes:
        return b"\xff\xda" + struct.pack(">H", 8) + bytes([1, 1, 0x00, 0, 0, ahal])

    bomb = (
        b"\xff\xd8" + dqt + sof2 + dht
        + sos(0x01) + bytes([0x43])                     # DC first, Al=1
        + (sos(0x10) + bytes([0x3F])) * 1000            # 1000 refine scans
        + b"\xff\xd9"
    )
    t0 = time.perf_counter()
    with pytest.raises(ValueError, match="scan count"):
        ic.decode_jpeg(bomb)
    assert time.perf_counter() - t0 < 1.0
    # the same wire with a sane scan count decodes fine (refine scans that
    # re-send bit 0 of the already-final coefficients are idempotent)
    ok = (
        b"\xff\xd8" + dqt + sof2 + dht
        + sos(0x01) + bytes([0x43])
        + (sos(0x10) + bytes([0x3F])) * 3
        + b"\xff\xd9"
    )
    assert ic.decode_jpeg(ok).shape == (8, 16)


def test_gif_pixel_bomb_rejected_fast():
    """GIF dims are u16: a crafted 65535x65535 screen (4.3 Gpx) must be
    rejected from the header before the bit-serial LZW runs."""
    import time

    bomb = (
        b"GIF89a" + struct.pack("<HHBBB", 65535, 65535, 0, 0, 0)
        + b"\x2c" + struct.pack("<HHHHB", 0, 0, 65535, 65535, 0)
        + bytes([2, 1, 0x00, 0]) + b"\x3b"
    )
    t0 = time.perf_counter()
    with pytest.raises(ValueError, match="decode budget"):
        ic.decode_gif(bomb)
    assert time.perf_counter() - t0 < 0.2
    # in-budget GIFs still decode (reuse the round-trip builder)
    idx = np.arange(16, dtype=np.uint8).reshape(4, 4) % 4
    palette = np.array([[0, 0, 0], [255, 0, 0], [0, 255, 0], [0, 0, 255]], dtype=np.uint8)
    out = ic.decode_gif(_mk_gif(idx, palette))
    assert out.shape == (4, 4, 3)
