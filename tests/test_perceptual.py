"""Perceptual near-dup: image dHash (real over npy tensors), audio
fingerprints (real over PCM WAV), and the shared Hamming-band pair
finder — including its completeness guarantee against brute force."""

from __future__ import annotations

import io
import struct

import numpy as np
import pytest

from pyspark.sql import Row, functions as F

from shardpack_spark.operators import perceptual
from shardpack_spark.operators.imagecodec import encode_png
from shardpack_spark.operators.perceptual import (
    _block_mean_grid,
    _dhash_bits,
    _pack_bits,
    _wav_fingerprint_bits,
    audio_fingerprint,
    dhash_images,
    dhash_tensors,
    hamming_near_pairs,
)
from tests.imagefixtures import _mk_gif, encode_jpeg

ENTRY_SCHEMA = (
    "key string, metadata map<string,string>, "
    "entries array<struct<file_name string, content_type string, "
    "encoding string, size bigint, data binary>>"
)


def _entry(fname: str, ctype: str, data: bytes) -> Row:
    return Row(
        file_name=fname, content_type=ctype, encoding="none",
        size=len(data), data=data,
    )


def _rows_df(spark, rows):
    return spark.createDataFrame(
        [Row(key=k, metadata={}, entries=entries) for k, entries in rows],
        ENTRY_SCHEMA,
    )


def _npy_bytes(arr) -> bytes:
    buf = io.BytesIO()
    np.save(buf, arr)
    return buf.getvalue()


def _wav_bytes(samples: np.ndarray, rate: int = 8000, channels: int = 1) -> bytes:
    """Minimal PCM16 WAV from float samples in [-1, 1]."""
    pcm = (np.clip(samples, -1, 1) * 32767).astype("<i2")
    if channels > 1:
        pcm = np.repeat(pcm[:, None], channels, axis=1)
    raw = pcm.tobytes()
    block = 2 * channels
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * block, block, 16)
    return (
        b"RIFF" + struct.pack("<I", 36 + len(raw)) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16) + fmt
        + b"data" + struct.pack("<I", len(raw)) + raw
    )


# --- primitives ---------------------------------------------------------------


def test_block_mean_grid_exact_divisor():
    a = np.arange(16.0).reshape(4, 4)
    g = _block_mean_grid(a, 2, 2)
    # 2x2 blocks: mean of each quadrant
    assert np.allclose(g, [[2.5, 4.5], [10.5, 12.5]])


def test_block_mean_grid_uneven():
    a = np.arange(15.0).reshape(3, 5)
    g = _block_mean_grid(a, 2, 2)
    # bucket assignment i*rows//n: row buckets {0,1} and {2}; col
    # buckets {0,1,2} and {3,4}
    assert np.allclose(
        g,
        [
            [a[:2, :3].mean(), a[:2, 3:].mean()],
            [a[2:, :3].mean(), a[2:, 3:].mean()],
        ],
    )
    # every cell counted once: total mass preserved
    assert np.isclose(
        (g * [[2 * 3, 2 * 2], [1 * 3, 1 * 2]]).sum(), a.sum()
    )


def test_pack_bits_round_trip():
    bits = [(i * 7) % 3 == 0 for i in range(64)]
    hi, lo = _pack_bits(bits)
    assert 0 <= hi < 2**32 and 0 <= lo < 2**32
    unpacked = [(lo >> i) & 1 for i in range(32)] + [(hi >> i) & 1 for i in range(32)]
    assert [bool(b) for b in unpacked] == bits


def test_dhash_bits_known_gradient():
    # strictly increasing columns: every cell < right neighbor -> all False
    inc = np.tile(np.arange(9.0), (8, 1))
    assert _dhash_bits(inc) == [False] * 64
    assert _dhash_bits(inc[:, ::-1]) == [True] * 64


def test_dhash_flat_images_of_every_small_size_hash_to_zero():
    """A source smaller than the 8x9 grid used to leave cells at 0, and
    the hash then encoded the empty-cell pattern: flat 5x5 PNGs of gray
    100 and gray 200 hashed alike, to a non-zero hash.  Every cell is
    now filled, so a flat image hashes to zero at every size."""
    for h in range(1, 17):
        for w in range(1, 17):
            for v in (100, 200):
                png = encode_png(np.full((h, w), v, dtype=np.uint8))
                gray, path = perceptual._gray_with_path(png)
                assert path == "pure"
                assert _pack_bits(_dhash_bits(gray)) == (0, 0), (h, w, v)


def test_dhash_unchanged_for_images_at_least_grid_size():
    """Images of 9x8 pixels and larger fill every grid cell, so their
    hashes are pinned to the values computed before small images got
    their empty cells filled."""
    rng = np.random.default_rng(7)
    golden = {
        (8, 9): (2729347931, 3629402569),
        (8, 16): (3390493783, 3030799141),
        (9, 9): (3528897398, 3587391890),
        (16, 16): (3399185297, 745819050),
        (17, 33): (4064834441, 1968744773),
        (64, 48): (3567692459, 3444233132),
        (100, 9): (1370739020, 153786805),
    }
    for (h, w), want in golden.items():
        a = rng.integers(0, 256, size=(h, w)).astype("float64")
        assert _pack_bits(_dhash_bits(a)) == want, (h, w)
    rng = np.random.default_rng(11)
    for (h, w), want in {
        (8, 9): (1871293865, 2555796298),
        (20, 30): (1487579764, 2863421095),
    }.items():
        png = encode_png(rng.integers(0, 256, size=(h, w, 3)).astype("uint8"))
        gray, _ = perceptual._gray_with_path(png)
        assert _pack_bits(_dhash_bits(gray)) == want, (h, w)


# --- hamming_near_pairs: completeness vs brute force ---------------------------


@pytest.mark.parametrize("bands,max_hamming", [(4, 3), (8, 7), (8, 4)])
def test_hamming_near_pairs_matches_brute_force(spark, bands, max_hamming):
    rng = np.random.default_rng(42 + bands + max_hamming)
    # base signatures plus planted near-copies so qualifying pairs exist
    sigs = [int(rng.integers(0, 2**64, dtype=np.uint64)) for _ in range(40)]
    for i in range(12):
        flips = rng.choice(64, size=int(rng.integers(0, max_hamming + 1)), replace=False)
        v = sigs[i]
        for b in flips:
            v ^= 1 << int(b)
        sigs.append(v)
    rows = [
        Row(sid=f"s{i:03d}", sim_hi=int(v >> 32), sim_lo=int(v & 0xFFFFFFFF))
        for i, v in enumerate(sigs)
    ]
    expected = {
        (a.sid, b.sid, bin((sigs[i] ^ sigs[j])).count("1"))
        for i, a in enumerate(rows)
        for j, b in enumerate(rows)
        if a.sid < b.sid
        and bin(sigs[i] ^ sigs[j]).count("1") <= max_hamming
    }
    df = spark.createDataFrame(rows, "sid string, sim_hi long, sim_lo long")
    got = {
        (r.sid_a, r.sid_b, r.hamming)
        for r in hamming_near_pairs(df, bands=bands, max_hamming=max_hamming).collect()
    }
    assert got == expected and expected, "blocking must be exact, not approximate"


def test_hamming_near_pairs_validation(spark):
    df = spark.createDataFrame(
        [Row(sid="a", sim_hi=0, sim_lo=0)], "sid string, sim_hi long, sim_lo long"
    )
    with pytest.raises(ValueError, match="bands"):
        hamming_near_pairs(df, bands=3)
    with pytest.raises(ValueError, match="max_hamming"):
        hamming_near_pairs(df, bands=2, max_hamming=3)


# --- image dHash over tensors ---------------------------------------------------


def test_dhash_tensors_identical_and_perturbed(spark):
    rng = np.random.default_rng(7)
    # smooth random image: cumulative sums give strong gradients that a
    # small perturbation cannot flip wholesale
    base = np.cumsum(rng.random((64, 64)), axis=1) + np.cumsum(
        rng.random((64, 64)), axis=0
    )
    noisy = base.copy()
    noisy[10:14, 20:24] += 0.3  # localized small edit
    other = rng.random((64, 64)) * 100
    df = _rows_df(
        spark,
        [
            ("a", [_entry("t.npy", "application/x-npy", _npy_bytes(base))]),
            ("b", [_entry("t.npy", "application/x-npy", _npy_bytes(base))]),
            ("c", [_entry("t.npy", "application/x-npy", _npy_bytes(noisy))]),
            ("d", [_entry("t.npy", "application/x-npy", _npy_bytes(other))]),
        ],
    )
    sig = dhash_tensors(df)
    rows = {r.sid: (r.sim_hi, r.sim_lo) for r in sig.collect()}
    assert set(rows) == {"a/t.npy", "b/t.npy", "c/t.npy", "d/t.npy"}
    # executor-computed bits match the driver-side reference function
    hi, lo = _pack_bits(_dhash_bits(base))
    assert rows["a/t.npy"] == (hi, lo)
    assert rows["a/t.npy"] == rows["b/t.npy"]

    def ham(x, y):
        return bin((x[0] ^ y[0])).count("1") + bin((x[1] ^ y[1])).count("1")

    assert ham(rows["a/t.npy"], rows["c/t.npy"]) <= 3, "local edit stays near"
    assert ham(rows["a/t.npy"], rows["d/t.npy"]) > 3, "unrelated image is far"

    pairs = {
        (r.sid_a, r.sid_b): r.hamming
        for r in hamming_near_pairs(sig).collect()
    }
    assert pairs[("a/t.npy", "b/t.npy")] == 0
    assert ("a/t.npy", "c/t.npy") in pairs
    assert not any("d/t.npy" in p for p in pairs)


def test_dhash_tensors_channel_mean_and_skips(spark):
    rng = np.random.default_rng(11)
    img = np.cumsum(rng.random((16, 16, 3)), axis=0)
    df = _rows_df(
        spark,
        [
            ("rgb", [_entry("t.npy", "application/x-npy", _npy_bytes(img))]),
            ("gray", [_entry("t.npy", "application/x-npy", _npy_bytes(img.mean(axis=2)))]),
            ("vec", [_entry("v.npy", "application/x-npy", _npy_bytes(np.arange(5.0)))]),
            ("txt", [_entry("s.npy", "application/x-npy", _npy_bytes(np.array(["x", "y"])))]),
            ("bad", [_entry("b.npy", "application/x-npy", b"not npy at all")]),
        ],
    )
    rows = {r.sid: (r.sim_hi, r.sim_lo) for r in dhash_tensors(df).collect()}
    # 3-D hashes as the channel mean; 1-D, non-numeric, corrupt are skipped
    assert set(rows) == {"rgb/t.npy", "gray/t.npy"}
    assert rows["rgb/t.npy"] == rows["gray/t.npy"]


def test_dhash_tensors_npz_members(spark):
    a = np.cumsum(np.ones((8, 9)), axis=1)
    buf = io.BytesIO()
    np.savez(buf, one=a, two=a * 2)
    df = _rows_df(
        spark, [("k", [_entry("m.npz", "application/x-npz", buf.getvalue())])]
    )
    sids = sorted(r.sid for r in dhash_tensors(df).collect())
    assert sids == ["k/m.npz/one", "k/m.npz/two"]


# --- image dHash over image/*: REAL wheel-free pixels (PNG + baseline
# JPEG via operators.imagecodec) ------------------------------------------------


def _smooth_gray(seed: int, h: int = 64, w: int = 64) -> np.ndarray:
    """Band-limited image: dHash's intended content (block means are
    stable under small pixel noise)."""
    rng = np.random.default_rng(seed)
    yy, xx = np.mgrid[0:h, 0:w]
    a, b, c = rng.uniform(4, 14, size=3)
    img = 128 + 90 * np.sin(xx / a) * np.cos(yy / b) + 30 * np.sin((xx + yy) / c)
    return np.clip(np.round(img), 0, 255).astype(np.uint8)


def _hamming64(p: tuple[int, int], q: tuple[int, int]) -> int:
    return bin((p[0] ^ q[0]) | ((p[1] ^ q[1]) << 32)).count("1")


def test_dhash_images_real_png_near_far(spark):
    """REAL PNG payloads, no image wheel installed — a perturbed copy
    hashes near, unrelated content hashes far."""
    base = _smooth_gray(7)
    rng = np.random.default_rng(8)
    noisy = np.clip(
        base.astype(int) + rng.integers(-4, 5, size=base.shape), 0, 255
    ).astype(np.uint8)
    other = _smooth_gray(99)
    df = _rows_df(
        spark,
        [
            ("base", [_entry("i.png", "image/png", encode_png(base))]),
            ("noisy", [_entry("i.png", "image/png", encode_png(noisy))]),
            # same pixels through the OTHER codec: re-encode robustness
            ("jpg", [_entry("i.jpg", "image/jpeg", encode_jpeg(base, quality=90))]),
            ("other", [_entry("i.png", "image/png", encode_png(other))]),
        ],
    )
    sig = {r.sid: (r.sim_hi, r.sim_lo) for r in dhash_images(df).collect()}
    assert set(sig) == {"base/i.png", "noisy/i.png", "jpg/i.jpg", "other/i.png"}
    # driver-side reference: the executor hashed REAL pixels
    from shardpack_spark.operators.imagecodec import decode_png, to_gray

    ref = _pack_bits(_dhash_bits(to_gray(decode_png(encode_png(base)))))
    assert sig["base/i.png"] == ref, "executor bits == driver reference on real pixels"
    assert _hamming64(sig["base/i.png"], sig["noisy/i.png"]) <= 6
    assert _hamming64(sig["base/i.png"], sig["jpg/i.jpg"]) <= 6
    assert _hamming64(sig["base/i.png"], sig["other/i.png"]) >= 16


def test_dhash_images_rgb_png_and_pair_finder(spark):
    g = _smooth_gray(3)
    rgb = np.dstack([g, np.roll(g, 2, axis=1), 255 - g])
    rng = np.random.default_rng(4)
    rgb_noisy = np.clip(
        rgb.astype(int) + rng.integers(-3, 4, size=rgb.shape), 0, 255
    ).astype(np.uint8)
    df = _rows_df(
        spark,
        [
            ("a", [_entry("i.png", "image/png", encode_png(rgb))]),
            ("b", [_entry("i.png", "image/png", encode_png(rgb_noisy))]),
            ("c", [_entry("i.png", "image/png", encode_png(_smooth_gray(55)))]),
        ],
    )
    sig = dhash_images(df)
    pairs = {(p.sid_a, p.sid_b) for p in hamming_near_pairs(sig, bands=8, max_hamming=6).collect()}
    assert ("a/i.png", "b/i.png") in pairs
    assert not any("c/i.png" in p for p in pairs)


def test_dhash_images_undecodable_falls_back_to_surrogate(spark):
    payload = b"\x89PNG\r\n\x1a\n" + bytes(range(200))
    df = _rows_df(
        spark,
        [
            ("a", [_entry("i.png", "image/png", payload)]),
            ("b", [_entry("i.png", "image/png", payload)]),
            ("c", [_entry("i.png", "image/png", payload + b"!")]),
        ],
    )
    sig = dhash_images(df)
    rows = {r.sid: (r.sim_hi, r.sim_lo) for r in sig.collect()}
    assert rows["a/i.png"] == rows["b/i.png"], "identical bytes -> identical hash"
    assert rows["a/i.png"] != rows["c/i.png"]
    pairs = hamming_near_pairs(sig).collect()
    assert {(p.sid_a, p.sid_b, p.hamming) for p in pairs} == {
        ("a/i.png", "b/i.png", 0)
    }


def test_dhash_images_decode_path_telemetry_and_decoder_knob(spark):
    """Every signature row reports HOW it decoded: real pixels ('pure')
    vs byte-digest surrogate — the fraction a pipeline must watch.
    Progressive JPEG decodes wheel-free, so it reports 'pure'."""
    base = _smooth_gray(7)
    df = _rows_df(
        spark,
        [
            ("png", [_entry("i.png", "image/png", encode_png(base))]),
            ("jpg", [_entry("i.jpg", "image/jpeg", encode_jpeg(base))]),
            ("prog", [_entry("i.jpg", "image/jpeg",
                             encode_jpeg(base, progressive=True))]),
            ("junk", [_entry("i.png", "image/png", b"\x89PNG\r\n\x1a\n" + bytes(99))]),
        ],
    )
    rows = {r.sid: r for r in dhash_images(df).collect()}
    assert rows["png/i.png"].decode_path == "pure"
    assert rows["jpg/i.jpg"].decode_path == "pure"
    assert rows["prog/i.jpg"].decode_path == "pure", "progressive JPEG is wheel-free now"
    assert rows["junk/i.png"].decode_path == "surrogate"
    # progressive pixels really decoded: near the baseline hash, and the
    # surrogate landed far from everything
    sig = lambda r: (r.sim_hi, r.sim_lo)  # noqa: E731
    assert _hamming64(sig(rows["prog/i.jpg"]), sig(rows["jpg/i.jpg"])) <= 4
    assert _hamming64(sig(rows["junk/i.png"]), sig(rows["png/i.png"])) >= 10


def test_video_fingerprint_decode_path(spark):
    from test_multimodal import mk_avi

    from shardpack_spark.operators.perceptual import video_fingerprint

    rng = np.random.default_rng(3)
    w, h = 16, 12
    real = [_dib_frame((rng.random((h, w)) * 255)) for _ in range(3)]
    df = _rows_df(
        spark,
        [
            ("real", [_entry("v.avi", "video/x-msvideo", mk_avi(real, w, h))]),
            ("junk", [_entry("v.avi", "video/x-msvideo",
                             mk_avi([b"notapixelbuf"] * 3, w, h))]),
            ("mixed", [_entry("v.avi", "video/x-msvideo",
                              mk_avi([real[0], b"notapixelbuf"], w, h))]),
        ],
    )
    rows = {r.sid: r.decode_path for r in video_fingerprint(df, every_n=1).collect()}
    assert rows == {
        "real/v.avi": "pure",
        "junk/v.avi": "surrogate",
        "mixed/v.avi": "mixed",
    }


# --- audio fingerprints ----------------------------------------------------------


def test_wav_fingerprint_real_decode_and_mixdown():
    t = np.arange(16000) / 8000.0
    tone = 0.5 * np.sin(2 * np.pi * 440 * t)
    mono = _wav_fingerprint_bits(_wav_bytes(tone))
    stereo = _wav_fingerprint_bits(_wav_bytes(tone, channels=2))
    assert mono is not None and len(mono) == 64
    assert mono == stereo, "stereo mixdown of the same signal fingerprints equally"
    assert _wav_fingerprint_bits(b"junk") is None
    assert _wav_fingerprint_bits(_wav_bytes(tone[:1500])) is None, "too short"


def test_audio_fingerprint_near_and_far(spark):
    # structured "notes" audio (per-segment frequency + loudness over a
    # small noise floor): the block-pooled spectrogram dHash keys on
    # exactly this temporal band structure, so a lightly-noised copy
    # stays near while a reordered pattern lands far
    n = 16000

    def notes(pattern, rng):
        t = np.arange(n) / 8000.0
        sig = 0.02 * rng.standard_normal(n)
        for i, (f, amp) in enumerate(pattern):
            s = slice(i * 2000, (i + 1) * 2000)
            sig[s] += amp * np.sin(2 * np.pi * f * t[s])
        return 0.8 * sig / np.abs(sig).max()

    p1 = [(440, 0.8), (880, 0.2), (1760, 0.6), (300, 0.9),
          (2500, 0.4), (660, 0.7), (1200, 0.3), (3000, 0.5)]
    tone = notes(p1, np.random.default_rng(10))
    noisy = tone + 0.002 * np.random.default_rng(11).standard_normal(n)
    other = notes(p1[::-1], np.random.default_rng(12))
    df = _rows_df(
        spark,
        [
            ("a", [_entry("a.wav", "audio/wav", _wav_bytes(tone))]),
            ("b", [_entry("b.wav", "audio/wav", _wav_bytes(noisy))]),
            ("c", [_entry("c.wav", "audio/wav", _wav_bytes(other))]),
            ("junk", [_entry("x.wav", "audio/wav", b"RIFFjunk")]),
        ],
    )
    sig = audio_fingerprint(df)
    rows = {r.sid: (r.sim_hi, r.sim_lo) for r in sig.collect()}
    assert set(rows) == {"a/a.wav", "b/b.wav", "c/c.wav"}

    def ham(x, y):
        return bin((x[0] ^ y[0])).count("1") + bin((x[1] ^ y[1])).count("1")

    near = ham(rows["a/a.wav"], rows["b/b.wav"])
    far = ham(rows["a/a.wav"], rows["c/c.wav"])
    assert near <= 7, f"light noise must stay near (got {near})"
    assert far > near, f"different content must be farther ({far} vs {near})"
    pairs = {
        (r.sid_a, r.sid_b)
        for r in hamming_near_pairs(sig, bands=8, max_hamming=7).collect()
    }
    assert ("a/a.wav", "b/b.wav") in pairs


# --- plan shape ------------------------------------------------------------------


def test_hamming_near_pairs_plan_has_no_cartesian(spark):
    df = spark.createDataFrame(
        [Row(sid=f"s{i}", sim_hi=i, sim_lo=i * 3) for i in range(20)],
        "sid string, sim_hi long, sim_lo long",
    )
    plan = hamming_near_pairs(df)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# --- video fingerprints ------------------------------------------------------
#
# Uncompressed-DIB AVIs are the REAL end-to-end path: raw pixel rows
# decode with a numpy reshape (no media library), so the fingerprint is
# a true majority-dHash over sampled frames.

from test_multimodal import mk_avi  # minimal RIFF/AVI builder

from shardpack_spark.operators.perceptual import _frame_gray_path, video_fingerprint


def _dib_frame(gray_img: np.ndarray) -> bytes:
    """24bpp BGR bottom-up DIB payload (rows padded to 4 bytes) whose
    grayscale equals the input grid."""
    h, w = gray_img.shape
    px = np.repeat(np.clip(gray_img, 0, 255).astype("u1")[:, :, None], 3, axis=2)
    rows = np.zeros((h, ((w * 3 + 3) // 4) * 4), dtype="u1")
    rows[:, : w * 3] = px.reshape(h, w * 3)
    return rows[::-1].tobytes()


def test_frame_gray_raw_dib_decode():
    rng = np.random.default_rng(5)
    img = (rng.random((12, 18)) * 255).astype("u1").astype("float64")
    frame = _dib_frame(img)  # w=18 -> 54-byte rows pad to 56
    assert len(frame) == 56 * 12
    got, path = _frame_gray_path(frame, 18, 12)
    assert np.allclose(got, img) and path == "pure"
    # wrong-size payload (not a raw DIB, not a decodable image) -> surrogate 8x8
    assert _frame_gray_path(b"\xff\xd8jpegish", 18, 12)[0].shape == (8, 8)


def test_video_fingerprint_majority_and_pairs(spark):
    rng = np.random.default_rng(9)
    w, h = 18, 12
    base_frames = [
        (np.cumsum(rng.random((h, w)), axis=1) * 10 + i) for i in range(6)
    ]
    near_frames = [f + rng.random((h, w)) * 0.5 for f in base_frames]
    far_frames = [rng.random((h, w)) * 255 for _ in range(6)]
    vids = [
        ("a", [_entry("v.avi", "video/x-msvideo",
                      mk_avi([_dib_frame(f) for f in base_frames], w, h))]),
        ("b", [_entry("v.avi", "video/x-msvideo",
                      mk_avi([_dib_frame(f) for f in near_frames], w, h))]),
        ("c", [_entry("v.avi", "video/x-msvideo",
                      mk_avi([_dib_frame(f) for f in far_frames], w, h))]),
        ("junk", [_entry("v.avi", "video/x-msvideo", b"RIFFnope")]),
    ]
    sig = video_fingerprint(_rows_df(spark, vids), every_n=1)
    rows = {r.sid: (r.sim_hi, r.sim_lo) for r in sig.collect()}
    assert set(rows) == {"a/v.avi", "b/v.avi", "c/v.avi"}

    def ham(x, y):
        return bin((x[0] ^ y[0])).count("1") + bin((x[1] ^ y[1])).count("1")

    near = ham(rows["a/v.avi"], rows["b/v.avi"])
    far = ham(rows["a/v.avi"], rows["c/v.avi"])
    assert near <= 3, f"lightly-noised frames stay near (got {near})"
    assert far > near
    pairs = {
        (r.sid_a, r.sid_b)
        for r in hamming_near_pairs(sig, bands=4, max_hamming=3).collect()
    }
    assert ("a/v.avi", "b/v.avi") in pairs
    assert not any("c/v.avi" in p for p in pairs)


def test_video_fingerprint_majority_ignores_outlier_frame(spark):
    rng = np.random.default_rng(13)
    w, h = 16, 16
    a = np.cumsum(rng.random((h, w)), axis=0) * 20
    outlier = rng.random((h, w)) * 255
    df = _rows_df(
        spark,
        [
            ("v", [_entry("v.avi", "video/x-msvideo",
                          mk_avi([_dib_frame(a)] * 5 + [_dib_frame(outlier)], w, h))]),
        ],
    )
    rows = {r.sid: (r.sim_hi, r.sim_lo) for r in video_fingerprint(df, every_n=1).collect()}
    # 5-of-6 majority == the repeated frame's own dHash
    hi, lo = _pack_bits(_dhash_bits(a))
    assert rows["v/v.avi"] == (hi, lo)


# --- cross-corpus (ingest) near pairs -------------------------------------------

from shardpack_spark.operators.perceptual import hamming_near_pairs_against


@pytest.mark.parametrize("broadcast_new", [True, False])
def test_hamming_near_pairs_against_brute_force(spark, broadcast_new):
    """Cross-set blocking is exact: every (new, corpus) pair within the
    threshold is found, nothing else, and no within-set pair leaks."""
    rng = np.random.default_rng(21)
    corpus = [int(rng.integers(0, 2**64, dtype=np.uint64)) for _ in range(30)]
    new = []
    for i in range(8):  # near-copies of corpus members
        v = corpus[i]
        for b in rng.choice(64, size=int(rng.integers(0, 4)), replace=False):
            v ^= 1 << int(b)
        new.append(v)
    new += [int(rng.integers(0, 2**64, dtype=np.uint64)) for _ in range(6)]

    def df_of(vals, prefix):
        return spark.createDataFrame(
            [Row(sid=f"{prefix}{i:03d}", sim_hi=int(v >> 32),
                 sim_lo=int(v & 0xFFFFFFFF)) for i, v in enumerate(vals)],
            "sid string, sim_hi long, sim_lo long",
        )

    expected = {
        (f"n{i:03d}", f"c{j:03d}", bin(a ^ b).count("1"))
        for i, a in enumerate(new)
        for j, b in enumerate(corpus)
        if bin(a ^ b).count("1") <= 3
    }
    got = {
        (r.sid_new, r.sid_corpus, r.hamming)
        for r in hamming_near_pairs_against(
            df_of(new, "n"), df_of(corpus, "c"), bands=4, max_hamming=3,
            broadcast_new=broadcast_new,
        ).collect()
    }
    assert got == expected and expected


def test_hamming_near_pairs_against_ingest_plan(spark):
    """The steady-state ingest shape: the corpus side must not shuffle
    (broadcast hash join, no exchange on the corpus branch)."""
    rng = np.random.default_rng(33)
    df_small = spark.createDataFrame(
        [Row(sid=f"n{i}", sim_hi=int(rng.integers(0, 2**32)),
             sim_lo=int(rng.integers(0, 2**32))) for i in range(4)],
        "sid string, sim_hi long, sim_lo long",
    )
    df_corpus = spark.createDataFrame(
        [Row(sid=f"c{i}", sim_hi=int(rng.integers(0, 2**32)),
             sim_lo=int(rng.integers(0, 2**32))) for i in range(200)],
        "sid string, sim_hi long, sim_lo long",
    )
    plan = (
        hamming_near_pairs_against(df_small, df_corpus)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


# --- end-to-end multimodal dedup pipeline ----------------------------------------
#
# ingest a directory of media files -> perceptual signatures (real npy /
# wav paths) -> banded near pairs -> connected components -> keep-one.
# The full shape a training-data pipeline runs, with no operator-specific
# glue: every stage consumes the previous stage's DataFrame.


def test_multimodal_dedup_pipeline_end_to_end(spark, tmp_path):
    from shardpack_spark.format.datasource import (
        ingest_files,
        read_shardpack,
        register,
    )
    from shardpack_spark.operators.dedup import connected_components

    register(spark)
    rng = np.random.default_rng(17)
    d = tmp_path / "media"
    d.mkdir()
    # three image tensors: two near-identical, one different
    img = np.cumsum(rng.random((32, 32)), axis=1) * 10
    near = img.copy()
    near[4:6, 4:6] += 0.2
    other = rng.random((32, 32)) * 200
    for name, arr in [("shot_a", img), ("shot_b", near), ("shot_c", other)]:
        buf = io.BytesIO()
        np.save(buf, arr)
        (d / f"{name}.npy").write_bytes(buf.getvalue())
    # two audio clips: duplicate waveform + one different
    n = 16000
    wave = np.cumsum(rng.standard_normal(n))
    wave = 0.6 * wave / np.abs(wave).max()
    ow = np.cumsum(rng.standard_normal(n))
    ow = 0.6 * ow / np.abs(ow).max()
    (d / "clip_a.wav").write_bytes(_wav_bytes(wave))
    (d / "clip_b.wav").write_bytes(_wav_bytes(wave + 0.001 * rng.standard_normal(n)))
    (d / "clip_c.wav").write_bytes(_wav_bytes(ow))

    packed = str(tmp_path / "packed")
    ingest_files(spark, str(d), packed, mode="overwrite")
    ds = read_shardpack(spark, packed)

    sig = dhash_tensors(ds).unionAll(audio_fingerprint(ds))
    assert sig.count() == 6
    pairs = hamming_near_pairs(sig, bands=8, max_hamming=7)
    clusters = connected_components(pairs)
    by_cluster: dict = {}
    for r in clusters.collect():
        by_cluster.setdefault(r["cluster"], set()).add(r["sid"])
    assert {frozenset(v) for v in by_cluster.values()} == {
        frozenset({"shot_a/shot_a.npy", "shot_b/shot_b.npy"}),
        frozenset({"clip_a/clip_a.wav", "clip_b/clip_b.wav"}),
    }
    # keep-one: drop every clustered sid except its canonical minimum
    drop = {
        r["sid"] for r in clusters.collect() if r["sid"] != r["cluster"]
    }
    survivors = {r["sid"] for r in sig.collect()} - drop
    assert survivors == {
        "clip_a/clip_a.wav", "shot_a/shot_a.npy",
        "clip_c/clip_c.wav", "shot_c/shot_c.npy",
    }


# --- skew guard + report (the MinHash guard ported to the Hamming family) -------

from shardpack_spark.operators.perceptual import hamming_bucket_skew_report


def _sig_df(spark, sigs):
    rows = [
        Row(sid=f"s{i:03d}", sim_hi=int(v >> 32), sim_lo=int(v & 0xFFFFFFFF))
        for i, v in enumerate(sigs)
    ]
    return spark.createDataFrame(rows, "sid string, sim_hi long, sim_lo long")


def test_hamming_skew_guard_caps_mega_cluster(spark):
    """Adversarial flat-image corpus: 30 identical all-zero dHashes (the
    signature every flat/placeholder image produces) share EVERY slice
    bucket, so the banded self-join pays 30^2 candidate rows per band.
    max_bucket_size drops those buckets while a small genuine near-pair
    survives, and hamming_bucket_skew_report names exactly what was
    lost — size 30, sampled members from the cluster."""
    rng = np.random.default_rng(11)
    sigs = [0] * 30                                    # flat-image mega-cluster
    sigs += [0xDEADBEEF12345678, 0xDEADBEEF12345679]   # genuine near pair (d=1)
    sigs += [int(rng.integers(0, 2**64, dtype=np.uint64)) for _ in range(8)]
    df = _sig_df(spark, sigs).persist()
    try:
        cluster = {f"s{i:03d}" for i in range(30)}
        uncapped = {
            (r.sid_a, r.sid_b)
            for r in hamming_near_pairs(df, bands=4, max_hamming=3).collect()
        }
        capped = {
            (r.sid_a, r.sid_b)
            for r in hamming_near_pairs(
                df, bands=4, max_hamming=3, max_bucket_size=10
            ).collect()
        }
        cluster_pairs = {(a, b) for a in cluster for b in cluster if a < b}
        assert cluster_pairs <= uncapped
        assert not (cluster_pairs & capped), "cap drops the mega-cluster"
        assert ("s030", "s031") in capped, "small genuine pair survives the cap"

        report = hamming_bucket_skew_report(
            df, bands=4, threshold=10, sample_ids=5
        ).collect()
        assert len(report) == 4, "identical signatures share all 4 slice buckets"
        for r in report:
            assert r.bucket_size == 30
            assert r.key == 0, "flat images dHash to the all-zero signature"
            assert len(r.sample_sids) == 5 and set(r.sample_sids) <= cluster
        assert hamming_bucket_skew_report(df, bands=4, threshold=30).count() == 0
    finally:
        df.unpersist()


def test_hamming_skew_guard_against_corpus_side(spark):
    """_against variant: the cap sits on the standing corpus (where
    degenerate clusters accumulate); a new batch probing a capped corpus
    loses matches into the mega-bucket but keeps genuine ones."""
    rng = np.random.default_rng(12)
    corpus = [0] * 25 + [0xABCDEF0011223344] + [
        int(rng.integers(0, 2**64, dtype=np.uint64)) for _ in range(6)
    ]
    new = [0, 0xABCDEF0011223345]  # one hits the mega-cluster, one the singleton
    cdf = _sig_df(spark, corpus)
    ndf = _sig_df(spark, new)
    got = {
        (r.sid_new, r.sid_corpus)
        for r in hamming_near_pairs_against(
            ndf, cdf, bands=4, max_hamming=3, max_bucket_size=10
        ).collect()
    }
    assert got == {("s001", "s025")}, "mega-cluster matches capped away, genuine kept"
    uncapped = hamming_near_pairs_against(ndf, cdf, bands=4, max_hamming=3)
    assert uncapped.count() == 26


def test_simhash_near_pairs_cap_passthrough(spark):
    """simhash_near_pairs exposes the shared guard: a boilerplate text
    cluster (identical SimHash) is capped while distinct docs pass."""
    from shardpack_spark.operators import dedup

    rows = [(i, "lorem ipsum dolor sit amet " * 3) for i in range(20)]
    rows += [(100, "completely different text about spark shuffles and joins")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sim = dedup.simhash(df).persist()
    try:
        assert dedup.simhash_near_pairs(sim).count() == 20 * 19 // 2
        assert dedup.simhash_near_pairs(sim, max_bucket_size=10).count() == 0
    finally:
        sim.unpersist()


# --- decode telemetry rollup ------------------------------------------------------

from shardpack_spark.operators.perceptual import decode_path_rollup


def test_decode_path_rollup_fractions(spark):
    """The per-row decode_path telemetry folds to the corpus-level
    alert number: surrogate_frac per group, one partial-agg shuffle."""
    base = _smooth_gray(3)
    df = _rows_df(
        spark,
        [
            ("a1", [_entry("i.png", "image/png", encode_png(base))]),
            ("a2", [_entry("i.png", "image/png", encode_png(base.T.copy()))]),
            ("b1", [_entry("i.png", "image/png", b"\x89PNG\r\n\x1a\n" + bytes(50))]),
        ],
    )
    sig = dhash_images(df)
    total = decode_path_rollup(sig).collect()
    assert len(total) == 1
    r = total[0]
    assert (r.n_rows, r.n_pure, r.n_surrogate, r.n_mixed) == (3, 2, 1, 0)
    assert abs(r.surrogate_frac - 1 / 3) < 1e-12

    # grouped: alert granularity rides any upstream column
    grouped = {
        r.src: r.surrogate_frac
        for r in decode_path_rollup(
            sig.withColumn("src", F.substring("sid", 1, 1)), group_cols=["src"]
        ).collect()
    }
    assert grouped == {"a": 0.0, "b": 1.0}
    # union-compatibility across the whole signature family (tensors and
    # audio emit a constant 'pure' path): one rollup covers them all
    tens = _rows_df(
        spark, [("t", [_entry("t.npy", "application/x-npy", _npy_bytes(base))])]
    )
    fam = sig.unionByName(dhash_tensors(tens))
    assert decode_path_rollup(fam).collect()[0].n_rows == 4


def test_surrogate_fraction_web_frequency_mix(spark):
    """The r5/r6 'implement SOF9/WebP?' question, answered with a number
    (README 'Wheel-free codec coverage decision').

    Fixture mirrors the PUBLIC web image-format frequency mix (HTTP
    Archive / Web Almanac media chapters, 2022-2024: JPEG ~40%, PNG
    ~27%, GIF ~14%, WebP ~9%, AVIF <1%; arithmetic-coded JPEG ~0% — no
    browser ever shipped SOF9/SOF11 decode, so the web does not serve
    it).  The wheel-free decoders cover everything but WebP/AVIF, which
    stay surrogate by design: surrogate_frac == exactly the WebP+AVIF
    share (~10%), and decode_path_rollup is the alert that reports it."""

    rows = []
    k = 0

    def add(fmt, ctype, payload, n):
        nonlocal k
        for _ in range(n):
            rows.append((f"{fmt}{k}", [_entry(f"i.{fmt}", ctype, payload)]))
            k += 1

    g = _smooth_gray(3, 16, 16)
    add("jpg", "image/jpeg", encode_jpeg(g), 40)
    add("png", "image/png", encode_png(g), 27)
    # GIF payload via the spec-written fixture encoder
    pal = [(i, i, i) for i in range(4)]
    idx = (np.arange(64).reshape(8, 8) % 4).astype(np.uint8)
    add("gif", "image/gif", bytes(_mk_gif(idx, pal)), 14)
    # WebP (RIFF container) and AVIF (ISO-BMFF ftyp) headers: REAL format
    # magics the pure decoders typed-reject -> surrogate
    webp = b"RIFF" + (32).to_bytes(4, "little") + b"WEBPVP8 " + bytes(24)
    avif = (28).to_bytes(4, "big") + b"ftypavif" + bytes(16)
    add("webp", "image/webp", webp, 9)
    add("avif", "image/avif", avif, 1)
    # remainder: more JPEG to reach 100 (SVG et al. are not raster inputs)
    add("jpg", "image/jpeg", encode_jpeg(_smooth_gray(5, 16, 16)), 9)

    sig = dhash_images(_rows_df(spark, rows))
    roll = decode_path_rollup(sig).collect()[0]
    assert roll.n_rows == 100
    # the recorded number: WebP+AVIF share, nothing else degrades
    assert roll.n_surrogate == 10 and abs(roll.surrogate_frac - 0.10) < 1e-9
    assert roll.n_pure == 90
