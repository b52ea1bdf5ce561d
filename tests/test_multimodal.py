"""Multimodal operators: real container parsing (AVI demux, image headers)
and the Arrow-batched Spark plumbing around them."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from shardpack_spark.operators import multimodal as mm
from tests.imagefixtures import encode_jpeg


def mk_jpeg(w: int, h: int) -> bytes:
    """Minimal JPEG: SOI + a real SOF0 frame header + EOI — enough for
    any SOF-walking dimension parser."""
    seg = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") + bytes([1, 1, 0x11, 0])
    return b"\xff\xd8" + b"\xff\xc0" + (2 + len(seg)).to_bytes(2, "big") + seg + b"\xff\xd9"


def mk_avi(frames: list[bytes], w: int, h: int) -> bytes:
    """Minimal MJPEG AVI: RIFF('AVI ') / LIST(hdrl avih) / LIST(movi 00dc*)."""
    avih = (
        (33366).to_bytes(4, "little")  # dwMicroSecPerFrame (~30 fps)
        + b"\x00" * 12
        + len(frames).to_bytes(4, "little")  # dwTotalFrames
        + b"\x00" * 12
        + w.to_bytes(4, "little")
        + h.to_bytes(4, "little")
        + b"\x00" * 16
    )
    avih_chunk = b"avih" + len(avih).to_bytes(4, "little") + avih
    hdrl = b"LIST" + (4 + len(avih_chunk)).to_bytes(4, "little") + b"hdrl" + avih_chunk
    movi_body = b"".join(
        b"00dc" + len(f).to_bytes(4, "little") + f + (b"\x00" if len(f) % 2 else b"")
        for f in frames
    )
    movi = b"LIST" + (4 + len(movi_body)).to_bytes(4, "little") + b"movi" + movi_body
    body = b"AVI " + hdrl + movi
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def test_parse_avi_walks_chunks():
    frames = [mk_jpeg(64 + i, 48) for i in range(7)]
    avi = mk_avi(frames, 64, 48)
    info = mm.parse_avi(avi)
    assert (info["width"], info["height"], info["total_frames"]) == (64, 48, 7)
    assert [fb for _, fb in info["frames"]] == frames
    with pytest.raises(ValueError):
        mm.parse_avi(b"\x00" * 64)


def test_sample_video_frames_every_n(spark):
    frames = [mk_jpeg(100, 80) for _ in range(10)]
    avi = mk_avi(frames, 100, 80)
    df = spark.createDataFrame(
        [
            (
                "vid/1",
                {"src": "t"},
                [("clip.avi", "video/x-msvideo", "none", len(avi), bytearray(avi))],
            ),
            # non-AVI video entry: contributes zero rows, no error
            (
                "vid/2",
                {},
                [("clip.mp4", "video/mp4", "none", 4, bytearray(b"\x00\x00\x00\x18"))],
            ),
        ],
        "key string, metadata map<string,string>, entries array<struct<"
        "file_name:string,content_type:string,encoding:string,size:long,data:binary>>",
    )
    out = mm.sample_video_frames(df, every_n=3).collect()
    assert [r["frame_index"] for r in out] == [0, 3, 6, 9]
    assert all(r["total_frames"] == 10 and r["width"] == 100 and r["height"] == 80 for r in out)
    # sampled MJPEG frames are standalone JPEGs: the image parser reads them
    assert all(mm.parse_image_dims(bytes(r["frame_data"])) == (100, 80) for r in out)


def test_sampled_frames_compose_with_image_features(spark):
    """Video -> frames -> image_features: the two operators chain through
    the shardpack entry schema."""
    frames = [mk_jpeg(32, 24) for _ in range(4)]
    avi = mk_avi(frames, 32, 24)
    df = spark.createDataFrame(
        [("v", {}, [("c.avi", "video/x-msvideo", "none", len(avi), bytearray(avi))])],
        "key string, metadata map<string,string>, entries array<struct<"
        "file_name:string,content_type:string,encoding:string,size:long,data:binary>>",
    )
    sampled = mm.sample_video_frames(df, every_n=2)
    as_entries = sampled.select(
        F.concat(F.col("key"), F.lit("#"), F.col("frame_index")).alias("key"),
        F.create_map().cast("map<string,string>").alias("metadata"),
        F.array(
            F.struct(
                F.col("file_name"),
                F.lit("image/jpeg").alias("content_type"),
                F.lit("none").alias("encoding"),
                F.length("frame_data").cast("long").alias("size"),
                F.col("frame_data").alias("data"),
            )
        ).alias("entries"),
    )
    feats = mm.image_features(as_entries).collect()
    assert len(feats) == 2
    assert all(r["sniffed_format"] == "jpeg" and (r["width"], r["height"]) == (32, 24) for r in feats)


def mk_wav(n_samples: int, sample_rate: int = 16000, channels: int = 1, bits: int = 16) -> bytes:
    """Minimal PCM WAV with an extra LIST chunk the parser must skip."""
    block_align = channels * bits // 8
    fmt = (
        (1).to_bytes(2, "little")
        + channels.to_bytes(2, "little")
        + sample_rate.to_bytes(4, "little")
        + (sample_rate * block_align).to_bytes(4, "little")
        + block_align.to_bytes(2, "little")
        + bits.to_bytes(2, "little")
    )
    data = b"\x00" * (n_samples * block_align)
    chunks = (
        b"fmt " + len(fmt).to_bytes(4, "little") + fmt
        + b"LIST" + (5).to_bytes(4, "little") + b"INFOx" + b"\x00"  # odd len -> pad
        + b"data" + len(data).to_bytes(4, "little") + data
    )
    body = b"WAVE" + chunks
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def test_parse_wav_header():
    h = mm.parse_wav_header(mk_wav(8000, 16000, 2, 16))
    assert (h["channels"], h["sample_rate"], h["bits_per_sample"]) == (2, 16000, 16)
    assert h["n_samples"] == 8000
    assert h["duration_s"] == 0.5
    with pytest.raises(ValueError):
        mm.parse_wav_header(b"RIFFxxxxNOPE")


def test_audio_features_over_entries(spark):
    wavs = [(f"a/{i}", mk_wav(16000 * (i + 1))) for i in range(3)]
    df = spark.createDataFrame(
        [
            (
                k,
                {},
                [
                    {
                        "file_name": "x.wav",
                        "content_type": "audio/wav",
                        "encoding": "none",
                        "size": len(b),
                        "data": bytearray(b),
                    },
                    {
                        "file_name": "noise.bin",
                        "content_type": "application/octet-stream",
                        "encoding": "none",
                        "size": 4,
                        "data": bytearray(b"junk"),
                    },
                ],
            )
            for k, b in wavs
        ],
        "key string, metadata map<string,string>, entries array<struct<"
        "file_name:string,content_type:string,encoding:string,size:bigint,data:binary>>",
    )
    rows = {r["key"]: r for r in mm.audio_features(df).collect()}
    assert set(rows) == {"a/0", "a/1", "a/2"}
    for i in range(3):
        r = rows[f"a/{i}"]
        assert r["duration_s"] == float(i + 1)
        assert r["sample_rate"] == 16000


def test_resize_images_plumbing_and_determinism(spark):
    """resize_images: real explode + Arrow-batch plumbing, header-true
    source dims, deterministic stub payload tagged with target dims."""
    rows = [
        ("img/1", "a.jpg", mk_jpeg(100, 80)),
        ("img/2", "b.jpg", mk_jpeg(640, 480)),
    ]
    df = spark.createDataFrame(
        [(k,) for k, _, _ in rows], "key string"
    ).join(
        spark.createDataFrame(rows, "key string, fn string, payload binary"), "key"
    ).select(
        "key",
        F.create_map().cast("map<string,string>").alias("metadata"),
        F.array(
            F.struct(
                F.col("fn").alias("file_name"),
                F.lit("image/jpeg").alias("content_type"),
                F.lit("none").alias("encoding"),
                F.length("payload").cast("long").alias("size"),
                F.col("payload").alias("data"),
            )
        ).alias("entries"),
    )
    out = {r["key"]: r for r in mm.resize_images(df, 64, 64).collect()}
    assert len(out) == 2
    assert (out["img/1"]["src_width"], out["img/1"]["src_height"]) == (100, 80)
    assert (out["img/2"]["src_width"], out["img/2"]["src_height"]) == (640, 480)
    assert all(r["width"] == 64 and r["height"] == 64 for r in out.values())
    # deterministic across runs
    again = {r["key"]: bytes(r["data"]) for r in mm.resize_images(df, 64, 64).collect()}
    assert {k: bytes(v["data"]) for k, v in out.items()} == again


def test_resize_images_real_pixels_no_wheel(spark):
    """REAL PNG/JPEG payloads resize to true PNG thumbnails with no
    image library installed (pure-Python imagecodec path)."""
    import numpy as np

    from shardpack_spark.operators import imagecodec as ic

    yy, xx = np.mgrid[0:40, 0:60]
    img = np.clip(
        np.round(128 + 100 * np.sin(xx / 8.0) * np.cos(yy / 6.0)), 0, 255
    ).astype(np.uint8)
    rgb = np.dstack([img, 255 - img, np.roll(img, 5, axis=1)])
    rows = [
        ("img/png", "a.png", "image/png", ic.encode_png(rgb)),
        ("img/jpg", "b.jpg", "image/jpeg", encode_jpeg(rgb, quality=90)),
    ]
    df = spark.createDataFrame(
        [
            (k, {}, [(fn, ct, "none", len(b), bytearray(b))])
            for k, fn, ct, b in rows
        ],
        "key string, metadata map<string,string>, entries array<struct<"
        "file_name:string,content_type:string,encoding:string,size:long,data:binary>>",
    )
    out = {r["key"]: r for r in mm.resize_images(df, 16, 10).collect()}
    assert set(out) == {"img/png", "img/jpg"}
    for k, r in out.items():
        assert (r["src_width"], r["src_height"]) == (60, 40)
        assert r["content_type"] == "image/png", "thumbnails re-encode as PNG"
        thumb = ic.decode_png(bytes(r["data"]))
        assert thumb.shape == (10, 16, 3)
    # thumbnail content is the real image, not a marker: compare against
    # a driver-side reference resize of the SAME decoded pixels
    ref = ic.resize_array(rgb.astype(float), 16, 10)
    got = ic.decode_png(bytes(out["img/png"]["data"])).astype(float)
    assert np.abs(got - ref).max() <= 1.0, "PNG path is exact up to rounding"
    got_j = ic.decode_png(bytes(out["img/jpg"]["data"])).astype(float)
    assert np.abs(got_j - ref).mean() < 8.0, "JPEG path is close (lossy source)"


def test_resize_error_marker_not_job_abort():
    """Per-record decode failures yield tagged error bytes, never raise."""
    out, path = mm._resize_pixels(b"\xff\xd8 not a real jpeg", 32, 32)
    assert out.startswith(b"DECODE-ERROR:32x32:")
    assert path == "surrogate", "marker bytes must report as surrogate"


def test_resize_images_rejects_empty_thumbnail_size(spark):
    """A thumbnail under 1x1 is the caller's error, raised on the driver
    before any job runs — not a decode-error marker on every valid image
    that inflates the surrogate fraction."""
    import numpy as np

    from shardpack_spark.operators import imagecodec as ic

    png = ic.encode_png(np.arange(64, dtype=np.uint8).reshape(8, 8))
    df = spark.createDataFrame(
        [("img/0", {}, [("a.png", "image/png", "none", len(png), bytearray(png))])],
        "key string, metadata map<string,string>, entries array<struct<"
        "file_name:string,content_type:string,encoding:string,size:long,data:binary>>",
    )
    for width, height in ((0, 16), (16, 0), (-1, 4)):
        with pytest.raises(ValueError, match="at least 1x1"):
            mm.resize_images(df, width, height)
    (row,) = mm.resize_images(df, 1, 1).collect()
    assert row.decode_path == "pure"
    assert ic.decode_png(bytes(row.data)).shape == (1, 1)


def test_image_pixel_features_real_stats(spark):
    """Pixel stats decode REAL pixels: a flat image has ~zero entropy/std,
    a noisy one is high-entropy, extremes are counted, and undecodable
    payloads yield a surrogate row with null statistics (so the decode
    telemetry rollup sees them) rather than vanishing."""
    import numpy as np

    from shardpack_spark.operators import imagecodec as ic

    rng = np.random.default_rng(3)
    flat = np.full((20, 30), 128, np.uint8)
    noisy = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
    dark = np.zeros((10, 10), np.uint8)  # all-extreme
    rows = [
        ("i/flat", "f.png", "image/png", ic.encode_png(flat)),
        ("i/noisy", "n.jpg", "image/jpeg", encode_jpeg(noisy, quality=95)),
        ("i/dark", "d.png", "image/png", ic.encode_png(dark)),
        ("i/bad", "x.png", "image/png", b"\x89PNG\r\n\x1a\nnope"),
    ]
    df = spark.createDataFrame(
        [(k, {}, [(fn, ct, "none", len(b), bytearray(b))]) for k, fn, ct, b in rows],
        "key string, metadata map<string,string>, entries array<struct<"
        "file_name:string,content_type:string,encoding:string,size:long,data:binary>>",
    )
    out = {r["key"]: r for r in mm.image_pixel_features(df).collect()}
    assert set(out) == {"i/flat", "i/noisy", "i/dark", "i/bad"}
    bad = out["i/bad"]
    assert bad["decode_path"] == "surrogate"
    assert bad["channels"] is None and bad["mean_luma"] is None
    fl = out["i/flat"]
    assert (fl["width"], fl["height"], fl["channels"]) == (30, 20, 1)
    assert fl["mean_luma"] == 128.0 and fl["std_luma"] == 0.0
    assert fl["entropy_bits"] == 0.0 and fl["extreme_frac"] == 0.0
    nz = out["i/noisy"]
    assert nz["channels"] == 3 and nz["entropy_bits"] > 5.0
    dk = out["i/dark"]
    assert dk["extreme_frac"] == 1.0 and dk["mean_luma"] == 0.0


def test_multimodal_decode_path_telemetry_and_rollup(spark):
    """image_pixel_features and resize_images now carry the decode_path
    column the perceptual ops introduced; decode_path_rollup folds any
    of them to the corpus surrogate fraction."""
    import numpy as np

    from shardpack_spark.operators.imagecodec import encode_png
    from shardpack_spark.operators.perceptual import decode_path_rollup

    base = np.arange(64, dtype=np.uint8).reshape(8, 8)
    rows = [
        ("a", "i.png", encode_png(base)),
        ("junk", "j.png", b"\x89PNG\r\n\x1a\n" + bytes(30)),
    ]
    df = spark.createDataFrame(
        [
            (k, {}, [(fn, "image/png", "none", len(b), bytearray(b))])
            for k, fn, b in rows
        ],
        "key string, metadata map<string,string>, entries array<struct<"
        "file_name:string,content_type:string,encoding:string,size:bigint,data:binary>>",
    )
    feats = {r.key: r.decode_path for r in mm.image_pixel_features(df).collect()}
    assert feats == {"a": "pure", "junk": "surrogate"}
    rs = {r.key: r for r in mm.resize_images(df, 4, 4).collect()}
    assert rs["a"].decode_path == "pure"
    assert bytes(rs["a"].data)[:8] == b"\x89PNG\r\n\x1a\n"
    assert rs["junk"].decode_path == "surrogate"
    assert bytes(rs["junk"].data).startswith(b"DECODE-ERROR:4x4:")
    roll = decode_path_rollup(mm.resize_images(df, 4, 4)).collect()[0]
    assert (roll.n_rows, roll.n_pure, roll.n_surrogate) == (2, 1, 1)
    assert abs(roll.surrogate_frac - 0.5) < 1e-12
