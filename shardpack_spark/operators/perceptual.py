"""Perceptual near-duplicate detection for multimodal columns.

The text dedup family (MinHash-LSH, SimHash) answers "same words"; a
training-data pipeline over image/audio shards needs the analogous
"same content" signal on binary payloads, where byte-identity misses
re-encodes, resizes, and noise.  This module produces compact 64-bit
perceptual signatures and finds near pairs with the same
Hamming-distance banding the SimHash path uses — one banded shuffle,
never O(n^2) (reference parity: the format spec ships tensors as
``application/x-npy`` entries, draft.md:185-195; the reference itself
has no analytics, so semantics follow the published dHash /
Haitsma-Kalker constructions).

Signatures are carried as two unsigned 32-bit halves ``(sim_hi,
sim_lo)`` — the same convention as ``operators.dedup.simhash`` — so one
candidate-pair implementation (``hamming_near_pairs``) serves text
SimHash, image dHash, and audio fingerprints.

Real-vs-stub boundary (same contract as ``operators.multimodal``):

- ``dhash_tensors`` is REAL end to end: npy/npz tensor entries decode
  with numpy, block-mean downscale and gradient bits are exact.
- ``audio_fingerprint`` is REAL end to end for PCM WAV: int16/int8
  samples decode with numpy, the filter bank runs on numpy rFFT.
- ``dhash_images`` is REAL for PNG, baseline AND progressive JPEG, and
  GIF payloads with no wheel installed: ``operators.imagecodec``
  decodes pixels in pure Python/numpy, so the hash is a true dHash on
  the formats the spec names first-class (draft.md:185-190).  Payloads
  the codec cannot decode (WebP, AVIF, corrupt images) fall back to the
  deterministic byte-digest surrogate (exact-duplicate semantics), so
  a corrupt image never aborts a job.  Every image/video signature
  row carries a ``decode_path`` telemetry column saying which path it
  took.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

# module-LEVEL imports, never inside executor-run function bodies: these
# references must sit in pickled globals so by-value registration ships
# them — a runtime `from shardpack_spark...` inside a UDF body dies with
# ModuleNotFoundError on vanilla executors that can't import the package
from shardpack_spark.operators import imagecodec
from shardpack_spark.operators.multimodal import explode_entries, parse_wav_header

if TYPE_CHECKING:
    from collections.abc import Iterator

    import pandas as pd


SIGNATURE_SCHEMA = StructType(
    [
        StructField("sid", StringType()),
        StructField("sim_hi", LongType()),
        StructField("sim_lo", LongType()),
    ]
)

# image/video signatures also carry HOW each payload decoded —
# 'pure' (wheel-free codec, real pixels), 'surrogate' (byte-digest:
# exact-dup semantics only), or 'mixed' (video whose sampled frames
# took different paths).  Without this a pipeline cannot measure what
# fraction of its near-dup signal is perceptual vs byte-exact.
TELEMETRY_SIGNATURE_SCHEMA = StructType(
    list(SIGNATURE_SCHEMA.fields) + [StructField("decode_path", StringType())]
)

#: decode_path values in severity order; the rollup emits one count per value.
DECODE_PATHS = ("pure", "surrogate", "mixed")


def decode_path_rollup(df: DataFrame, group_cols=()) -> DataFrame:
    """Corpus-level decode telemetry: fold the per-row ``decode_path``
    column any signature/feature operator emits into
    ``(group_cols..., n_rows, n_pure, n_surrogate, n_mixed,
    surrogate_frac)`` — the number a pipeline ALERTS on.  A rising
    ``surrogate_frac`` means near-dup signal is silently degrading from
    perceptual to byte-exact (WebP/AVIF or other formats the pure codec
    does not decode arriving in the crawl, hostile payloads tripping the
    decode budget).

    ``group_cols`` picks the alert granularity — e.g. a crawl-source or
    date column joined in upstream, or empty for one corpus-wide row.
    One partial-agg shuffle on the group key (conditional sums combine
    map-side); rollup output is one row per group, safe to collect or
    join against ``operators.profile`` output at any corpus size.
    """
    group_cols = list(group_cols)
    aggs = [F.count(F.lit(1)).alias("n_rows")] + [
        F.sum((F.col("decode_path") == p).cast("long")).alias(f"n_{p}")
        for p in DECODE_PATHS
    ]
    out = df.groupBy(*group_cols).agg(*aggs)
    return out.withColumn(
        "surrogate_frac", F.col("n_surrogate") / F.col("n_rows")
    )


def _gray_with_path(data: bytes):
    """(luma grid, decode_path) for one image payload: real pixels from
    the wheel-free codec ('pure', bit-identical on every cluster), else
    the deterministic byte-digest surrogate ('surrogate')."""
    try:
        return imagecodec.to_gray(imagecodec.decode_image(data)), "pure"
    except Exception:  # a corrupt image must never abort the job
        return _surrogate_gray(data), "surrogate"


def _pack_bits(bits) -> tuple[int, int]:
    """64 bools (bit 0 first) -> (hi, lo) unsigned 32-bit halves.

    Two nonnegative 32-bit longs, not one 64-bit word: BIGINT sign
    overflow differs between engines and ``hamming_near_pairs`` slices
    halves anyway (same rationale as dedup.simhash)."""
    lo = sum(1 << i for i in range(32) if bits[i])
    hi = sum(1 << (i - 32) for i in range(32, 64) if bits[i])
    return hi, lo


def _block_mean_grid(arr, rows: int, cols: int):
    """Exact block-mean downscale of a 2-D array to (rows, cols).

    Every source pixel contributes to exactly one output cell (cell
    boundaries from integer bucket assignment, so uneven divisions are
    handled without interpolation libraries); deterministic in float64.
    A source smaller than the grid leaves cells without a pixel: each
    takes the pixel under its centre (nearest neighbour), so a flat
    image gives a flat grid at every size.
    """
    import numpy as np

    a = np.asarray(arr, dtype="float64")
    h, w = a.shape
    r_idx = (np.arange(h) * rows) // h
    c_idx = (np.arange(w) * cols) // w
    out = np.zeros((rows, cols))
    cnt = np.zeros((rows, cols))
    np.add.at(out, (r_idx[:, None], c_idx[None, :]), a)
    np.add.at(cnt, (r_idx[:, None], c_idx[None, :]), 1.0)
    out /= np.maximum(cnt, 1.0)
    if h < rows or w < cols:
        near = a[
            ((2 * np.arange(rows) + 1) * h // (2 * rows))[:, None],
            ((2 * np.arange(cols) + 1) * w // (2 * cols))[None, :],
        ]
        out = np.where(cnt > 0, out, near)
    return out


def _dhash_bits(gray) -> list[bool]:
    """Classic 8x8 dHash: block-mean to 8x9, bit = cell > right neighbor
    (row-major, 64 bits)."""
    grid = _block_mean_grid(gray, 8, 9)
    return [bool(grid[r, c] > grid[r, c + 1]) for r in range(8) for c in range(8)]


def dhash_tensors(df: DataFrame) -> DataFrame:
    """Perceptual dHash over ``application/x-npy`` / ``x-npz`` tensor
    entries (the spec's recommended image-tensor transport) ->
    ``(sid, sim_hi, sim_lo)``.

    2-D arrays hash directly; 3-D (H, W, C) arrays mean over the
    channel axis first; other ranks and non-numeric dtypes are skipped
    (a corrupt tensor must not abort a corpus job).  ``sid`` is
    ``key/file_name`` (``/member`` appended for npz members) so multiple
    tensors per record stay distinct.  Arrow-batched mapInPandas,
    linear in payload bytes; pair finding is ``hamming_near_pairs``.

    Emits the 4-column ``TELEMETRY_SIGNATURE_SCHEMA`` with a constant
    ``decode_path='pure'`` (tensors arrive pre-decoded; no surrogate
    branch exists) so the whole signature family — text SimHash aside —
    stays union-compatible with ``dhash_images``/``video_fingerprint``.
    """
    tensors = explode_entries(df).filter(
        F.col("content_type").isin("application/x-npy", "application/x-npz")
    ).select("key", "file_name", "content_type", "data")

    def hash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io

        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for key, fname, ctype, data in zip(
                pdf["key"], pdf["file_name"], pdf["content_type"], pdf["data"]
            ):
                buf = io.BytesIO(bytes(data))
                try:
                    if ctype == "application/x-npz":
                        with np.load(buf, allow_pickle=False) as npz:
                            arrays = [(m, npz[m]) for m in sorted(npz.files)]
                    else:
                        arrays = [(None, np.load(buf, allow_pickle=False))]
                except (ValueError, OSError):
                    continue
                for member, arr in arrays:
                    if arr.dtype.kind not in "biuf":
                        continue
                    if arr.ndim == 3:
                        arr = arr.mean(axis=2)
                    if arr.ndim != 2 or arr.shape[0] < 2 or arr.shape[1] < 2:
                        continue
                    hi, lo = _pack_bits(_dhash_bits(arr))
                    sid = f"{key}/{fname}" + (f"/{member}" if member else "")
                    rows.append(
                        {"sid": sid, "sim_hi": hi, "sim_lo": lo, "decode_path": "pure"}
                    )
            yield pd.DataFrame(
                rows, columns=["sid", "sim_hi", "sim_lo", "decode_path"]
            )

    return tensors.mapInPandas(hash_batch, TELEMETRY_SIGNATURE_SCHEMA)


def _surrogate_gray(data: bytes):
    """Deterministic pseudo-pixel grid for undecodable payloads: 72
    bytes of sha256 keystream reshaped to the 8x9 dHash grid, so every
    one of the 64 bits is digest-driven.  Identical payloads map to
    identical grids (and nothing else does, up to hash collision), so
    the stub degrades dHash to exact-duplicate semantics."""
    import hashlib

    import numpy as np

    h0 = hashlib.sha256(data).digest()
    h1 = hashlib.sha256(h0).digest()
    h2 = hashlib.sha256(h1).digest()
    stream = (h0 + h1 + h2)[:72]
    return np.frombuffer(stream, dtype="uint8").astype("float64").reshape(8, 9)


def dhash_images(df: DataFrame) -> DataFrame:
    """Perceptual dHash over ``image/*`` entries -> ``(sid, sim_hi,
    sim_lo, decode_path)``; ``sid`` is ``key/file_name``.

    REAL wheel-free for PNG, baseline AND progressive JPEG, and GIF:
    pixels decode through ``operators.imagecodec`` (pure Python/numpy),
    then the same block-mean dHash as ``dhash_tensors``, so hashes are
    bit-identical on every cluster.  Payloads the codec cannot decode
    fall back to the byte-digest surrogate (exact-dup semantics) rather
    than aborting the job; ``decode_path`` ('pure'/'surrogate') reports
    which per row so a pipeline can measure its real-perceptual
    fraction.
    """
    imgs = explode_entries(df).filter(
        F.col("content_type").startswith("image/")
    ).select("key", "file_name", "data")

    def hash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as pd

        for pdf in batches:
            grays = [_gray_with_path(bytes(b)) for b in pdf["data"]]
            packed = [_pack_bits(_dhash_bits(g)) for g, _ in grays]
            yield pd.DataFrame(
                {
                    "sid": [
                        f"{k}/{f}" for k, f in zip(pdf["key"], pdf["file_name"])
                    ],
                    "sim_hi": [hi for hi, _ in packed],
                    "sim_lo": [lo for _, lo in packed],
                    "decode_path": [p for _, p in grays],
                }
            )

    return imgs.mapInPandas(hash_batch, TELEMETRY_SIGNATURE_SCHEMA)


def _wav_fingerprint_bits(data: bytes, n_frames_cap: int = 256) -> list[bool] | None:
    """Haitsma-Kalker-style 64-bit fingerprint of one PCM WAV payload.

    Mono-mix the samples, split into 50%-overlapped 1024-sample frames
    (capped at ``n_frames_cap`` — the head of a long file is plenty for
    a near-dup signal and keeps per-record cost bounded), rFFT each, sum
    magnitudes into a 64-band linear filter bank, then dHash the log
    band-energy SPECTROGRAM: block-mean the (bands x frames) log grid to
    8x9 and take the temporal gradient bit "band group b got quieter
    from time block t to t+1" — the Haitsma-Kalker sign-of-energy-
    difference bit at block granularity.  Block means pool thousands of
    samples per cell, so low-level noise and re-encode jitter move no
    decisive bit, while loudness/band structure over time (the
    perceptually salient part) sets all 64.  A per-frame majority vote
    was rejected: for stationary content the frame-to-frame energy
    derivative is zero-mean, making its majority a coin flip per band.

    Pure numpy: PCM int16 / uint8 decode is byte arithmetic, no audio
    library involved.  Returns None for non-WAV / non-PCM payloads and
    clips too short for a 9-block envelope (< frame + 8 hops samples).
    """
    import numpy as np

    try:
        info = parse_wav_header(data)
    except ValueError:
        return None
    bits = info["bits_per_sample"]
    if bits not in (8, 16):
        return None
    # locate the data chunk body (parse_wav_header validated structure)
    import struct

    pos, body, length = 12, None, 0
    while pos + 8 <= len(data):
        cid = data[pos:pos + 4]
        (clen,) = struct.unpack_from("<I", data, pos + 4)
        if cid == b"data":
            body, length = pos + 8, min(clen, len(data) - pos - 8)
            break
        pos += 8 + clen + (clen & 1)
    if body is None:
        return None
    raw = data[body:body + length]
    if bits == 16:
        samples = np.frombuffer(raw[: len(raw) & ~1], dtype="<i2").astype("float64")
    else:
        samples = np.frombuffer(raw, dtype="u1").astype("float64") - 128.0
    ch = info["channels"]
    if ch > 1:
        samples = samples[: len(samples) - len(samples) % ch].reshape(-1, ch).mean(axis=1)
    frame, hop = 1024, 512
    if len(samples) < frame + 8 * hop:  # need >= 9 frames for 9 time blocks
        return None
    n_frames = min((len(samples) - frame) // hop + 1, n_frames_cap)
    idx = np.arange(frame)[None, :] + hop * np.arange(n_frames)[:, None]
    spec = np.abs(np.fft.rfft(samples[idx], axis=1))  # (frames, 513)
    # 64 equal-width band edges over the positive spectrum (DC excluded);
    # strictly increasing because frame/2 >> 64
    edges = np.linspace(1, spec.shape[1], 65).astype(int)
    energy = np.add.reduceat(spec, edges[:-1], axis=1)  # (frames, 64)
    return _dhash_bits(np.log1p(energy).T)  # rows=bands, cols=time


def audio_fingerprint(df: DataFrame) -> DataFrame:
    """64-bit audio fingerprints over ``audio/*`` PCM WAV entries ->
    ``(sid, sim_hi, sim_lo, decode_path)``; ``sid`` is
    ``key/file_name``.  Non-WAV, compressed, or too-short payloads are
    skipped.  ``decode_path`` is constant 'pure' (the WAV parse is
    wheel-free with no surrogate branch) so the signature family
    stays union-compatible with ``dhash_images``/``video_fingerprint``.
    Pair finding is ``hamming_near_pairs`` — identical plumbing to the
    image path."""
    auds = explode_entries(df).filter(
        F.col("content_type").startswith("audio/")
    ).select("key", "file_name", "data")

    def hash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as pd

        for pdf in batches:
            rows = []
            for key, fname, data in zip(pdf["key"], pdf["file_name"], pdf["data"]):
                bits = _wav_fingerprint_bits(bytes(data))
                if bits is None:
                    continue
                hi, lo = _pack_bits(bits)
                rows.append(
                    {
                        "sid": f"{key}/{fname}",
                        "sim_hi": hi,
                        "sim_lo": lo,
                        "decode_path": "pure",
                    }
                )
            yield pd.DataFrame(
                rows, columns=["sid", "sim_hi", "sim_lo", "decode_path"]
            )

    return auds.mapInPandas(hash_batch, TELEMETRY_SIGNATURE_SCHEMA)


def _frame_gray_path(frame: bytes, width: int | None, height: int | None):
    """(gray grid, decode_path) for one AVI video frame, REAL when
    possible:

    - uncompressed DIB payloads ('##db' chunks, BI_RGB) are raw pixel
      rows — byte length identifies 8/24/32 bpp exactly, numpy reshapes
      them with zero media libraries (rows are stored bottom-up; flip
      keeps hashes orientation-consistent with decoded images) and
      count as 'pure';
    - anything else (MJPEG '##dc' JPEGs, PNG payloads) goes through
      ``_gray_with_path``, the same decode as ``dhash_images``: the
      pure-Python ``operators.imagecodec``, else the deterministic
      byte-digest surrogate (exact-dup semantics).
    """
    import numpy as np

    if width and height and width >= 2 and height >= 2:
        stride4 = ((width * 3 + 3) // 4) * 4  # DIB rows pad to 4 bytes
        for bpp, rowlen in ((32, width * 4), (24, stride4), (8, ((width + 3) // 4) * 4)):
            if len(frame) == rowlen * height:
                rows = np.frombuffer(frame, dtype="u1").reshape(height, rowlen)
                if bpp == 8:
                    g = rows[:, :width].astype("float64")
                else:
                    ch = 4 if bpp == 32 else 3
                    px = rows[:, : width * ch].reshape(height, width, ch)
                    g = px[:, :, :3].astype("float64").mean(axis=2)
                return g[::-1], "pure"  # bottom-up storage -> top-down grid
    return _gray_with_path(frame)


def video_fingerprint(
    df: DataFrame, every_n: int = 30, max_frames: int = 64
) -> DataFrame:
    """64-bit perceptual video signatures over ``video/*`` AVI entries ->
    ``(sid, sim_hi, sim_lo, decode_path)``; ``sid`` is ``key/file_name``.

    Every ``every_n``-th stream-0 frame (capped at ``max_frames`` — the
    sampled head is plenty of signal and bounds per-record cost) is
    grayscaled (REAL for uncompressed DIB frames via raw numpy reshape
    and for MJPEG/PNG frames via the pure codecs, surrogate otherwise —
    see ``_frame_gray_path``) and dHashed; the video's signature is the
    per-bit MAJORITY across sampled frames, so a re-encode or a few
    corrupted frames move few bits while different footage lands far.
    ``decode_path`` reports 'pure'/'surrogate' when every sampled
    frame took that path, else 'mixed' — the telemetry a pipeline needs
    to know how much of the signal is real pixels.  Non-AVI containers
    yield no row (mp4/mkv need a real demuxer — same boundary as
    ``sample_video_frames``).  Pair finding is ``hamming_near_pairs``.
    """
    from shardpack_spark.operators.multimodal import parse_avi

    vids = explode_entries(df).filter(
        F.col("content_type").startswith("video/")
    ).select("key", "file_name", "data")
    step = max(1, int(every_n))

    def hash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for key, fname, data in zip(pdf["key"], pdf["file_name"], pdf["data"]):
                try:
                    avi = parse_avi(bytes(data))
                except ValueError:
                    continue
                frames = [fb for stream, fb in avi["frames"] if stream == 0]
                sampled = frames[:: step][:max_frames]
                if not sampled:
                    continue
                votes = np.zeros(64)
                paths = set()
                for fb in sampled:
                    g, path = _frame_gray_path(fb, avi["width"], avi["height"])
                    paths.add(path)
                    votes += np.array(_dhash_bits(g), dtype="float64")
                hi, lo = _pack_bits([v * 2 > len(sampled) for v in votes])
                rows.append(
                    {
                        "sid": f"{key}/{fname}",
                        "sim_hi": hi,
                        "sim_lo": lo,
                        "decode_path": paths.pop() if len(paths) == 1 else "mixed",
                    }
                )
            yield pd.DataFrame(
                rows, columns=["sid", "sim_hi", "sim_lo", "decode_path"]
            )

    return vids.mapInPandas(hash_batch, TELEMETRY_SIGNATURE_SCHEMA)


def _check_band_tiling(bands: int, max_hamming: int) -> None:
    if bands not in (2, 4, 8, 16, 32):
        raise ValueError(
            f"bands must be one of 2/4/8/16/32 (even tiling of the two "
            f"32-bit halves), got {bands}"
        )
    if not 0 <= max_hamming <= bands - 1:
        raise ValueError(
            f"max_hamming must be in [0, bands-1] for the blocking "
            f"guarantee to hold, got max_hamming={max_hamming} bands={bands}"
        )


def _hamming_banded_rows(
    sig: DataFrame,
    bands: int,
    id_col: str = "sid",
    hi_col: str = "sim_hi",
    lo_col: str = "sim_lo",
) -> DataFrame:
    """(sid, sim_hi, sim_lo, band, key) banded rows — the Hamming-block
    shuffle key.  Shared by pair generation and the skew report so both
    see the SAME buckets (the analog of ``dedup._lsh_banded_rows``)."""
    width = 64 // bands
    half_bands = bands // 2
    sig = sig.select(
        F.col(id_col).alias("sid"),
        F.col(hi_col).alias("sim_hi"),
        F.col(lo_col).alias("sim_lo"),
    )

    def band_key(b: int) -> F.Column:
        src = F.col("sim_lo") if b < half_bands else F.col("sim_hi")
        return (
            F.shiftrightunsigned(src, (b % half_bands) * width)
            .bitwiseAND(F.lit((1 << width) - 1))
        )

    return sig.select(
        "sid",
        "sim_hi",
        "sim_lo",
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band"), band_key(b).alias("key"))
                for b in range(bands)
            ])
        ).alias("s"),
    ).select("sid", "sim_hi", "sim_lo", "s.band", "s.key")


def _drop_hot_buckets(banded: DataFrame, max_bucket_size: int) -> DataFrame:
    """Remove every (band, key) bucket larger than ``max_bucket_size``
    — the shared guard (see ``operators.skew`` for the plan shape)."""
    from shardpack_spark.operators.skew import drop_hot_buckets

    return drop_hot_buckets(banded, ["band", "key"], max_bucket_size)


def hamming_bucket_skew_report(
    sig: DataFrame,
    bands: int = 4,
    threshold: int = 1000,
    sample_ids: int = 8,
    id_col: str = "sid",
    hi_col: str = "sim_hi",
    lo_col: str = "sim_lo",
) -> DataFrame:
    """Hot-bucket report for the Hamming-band shuffle: one row per
    (band, key) slice bucket holding more than ``threshold`` signatures,
    with the bucket size and ``sample_ids`` member sids ->
    ``(band, key, bucket_size, sample_sids)``.

    The observability side of ``hamming_near_pairs``'s
    ``max_bucket_size`` guard, mirroring ``dedup.lsh_bucket_skew_report``
    for the 64-bit signature families: a degenerate signature — a
    flat/placeholder image dHashing to all-zero bits, boilerplate text
    SimHashing identically — puts m docs in one slice bucket and the
    banded self-join pays m^2 candidate rows on that one key.  Run with
    ``threshold = max_bucket_size`` to see exactly which buckets the cap
    WILL drop (count + representative members) before trading
    completeness for skew protection.

    Scale shape: shared with every skew report in the package
    (``operators.skew.bucket_skew_report``): partial-agg bucket sizing,
    broadcast semi-join to hot rows only, and deterministic hash
    thinning before the ranking window so the report itself survives
    the mega-bucket it diagnoses.
    """
    _check_band_tiling(bands, 0)
    from shardpack_spark.operators.skew import bucket_skew_report

    banded = _hamming_banded_rows(sig, bands, id_col, hi_col, lo_col)
    return bucket_skew_report(
        banded, ["band", "key"], "sid", threshold, sample_ids,
        sample_col="sample_sids",
    )


def hamming_near_pairs(
    sig: DataFrame,
    bands: int = 4,
    max_hamming: int = 3,
    id_col: str = "sid",
    hi_col: str = "sim_hi",
    lo_col: str = "sim_lo",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near pairs among 64-bit signatures: ``(sid_a, sid_b, hamming)``
    with ``hamming <= max_hamming``, via disjoint-band blocking.

    Guarantee: a pair at Hamming distance ``d`` differs in at most ``d``
    of the ``bands`` disjoint slices, so with ``max_hamming <= bands-1``
    it MUST agree on at least one slice — the banded equi-join's
    candidate set provably contains every qualifying pair, and the
    exact ``bit_count`` check on candidates discards the rest.  One
    shuffle on (band, slice-value); no pair-space materialization.

    ``max_bucket_size`` (opt-in) drops slice buckets larger than the cap
    before the self-join — the skew guard for adversarial corpora where
    one degenerate signature value (all-zero dHash from flat images,
    boilerplate SimHash) would otherwise cost m^2 candidate rows on a
    single shuffle key.  Capping can drop pairs from genuine clusters
    bigger than the cap; pair it with ``hamming_bucket_skew_report(sig,
    bands, threshold=max_bucket_size)`` so the loss is measured, never
    silent.  Default None = exact candidate semantics.

    ``bands`` must tile the two 32-bit halves evenly (2/4/8/16/32); the
    generalization of ``dedup.simhash_near_pairs`` shared by text
    SimHash, image dHash, and audio fingerprints.
    """
    _check_band_tiling(bands, max_hamming)
    slices = _hamming_banded_rows(sig, bands, id_col, hi_col, lo_col)
    if max_bucket_size is not None:
        slices = _drop_hot_buckets(slices, max_bucket_size)
    l, r = slices.alias("l"), slices.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.sid") < F.col("r.sid")),
        )
        .select(
            F.col("l.sid").alias("sid_a"),
            F.col("r.sid").alias("sid_b"),
            F.col("l.sim_hi").alias("ha_hi"),
            F.col("l.sim_lo").alias("ha_lo"),
            F.col("r.sim_hi").alias("hb_hi"),
            F.col("r.sim_lo").alias("hb_lo"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("ha_hi").bitwiseXOR(F.col("hb_hi"))) + F.bit_count(
        F.col("ha_lo").bitwiseXOR(F.col("hb_lo"))
    )
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("sid_a", "sid_b", "hamming")
    )


def hamming_near_pairs_against(
    new_sig: DataFrame,
    corpus_sig: DataFrame,
    bands: int = 4,
    max_hamming: int = 3,
    broadcast_new: bool = True,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near pairs BETWEEN two signature sets (never within one):
    ``(sid_new, sid_corpus, hamming)`` with ``hamming <= max_hamming``.

    The perceptual-dedup ingest shape, mirroring
    ``dedup.minhash_lsh_candidates_against``: the standing corpus's
    image/audio/video signatures are computed once and stored; each
    incoming batch is signed with the same construction and banded-joined
    against them.  With ``broadcast_new`` (the steady-state default —
    a batch is small next to the corpus) the corpus's banded rows are
    SCANNED but never SHUFFLED: per-batch cost is one corpus read plus
    O(|batch|) work, independent of corpus size in shuffle terms.  Set
    False for a backfill merging two large sets.

    Same completeness guarantee as ``hamming_near_pairs``: disjoint
    bands with ``max_hamming <= bands-1`` provably cover every
    qualifying cross pair.

    ``max_bucket_size`` (opt-in) caps CORPUS-side slice buckets — the
    cross-join blowup here is (hot corpus bucket) x (matching new rows),
    so the guard sits on the standing corpus, whose degenerate clusters
    accumulate over time.  The hot-bucket set is found with a partial-agg
    groupBy (shuffles only (band, key, count), never corpus rows) and
    removed via a broadcast anti-join, preserving the broadcast_new
    property that corpus rows are scanned but never shuffled.  Measure
    the loss first with ``hamming_bucket_skew_report(corpus_sig, bands,
    threshold=max_bucket_size)``.
    """
    _check_band_tiling(bands, max_hamming)
    width = 64 // bands
    half_bands = bands // 2

    def banded(sig: DataFrame, tag: str) -> DataFrame:
        def band_key(b: int) -> F.Column:
            src = F.col("sim_lo") if b < half_bands else F.col("sim_hi")
            return (
                F.shiftrightunsigned(src, (b % half_bands) * width)
                .bitwiseAND(F.lit((1 << width) - 1))
            )

        return sig.select(
            F.col("sid").alias(f"sid_{tag}"),
            F.col("sim_hi").alias(f"hi_{tag}"),
            F.col("sim_lo").alias(f"lo_{tag}"),
            F.explode(
                F.array(*[
                    F.struct(F.lit(b).alias("band"), band_key(b).alias("key"))
                    for b in range(bands)
                ])
            ).alias("s"),
        ).select(f"sid_{tag}", f"hi_{tag}", f"lo_{tag}", "s.band", "s.key")

    nb = banded(new_sig, "new")
    if broadcast_new:
        nb = F.broadcast(nb)
    cb = banded(corpus_sig, "corpus")
    if max_bucket_size is not None:
        cb = _drop_hot_buckets(cb, max_bucket_size)
    cand = (
        nb.join(cb, ["band", "key"])
        .select("sid_new", "hi_new", "lo_new", "sid_corpus", "hi_corpus", "lo_corpus")
        .distinct()
    )
    hamming = F.bit_count(F.col("hi_new").bitwiseXOR(F.col("hi_corpus"))) + F.bit_count(
        F.col("lo_new").bitwiseXOR(F.col("lo_corpus"))
    )
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("sid_new", "sid_corpus", "hamming")
    )
