"""Multimodal columns: image/audio/video as opaque BINARY columns with
typed metadata, processed via Arrow-batched mapInPandas.

ALL THREE modalities are REAL end-to-end, on pure-numpy codecs for
public formats (no imaging/codec libraries exist in this sandbox):

- image: PNG via functions/png.py (8-bit RGB/RGBA, all filter types) —
  features/resize operate on actual pixels, resize re-encodes real PNGs;
- audio: WAV (RIFF/PCM 8/16-bit) via functions/wav.py — features (RMS,
  zero-crossings, duration) computed on actual decoded samples;
- video: YUV4MPEG2 container via functions/y4m.py — REAL demux of the
  frame stream, fps-aware sampling, sampled frames re-encoded as PNGs.
  Payloads in compressed containers this sandbox can't decode (mp4 etc.)
  fall back to a clearly-marked deterministic synthesized frame so the
  explode shape survives mixed corpora.

Swapping these codecs for PIL / soundfile / pyav in production only
changes the inside of the batch function — every Spark plan stays
identical (bytes in, arrays out).

At 100 TB: media tables are partitioned by (modality, bucket(content_id));
decode stages are the rare CPU-heavy Python stages where
`spark.sql.execution.arrow.maxRecordsPerBatch` must be tuned DOWN (big
blobs per row) — set ~64 rows per batch for megabyte-scale blobs.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from ..functions.png import png_decode, png_encode
from ..functions.wav import wav_decode, wav_encode
from ..functions.y4m import y4m_decode, y4m_encode
from ..session import local_frame

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("content_id", T.StringType(), False),
        T.StructField("modality", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
    ]
)

IMAGE_FEATURES_SCHEMA = (
    "content_id string, n_bytes long, width int, height int, mean_r double,"
    " mean_g double, mean_b double, phash long"
)

FRAME_SCHEMA = "content_id string, frame_idx long, frame_payload binary"


def _synth_pixels(i: int, w: int, h: int) -> np.ndarray:
    """Deterministic RGB test image: seeded coarse 8x8 block structure
    (so perceptual hashes are DISTINCTIVE per seed — a plain gradient
    hashes near-identically for every seed) + mild gradient + noise."""
    rng = np.random.RandomState(i)
    blocks = rng.randint(0, 224, size=(8, 8, 3))
    base = (
        blocks.repeat(h // 8 + 1, axis=0)[:h].repeat(w // 8 + 1, axis=1)[:, :w]
    )
    yy, xx = np.mgrid[0:h, 0:w]
    grad = (xx * 24 // max(w - 1, 1) + yy * 24 // max(h - 1, 1))[:, :, None]
    noise = rng.randint(0, 8, size=(h, w, 3))
    return np.clip(base + grad + noise, 0, 255).astype(np.uint8)


AUDIO_RATE = 8000  # Hz of every synthesized clip


def _synth_audio_samples(i: int) -> np.ndarray:
    """Deterministic 1s stereo PCM: two tones at integer-Hz bins (exact
    rfft bins at 1s/8kHz, so peak positions are noise-robust) + seeded
    noise. The tone pair (f0, f0+7) is distinct per seed modulo 41 —
    coprime with the audio-row stride 3, so no two base clips in a
    <=123-row corpus share a spectral identity."""
    rng = np.random.RandomState(i)
    n = AUDIO_RATE  # exactly 1 s -> 1 Hz rfft bins
    t = np.arange(n) / AUDIO_RATE
    f0 = 50.0 * (1 + i % 41)
    left = 0.6 * np.sin(2 * np.pi * f0 * t) + 0.05 * rng.randn(n)
    right = 0.5 * np.sin(2 * np.pi * (f0 + 7) * t) + 0.05 * rng.randn(n)
    return np.clip(np.stack([left, right], axis=1), -1, 1)


def _synth_audio(i: int) -> tuple[bytes, int]:
    """Returns (wav_bytes, duration_ms) for the seeded clip."""
    sig = _synth_audio_samples(i)
    return wav_encode(sig, AUDIO_RATE), int(round(1000.0 * sig.shape[0] / AUDIO_RATE))


def _synth_video(i: int, w: int, h: int) -> tuple[bytes, int]:
    """Deterministic 10 fps Y4M clip: 3-8 gradient frames with a moving
    phase. Returns (y4m_bytes, duration_ms)."""
    fps = 10
    n_frames = 3 + i % 6
    frames = [_synth_pixels(i * 100 + k, w, h) for k in range(n_frames)]
    return y4m_encode(frames, fps=(fps, 1)), int(round(1000.0 * n_frames / fps))


def synth_media(spark, n: int = 64) -> DataFrame:
    """Deterministic media table for tests — ALL payloads are real,
    decodable containers: PNG images, RIFF/PCM WAV audio, YUV4MPEG2
    video. Every 9th video row is an opaque (mp4-like) payload to pin
    the mixed-corpus fallback path of sample_frames."""
    rows = []
    for i in range(n):
        rng = np.random.RandomState(i)
        modality = ["image", "audio", "video"][i % 3]
        # even dimensions — Y4M C420 requires them
        w = 64 + 2 * (i % 8) if modality != "audio" else None
        h = 48 + 2 * (i % 8) if modality != "audio" else None
        duration_ms = None
        if modality == "image":
            if i % 9 == 6 and i >= 3:
                # near-duplicate of image row i-3 (an image row, and one
                # that is never itself perturbed since (i-3) % 9 == 3):
                # the EXACT same pixels — rendered at row i-3's dims —
                # except one inverted corner block, i.e. a handful of
                # phash bits at most, so the near-dup pair detector has
                # deterministic positives to find
                w = 64 + 2 * ((i - 3) % 8)
                h = 48 + 2 * ((i - 3) % 8)
                px = _synth_pixels(i - 3, w, h).copy()
                px[:2, :2, :] = 255 - px[:2, :2, :]
                payload, mime = png_encode(px), "image/png"
            else:
                payload, mime = png_encode(_synth_pixels(i, w, h)), "image/png"
        elif modality == "audio":
            if i % 9 == 7 and i >= 3:
                # near-duplicate of audio row i-3 ((i-3) % 9 == 4, never
                # itself perturbed): the same samples re-encoded with a
                # tiny seeded dither — inaudible, peak bins unchanged, so
                # the fingerprint dedup has deterministic positives
                sig = np.clip(
                    _synth_audio_samples(i - 3)
                    + 0.002 * np.random.RandomState(i).randn(8000, 2),
                    -1,
                    1,
                )
                payload, duration_ms = wav_encode(sig, AUDIO_RATE), 1000
            else:
                payload, duration_ms = _synth_audio(i)
            mime = "audio/wav"
        elif i % 9 == 5:  # opaque compressed container (no codec here)
            payload, mime = rng.bytes(256 + (i % 5) * 64), "video/mp4"
            duration_ms = 1000 + 37 * i
        else:
            payload, duration_ms = _synth_video(i, w, h)
            mime = "video/x-yuv4mpeg"
        rows.append(
            (f"m{i:04d}", modality, bytearray(payload), mime, w, h, duration_ms)
        )
    return local_frame(spark, rows, MEDIA_SCHEMA)


def decode_image_batch(payloads: pd.Series) -> list[np.ndarray]:
    """bytes -> HxWxC uint8 pixel arrays (real PNG decode). This is the
    swap point for PIL/turbojpeg in production — same contract."""
    return [png_decode(bytes(p)) for p in payloads]


def _phash(arr: np.ndarray) -> np.int64:
    """64-bit average-hash: grayscale -> 8x8 index sample -> median
    threshold."""
    gray = arr[:, :, :3].mean(axis=2)
    h, w = gray.shape
    yi = (np.arange(8) * h // 8).clip(0, h - 1)
    xi = (np.arange(8) * w // 8).clip(0, w - 1)
    small = gray[np.ix_(yi, xi)].ravel()
    bits = small > np.median(small)
    v = 0
    for b in range(63):
        if bits[b]:
            v |= 1 << b
    return np.int64(v - ((1 << 63) if bits[63] else 0))


def image_features(media: DataFrame) -> DataFrame:
    """Decode -> dimensions + per-channel means + perceptual-hash
    fingerprint. Only image rows are shipped to Python (filter pushed
    before the UDF); one decode per row, numpy per batch."""
    imgs = media.where(F.col("modality") == "image").select("content_id", "payload")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            arrs = decode_image_batch(pdf["payload"])
            means = np.stack([a[:, :, :3].mean(axis=(0, 1)) for a in arrs])
            yield pd.DataFrame(
                {
                    "content_id": pdf["content_id"].to_numpy(),
                    "n_bytes": pdf["payload"].map(len).astype(np.int64),
                    "width": np.array([a.shape[1] for a in arrs], dtype=np.int32),
                    "height": np.array([a.shape[0] for a in arrs], dtype=np.int32),
                    "mean_r": means[:, 0],
                    "mean_g": means[:, 1],
                    "mean_b": means[:, 2],
                    "phash": np.array([_phash(a) for a in arrs], dtype=np.int64),
                }
            )

    return imgs.mapInPandas(gen, schema=IMAGE_FEATURES_SCHEMA)


def resize_images(media: DataFrame, w: int, h: int) -> DataFrame:
    """Decode -> nearest-neighbor resize on real pixels -> re-encode as
    PNG. Binary-in/binary-out, the production resize-stage shape."""
    imgs = media.where(F.col("modality") == "image").select("content_id", "payload")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out = []
            for p in decode_image_batch(pdf["payload"]):
                yi = (np.arange(h) * p.shape[0] // h).clip(0, p.shape[0] - 1)
                xi = (np.arange(w) * p.shape[1] // w).clip(0, p.shape[1] - 1)
                out.append(png_encode(p[np.ix_(yi, xi)]))
            yield pd.DataFrame(
                {
                    "content_id": pdf["content_id"].to_numpy(),
                    "payload": out,
                    "width": np.int32(w),
                    "height": np.int32(h),
                }
            )

    return imgs.mapInPandas(
        gen,
        schema="content_id string, payload binary, width int, height int",
    )


AUDIO_FEATURES_SCHEMA = (
    "content_id string, n_bytes long, sample_rate int, n_channels int,"
    " n_samples long, duration_ms long, rms double, peak double,"
    " zero_crossings long"
)


def audio_features(media: DataFrame) -> DataFrame:
    """REAL audio decode (RIFF/PCM via functions/wav.py) -> clip-level
    features on actual samples: RMS energy, peak amplitude, zero-crossing
    count of the channel mean — the shape a loudness/VAD/quality filter
    stage takes at crawl scale. Undecodable payloads yield a row with
    null sample fields (counted, never dropped silently)."""
    auds = media.where(F.col("modality") == "audio").select("content_id", "payload")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = []
            for cid, p in zip(pdf["content_id"], pdf["payload"]):
                raw = bytes(p)
                try:
                    samples, rate = wav_decode(raw)
                except ValueError:
                    rows.append((cid, len(raw), None, None, None, None,
                                 None, None, None))
                    continue
                mono = samples.mean(axis=1)
                rows.append(
                    (
                        cid,
                        len(raw),
                        rate,
                        samples.shape[1],
                        samples.shape[0],
                        int(round(1000.0 * samples.shape[0] / rate)),
                        float(np.sqrt(np.mean(mono**2))),
                        float(np.abs(samples).max()),
                        int(np.count_nonzero(np.diff(np.signbit(mono)))),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "content_id", "n_bytes", "sample_rate", "n_channels",
                    "n_samples", "duration_ms", "rms", "peak", "zero_crossings",
                ],
            )

    return auds.mapInPandas(gen, schema=AUDIO_FEATURES_SCHEMA)


def sample_frames(media: DataFrame) -> DataFrame:
    """Video frame sampling with REAL container demux: Y4M payloads are
    demuxed (functions/y4m.py), frames are selected at every_ms = 500 ms
    intervals
    using the container's own fps, and each sampled frame is re-encoded
    as a real PNG. Output explodes one row per sampled frame — the
    UDTF-like batch shape; swapping in pyav/ffmpeg for compressed
    containers only changes the frame source. Payloads that are NOT a
    container this sandbox can decode (e.g. mp4) take the documented
    fallback: one deterministic synthesized placeholder frame per
    every_ms of declared duration, seeded from the payload bytes."""
    vids = media.where(F.col("modality") == "video").select(
        "content_id", "payload", "duration_ms"
    )
    every_ms = 500

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import zlib

        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids, idxs, frames = [], [], []
            for cid, p, dur in zip(
                pdf["content_id"], pdf["payload"], pdf["duration_ms"]
            ):
                raw = bytes(p)
                try:
                    decoded, (fn, fd) = y4m_decode(raw)
                except ValueError:
                    decoded = None
                if decoded is not None:
                    # real path: frame k is at t = k * fd/fn seconds
                    step = max(1, int(round(every_ms * fn / (1000.0 * fd))))
                    for out_idx, k in enumerate(range(0, len(decoded), step)):
                        ids.append(cid)
                        idxs.append(out_idx)
                        frames.append(png_encode(decoded[k]))
                    continue
                # fallback (compressed container, no codec in sandbox)
                n = max(1, int(dur or 0) // every_ms)
                for k in range(n):
                    seed = zlib.crc32(raw + k.to_bytes(4, "little")) & 0x7FFFFFFF
                    ids.append(cid)
                    idxs.append(k)
                    frames.append(png_encode(_synth_pixels(seed % 10_000, 8, 8)))
            yield pd.DataFrame(
                {"content_id": ids, "frame_idx": np.array(idxs, dtype=np.int64),
                 "frame_payload": frames}
            )

    return vids.mapInPandas(gen, schema=FRAME_SCHEMA)


PHASH_MAX_HAMMING = 3  # near-duplicate image bound (shared with the oracle)


def phash_near_pairs(feats: DataFrame) -> DataFrame:
    """Image near-duplicate pairs by perceptual-hash Hamming distance —
    the multimodal leg of the dedup stack (same pigeonhole blocking as
    operators/dedup.simhash_near_pairs: any pair within Hamming distance
    3 of a 64-bit hash agrees on at least one of its four 16-bit chunks,
    so the join is blocked on (chunk_idx, chunk_value) and NEVER
    all-pairs; the full distance is verified JVM-side with bit_count).

    feats: (content_id, phash long) — the decode-dependent half comes
    from image_features; this half is pure JVM and scale-safe.
    """
    chunk = lambda c: f"shiftright(phash, {16 * c}) & 65535"  # noqa: E731
    chunk_structs = ", ".join(
        f"struct({c} as chunk, ({chunk(c)}) as val)" for c in range(4)
    )
    chunks = feats.select(
        "content_id",
        "phash",
        F.explode(F.expr(f"array({chunk_structs})")).alias("x"),
    ).select(
        "content_id", "phash",
        F.col("x.chunk").alias("chunk"), F.col("x.val").alias("val"),
    )
    l, r = chunks.alias("l"), chunks.alias("r")
    return (
        l.join(
            r,
            (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col("l.val") == F.col("r.val"))
            & (F.col("l.content_id") < F.col("r.content_id")),
        )
        .select(
            F.col("l.content_id").alias("content_a"),
            F.col("r.content_id").alias("content_b"),
            F.expr("bit_count(l.phash ^ r.phash)").cast("long").alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= PHASH_MAX_HAMMING)
    )


AUDIO_FP_SCHEMA = "content_id string, fingerprint long, peak_hz int, peak2_hz int"


def audio_fingerprints(media: DataFrame) -> DataFrame:
    """Acoustic fingerprint per clip — the peak-pair hashing scheme
    (Shazam-style constellation reduced to its two strongest spectral
    peaks): REAL WAV decode -> mono -> rfft magnitude -> top-2 bins ->
    fingerprint = p1 * 8192 + p2. Re-encoded / lightly-dithered copies
    of the same recording keep their peak bins, so exact-match grouping
    on the fingerprint is the audio leg of the dedup stack (the batch
    shape: one narrow Python decode stage, then pure JVM groupBy).
    Undecodable payloads yield a null fingerprint row."""
    auds = media.where(F.col("modality") == "audio").select("content_id", "payload")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = []
            for cid, p in zip(pdf["content_id"], pdf["payload"]):
                try:
                    samples, rate = wav_decode(bytes(p))
                except ValueError:
                    rows.append((cid, None, None, None))
                    continue
                spec = np.abs(np.fft.rfft(samples.mean(axis=1)))
                spec[0] = 0.0  # ignore DC
                p1 = int(np.argmax(spec))
                spec[p1] = 0.0
                p2 = int(np.argmax(spec))
                hz = rate / (2.0 * (len(spec) - 1))  # bin width
                rows.append(
                    (cid, p1 * 8192 + p2, int(round(p1 * hz)), int(round(p2 * hz)))
                )
            yield pd.DataFrame(
                rows, columns=["content_id", "fingerprint", "peak_hz", "peak2_hz"]
            )

    return auds.mapInPandas(gen, schema=AUDIO_FP_SCHEMA)


def audio_dup_groups(fps: DataFrame) -> DataFrame:
    """Exact-match grouping over acoustic fingerprints: (fingerprint,
    n_clips, canonical = min content_id) — the audio twin of
    docs.exact_dup_groups, pure JVM over the skinny fingerprint table."""
    return fps.where(F.col("fingerprint").isNotNull()).groupBy("fingerprint").agg(
        F.count(F.lit(1)).alias("n_clips"),
        F.min("content_id").alias("canonical_id"),
    )


def _scene_frame(scene_seed: int, k: int, w: int, h: int) -> np.ndarray:
    """Frame k of a scene: the scene's block image under a slow exposure
    drift (+2 luma per frame). Same content, ~2-luma per-step delta —
    far below any cut, which swaps the whole block structure (~30+ luma
    mean delta). The margin is what separates in-scene motion from a
    hard cut for the detector."""
    base = _synth_pixels(scene_seed, w, h).astype(np.int64)
    return np.clip(base + 2 * k, 0, 255).astype(np.uint8)


def synth_clips(spark, n: int = 24) -> DataFrame:
    """Deterministic scene-cut corpus: each clip is 1-3 'scenes' of a
    panning block image, concatenated with HARD cuts (a completely
    different block image) at known frame positions. Real Y4M payloads
    throughout. Clip i has 1 + i % 3 scenes of 4 frames each, so the
    ground-truth cut positions are frames 4 and 8 (when present)."""
    rows = []
    for i in range(n):
        w, h = 64 + 2 * (i % 4), 48 + 2 * (i % 4)
        n_scenes = 1 + i % 3
        frames = []
        for s in range(n_scenes):
            for k in range(4):
                frames.append(_scene_frame(9000 + i * 10 + s, k, w, h))
        rows.append(
            (f"c{i:04d}", "video", bytearray(y4m_encode(frames, fps=(10, 1))),
             "video/x-yuv4mpeg", w, h, int(1000.0 * len(frames) / 10))
        )
    return local_frame(spark, rows, MEDIA_SCHEMA)


DIFF_SCHEMA = "content_id string, frame_idx long, diff_u long"


def frame_diffs(media: DataFrame) -> DataFrame:
    """Per-transition luma difference table: for every consecutive frame
    pair of every decodable video, the mean absolute luma delta in
    milli-units (integer — sum of |ΔY| * 1000 div n_pixels). This is the
    decode-dependent half of scene-cut detection; the relational half
    (thresholding, scene counting) runs JVM-side / in the oracle over
    this table. One demux per clip inside mapInPandas; output is skinny
    (id, idx, long) rows — frames never leave the Python worker."""
    vids = media.where(F.col("modality") == "video").select(
        "content_id", "payload"
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids, idxs, diffs = [], [], []
            for cid, p in zip(pdf["content_id"], pdf["payload"]):
                try:
                    decoded, _ = y4m_decode(bytes(p))
                except ValueError:
                    continue  # opaque container: no frame access
                prev = None
                for k, fr in enumerate(decoded):
                    luma = (
                        299 * fr[:, :, 0].astype(np.int64)
                        + 587 * fr[:, :, 1].astype(np.int64)
                        + 114 * fr[:, :, 2].astype(np.int64)
                    ) // 1000
                    if prev is not None:
                        d = int(
                            np.abs(luma - prev).sum() * 1000 // luma.size
                        )
                        ids.append(cid)
                        idxs.append(k)
                        diffs.append(d)
                    prev = luma
            yield pd.DataFrame(
                {
                    "content_id": ids,
                    "frame_idx": np.array(idxs, dtype=np.int64),
                    "diff_u": np.array(diffs, dtype=np.int64),
                }
            )

    return vids.mapInPandas(gen, schema=DIFF_SCHEMA)


SCENE_CUT_MIN_U = 20_000  # 20 luma levels mean delta — far above pan noise


def scene_cuts(diffs: DataFrame) -> DataFrame:
    """Hard-cut detection + per-clip scene count over the frame-diff
    table: a cut is a transition whose mean luma delta clears
    SCENE_CUT_MIN_U. Returns one row per clip: (content_id, n_transitions,
    n_cuts, n_scenes, first_cut_frame) — the shot-segmentation summary a
    video curation pipeline keys on. Pure groupBy over the skinny diff
    table (codegen'd; no Python)."""
    is_cut = (F.col("diff_u") >= SCENE_CUT_MIN_U).cast("long")
    return diffs.groupBy("content_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_transitions"),
        F.sum(is_cut).cast("long").alias("n_cuts"),
        (F.sum(is_cut) + 1).cast("long").alias("n_scenes"),
        F.min(F.when(F.col("diff_u") >= SCENE_CUT_MIN_U, F.col("frame_idx")))
        .cast("long")
        .alias("first_cut_frame"),
    )
