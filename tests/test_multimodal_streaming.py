"""Multimodal image path (REAL PNG decode via functions/png.py) and the
Structured Streaming ingest path."""

from __future__ import annotations

import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from graphiti_spark.operators.multimodal import (
    decode_image_batch,
    image_features,
    resize_images,
    sample_frames,
    synth_media,
)


def test_decode_rejects_non_png():
    import pandas as pd

    with pytest.raises(ValueError):
        decode_image_batch(pd.Series([b"xx"]))


def test_decode_roundtrips_real_png():
    import pandas as pd

    from graphiti_spark.functions.png import png_encode

    rng = np.random.RandomState(3)
    arr = rng.randint(0, 256, size=(5, 7, 3)).astype(np.uint8)
    (got,) = decode_image_batch(pd.Series([png_encode(arr)]))
    assert (got == arr).all()


def test_image_features_deterministic(spark):
    media = synth_media(spark, 30)
    a = image_features(media).toPandas().sort_values("content_id")
    b = image_features(media).toPandas().sort_values("content_id")
    assert a["phash"].tolist() == b["phash"].tolist()
    assert (a["mean_r"] >= 0).all() and (a["mean_r"] <= 255).all()
    n_images = media.where("modality = 'image'").count()
    assert len(a) == n_images


def test_resize_emits_decodable_pngs(spark):
    from graphiti_spark.functions.png import png_decode

    media = synth_media(spark, 12)
    out = resize_images(media, w=4, h=3).toPandas()
    assert (out["width"] == 4).all() and (out["height"] == 3).all()
    for p in out["payload"]:
        assert png_decode(bytes(p)).shape == (3, 4, 3)


def test_frame_sampling_counts(spark):
    """Real Y4M rows sample on the container's own frame grid (fps 10,
    every 500ms -> every 5th stored frame); opaque mp4 rows take the
    declared-duration fallback."""
    from graphiti_spark.functions.y4m import y4m_decode

    media = synth_media(spark, 36)
    frames = sample_frames(media).toPandas()
    got = frames.groupby("content_id")["frame_idx"].count().to_dict()
    for r in media.where("modality = 'video'").collect():
        if r["mime"] == "video/x-yuv4mpeg":
            n_stored = len(y4m_decode(bytes(r["payload"]))[0])
            assert got[r["content_id"]] == len(range(0, n_stored, 5))
        else:
            assert got[r["content_id"]] == max(1, r["duration_ms"] // 500)


def test_frame_sampling_demuxes_real_pixels(spark):
    """A sampled frame from a Y4M payload must BE the container's frame:
    PNG-decode the sample and compare to the demuxed source (exact — both
    sides of the comparison went through the same YUV420 roundtrip)."""
    from graphiti_spark.functions.png import png_decode
    from graphiti_spark.functions.y4m import y4m_decode

    media = synth_media(spark, 12)
    row = (
        media.where("mime = 'video/x-yuv4mpeg'")
        .orderBy("content_id")
        .limit(1)
        .collect()[0]
    )
    src_frames, _ = y4m_decode(bytes(row["payload"]))
    out = (
        sample_frames(media.where(F.col("content_id") == row["content_id"]))
        .orderBy("frame_idx")
        .collect()
    )
    first = png_decode(bytes(out[0]["frame_payload"]))
    assert (first == src_frames[0]).all()


def test_audio_features_real_decode(spark):
    """audio_features decodes actual PCM: check rate/channels/duration
    against the synthesizer's parameters and RMS against a driver-side
    decode of the same payload."""
    from graphiti_spark.functions.wav import wav_decode
    from graphiti_spark.operators.multimodal import audio_features

    media = synth_media(spark, 24)
    feats = audio_features(media).toPandas().set_index("content_id")
    rows = media.where("modality = 'audio'").collect()
    assert len(feats) == len(rows)
    for r in rows:
        samples, rate = wav_decode(bytes(r["payload"]))
        f = feats.loc[r["content_id"]]
        assert f["sample_rate"] == rate == 8000
        assert f["n_channels"] == 2
        assert f["n_samples"] == samples.shape[0]
        mono = samples.mean(axis=1)
        assert abs(f["rms"] - float(np.sqrt(np.mean(mono**2)))) < 1e-9
        # mono mean of the two-tone stereo clip: ~0.3/0.25 amplitudes
        # -> RMS ~= sqrt(0.3^2/2 + 0.25^2/2) ~= 0.28
        assert 0.2 < f["rms"] < 0.5


def test_phash_near_pairs_finds_planted_dups(spark):
    """Rows i % 9 == 6 are corner-perturbed copies of image row i-3: the
    blocked Hamming join must recover exactly those pairs (and the
    perturbation must actually move >= 1 pixel block, so hamming can be
    0..3 but pairs must exist and be the planted ones)."""
    from graphiti_spark.operators.multimodal import (
        image_features,
        phash_near_pairs,
        synth_media,
    )

    media = synth_media(spark, 63)
    feats = image_features(media).select("content_id", "phash")
    pairs = {
        (r["content_a"], r["content_b"]): r["hamming"]
        for r in phash_near_pairs(feats).collect()
    }
    planted = {
        (f"m{i - 3:04d}", f"m{i:04d}")
        for i in range(63)
        if i % 3 == 0 and i % 9 == 6 and i >= 3
    }
    assert planted, "corpus must plant near-dups"
    for p in planted:
        assert p in pairs, (p, sorted(pairs))
    # no cross-pattern false positives: every reported pair is planted
    assert set(pairs) == planted


def test_wav_codec_roundtrip():
    from graphiti_spark.functions.wav import wav_decode, wav_encode

    t = np.arange(800) / 8000.0
    sig = np.stack([np.sin(2 * np.pi * 440 * t), np.cos(2 * np.pi * 220 * t)], axis=1)
    out, rate = wav_decode(wav_encode(sig, 8000))
    assert rate == 8000 and out.shape == (800, 2)
    assert np.abs(out - sig).max() < 1e-3
    with pytest.raises(ValueError):
        wav_decode(b"RIFFxxxxJUNK")


def test_y4m_codec_roundtrip():
    from graphiti_spark.functions.y4m import y4m_decode, y4m_encode

    g = np.zeros((48, 64, 3), np.uint8)
    g[:, :, 0] = np.linspace(0, 255, 64, dtype=np.uint8)[None, :]
    g[:, :, 1] = np.linspace(0, 255, 48, dtype=np.uint8)[:, None]
    frames, fps = y4m_decode(y4m_encode([g, g], fps=(30, 1)))
    assert fps == (30, 1) and len(frames) == 2
    # smooth content survives the 4:2:0 chroma roundtrip tightly
    assert float(np.abs(frames[0].astype(int) - g.astype(int)).mean()) < 2.0
    with pytest.raises(ValueError):
        y4m_decode(b"MPEG4...")


def test_streaming_ingest_roundtrip(spark, sf_dir, tmp_path):
    """File-stream pages -> foreachBatch extraction -> staged tables ->
    compaction produces the same triples as the batch pipeline."""
    from graphiti_spark.plans.pipeline import GraphTables, build_graph
    from graphiti_spark.sources.pages import build_pages
    from graphiti_spark.streaming.ingest import run_ingest

    def staged_edges():
        t = GraphTables(None)
        t.extracted = spark.read.parquet(f"{out_dir}/extracted")
        return t.edges

    pages_dir = str(tmp_path / "pages")
    out_dir = str(tmp_path / "staged")
    ckpt = str(tmp_path / "ckpt")

    pages = build_pages(spark, sf_dir).where(F.col("doc_id") < 60)
    pages.coalesce(2).write.parquet(pages_dir)

    q = run_ingest(spark, pages_dir, out_dir, ckpt)
    q.awaitTermination(120)

    edges = staged_edges()
    batch = build_graph(spark, sf_dir, pages=spark.read.parquet(pages_dir))
    a = edges.select("group_id", "source_node_uuid", "name", "target_node_uuid")
    b = batch.edges.select("group_id", "source_node_uuid", "name", "target_node_uuid")
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0

    # idempotent re-delivery: restart with same checkpoint adds nothing
    q2 = run_ingest(spark, pages_dir, out_dir, ckpt)
    q2.awaitTermination(120)
    edges2 = staged_edges()
    assert edges2.count() == edges.count()


def test_audio_fingerprint_dedup_groups_planted_dups(spark):
    """Audio rows i % 9 == 7 are dithered re-encodes of row i-3: the
    peak-pair fingerprints must match exactly within a planted pair and
    differ across distinct base clips."""
    from graphiti_spark.operators.multimodal import (
        audio_dup_groups,
        audio_fingerprints,
        synth_media,
    )

    media = synth_media(spark, 63)
    fps = audio_fingerprints(media).toPandas().set_index("content_id")
    planted = [
        (f"m{i - 3:04d}", f"m{i:04d}")
        for i in range(63)
        if i % 3 == 1 and i % 9 == 7 and i >= 3
    ]
    assert planted
    for a, b in planted:
        assert fps.loc[a, "fingerprint"] == fps.loc[b, "fingerprint"], (a, b)
    groups = audio_dup_groups(
        audio_fingerprints(media).select("content_id", "fingerprint")
    ).toPandas()
    dup_groups = groups[groups.n_clips >= 2]
    assert len(dup_groups) == len(planted)
    assert set(dup_groups.canonical_id) == {a for a, _ in planted}
    # all non-planted clips are singletons: base identities are distinct
    assert (groups.n_clips <= 2).all()


def test_scene_cuts_planted_positions(spark):
    """Clips have 1-3 scenes of 4 frames: cuts land exactly at frames 4
    and 8; in-scene panning never clears the threshold (margin check)."""
    from graphiti_spark.operators.multimodal import (
        SCENE_CUT_MIN_U,
        frame_diffs,
        scene_cuts,
        synth_clips,
    )

    clips = synth_clips(spark, 9)
    diffs = frame_diffs(clips).toPandas()
    # margin: every in-scene transition is far below, every cut far above
    in_scene = diffs[~diffs["frame_idx"].isin([4, 8])]
    cuts = diffs[diffs["frame_idx"].isin([4, 8])]
    assert in_scene["diff_u"].max() < SCENE_CUT_MIN_U // 2
    assert (cuts["diff_u"] > 2 * SCENE_CUT_MIN_U).all()
    out = {r["content_id"]: r.asDict()
           for r in scene_cuts(frame_diffs(clips)).collect()}
    for i in range(9):
        want_scenes = 1 + i % 3
        got = out[f"c{i:04d}"]
        assert got["n_scenes"] == want_scenes
        assert got["n_transitions"] == want_scenes * 4 - 1
        assert got["first_cut_frame"] == (4 if want_scenes > 1 else None)
