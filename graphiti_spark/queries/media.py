"""Multimodal queries over the deterministic media corpus: image pHash
near-duplicates, video scene cuts and audio fingerprint dedup. Each
Spark query materializes its decoded feature table to the oracle scratch
directory, which its oracle then reads."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .shared import ORACLE_SCRATCH, _oracle_sf_dir

MEDIA_N = 120


def media_phash_path(sf_dir: str) -> str:
    import os

    tag = os.path.basename(sf_dir.rstrip("/"))
    return f"{ORACLE_SCRATCH}/{tag}/media_phash.parquet"


def q_media_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate pairs over the deterministic media corpus:
    REAL PNG decode -> perceptual hash (operators/multimodal) -> blocked
    Hamming pair join. The decode-dependent phash table is materialized
    to the oracle scratch (the persisted-feature-table pattern of the
    similarity queries — DuckDB cannot decode PNG, so the oracle verifies
    the pair logic over the same hashes while pytest pins the decode)."""
    from ..operators.multimodal import image_features, phash_near_pairs, synth_media

    path = media_phash_path(sf_dir)
    feats = image_features(synth_media(spark, MEDIA_N)).select("content_id", "phash")
    feats.write.mode("overwrite").parquet(path)
    return phash_near_pairs(spark.read.parquet(path)).select(
        "content_a", "content_b", "hamming"
    )


def _sql_media_phash_pairs() -> str:
    from ..operators.multimodal import PHASH_MAX_HAMMING

    # all-pairs over the 40-image scratch table — the pigeonhole blocking
    # in the Spark plan is recall-lossless at hamming <= 3, so the oracle
    # can afford the brute-force formulation
    return f"""
WITH f AS (SELECT * FROM read_parquet('{media_phash_path(_oracle_sf_dir())}/*.parquet'))
SELECT a.content_id AS content_a, b.content_id AS content_b,
       bit_count(xor(a.phash, b.phash)) AS hamming
FROM f a JOIN f b ON a.content_id < b.content_id
WHERE bit_count(xor(a.phash, b.phash)) <= {PHASH_MAX_HAMMING}"""


def media_scene_path(sf_dir: str) -> str:
    import os

    tag = os.path.basename(sf_dir.rstrip("/"))
    return f"{ORACLE_SCRATCH}/{tag}/media_scene_diffs.parquet"


def q_media_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video shot segmentation over the deterministic scene corpus: REAL
    Y4M demux -> per-transition mean luma delta (integer milli-units) ->
    threshold + per-clip scene rollup. The decode-dependent diff table is
    persisted to the oracle scratch (persisted-feature-table pattern);
    the oracle verifies the thresholding/rollup, pytest pins the decode
    and the planted cut positions (frames 4 and 8)."""
    from ..operators.multimodal import frame_diffs, scene_cuts, synth_clips

    path = media_scene_path(sf_dir)
    diffs = frame_diffs(synth_clips(spark, MEDIA_N // 2))
    diffs.write.mode("overwrite").parquet(path)
    return scene_cuts(spark.read.parquet(path))


def _sql_media_scene_cuts() -> str:
    from ..operators.multimodal import SCENE_CUT_MIN_U
    return f"""
WITH d AS (SELECT * FROM read_parquet('{media_scene_path(_oracle_sf_dir())}/*.parquet'))
SELECT content_id,
       CAST(count(*) AS BIGINT) AS n_transitions,
       CAST(sum(CASE WHEN diff_u >= {SCENE_CUT_MIN_U} THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
       CAST(sum(CASE WHEN diff_u >= {SCENE_CUT_MIN_U} THEN 1 ELSE 0 END) + 1 AS BIGINT) AS n_scenes,
       CAST(min(CASE WHEN diff_u >= {SCENE_CUT_MIN_U} THEN frame_idx END) AS BIGINT) AS first_cut_frame
FROM d GROUP BY 1"""


def media_audio_fp_path(sf_dir: str) -> str:
    import os

    tag = os.path.basename(sf_dir.rstrip("/"))
    return f"{ORACLE_SCRATCH}/{tag}/media_audio_fp.parquet"


def q_media_audio_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acoustic-fingerprint exact dedup over the media corpus: REAL WAV
    decode -> Shazam-style peak-pair fingerprint -> exact-match grouping
    (operators/multimodal). Same persisted-feature-table oracle pattern
    as media_phash_pairs: DuckDB verifies the grouping over the hashes
    the Spark decode stage materialized."""
    from ..operators.multimodal import audio_dup_groups, audio_fingerprints, synth_media

    path = media_audio_fp_path(sf_dir)
    fps = audio_fingerprints(synth_media(spark, MEDIA_N)).select(
        "content_id", "fingerprint"
    )
    fps.write.mode("overwrite").parquet(path)
    return audio_dup_groups(spark.read.parquet(path)).select(
        "fingerprint",
        F.col("n_clips").cast("long").alias("n_clips"),
        "canonical_id",
    )


def _sql_media_audio_dedup() -> str:
    return f"""
SELECT fingerprint, count(*) AS n_clips, min(content_id) AS canonical_id
FROM read_parquet('{media_audio_fp_path(_oracle_sf_dir())}/*.parquet')
WHERE fingerprint IS NOT NULL
GROUP BY 1"""
