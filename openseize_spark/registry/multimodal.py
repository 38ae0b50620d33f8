"""Multimodal queries over the SQL-replayable media table (md5-chain
payloads), so the fake-decode byte math is hash-checkable in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from openseize_spark.llm import multimodal

from openseize_spark.registry import register


def q_audio_features(spark, sf_dir):
    from openseize_spark.llm import multimodal

    media = multimodal.synthetic_media_sqlgen(spark, n=24)

    # injected decoder: tile the 256 payload bytes 8x -> a 2048-sample
    # wave, short enough that the DuckDB naive-DFT welch replay stays
    # cheap; also exercises the decode_fn seam on the gate path.
    def _short_wave(payload, meta):
        import numpy as np

        arr = np.frombuffer(payload, dtype=np.uint8).astype(np.float64)
        return np.tile(arr / 127.5 - 1.0, 8)

    return multimodal.audio_features(
        media, fs=2048.0, nfft=64, decode_fn=_short_wave
    ).select(
        "media_id",
        F.round("rms", 6).alias("rms"),
        F.round("low_band", 6).alias("low_band"),
        F.round("high_band", 6).alias("high_band"),
    )


register("audio_features", q_audio_features, lambda: multimodal.audio_features_oracle_sql(n=24))


def q_frame_sample(spark, sf_dir):
    from openseize_spark.llm import multimodal

    media = multimodal.synthetic_media_sqlgen(spark, n=24)
    return multimodal.frame_sample(
        media, every_n=2, deterministic_fake=True
    ).select(
        "media_id", "frame_idx", F.round("frame_mean", 9).alias("frame_mean")
    )


register("frame_sample", q_frame_sample, lambda: multimodal.frame_sample_oracle_sql(n=24))


def q_resize_images(spark, sf_dir):
    from openseize_spark.llm import multimodal

    media = multimodal.synthetic_media_sqlgen(spark, n=24)
    small = multimodal.resize_images(media, 32, 24, deterministic_fake=True)
    return multimodal.image_features(small, deterministic_fake=True).select(
        "media_id",
        F.round("mean", 9).alias("mean"),
        F.round("std", 9).alias("std"),
        F.round("edge_energy", 9).alias("edge_energy"),
    )


register("resize_images", q_resize_images, lambda: multimodal.resize_features_oracle_sql(n=24))


def q_image_features(spark, sf_dir):
    from openseize_spark.llm import multimodal

    media = multimodal.synthetic_media_sqlgen(spark, n=24)
    return multimodal.image_features(media, deterministic_fake=True).select(
        "media_id",
        F.round("mean", 9).alias("mean"),
        F.round("std", 9).alias("std"),
        F.round("edge_energy", 9).alias("edge_energy"),
    )


register("image_features", q_image_features, lambda: multimodal.image_features_oracle_sql(n=24))


def q_scene_cuts(spark, sf_dir):
    """Video scene-cut detection (llm/multimodal.scene_cuts): per
    video, a cut fires where consecutive frame-mean luminance
    changes by more than the threshold — the shot-boundary pass
    of a video-pretraining pipeline, on the same injectable
    decode seam and SQL-replayable fake as frame_sample.  Frame
    means round to 9 digits before the lag/diff (numpy pairwise
    vs SQL sequential mean last-ulp), so deltas land on the 1e-9
    grid and quantize identically in both engines.  The
    frame-explosion / per-video-window plumbing is real; only decode
    is stubbed."""
    from openseize_spark.llm import multimodal

    media = multimodal.synthetic_media_sqlgen(spark, n=24)
    return multimodal.scene_cuts(
        media, threshold=0.0002, deterministic_fake=True
    )


register("scene_cuts", q_scene_cuts, lambda: multimodal.scene_cuts_oracle_sql(n=24, threshold=0.0002))


def q_audio_vad(spark, sf_dir):
    """Voice-activity segments (llm/multimodal.audio_vad):
    200-sample frame energies over the fake-decoded waveform as
    EXACT integer byte-lattice sums Σ(2b-255)², division-derived
    energy units, per-media integer activity threshold
    (u·n_frames > Σu), lag-gap island merge into segments — the
    speech-span pre-filter before ASR.  Same injectable decode
    seam as audio_features/scene_cuts."""
    from openseize_spark.llm import multimodal

    media = multimodal.synthetic_media_sqlgen(spark, n=24)
    return multimodal.audio_vad(
        media, frame_len=200, deterministic_fake=True
    )


register("audio_vad", q_audio_vad, lambda: multimodal.audio_vad_oracle_sql(n=24, frame_len=200))
