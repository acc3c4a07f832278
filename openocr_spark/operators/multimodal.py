"""Audio/video multimodal operators — the non-image legs of the
opaque-binary-column model (brief: image/audio/video as `binary`
columns with typed metadata; decode / feature-extract / frame-sample
as row kernels over Arrow batches).

Both operators follow decode_media's plan shape: embarrassingly
parallel per payload, no shuffle (the input partitioning carries
through), 1→N explode for frames. At 100 TB the payload column never
crosses a shuffle — these run directly on the scan partitioning, the
same argument as the media decode path.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from openocr_spark.rowmap import map_rows

AUDIO_SCHEMA = (
    "media_ref string, sample_rate int, n_channels int, n_samples long, "
    "duration_ms double, rms double, peak double"
)

VIDEO_FRAME_SCHEMA = (
    "media_ref string, frame_idx int, height int, width int, mean_px double"
)


def audio_stats(
    df: DataFrame, ref_col: str = "media_ref", payload_col: str = "payload"
) -> DataFrame:
    """WAV payloads → per-clip feature stats (duration, RMS, peak) —
    the audio feature-extract leg. Undecodable payloads fail the task
    loudly (the corpus-hygiene stance: a silent skip hides corrupt
    shards)."""
    from openocr_spark.kernels.riff_media import decode_wav

    def kernel(row):
        samples, rate = decode_wav(row[payload_col])
        n = samples.shape[0]
        yield {
            "media_ref": row[ref_col],
            "sample_rate": rate,
            "n_channels": samples.shape[1],
            "n_samples": n,
            "duration_ms": round(n * 1000.0 / rate, 6),
            "rms": round(
                float(np.sqrt(np.mean(np.square(samples)))) if n else 0.0, 6
            ),
            "peak": round(float(np.max(np.abs(samples))) if n else 0.0, 6),
        }

    return map_rows(df.select(ref_col, payload_col), kernel, AUDIO_SCHEMA)


def video_frame_sample(
    df: DataFrame,
    every_n: int = 1,
    ref_col: str = "media_ref",
    payload_col: str = "payload",
) -> DataFrame:
    """AVI/MJPEG payloads → every_n-sampled frames, 1→N exploded (the
    frame-sample leg). The stride is applied at the container-chunk
    level inside the kernel, so unsampled frames are never
    entropy-decoded; frame_idx indexes the FIRST video stream's
    non-empty frames (drop-frame placeholders and other stream ids are
    excluded by the kernel — see decode_avi_frames)."""
    from openocr_spark.kernels.riff_media import decode_avi_frames

    def kernel(row):
        for k, px in enumerate(decode_avi_frames(row[payload_col], every_n)):
            yield {
                "media_ref": row[ref_col],
                "frame_idx": k * every_n,
                "height": px.shape[0],
                "width": px.shape[1],
                "mean_px": round(float(px.mean()), 6),
            }

    return map_rows(df.select(ref_col, payload_col), kernel, VIDEO_FRAME_SCHEMA)
