"""Multimodal ingest plans: video frame sampling and audio chunking.

The decode-free half of a multimodal training-data pipeline: per-asset
metadata (duration, fps, sample rate) is synthesized from documents as
exact integer functions of ``doc_id``, and the distributed planner owns
the sampling and chunking SCHEDULES. The media decode itself (ffmpeg,
PIL) is out of scope, so every quantity here is exact integer
arithmetic on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def synth_video_meta(docs: DataFrame) -> DataFrame:
    """Deterministic VIDEO metadata derived from documents (the same
    derivation pattern as the geocode): duration and fps are integer
    functions of doc_id, so every frame-plan quantity is exact integer
    arithmetic on both engines."""
    return docs.select(
        F.col("doc_id").alias("video_id"),
        (F.lit(2000) + (F.col("doc_id") * 37) % 58000)
        .cast("int").alias("duration_ms"),
        (F.lit(24) + (F.col("doc_id") % 3) * 3).cast("int").alias("fps"),
    )


def frame_sample_plan(videos: DataFrame, every_ms: int = 1000,
                      max_frames: int = 32) -> DataFrame:
    """Frame-sampling schedule for video ingest — the decode-free half
    of the video pipeline (the ffmpeg decode is out of scope; the
    SCHEDULE is what the distributed planner owns): sample one frame
    every ``every_ms`` capped at ``max_frames``, evenly re-strided when
    the cap binds (the standard uniform-k fallback).

    Per video: n_frames (total decoded frames available), n_samples,
    stride_ms (actual spacing used), and an order-insensitive digest of
    the sampled frame INDICES (sum) — all exact integers.
    """
    e = int(every_ms)
    m = int(max_frames)
    if m < 1:
        raise ValueError(f"max_frames must be >= 1, got {m}")
    base = videos.select(
        "video_id", "duration_ms", "fps",
        F.expr("CAST(duration_ms AS BIGINT) * fps div 1000")
        .alias("n_frames"),
        F.expr(f"duration_ms div {e} + 1").alias("want"),
    )
    # m == 1 would divide by zero in the re-stride (duration div (m-1));
    # a single sample is frame 0 with no spacing
    stride = (
        F.lit(0) if m == 1
        else F.when(F.col("want") <= m, F.lit(e)).otherwise(
            F.expr(f"duration_ms div {m - 1}")
        )
    )
    plan = base.select(
        "video_id", "n_frames",
        F.least(F.col("want"), F.lit(m)).alias("n_samples"),
        stride.cast("bigint").alias("stride_ms"),
    )
    # sampled frame index i = (k * stride_ms) * fps div 1000 clamped to
    # n_frames - 1 (when the cap binds, the last sample lands at
    # t = duration_ms, whose raw index can equal n_frames — one past the
    # last decodable frame), k in [0, n_samples); digest = sum of indices
    return plan.join(videos.select("video_id", "fps", "duration_ms"),
                     "video_id").select(
        "video_id", "n_frames", "n_samples", "stride_ms",
        F.expr(
            "aggregate(sequence(0, n_samples - 1), 0L, "
            "(acc, k) -> acc + "
            "LEAST((k * stride_ms * fps) div 1000, n_frames - 1))"
        ).alias("frame_digest"),
    )


def synth_audio_meta(docs: DataFrame) -> DataFrame:
    """Deterministic AUDIO metadata derived from documents (the
    synth_video_meta pattern): duration and sample rate are integer
    functions of doc_id, so every chunk-plan quantity is exact integer
    arithmetic on both engines."""
    return docs.select(
        F.col("doc_id").alias("audio_id"),
        (F.lit(500) + (F.col("doc_id") * 53) % 120000)
        .cast("int").alias("duration_ms"),
        F.expr("CAST(ELEMENT_AT(ARRAY(16000, 22050, 44100), "
               "CAST(doc_id % 3 AS INT) + 1) AS INT)").alias("sample_rate"),
    )


def audio_chunk_plan(audios: DataFrame, chunk_ms: int = 30000,
                     overlap_ms: int = 5000) -> DataFrame:
    """Chunking schedule for audio ingest — the decode-free half of the
    audio pipeline (the ffmpeg decode is out of scope; the
    SCHEDULE is what the distributed planner owns): fixed windows of
    ``chunk_ms`` advancing by ``chunk_ms - overlap_ms`` (the
    Whisper-style overlapped-window transcription layout), final short
    chunk kept.

    Per audio: n_samples, chunk_samples, hop_samples, n_chunks,
    last_len (samples in the final chunk) and an order-insensitive
    digest of the chunk START samples (= hop * n(n-1)/2) — all exact
    integers.
    """
    c = int(chunk_ms)
    o = int(overlap_ms)
    if c <= 0 or o < 0 or o >= c:
        raise ValueError(
            f"need 0 <= overlap_ms < chunk_ms, got {o} / {c}")
    hop = c - o
    base = audios.select(
        "audio_id", "duration_ms", "sample_rate",
        F.expr("CAST(duration_ms AS BIGINT) * sample_rate div 1000")
        .alias("n_samples"),
        F.expr(f"CAST(sample_rate AS BIGINT) * {c} div 1000")
        .alias("chunk_samples"),
        F.expr(f"CAST(sample_rate AS BIGINT) * {hop} div 1000")
        .alias("hop_samples"),
    )
    plan = base.select(
        "audio_id", "n_samples", "chunk_samples", "hop_samples",
        F.expr(
            "CAST(CASE WHEN n_samples <= chunk_samples THEN 1 "
            "ELSE 1 + ((n_samples - chunk_samples + hop_samples - 1) "
            "div hop_samples) END AS BIGINT)"
        ).alias("n_chunks"),
    )
    return plan.select(
        "*",
        F.expr("n_samples - (n_chunks - 1) * hop_samples")
        .alias("last_len"),
        F.expr("hop_samples * ((n_chunks - 1) * n_chunks div 2)")
        .alias("start_digest"),
    )
