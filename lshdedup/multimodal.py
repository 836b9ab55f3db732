"""Multimodal column plumbing — image/audio/video as opaque binary columns
with typed metadata (graft extras; NOT in the reference).

The Spark-side machinery (schema, partition-preserving mapInPandas, Arrow
batch shapes, metadata extraction, PSNR validation) is real and tested.
PNG and baseline JPEG decode for real via the stdlib codecs (png.py,
jpeg.py), as do MJPEG frame sampling (split_mjpeg — concatenated JPEGs
ARE the MJPEG wire convention) and WAV PCM16 audio (wav.py).  What
genuinely needs external libraries (webp; ffmpeg containers
mp4/webm/mkv; mp3/flac/ogg audio) stays stubbed behind
NotImplementedError at exactly three dispatch sites (codec.decode_real,
sample_video_frames, audio_features), so swapping real decoders in
changes no plumbing.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from lshdedup.codec import decode_image, decode_real, phash64

IMAGE_FEATURES_SCHEMA = StructType(
    [
        StructField("image_id", StringType()),
        StructField("w", IntegerType()),
        StructField("h", IntegerType()),
        StructField("mean_luma", DoubleType()),
        StructField("std_luma", DoubleType()),
        StructField("phash", LongType()),
    ]
)


def _decode(data: bytes, fmt: str) -> np.ndarray:
    if fmt in ("raw", "qnt"):
        return decode_image(data)
    return decode_real(data, fmt)  # stub → NotImplementedError here


def image_features(df: DataFrame, id_col: str = "image_id") -> DataFrame:
    """Decode + feature-extract over the binary column via mapInPandas —
    one partition-parallel pass; only (id, bytes, fmt) are read."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, data, fmt in zip(pdf[id_col], pdf["bytes"], pdf["fmt"]):
                px = _decode(bytes(data), fmt)
                rows.append(
                    (
                        rid,
                        int(px.shape[1]),
                        int(px.shape[0]),
                        float(px.mean()),
                        float(px.std()),
                        phash64(px),
                    )
                )
            yield pd.DataFrame(rows, columns=IMAGE_FEATURES_SCHEMA.fieldNames())

    return df.select(id_col, "bytes", "fmt").mapInPandas(extract, IMAGE_FEATURES_SCHEMA)


AUDIO_FEATURES_SCHEMA = StructType(
    [
        StructField("audio_id", StringType()),
        StructField("sample_rate", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("n_samples", IntegerType()),
        StructField("sample_sum", LongType()),
        StructField("smp_min", IntegerType()),
        StructField("smp_max", IntegerType()),
    ]
)


def audio_features(df: DataFrame, id_col: str = "audio_id") -> DataFrame:
    """Decode + feature-extract over an audio binary column via
    mapInPandas — the audio sibling of image_features.  fmt == 'wav'
    (RIFF PCM16) decodes for REAL via the stdlib codec (wav.py); formats
    that need external decoders (mp3, flac, ogg) raise
    NotImplementedError at exactly this dispatch site.

    Features are integer-exact on purpose (sum/min/max over all
    channels) so a value-level oracle can pin the whole wire path; float
    aggregates (RMS, dBFS) derive trivially downstream in native SQL
    from sample_sum-style moments if needed."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from lshdedup.wav import decode_wav

        for pdf in batches:
            rows = []
            for rid, data, fmt in zip(pdf[id_col], pdf["bytes"], pdf["fmt"]):
                if fmt != "wav":
                    raise NotImplementedError(
                        f"audio format {fmt!r} requires an external "
                        "decoder, absent from this sandbox; 'wav' decodes "
                        "natively"
                    )
                rate, s = decode_wav(bytes(data))
                rows.append(
                    (
                        rid,
                        int(rate),
                        int(s.shape[1]),
                        int(s.shape[0]),
                        int(s.sum(dtype=np.int64)),
                        int(s.min()) if s.size else 0,
                        int(s.max()) if s.size else 0,
                    )
                )
            yield pd.DataFrame(rows, columns=AUDIO_FEATURES_SCHEMA.fieldNames())

    return df.select(id_col, "bytes", "fmt").mapInPandas(
        extract, AUDIO_FEATURES_SCHEMA
    )


def sample_video_frames(
    df: DataFrame, every_n: int = 30, id_col: str = "video_id"
) -> DataFrame:
    """Video frame sampling: binary column in, exploded per-frame rows out
    (one row per sampled frame, carrying the frame's own image bytes so the
    output composes directly with image_features under fmt='jpeg').

    Two containers are handled for REAL, no external decoder involved:
    fmt == 'mjpeg' (concatenated baseline JPEGs — the MJPEG wire
    convention; jpeg.split_mjpeg walks the marker structure in executors
    and every_n-th frame's bytes are emitted verbatim) and fmt == 'gif'
    (animated GIF89a; gif.decode_gif composites the frame chain, and
    every_n-th composited frame is re-encoded as a single-frame GIF —
    lossless, so the sampled bytes decode to the exact frame).  Container
    formats that require ffmpeg (mp4, webm, mkv) still raise
    NotImplementedError at exactly this one call site — an ffmpeg-backed
    demuxer slots in without touching the plumbing."""

    schema = StructType(
        [
            StructField("video_id", StringType()),
            StructField("frame_idx", IntegerType()),
            StructField("bytes", BinaryType()),
        ]
    )

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from lshdedup.gif import decode_gif, encode_gif
        from lshdedup.jpeg import split_mjpeg

        for pdf in batches:
            rows = []
            for rid, data, fmt in zip(pdf[id_col], pdf["bytes"], pdf["fmt"]):
                if fmt == "mjpeg":
                    frames = split_mjpeg(bytes(data))
                    for i in range(0, len(frames), every_n):
                        rows.append((rid, i, bytearray(frames[i])))
                elif fmt == "gif":
                    frames = decode_gif(bytes(data))
                    for i in range(0, len(frames), every_n):
                        rows.append(
                            (rid, i, bytearray(encode_gif(frames[i])))
                        )
                else:
                    raise NotImplementedError(
                        f"video container {fmt!r} requires ffmpeg, absent "
                        "from this sandbox; 'mjpeg' and 'gif' decode "
                        "natively"
                    )
            yield pd.DataFrame(rows, columns=schema.fieldNames())

    return df.select(id_col, "bytes", "fmt").mapInPandas(sample, schema)
