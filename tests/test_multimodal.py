"""Multimodal binary-column plumbing (decode/feature; stubs gated)."""

import pytest

from lshdedup.multimodal import image_features, sample_video_frames
from lshdedup.synth import SynthConfig, synth_corpus


def test_image_features(spark):
    scfg = SynthConfig(n_rows=32, img_size=16)
    df = synth_corpus(spark, scfg)
    feats = image_features(df).collect()
    assert len(feats) == 32
    by_id = {r["image_id"]: r for r in feats}
    src = {r["image_id"]: r for r in df.collect()}
    for rid, feat in by_id.items():
        assert feat["w"] == 16 and feat["h"] == 16
        assert 0.0 <= feat["mean_luma"] <= 255.0
        assert feat["phash"] == src[rid]["phash"]  # recompute matches stored


def test_image_features_decodes_real_png(spark):
    """fmt="png" rows flow through the same mapInPandas plumbing as the
    sandbox formats and decode losslessly — same pixels encoded raw vs
    PNG must produce identical features (VERDICT r4 item 2)."""
    import numpy as np

    from lshdedup.codec import encode_image

    rng = np.random.Generator(np.random.PCG64(5))
    rows = []
    for i in range(6):
        px = rng.integers(0, 256, (16, 16), dtype=np.uint8)
        rows.append((f"raw{i}", bytearray(encode_image(px, "raw")), 16, 16, "raw"))
        rows.append((f"png{i}", bytearray(encode_image(px, "png")), 16, 16, "png"))
    df = spark.createDataFrame(rows, ["image_id", "bytes", "w", "h", "fmt"])
    feats = {r["image_id"]: r for r in image_features(df).collect()}
    assert len(feats) == 12
    for i in range(6):
        a, b = feats[f"raw{i}"], feats[f"png{i}"]
        assert a["phash"] == b["phash"]
        assert a["mean_luma"] == b["mean_luma"]
        assert (a["w"], a["h"]) == (b["w"], b["h"]) == (16, 16)


def test_video_ffmpeg_container_raises(spark):
    """Non-MJPEG containers still stub loudly at the one decode site."""
    df = spark.createDataFrame(
        [("v1", bytearray(b"fake"), "mp4")], ["video_id", "bytes", "fmt"]
    )
    with pytest.raises(Exception) as exc_info:
        sample_video_frames(df).collect()
    assert "NotImplementedError" in str(exc_info.value) or isinstance(
        exc_info.value, NotImplementedError
    )


def test_video_mjpeg_frame_sampling_real(spark):
    """MJPEG (concatenated baseline JPEGs) is sampled for REAL: every_n-th
    frame comes back byte-identical to the frame that was concatenated in,
    and the sampled rows compose with image_features under fmt='jpeg'
    (the decoded constant frame has an exact mean)."""
    import numpy as np
    from pyspark.sql import functions as F

    from lshdedup.jpeg import encode_jpeg

    videos, frames = {}, {}
    for v in range(2):
        fs = [
            encode_jpeg(np.full((16, 16), (v * 7 + i * 31) % 256, np.uint8))
            for i in range(7)
        ]
        frames[f"v{v}"] = fs
        videos[f"v{v}"] = b"".join(fs)
    df = spark.createDataFrame(
        [(k, bytearray(b), "mjpeg") for k, b in videos.items()],
        ["video_id", "bytes", "fmt"],
    )
    out = sample_video_frames(df, every_n=3).collect()
    got = {(r["video_id"], r["frame_idx"]): bytes(r["bytes"]) for r in out}
    assert sorted(got) == [(f"v{v}", i) for v in range(2) for i in (0, 3, 6)]
    for (vid, i), b in got.items():
        assert b == frames[vid][i]  # byte-identical frame extraction
    sampled = sample_video_frames(df, every_n=3).withColumn(
        "fmt", F.lit("jpeg")
    ).withColumn(
        "image_id", F.concat_ws(":", "video_id", "frame_idx")
    )
    feats = {r["image_id"]: r for r in image_features(sampled).collect()}
    for v in range(2):
        for i in (0, 3, 6):
            # constant 8x8 blocks are lossless under JPEG quantization
            assert feats[f"v{v}:{i}"]["mean_luma"] == float((v * 7 + i * 31) % 256)


def test_split_mjpeg_structural_not_byte_scan():
    """A COM segment whose payload contains the EOI byte pair 0xFFD9 must
    not split the frame early (the walk is structural, not a byte scan),
    and the decoder skips the segment by its declared length."""
    import struct

    import numpy as np

    from lshdedup.jpeg import decode_jpeg, encode_jpeg, split_mjpeg

    f0 = encode_jpeg(np.full((16, 16), 99, np.uint8))
    f1 = encode_jpeg(np.full((16, 16), 200, np.uint8))
    com = b"\xff\xfe" + struct.pack(">H", 2 + 4) + b"\xff\xd9\x00\xff"
    mod = f0[:2] + com + f0[2:]
    parts = split_mjpeg(mod + f1)
    assert len(parts) == 2 and parts[0] == mod and parts[1] == f1
    assert np.array_equal(decode_jpeg(mod), decode_jpeg(f0))
    with pytest.raises(ValueError):
        split_mjpeg(f0[: len(f0) // 2])  # truncated scan stays loud
    with pytest.raises(ValueError):
        split_mjpeg(b"\x00" + f0)  # missing SOI stays loud


def test_image_features_decodes_real_jpeg(spark):
    """fmt="jpeg" rows flow through the same mapInPandas plumbing (round
    5, jpeg.py).  JPEG is lossy, so instead of exact feature equality the
    per-row invariant is the BASELINE.json one: decoded pixels within
    PSNR ≥ 40 dB of the source, which bounds mean_luma drift and keeps
    the pHash within a small Hamming distance of the raw row's."""
    import numpy as np

    from lshdedup.codec import encode_image, psnr
    from lshdedup.jpeg import decode_jpeg

    rng = np.random.Generator(np.random.PCG64(9))
    rows, originals = [], {}
    for i in range(6):
        px = rng.integers(0, 256, (16, 16), dtype=np.uint8)
        originals[i] = px
        rows.append((f"raw{i}", bytearray(encode_image(px, "raw")), 16, 16,
                     "raw"))
        rows.append((f"jpg{i}", bytearray(encode_image(px, "jpeg")), 16, 16,
                     "jpeg"))
    df = spark.createDataFrame(rows, ["image_id", "bytes", "w", "h", "fmt"])
    from lshdedup.multimodal import image_features

    feats = {r["image_id"]: r for r in image_features(df).collect()}
    assert len(feats) == 12
    for i in range(6):
        a, b = feats[f"raw{i}"], feats[f"jpg{i}"]
        assert (b["w"], b["h"]) == (16, 16)
        # the UDF decoded the same pixels decode_jpeg produces driver-side
        dec = decode_jpeg(bytes(encode_image(originals[i], "jpeg")))
        assert psnr(originals[i], dec) >= 40.0
        assert abs(a["mean_luma"] - b["mean_luma"]) <= 2.0
        ham = bin((a["phash"] ^ b["phash"]) & ((1 << 64) - 1)).count("1")
        assert ham <= 10


def test_wav_roundtrip_and_structural_chunk_walk():
    """RIFF PCM16 codec: encode→decode roundtrip (mono, stereo, odd-length
    data + pad byte), and a LIST chunk whose payload contains the ASCII
    string 'data' must not derail the walk (structural, not a byte scan)."""
    import struct

    import numpy as np

    from lshdedup.wav import decode_wav, encode_wav

    rng = np.random.Generator(np.random.PCG64(11))
    mono = rng.integers(-32768, 32768, 501, dtype=np.int16)  # odd data size
    rate, got = decode_wav(encode_wav(mono, rate=8000))
    assert rate == 8000 and got.shape == (501, 1)
    assert np.array_equal(got[:, 0], mono)

    stereo = rng.integers(-32768, 32768, (200, 2), dtype=np.int16)
    rate, got = decode_wav(encode_wav(stereo, rate=44100))
    assert rate == 44100 and np.array_equal(got, stereo)

    # adversarial: LIST chunk payload containing b"data" before the real
    # data chunk — size-skip must step over it, pad byte honored (odd size)
    wav = encode_wav(mono, rate=8000)
    payload = b"INFOdata\x01\x02\x03"  # 11 bytes, odd -> pad byte
    listc = b"LIST" + struct.pack("<I", len(payload)) + payload + b"\x00"
    hacked = (
        b"RIFF"
        + struct.pack("<I", struct.unpack("<I", wav[4:8])[0] + len(listc))
        + b"WAVE" + listc + wav[12:]
    )
    rate, got = decode_wav(hacked)
    assert rate == 8000 and np.array_equal(got[:, 0], mono)

    with pytest.raises(ValueError):
        decode_wav(wav[:40])  # truncated data chunk stays loud
    with pytest.raises(ValueError):
        decode_wav(b"RIFX" + wav[4:])  # wrong magic
    # float PCM (tag 3) refused, not silently misread
    bad = bytearray(wav)
    tag_off = wav.index(b"fmt ") + 8
    bad[tag_off : tag_off + 2] = struct.pack("<H", 3)
    with pytest.raises(ValueError):
        decode_wav(bytes(bad))


def test_audio_features_real_wav(spark):
    """audio_features decodes genuine WAV bytes in executors; integer
    stats match numpy on the source samples; non-wav formats raise."""
    import numpy as np

    from lshdedup.multimodal import audio_features
    from lshdedup.wav import encode_wav

    rng = np.random.Generator(np.random.PCG64(13))
    rows, src = [], {}
    for i in range(4):
        s = rng.integers(-32768, 32768, (300 + i, 1 + i % 2), dtype=np.int16)
        src[f"a{i}"] = s
        rows.append((f"a{i}", bytearray(encode_wav(s, rate=16000)), "wav"))
    df = spark.createDataFrame(rows, ["audio_id", "bytes", "fmt"])
    got = {r["audio_id"]: r for r in audio_features(df).collect()}
    assert len(got) == 4
    for k, s in src.items():
        r = got[k]
        assert (r["sample_rate"], r["channels"], r["n_samples"]) == (
            16000, s.shape[1], s.shape[0],
        )
        assert r["sample_sum"] == int(s.sum(dtype=np.int64))
        assert (r["smp_min"], r["smp_max"]) == (int(s.min()), int(s.max()))

    mp3 = spark.createDataFrame(
        [("x", bytearray(b"ID3fake"), "mp3")], ["audio_id", "bytes", "fmt"]
    )
    with pytest.raises(Exception) as exc_info:
        audio_features(mp3).collect()
    assert "NotImplementedError" in str(exc_info.value) or isinstance(
        exc_info.value, NotImplementedError
    )


def test_gif_codec_roundtrip_and_lzw_edges():
    """GIF89a codec: lossless roundtrip through real LZW (multi-symbol
    codes, width growth, 4096-table reset, the KwKwK special case),
    partial-frame compositing, and structural extension skipping —
    extension payloads containing the image separator 0x2C and trailer
    0x3B must not derail the walk."""
    import struct

    import numpy as np

    from lshdedup.gif import decode_gif, encode_gif

    rng = np.random.Generator(np.random.PCG64(23))
    frames = [rng.integers(0, 256, (16, 24), dtype=np.uint8) for _ in range(4)]
    got = decode_gif(encode_gif(frames))
    assert len(got) == 4
    for a, b in zip(frames, got):
        assert np.array_equal(a, b)

    big = np.zeros((200, 300), np.uint8)  # forces a 4096-entry table reset
    assert np.array_equal(decode_gif(encode_gif([big]))[0], big)
    assert len(encode_gif([big])) < big.size // 20  # compression is real

    # adversarial: a comment extension whose payload contains 0x2C and
    # 0x3B — the sub-block walk must skip it by size, not by byte value
    gif = encode_gif(frames[:1])
    evil = b"\x21\xfe" + bytes([4]) + b"\x2c\x3b\x2c\x3b" + b"\x00"
    hacked = gif[:13] + gif[13 : 13 + 768] + evil + gif[13 + 768 :]
    assert np.array_equal(decode_gif(hacked)[0], frames[0])

    # partial frame composites onto the previous canvas (disposal 1)
    base = encode_gif([np.full((10, 10), 7, np.uint8)])
    patch = np.full((4, 4), 200, np.uint8)
    from lshdedup.gif import _gray_palette, _lzw_encode, _sub_blocks

    img2 = (
        b"\x2c" + struct.pack("<HHHHB", 3, 2, 4, 4, 0) + bytes([8])
        + _sub_blocks(_lzw_encode(patch.reshape(-1)))
    )
    two = base[:-1] + img2 + b"\x3b"
    fs = decode_gif(two)
    assert len(fs) == 2
    expect = np.full((10, 10), 7, np.uint8)
    expect[2:6, 3:7] = 200
    assert np.array_equal(fs[1], expect)

    with pytest.raises(ValueError):
        decode_gif(gif[: len(gif) // 2])  # truncated stays loud
    interlaced = bytearray(encode_gif(frames[:1]))
    interlaced[13 + 768 + 8 + 9] |= 0x40  # set interlace flag in descriptor
    with pytest.raises(ValueError):
        decode_gif(bytes(interlaced))


def test_video_gif_frame_sampling_real(spark):
    """Animated GIF is the LOSSLESS video container: sampled frames
    decode to the exact composited source frames, through real LZW wire
    bytes, in executors."""
    import numpy as np

    from lshdedup.gif import decode_gif, encode_gif

    rng = np.random.Generator(np.random.PCG64(29))
    vids, src = {}, {}
    for v in range(2):
        fs = [rng.integers(0, 256, (12, 18), dtype=np.uint8) for _ in range(7)]
        src[f"g{v}"] = fs
        vids[f"g{v}"] = encode_gif(fs)
    df = spark.createDataFrame(
        [(k, bytearray(b), "gif") for k, b in vids.items()],
        ["video_id", "bytes", "fmt"],
    )
    out = sample_video_frames(df, every_n=3).collect()
    got = {(r["video_id"], r["frame_idx"]): bytes(r["bytes"]) for r in out}
    assert sorted(got) == [(f"g{v}", i) for v in range(2) for i in (0, 3, 6)]
    for (vid, i), b in got.items():
        assert np.array_equal(decode_gif(b)[0], src[vid][i])


def test_gif_wav_golden_bitstreams():
    """Wire-format pins (same role as the PNG/JPEG goldens in
    test_codec_synth): the encoders' exact output bytes for fixed tiny
    inputs.  Catches any silent change to header layout, LZW code
    emission order, sub-block packaging, or RIFF chunk sizes — a codec
    'fix' that alters the wire format must consciously update these."""
    import hashlib

    import numpy as np

    from lshdedup.gif import decode_gif, encode_gif
    from lshdedup.wav import encode_wav

    px = (np.arange(16, dtype=np.uint8) * 17).reshape(4, 4)
    g = encode_gif([px, px.T.copy()], delay_cs=4)
    assert len(g) == 866
    assert hashlib.sha256(g).hexdigest() == (
        "235a55cdaaaedd18f87040a607430fb09faa61a57c75c963fb26d7eb507e5aec"
    )
    # independent spot-pins, not just the hash: signature, screen size,
    # trailer, and the two image separators
    assert g[:6] == b"GIF89a" and g[6:10] == b"\x04\x00\x04\x00"
    assert g[-1] == 0x3B and g.count(b"\x21\xf9\x04") == 2

    s = (np.arange(8, dtype=np.int64) * 1000 - 3500).astype(np.int16)
    wv = encode_wav(s, rate=8000)
    assert len(wv) == 60
    assert hashlib.sha256(wv).hexdigest() == (
        "c6c85a295e715f3d2d399406fa45a473d8c09af08c8b0dbcee5f6c225874a531"
    )
    assert wv[:4] == b"RIFF" and wv[8:12] == b"WAVE"
    # byte-rate field = rate * channels * 2 = 16000 little-endian
    import struct

    assert struct.unpack("<I", wv[28:32])[0] == 16000
    # decode side of the pin: the golden bytes reproduce the source
    fs = decode_gif(g)
    assert np.array_equal(fs[0], px) and np.array_equal(fs[1], px.T)


def test_gif_wav_degenerate_shapes():
    """Codec edges: 1×1/1×N/N×1 GIF frames, zero-sample and one-sample
    (odd data size) WAV, 3-channel interleave — all lossless."""
    import numpy as np

    from lshdedup.gif import decode_gif, encode_gif
    from lshdedup.wav import decode_wav, encode_wav

    for shape in [(1, 1), (1, 7), (7, 1)]:
        px = (np.arange(shape[0] * shape[1], dtype=np.uint8) * 13).reshape(shape)
        assert np.array_equal(decode_gif(encode_gif([px]))[0], px)
    _, s = decode_wav(encode_wav(np.empty((0,), np.int16)))
    assert s.shape == (0, 1)
    _, s = decode_wav(encode_wav(np.array([-5], np.int16)))
    assert s[0, 0] == -5
    three = np.arange(30, dtype=np.int16).reshape(10, 3)
    rate, s = decode_wav(encode_wav(three, rate=48000))
    assert rate == 48000 and np.array_equal(s, three)
