"""Deterministic image codec + perceptual hash (graft image path).

Codecs behind one interface (the Spark-side plumbing — binary column,
typed metadata, vectorized decode in mapInPandas, PSNR invariant — is
identical for all of them):

  fmt="raw" — lossless sandbox format: header + native uint8 pixels.
  fmt="qnt" — lossy sandbox format: 6-bit quantization (max abs error 2
              → PSNR ≈ 46 dB, satisfying the ≥ 40 dB invariant from
              BASELINE.json).
  fmt="png" — REAL wire format, pure stdlib (zlib inflate/deflate + the
              five PNG scanline filters, RFC 2083): encode writes 8-bit
              grayscale (color type 0); decode additionally accepts
              8-bit RGB / gray+alpha / RGBA (converted to BT.601 luma)
              and all five filter types.  No PIL needed.
  fmt="jpeg" — REAL wire format, pure stdlib + numpy (jpeg.py): baseline
              JFIF per ITU-T T.81 — quality-scaled Annex K quantization,
              Huffman entropy coding, restart markers; encode writes
              grayscale or YCbCr 4:4:4/4:2:0, decode returns the luma
              plane of any baseline single-scan JPEG.  Lossy: PSNR
              ≥ 40 dB at the default quality (pytest-gated, incl. the
              white-noise worst case).  No libjpeg needed.

webp/video decode still requires libraries absent from this container
and stays stubbed (decode_real, sample_video_frames), gated behind an
import-try as required for this sandbox.

pHash: classic 64-bit DCT hash — 32×32 resample → 2-D DCT-II (numpy matmul
with the orthonormal DCT matrix) → top-left 8×8 minus DC → median
threshold.  Deterministic, pure numpy.
"""

from __future__ import annotations

import struct
import zlib
from functools import lru_cache

import numpy as np

MAGIC_RAW = b"LRAW"
MAGIC_QNT = b"LQNT"
PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"


def encode_image(pixels: np.ndarray, fmt: str) -> bytes:
    """pixels: (h, w) uint8 grayscale → bytes per fmt ∈ {raw, qnt, png}."""
    h, w = pixels.shape
    header = struct.pack("<HH", w, h)
    if fmt == "raw":
        return MAGIC_RAW + header + pixels.tobytes()
    if fmt == "qnt":
        return MAGIC_QNT + header + (pixels >> 2).astype(np.uint8).tobytes()
    if fmt == "png":
        return encode_png(pixels)
    if fmt in ("jpeg", "jpg"):
        from lshdedup.jpeg import encode_jpeg

        return encode_jpeg(pixels)
    raise ValueError(f"unknown fmt {fmt!r}")


def decode_image(data: bytes) -> np.ndarray:
    """bytes → (h, w) uint8 pixels; inverse of encode_image (lossy for qnt)."""
    magic, (w, h) = data[:4], struct.unpack("<HH", data[4:8])
    body = np.frombuffer(data[8:], dtype=np.uint8).reshape(h, w)
    if magic == MAGIC_RAW:
        return body.copy()
    if magic == MAGIC_QNT:
        return np.minimum(body.astype(np.uint16) * 4 + 2, 255).astype(np.uint8)
    raise ValueError(f"unknown magic {magic!r}")


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def encode_png(pixels: np.ndarray, filter_type: int = 0) -> bytes:
    """Encode (h, w) uint8 grayscale as a real PNG (8-bit, color type 0,
    no interlace) using only stdlib zlib.  filter_type selects the
    per-scanline filter (0=None default; 1/2/3/4 = Sub/Up/Average/Paeth,
    exposed so tests can exercise every decode unfilter path; all are
    lossless)."""
    if pixels.dtype != np.uint8 or pixels.ndim != 2:
        raise ValueError("encode_png expects a (h, w) uint8 array")
    if not 0 <= filter_type <= 4:
        raise ValueError(f"invalid PNG filter type {filter_type}")
    h, w = pixels.shape
    px = pixels.astype(np.int16)
    left = np.zeros((h, w), np.int16)
    left[:, 1:] = px[:, :-1]
    up = np.zeros((h, w), np.int16)
    up[1:, :] = px[:-1, :]
    if filter_type == 0:
        filtered = px
    elif filter_type == 1:  # Sub
        filtered = px - left
    elif filter_type == 2:  # Up
        filtered = px - up
    elif filter_type == 3:  # Average
        filtered = px - (left + up) // 2
    else:  # Paeth
        ul = np.zeros((h, w), np.int16)
        ul[1:, 1:] = px[:-1, :-1]
        p = left + up - ul
        pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - ul)
        pred = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, ul))
        filtered = px - pred
    scan = np.empty((h, w + 1), np.uint8)
    scan[:, 0] = filter_type
    scan[:, 1:] = (filtered & 0xFF).astype(np.uint8)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)  # depth 8, gray
    return (
        PNG_SIGNATURE
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(scan.tobytes(), 6))
        + _png_chunk(b"IEND", b"")
    )


_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # color type → samples/pixel


def decode_png(data: bytes) -> np.ndarray:
    """Decode an 8-bit non-interlaced PNG (color types 0/2/4/6) to (h, w)
    uint8 grayscale — color converted via integer-rounded BT.601 luma,
    alpha ignored.  Pure stdlib: chunk walk + CRC check + zlib inflate +
    the five scanline unfilters (Sub via per-channel cumsum; Average and
    Paeth carry a true left-to-right dependence, done per-pixel per-row)."""
    if data[:8] != PNG_SIGNATURE:
        raise ValueError("not a PNG: bad signature")
    pos, ihdr, idat = 8, None, []
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(">I", data[pos + 8 + length : pos + 12 + length])
        if zlib.crc32(tag + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {tag!r} CRC mismatch")
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif tag == b"IDAT":
            idat.append(body)
        elif tag == b"IEND":
            break
        pos += 12 + length
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    w, h, depth, ctype, _comp, _filt, interlace = ihdr
    if depth != 8 or interlace != 0 or ctype not in _PNG_CHANNELS:
        raise ValueError(
            f"unsupported PNG (depth={depth} color={ctype} interlace={interlace}); "
            "this decoder handles 8-bit non-interlaced gray/RGB/LA/RGBA"
        )
    ch = _PNG_CHANNELS[ctype]
    stride = w * ch
    raw = np.frombuffer(zlib.decompress(b"".join(idat)), np.uint8)
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG IDAT length mismatch")
    raw = raw.reshape(h, stride + 1)
    filters, rows = raw[:, 0], raw[:, 1:].astype(np.int32)
    recon = np.zeros((h, stride), np.int32)
    for y in range(h):
        f, r = int(filters[y]), rows[y]
        prev = recon[y - 1] if y else np.zeros(stride, np.int32)
        if f == 0:
            recon[y] = r
        elif f == 1:  # Sub: per-channel cumsum (lag = ch decomposes)
            for c in range(ch):
                recon[y, c::ch] = np.cumsum(r[c::ch]) & 0xFF
        elif f == 2:  # Up
            recon[y] = (r + prev) & 0xFF
        elif f == 3:  # Average: left term is sequential
            row = recon[y]
            for x in range(stride):
                a = row[x - ch] if x >= ch else 0
                row[x] = (r[x] + (a + prev[x]) // 2) & 0xFF
        elif f == 4:  # Paeth: fully sequential predictor
            row = recon[y]
            for x in range(stride):
                a = row[x - ch] if x >= ch else 0
                b = prev[x]
                c = prev[x - ch] if x >= ch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                row[x] = (r[x] + pred) & 0xFF
        else:
            raise ValueError(f"invalid PNG filter {f} on row {y}")
    px = recon.reshape(h, w, ch)
    if ctype == 0:
        gray = px[:, :, 0]
    elif ctype == 4:  # gray + alpha
        gray = px[:, :, 0]
    else:  # RGB / RGBA → integer-rounded BT.601 luma
        r_, g_, b_ = px[:, :, 0], px[:, :, 1], px[:, :, 2]
        gray = (299 * r_ + 587 * g_ + 114 * b_ + 500) // 1000
    return gray.astype(np.uint8)


def decode_real(data: bytes, fmt: str) -> np.ndarray:
    """Decode a real image format.  PNG, baseline JPEG, and GIF are fully
    implemented in stdlib+numpy (decode_png above, jpeg.decode_jpeg,
    gif.decode_gif — first frame); webp still requires image libraries
    absent from this sandbox and stays stubbed — on a real cluster it
    dispatches to PIL/libvips inside the same mapInPandas plumbing."""
    if fmt == "png":
        return decode_png(data)
    if fmt in ("jpeg", "jpg"):
        from lshdedup.jpeg import decode_jpeg

        return decode_jpeg(data)
    if fmt == "gif":
        from lshdedup.gif import decode_gif

        return decode_gif(data)[0]
    try:
        import PIL.Image  # noqa: F401
    except ImportError as exc:  # pragma: no cover - environment-dependent
        raise NotImplementedError(
            f"real codec for {fmt!r} requires an image library not present "
            "in this sandbox; use fmt in {'raw','qnt','png'} (codec.py)"
        ) from exc
    raise NotImplementedError("real-codec path intentionally stubbed")


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB; inf for identical images."""
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return float("inf")
    return float(10.0 * np.log10(255.0**2 / mse))


@lru_cache(maxsize=4)
def _dct_matrix(n: int) -> np.ndarray:
    k = np.arange(n)[:, None]
    i = np.arange(n)[None, :]
    m = np.cos(np.pi * (2 * i + 1) * k / (2 * n)) * np.sqrt(2.0 / n)
    m[0, :] = np.sqrt(1.0 / n)
    return m


def phash64(pixels: np.ndarray) -> int:
    """64-bit perceptual hash of a grayscale image (DCT-median)."""
    img = pixels.astype(np.float64)
    # resample to 32×32 by block-mean (fallback: simple resize via repeat)
    target = 32
    h, w = img.shape
    ys = (np.arange(target) * h // target).clip(0, h - 1)
    xs = (np.arange(target) * w // target).clip(0, w - 1)
    small = img[np.ix_(ys, xs)]
    d = _dct_matrix(target)
    freq = d @ small @ d.T
    block = freq[:8, :8].flatten()
    vals = block[1:]  # drop DC
    med = np.median(vals)
    bits = vals > med
    out = 0
    for idx, bit in enumerate(bits):
        if bit:
            out |= 1 << idx
    return out - (1 << 63) if out >= (1 << 63) else out
