"""Image codecs + perceptual hash, pure numpy + stdlib zlib.

PIL/libjpeg are not available in this environment, so the multimodal
`bytes` column is backed by two deterministic, library-independent codecs
(the Spark-side plumbing — schema, Arrow batching, UDF signatures — is the
real deliverable; see task brief "multimodal columns"):

* ``png``  — minimal real PNG (8-bit RGB, filter 0, zlib), lossless.
* ``qpng`` — the lossy stand-in for JPEG: pixels quantized to a step of 4
  then PNG-encoded.  Max per-channel error 2 → PSNR ≈ 47 dB, comfortably
  above the ≥40 dB per-row invariant (BASELINE.json input_hint).

``phash64`` is a standard DCT perceptual hash (32×32 gray → 32×32 DCT-II →
8×8 low-frequency block → median threshold → 64 bits), deterministic and
library-independent (FIXTURES.md F1).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
QPNG_STEP = 4  # lossy quantization step (PSNR ≈ 47 dB)


def _chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def png_encode(pixels: np.ndarray) -> bytes:
    """pixels: (h, w, 3) uint8 → PNG bytes (color type 2, filter 0 rows)."""
    h, w, c = pixels.shape
    assert c == 3 and pixels.dtype == np.uint8
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = np.concatenate(
        [np.zeros((h, 1), dtype=np.uint8), pixels.reshape(h, w * 3)], axis=1
    ).tobytes()
    return (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw, 6))
        + _chunk(b"IEND", b"")
    )


def png_decode(data: bytes) -> np.ndarray:
    """Minimal PNG decoder for images produced by :func:`png_encode`
    (8-bit RGB, filter 0).  Returns (h, w, 3) uint8."""
    assert data[:8] == _PNG_SIG, "not a PNG"
    pos, w = 8, 0
    h = 0
    idat = b""
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        if tag == b"IHDR":
            w, h, depth, ctype = struct.unpack(">IIBB", body[:10])
            assert depth == 8 and ctype == 2, "unsupported PNG subtype"
        elif tag == b"IDAT":
            idat += body
        pos += 12 + length
    raw = np.frombuffer(zlib.decompress(idat), dtype=np.uint8).reshape(h, 1 + w * 3)
    assert (raw[:, 0] == 0).all(), "unsupported PNG filter"
    return raw[:, 1:].reshape(h, w, 3).copy()


def qpng_encode(pixels: np.ndarray) -> bytes:
    """Deterministic lossy codec: quantize to multiples of QPNG_STEP, then PNG."""
    q = ((pixels.astype(np.int32) + QPNG_STEP // 2) // QPNG_STEP) * QPNG_STEP
    return png_encode(np.clip(q, 0, 255).astype(np.uint8))


def encode_image(pixels: np.ndarray, fmt: str) -> bytes:
    if fmt == "png":
        return png_encode(pixels)
    if fmt == "qpng":
        return qpng_encode(pixels)
    raise NotImplementedError(
        f"codec {fmt!r} not available in this environment (no PIL/libjpeg); "
        "real deployments plug a decode UDF with the same signature"
    )


def decode_image(data: bytes, fmt: str) -> np.ndarray:
    if fmt in ("png", "qpng"):
        return png_decode(data)
    raise NotImplementedError(f"codec {fmt!r} not available (see encode_image)")


# --- AVI container (real RIFF demux; round-4 VERDICT task 9) -----------------
#
# The frame-sampling operator previously stubbed its decoder (no video codec
# ships here).  The CONTAINER layer needs no codec: these are a real,
# spec-shaped RIFF-AVI muxer/demuxer — 'RIFF..AVI ' → LIST hdrl (avih, LIST
# strl(strh/strf)) → LIST movi ('00dc' chunks, word-aligned) → idx1.  Frame
# payloads use this repo's codecs (fourcc QPNG/PNG ); true MJPG payloads
# still need libjpeg and surface as unsupported-codec DATA rows, same policy
# as decode_image.

_FOURCC_TO_FMT = {b"QPNG": "qpng", b"PNG ": "png"}


def avi_encode(frames: list, fourcc: bytes = b"QPNG", fps: int = 10) -> bytes:
    """frames: list of (h, w, 3) uint8 arrays → AVI bytes ('00dc' per frame)."""
    assert frames, "empty video"
    h, w, _ = frames[0].shape
    fmt = _FOURCC_TO_FMT[fourcc]
    payloads = [encode_image(f, fmt) for f in frames]

    def chunk(tag: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) % 2 else b""
        return tag + struct.pack("<I", len(body)) + body + pad

    def lst(kind: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", kind + body)

    avih = struct.pack(
        "<14I", 1_000_000 // fps, 0, 0, 0x10, len(frames), 0, 1, 0, w, h, 0, 0, 0, 0
    )
    strh = (
        b"vids" + fourcc + struct.pack("<10I", 0, 0, 0, 1, fps, 0, len(frames), 0, 0xFFFFFFFF, 0)[:40]
        + struct.pack("<4H", 0, 0, w, h)
    )
    strf = struct.pack("<IiiHHI5I", 40, w, h, 1, 24, 0, w * h * 3, 0, 0, 0, 0)
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi_body = b"".join(chunk(b"00dc", p) for p in payloads)
    movi = lst(b"movi", movi_body)
    # idx1 offsets are relative to the start of the movi LIST's data
    idx, off = b"", 4
    for p in payloads:
        idx += b"00dc" + struct.pack("<3I", 0x10, off, len(p))
        off += 8 + len(p) + (len(p) % 2)
    riff_body = b"AVI " + hdrl + movi + chunk(b"idx1", idx)
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def avi_parse(data: bytes) -> tuple[str, int, int, list[bytes]]:
    """Demux an AVI: returns (codec_fmt, w, h, frame_payloads).

    Walks the real RIFF structure (not offsets we wrote): top-level chunks,
    hdrl's strh for the stream fourcc, movi's 00dc/00db entries in order.
    codec_fmt is the decode_image fmt string, or the raw fourcc lowercased
    when unsupported (decode then raises NotImplementedError — policy as
    decode_image)."""
    assert data[:4] == b"RIFF" and data[8:12] == b"AVI ", "not an AVI"
    fourcc, w, h = None, 0, 0
    n_streams, vids_idx = 0, None
    tagged: list[tuple[bytes, bytes]] = []  # (2-digit stream prefix, payload)

    def walk(pos: int, end: int) -> None:
        nonlocal fourcc, w, h, n_streams, vids_idx
        while pos + 8 <= end:
            tag = data[pos : pos + 4]
            (length,) = struct.unpack("<I", data[pos + 4 : pos + 8])
            body_start = pos + 8
            if tag == b"LIST":
                walk(body_start + 4, body_start + length)
            elif tag == b"strh":
                # stream index = strh order in hdrl (the RIFF rule tying
                # NNdc chunk prefixes to streams); take the FIRST vids
                # stream — a second stream's chunks must not be conflated
                # into this one's frame list with the wrong codec
                if data[body_start : body_start + 4] == b"vids" and fourcc is None:
                    fourcc = data[body_start + 4 : body_start + 8]
                    vids_idx = n_streams
                n_streams += 1
            elif tag == b"avih":
                w, h = struct.unpack("<II", data[body_start + 32 : body_start + 40])
            elif tag[2:4] in (b"dc", b"db"):
                tagged.append((tag[:2], data[body_start : body_start + length]))
            pos = body_start + length + (length % 2)

    walk(12, 8 + struct.unpack("<I", data[4:8])[0])
    assert fourcc is not None, "no video stream header"
    want = b"%02d" % vids_idx
    frames = [p for stream, p in tagged if stream == want]
    fmt = _FOURCC_TO_FMT.get(fourcc, fourcc.decode("latin1").strip().lower())
    return fmt, w, h, frames


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB between two uint8 images."""
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return float("inf")
    return float(10.0 * np.log10(255.0**2 / mse))


def _dct_matrix(n: int) -> np.ndarray:
    k = np.arange(n)[:, None]
    i = np.arange(n)[None, :]
    m = np.cos(np.pi * (2 * i + 1) * k / (2 * n)) * np.sqrt(2.0 / n)
    m[0, :] = np.sqrt(1.0 / n)
    return m


_DCT32 = _dct_matrix(32)


def _gray_to_32(g: np.ndarray) -> np.ndarray:
    """(h, w) float64 → (32, 32): exact box-downsample when both sides are
    multiples of 32 (the historical fast path — bit-stable for every synth
    image), separable bilinear for arbitrary sizes (a 40×40 decode used to
    raise in the reshape and get misreported as a decode FAILURE)."""
    h, w = g.shape
    if h % 32 == 0 and w % 32 == 0 and h >= 32 and w >= 32:
        return g.reshape(32, h // 32, 32, w // 32).mean(axis=(1, 3))
    ys = (np.arange(32) + 0.5) * h / 32 - 0.5
    xs = (np.arange(32) + 0.5) * w / 32 - 0.5
    y0 = np.clip(np.floor(ys).astype(np.int64), 0, h - 1)
    x0 = np.clip(np.floor(xs).astype(np.int64), 0, w - 1)
    y1 = np.minimum(y0 + 1, h - 1)
    x1 = np.minimum(x0 + 1, w - 1)
    fy = np.clip(ys - y0, 0.0, 1.0)[:, None]
    fx = np.clip(xs - x0, 0.0, 1.0)[None, :]
    gy0, gy1 = g[y0], g[y1]
    top = gy0[:, x0] * (1 - fx) + gy0[:, x1] * fx
    bot = gy1[:, x0] * (1 - fx) + gy1[:, x1] * fx
    return top * (1 - fy) + bot * fy


def phash64(pixels: np.ndarray) -> int:
    """64-bit DCT perceptual hash of an RGB image (any size; multiples of 32
    take the exact box-downsample path, synth uses exactly 32×32)."""
    g = pixels.astype(np.float64).mean(axis=2)
    if g.shape != (32, 32):
        g = _gray_to_32(g)
    d = _DCT32 @ g @ _DCT32.T
    block = d[:8, :8].ravel()
    med = np.median(block[1:])  # exclude DC from the median
    bits = (block > med).astype(np.uint64)
    return int(bits @ (np.uint64(1) << np.arange(64, dtype=np.uint64)))


def phash64_batch(pixels: np.ndarray) -> np.ndarray:
    """Vectorized phash over a (n, 32, 32, 3) uint8 stack."""
    g = pixels.astype(np.float64).mean(axis=3)  # (n, 32, 32)
    d = np.matmul(np.matmul(_DCT32, g), _DCT32.T)  # broadcast BLAS matmuls
    block = d[:, :8, :8].reshape(len(g), 64)
    med = np.median(block[:, 1:], axis=1)
    bits = (block > med[:, None]).astype(np.uint64)
    return bits @ (np.uint64(1) << np.arange(64, dtype=np.uint64))
