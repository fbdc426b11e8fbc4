"""Image payload codecs, PSNR, and a DCT perceptual hash — pure NumPy.

The engine stores pixels as an opaque ``bytes: binary`` column with
``(w, h, fmt)`` metadata (BASELINE.json input_hint) and only ever
decodes inside vectorized Arrow/pandas UDF stages, mirroring the
reference's rule that raster payloads never become per-row Python
objects (reference: gelos/gelosdataset.py:97-134 loads rasters as
NumPy arrays inside the dataset pipeline; tests/utils.py:13-55 builds
the synthetic tiffs this codec's fixtures mirror).

Formats (no PIL/pillow in the environment — SURVEY.md §7.0):
  raw   C-order uint8 ``h*w*3`` bytes (lossless)
  png   minimal from-scratch PNG: filter-0 scanlines + stdlib zlib
        (lossless, real PNG readers can open it)
  qdct  8x8 block DCT-II with uniform quantization step Q=6 —
        the lossy branch; Q=6 gives MSE ~= Q^2/12 = 3.0 ->
        PSNR ~= 43 dB, comfortably above the 40 dB invariant
        (BASELINE.json: "PSNR>=40dB payload invariant").

All functions operate on ``uint8 [h, w, 3]`` arrays.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

# ---------------------------------------------------------------- raw

def encode_raw(img: np.ndarray) -> bytes:
    return np.ascontiguousarray(img, dtype=np.uint8).tobytes()


def decode_raw(data: bytes, w: int, h: int) -> np.ndarray:
    return np.frombuffer(data, dtype=np.uint8).reshape(h, w, 3)


# ---------------------------------------------------------------- png

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_png(img: np.ndarray) -> bytes:
    img = np.ascontiguousarray(img, dtype=np.uint8)
    h, w, _ = img.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit RGB
    # filter byte 0 prepended to every scanline
    scan = np.empty((h, 1 + w * 3), dtype=np.uint8)
    scan[:, 0] = 0
    scan[:, 1:] = img.reshape(h, w * 3)
    idat = zlib.compress(scan.tobytes(), 6)
    return _PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def decode_png(data: bytes, w: int | None = None, h: int | None = None) -> np.ndarray:
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG stream")
    pos = 8
    width = height = None
    idat = bytearray()
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            width, height, bit_depth, color_type = struct.unpack(">IIBB", payload[:10])
            if bit_depth != 8 or color_type != 2:
                raise ValueError("only 8-bit RGB PNGs supported")
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
    raw = zlib.decompress(bytes(idat))
    scan = np.frombuffer(raw, dtype=np.uint8).reshape(height, 1 + width * 3)
    if not np.all(scan[:, 0] == 0):
        raise ValueError("only filter-0 scanlines supported")
    return scan[:, 1:].reshape(height, width, 3).copy()


# --------------------------------------------------------------- qdct

_Q = 6.0  # uniform quantization step -> ~43 dB PSNR

_DCT8 = np.zeros((8, 8))
for _k in range(8):
    for _n in range(8):
        _DCT8[_k, _n] = np.cos(np.pi / 8 * (_n + 0.5) * _k)
_DCT8 *= np.sqrt(2.0 / 8)
_DCT8[0] /= np.sqrt(2.0)  # orthonormal DCT-II


def _blockify(chan: np.ndarray) -> tuple[np.ndarray, int, int]:
    """Pad channel to multiples of 8 (edge-replicate) and split to 8x8 blocks."""
    h, w = chan.shape
    ph, pw = (-h) % 8, (-w) % 8
    if ph or pw:
        chan = np.pad(chan, ((0, ph), (0, pw)), mode="edge")
    hb, wb = chan.shape[0] // 8, chan.shape[1] // 8
    blocks = chan.reshape(hb, 8, wb, 8).transpose(0, 2, 1, 3)
    return blocks, hb, wb


def encode_qdct(img: np.ndarray) -> bytes:
    img = np.asarray(img, dtype=np.float64) - 128.0
    h, w, _ = img.shape
    chans = []
    for c in range(3):
        blocks, hb, wb = _blockify(img[:, :, c])
        coef = np.einsum("ij,bcjk,lk->bcil", _DCT8, blocks, _DCT8)
        chans.append(np.round(coef / _Q).astype(np.int16).tobytes())
    return struct.pack(">HH", w, h) + zlib.compress(b"".join(chans), 6)


def decode_qdct(data: bytes, w: int | None = None, h: int | None = None) -> np.ndarray:
    w, h = struct.unpack(">HH", data[:4])
    raw = zlib.decompress(data[4:])
    hb, wb = (h + 7) // 8, (w + 7) // 8
    per_chan = hb * wb * 64 * 2
    chans = []
    for c in range(3):
        q = np.frombuffer(raw[c * per_chan : (c + 1) * per_chan], dtype=np.int16)
        coef = q.astype(np.float64).reshape(hb, wb, 8, 8) * _Q
        blocks = np.einsum("ji,bcjk,kl->bcil", _DCT8, coef, _DCT8)
        chan = blocks.transpose(0, 2, 1, 3).reshape(hb * 8, wb * 8)[:h, :w]
        chans.append(chan)
    img = np.stack(chans, axis=-1) + 128.0
    return np.clip(np.round(img), 0, 255).astype(np.uint8)


# ----------------------------------------------------------- dispatch

_ENCODERS = {"raw": encode_raw, "png": encode_png, "qdct": encode_qdct}
_DECODERS = {"raw": decode_raw, "png": decode_png, "qdct": decode_qdct}
FORMATS = ("raw", "png", "qdct")
LOSSLESS = frozenset({"raw", "png"})


def encode(img: np.ndarray, fmt: str) -> bytes:
    return _ENCODERS[fmt](img)


def decode(data: bytes, fmt: str, w: int, h: int) -> np.ndarray:
    return _DECODERS[fmt](data, w, h)


# ------------------------------------------------------- psnr / phash

def mse(a: np.ndarray, b: np.ndarray) -> float:
    """Mean-square error (kernel shape follows the reference's masked
    MSE at models/prithvi_eo_v2.py:711-719, unmasked here)."""
    d = np.asarray(a, dtype=np.float64) - np.asarray(b, dtype=np.float64)
    return float(np.mean(d * d))


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    m = mse(a, b)
    if m == 0:
        return float("inf")
    return float(10.0 * np.log10(255.0 * 255.0 / m))


_DCT32 = np.zeros((32, 32))
for _k in range(32):
    for _n in range(32):
        _DCT32[_k, _n] = np.cos(np.pi / 32 * (_n + 0.5) * _k)
_DCT32 *= np.sqrt(2.0 / 32)
_DCT32[0] /= np.sqrt(2.0)


_BIT_WEIGHTS64 = np.uint64(1) << np.arange(63, -1, -1, dtype=np.uint64)


def phash64(img: np.ndarray) -> int:
    """64-bit DCT perceptual hash (signed int64, matches the ``phash:
    long`` column of the input schema)."""
    gray = np.asarray(img, dtype=np.float64).mean(axis=2)
    h, w = gray.shape
    if h == 32 and w == 32:
        # pooling is the identity map at the native hash size (every
        # bin holds exactly one pixel: 0 + g, then / 1.0 — both exact
        # in IEEE doubles), and np.add.at is the slowest op in the
        # function; same bits, ~4x less time on 32x32 tiles
        small = gray
    else:
        # mean-pool resize to 32x32 via index binning (no scipy/PIL)
        yi = (np.arange(h) * 32 // h).astype(np.int64)
        xi = (np.arange(w) * 32 // w).astype(np.int64)
        small = np.zeros((32, 32))
        cnt = np.zeros((32, 32))
        np.add.at(small, (yi[:, None].repeat(w, 1), xi[None, :].repeat(h, 0)), gray)
        np.add.at(cnt, (yi[:, None].repeat(w, 1), xi[None, :].repeat(h, 0)), 1.0)
        small /= np.maximum(cnt, 1.0)
    coef = _DCT32 @ small @ _DCT32.T
    block = coef[:8, :8].flatten()
    med = np.median(block[1:])  # skip DC term
    bits = (block > med).astype(np.uint64)
    # weighted sum == the (val << 1 | bit) fold: bit i lands at 63-i,
    # weights are disjoint powers of two, integer adds are exact
    return int((bits * _BIT_WEIGHTS64).sum(dtype=np.uint64).astype(np.int64))


def hamming64(a: int, b: int) -> int:
    return int(bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1"))
