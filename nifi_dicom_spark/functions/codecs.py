"""Pure-numpy media codecs for the multimodal pipeline.

No imaging library ships in this environment, but two ubiquitous image
formats are fully decodable with stdlib + numpy alone:

* **BMP** (BITMAPINFOHEADER, 24-bit uncompressed) — return an (H, W, 3)
  uint8 RGB array (bottom-up row order and 4-byte row padding handled);
* **PNG** (8-bit depth, color types gray/palette/RGB/gray+alpha/RGBA,
  non-interlaced) — stdlib ``zlib`` inflates the IDAT stream; the five
  scanline filters (none/sub/up/average/paeth) are reversed in numpy
  (sub = per-byte-lane cumsum; up = vectorized row add; average/paeth =
  the sequential recurrences of the spec). Returns (H, W, 3) uint8 RGB
  (gray replicated, alpha dropped).

Encoders exist for round-trip tests and for re-emitting redacted images
(PNG encoder: filter 0 + zlib, color type 2). Baseline JPEG lives in its
own module (:mod:`nifi_dicom_spark.functions.jpeg` — Huffman entropy
coding, DCT, subsampling). Every other format takes the declared
deterministic stub in :mod:`nifi_dicom_spark.functions.multimodal` — the
Spark-side plumbing is identical either way.

Reference analog: pixelmed ships its own from-scratch pixel codecs
for the same reason (no external decoder dependency for core formats).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np


def is_bmp(payload: bytes | None) -> bool:
    return payload is not None and len(payload) >= 54 and payload[:2] == b"BM"


def decode_bmp(payload: bytes) -> np.ndarray:
    """24-bit uncompressed BMP → (H, W, 3) uint8 RGB."""
    if not is_bmp(payload):
        raise ValueError("not a BMP payload")
    data_offset = struct.unpack_from("<I", payload, 10)[0]
    header_size = struct.unpack_from("<I", payload, 14)[0]
    if header_size < 40:
        raise ValueError("unsupported BMP header")
    width, height = struct.unpack_from("<ii", payload, 18)
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    compression = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or compression != 0 or planes != 1:
        raise ValueError(f"unsupported BMP (bpp={bpp}, compression={compression})")
    bottom_up = height > 0
    height = abs(height)
    row_bytes = (width * 3 + 3) & ~3
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=row_bytes * height, offset=data_offset
    ).reshape(height, row_bytes)
    img = rows[:, : width * 3].reshape(height, width, 3)
    if bottom_up:
        img = img[::-1]
    return img[:, :, ::-1].copy()  # BGR → RGB


def encode_bmp(img: np.ndarray) -> bytes:
    """(H, W, 3) uint8 RGB → 24-bit bottom-up BMP."""
    h, w = img.shape[:2]
    row_bytes = (w * 3 + 3) & ~3
    rows = np.zeros((h, row_bytes), dtype=np.uint8)
    rows[:, : w * 3] = img[::-1, :, ::-1].reshape(h, w * 3)  # RGB → BGR, bottom-up
    pixels = rows.tobytes()
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixels), 2835, 2835, 0, 0)
    header = b"BM" + struct.pack("<IHHI", 14 + 40 + len(pixels), 0, 0, 14 + 40)
    return header + info + pixels


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def is_png(payload: bytes | None) -> bool:
    return payload is not None and len(payload) >= 8 and payload[:8] == _PNG_SIG


def _paeth(a: int, b: int, c: int) -> int:
    """Paeth predictor (PNG spec §9.4): nearest of left/up/up-left to the
    linear estimate a+b-c, ties resolved left, up, up-left."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


# Exception classes that can only escape the parser on out-of-bounds /
# malformed input: translated to ValueError at the public boundary.
_MALFORMED_EXC = (IndexError, KeyError, struct.error, zlib.error)


def decode_png(payload: bytes) -> np.ndarray:
    """8-bit non-interlaced PNG → (H, W, 3) uint8 RGB.

    Color types: 0 gray (replicated to RGB), 2 RGB, 3 palette (PLTE
    lookup), 4 gray+alpha, 6 RGBA (alpha dropped). Multiple IDAT chunks are
    concatenated per spec before one zlib inflate. Malformed/truncated
    payloads raise ``ValueError`` (never a raw IndexError/struct.error/
    zlib.error from the chunk parser)."""
    try:
        return _decode_png(payload)
    except _MALFORMED_EXC as e:
        raise ValueError(f"malformed PNG ({type(e).__name__}: {e})") from e


def _decode_png(payload: bytes) -> np.ndarray:
    if not is_png(payload):
        raise ValueError("not a PNG payload")
    pos, n = 8, len(payload)
    ihdr = None
    plte = None
    idat = bytearray()
    while pos + 8 <= n:
        (length,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"PLTE":
            plte = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.extend(body)
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + body + crc
    if ihdr is None or not idat:
        raise ValueError("missing IHDR/IDAT chunk")
    width, height, depth, color, comp, filt, interlace = ihdr
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color)
    if depth != 8 or channels is None or comp != 0 or filt != 0 or interlace != 0:
        raise ValueError(
            f"unsupported PNG (depth={depth}, color={color}, interlace={interlace})"
        )
    raw = zlib.decompress(bytes(idat))
    stride = width * channels
    if len(raw) < height * (stride + 1):
        raise ValueError("truncated PNG pixel data")
    rows = np.frombuffer(raw, dtype=np.uint8, count=height * (stride + 1)).reshape(
        height, stride + 1
    )
    filters, data = rows[:, 0], rows[:, 1:]
    out = np.zeros((height, stride), dtype=np.uint8)
    bpp = channels
    for y in range(height):
        f, row = int(filters[y]), data[y]
        prior = out[y - 1] if y else np.zeros(stride, dtype=np.uint8)
        if f == 0:  # None
            out[y] = row
        elif f == 1:  # Sub: recon[x] = raw[x] + recon[x-bpp] — per-lane cumsum
            lanes = row.reshape(width, bpp).astype(np.uint64)
            out[y] = (
                np.cumsum(lanes, axis=0, dtype=np.uint64) % 256
            ).astype(np.uint8).reshape(stride)
        elif f == 2:  # Up — fully vectorized
            out[y] = row + prior  # uint8 wraps mod 256
        elif f == 3:  # Average: sequential in x (depends on recon[x-bpp])
            o = out[y]
            for x in range(stride):
                left = int(o[x - bpp]) if x >= bpp else 0
                o[x] = (int(row[x]) + ((left + int(prior[x])) >> 1)) & 0xFF
        elif f == 4:  # Paeth: sequential in x
            o = out[y]
            for x in range(stride):
                a = int(o[x - bpp]) if x >= bpp else 0
                c = int(prior[x - bpp]) if x >= bpp else 0
                o[x] = (int(row[x]) + _paeth(a, int(prior[x]), int(c))) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter {f}")
    img = out.reshape(height, width, channels)
    if color == 0:
        return np.repeat(img, 3, axis=2)
    if color == 2:
        return img.copy()
    if color == 3:
        if plte is None:
            raise ValueError("palette PNG without PLTE chunk")
        return plte[img[:, :, 0]]
    if color == 4:
        return np.repeat(img[:, :, :1], 3, axis=2)
    return img[:, :, :3].copy()  # 6: RGBA → drop alpha


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


def encode_png(img: np.ndarray) -> bytes:
    """(H, W, 3) uint8 RGB → 8-bit color-type-2 PNG (filter 0, zlib level 6
    — fixed so output bytes are deterministic for replay)."""
    img = np.ascontiguousarray(img, dtype=np.uint8)
    if img.ndim != 3 or img.shape[2] != 3 or not img.shape[0] or not img.shape[1]:
        raise ValueError(f"img must be non-empty (H, W, 3) RGB, got {img.shape}")
    h, w = img.shape[:2]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    scanlines = np.zeros((h, w * 3 + 1), dtype=np.uint8)
    scanlines[:, 1:] = img.reshape(h, w * 3)  # filter byte 0 per row
    idat = zlib.compress(scanlines.tobytes(), 6)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", idat)
        + _png_chunk(b"IEND", b"")
    )


def image_block_features(img: np.ndarray, dim: int) -> np.ndarray:
    """Real image feature: mean grayscale over ``dim`` row-bands, [0, 1]."""
    gray = img.astype(np.float32).mean(axis=2) / 255.0
    bands = np.array_split(gray, dim, axis=0)
    return np.array([b.mean() if b.size else 0.0 for b in bands], dtype=np.float32)
