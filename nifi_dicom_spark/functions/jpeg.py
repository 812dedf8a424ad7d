"""Pure-stdlib+numpy baseline JPEG codec (ITU-T T.81 / JFIF).

The last compressed IMAGE format the multimodal pipeline stubbed
(SURVEY.md training-data ops; VERDICT r2 "compressed-format media decode").
Scope — baseline sequential DCT, the format ~all camera/web JPEGs use:

* decoder: SOI/APPn/COM/DQT/SOF0/DHT/DRI/SOS/EOI parsing, canonical Huffman
  entropy decode with byte-stuffing and restart markers, DC prediction,
  dequantize → de-zigzag → 8×8 IDCT (separable float basis), chroma
  upsampling for any (h,v) sampling factors, JFIF full-range YCbCr→RGB;
  grayscale replicates. Progressive (SOF2), arithmetic coding, 12-bit and
  hierarchical modes raise ``ValueError`` (→ the multimodal stub fallback).
* encoder (for round-trips and redaction re-encodes): 4:4:4, Annex-K
  standard quantization tables scaled by quality, Annex-K standard Huffman
  tables — deterministic output bytes for replay.

Like the BMP/PNG codecs, validation is property-based from components
up (zigzag involution, DCT⁻¹∘DCT ≈ id, Huffman decode∘encode = id) plus
whole-codec round-trips with quality-dependent error bounds — no external
decoder ships in this environment to cross-check against.

JPEG is lossy: round-trips are *approximate* (quantization), unlike the
exact BMP/PNG round-trips; tests bound the error instead.
"""

from __future__ import annotations

import struct

import numpy as np

# --- shared tables -----------------------------------------------------------

#: zigzag scan: ZIGZAG[i] = natural-order index of the i-th scanned coeff
ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)
UNZIGZAG = np.argsort(ZIGZAG)

#: Annex K.1 luminance / chrominance quantization tables (natural order)
_QL = np.array(
    [16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
     14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
     18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
     49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99],
    dtype=np.float64,
)
_QC = np.array(
    [17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
     24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
     99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
     99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99],
    dtype=np.float64,
)

#: Annex K.3 standard Huffman specs: (bits[1..16], values)
_DC_LUM = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_DC_CHR = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_AC_LUM = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
        0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
        0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
        0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
        0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
        0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
        0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
        0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
        0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
_AC_CHR = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
        0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
        0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
        0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
        0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
        0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
        0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
        0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
        0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
        0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
        0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)

#: separable DCT-II basis: A[u, x] = c(u) cos((2x+1)uπ/16)
_A = np.array(
    [
        [
            (np.sqrt(1 / 8) if u == 0 else np.sqrt(2 / 8))
            * np.cos((2 * x + 1) * u * np.pi / 16)
            for x in range(8)
        ]
        for u in range(8)
    ]
)


def dct2(block: np.ndarray) -> np.ndarray:
    """8×8 forward DCT (float in, float out)."""
    return _A @ block @ _A.T


def idct2(coef: np.ndarray) -> np.ndarray:
    """8×8 inverse DCT."""
    return _A.T @ coef @ _A


def build_huffman(bits: list[int], values: list[int]):
    """Canonical Huffman per T.81 C.2: returns (encode: sym → (code, len),
    decode: (len, code) → sym)."""
    encode: dict[int, tuple[int, int]] = {}
    decode: dict[tuple[int, int], int] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            sym = values[k]
            encode[sym] = (code, length)
            decode[(length, code)] = sym
            code += 1
            k += 1
        code <<= 1
    return encode, decode


def _extend(v: int, t: int) -> int:
    """T.81 F.2.2.1 EXTEND: map t magnitude bits to a signed value."""
    return v - (1 << t) + 1 if v < (1 << (t - 1)) else v


def _category(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length()


# --- bit IO ------------------------------------------------------------------


class _BitReader:
    """MSB-first reader over entropy-coded data with 0xFF00 byte-stuffing
    removal; RSTn markers are consumed by the caller via ``sync_restart``."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.bits = 0
        self.nbits = 0

    def read_bit(self) -> int:
        if self.nbits == 0:
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                nxt = self.data[self.pos]
                if nxt == 0x00:
                    self.pos += 1  # stuffed byte
                else:
                    # marker reached mid-read (e.g. truncated stream): feed
                    # 1-bits per T.81 (padding), do not consume the marker
                    self.pos -= 1
                    b = 0xFF
            self.bits = b
            self.nbits = 8
        self.nbits -= 1
        return (self.bits >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def decode_symbol(self, table: dict[tuple[int, int], int]) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bit()
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code in entropy stream")

    def sync_restart(self) -> None:
        """Byte-align and consume an RSTn marker."""
        self.nbits = 0
        while self.data[self.pos] == 0xFF and self.data[self.pos + 1] == 0xFF:
            self.pos += 1  # fill bytes
        if not (
            self.data[self.pos] == 0xFF
            and 0xD0 <= self.data[self.pos + 1] <= 0xD7
        ):
            raise ValueError("expected restart marker")
        self.pos += 2


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nacc = 0

    def write_bits(self, code: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.nacc += 1
            if self.nacc == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.nacc = 0

    def flush(self) -> None:
        if self.nacc:
            self.acc = (self.acc << (8 - self.nacc)) | ((1 << (8 - self.nacc)) - 1)
            self.out.append(self.acc)
            if self.acc == 0xFF:
                self.out.append(0x00)
            self.acc = 0
            self.nacc = 0


# --- decoder -----------------------------------------------------------------


def is_jpeg(payload: bytes | None) -> bool:
    return payload is not None and len(payload) >= 4 and payload[:2] == b"\xff\xd8"


# Exception classes that can only escape the parser on out-of-bounds /
# malformed input (never on caller API misuse): translated to ValueError at
# the public boundary so callers get one clean error contract.
_MALFORMED_EXC = (IndexError, KeyError, StopIteration, struct.error)


def decode_jpeg(payload: bytes) -> np.ndarray:
    """Baseline JFIF → (H, W, 3) uint8 RGB (grayscale replicated).

    Malformed/truncated payloads raise ``ValueError`` (never a raw
    IndexError/KeyError/struct.error from the bit-level parser)."""
    try:
        return _decode_jpeg(payload)
    except _MALFORMED_EXC as e:
        raise ValueError(f"malformed JPEG ({type(e).__name__}: {e})") from e


def _decode_jpeg(payload: bytes) -> np.ndarray:
    if not is_jpeg(payload):
        raise ValueError("not a JPEG payload")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    frame = None
    restart_interval = 0
    n = len(payload)
    while pos + 4 <= n:
        if payload[pos] != 0xFF:
            raise ValueError("bad marker alignment")
        marker = payload[pos + 1]
        if marker == 0xFF:  # T.81 B.1.1.2: fill bytes before a marker
            pos += 1
            continue
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack_from(">H", payload, pos)
        body = payload[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(body):
                pq, tq = body[p] >> 4, body[p] & 0x0F
                p += 1
                if pq != 0:
                    raise ValueError("unsupported JPEG (16-bit quant table)")
                zz = np.frombuffer(body[p : p + 64], dtype=np.uint8).astype(
                    np.float64
                )
                tab = np.empty(64)
                tab[ZIGZAG] = zz  # stored in zigzag order → natural order
                qt[tq] = tab
                p += 64
        elif marker in (0xC0, 0xC1):  # SOF0/1 baseline (extended sequential)
            precision = body[0]
            if precision != 8:
                raise ValueError("unsupported JPEG (non-8-bit precision)")
            h, w = struct.unpack_from(">HH", body, 1)
            ncomp = body[5]
            comps = []
            for i in range(ncomp):
                cid, hv, tq = body[6 + 3 * i : 9 + 3 * i]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq})
            frame = {"h": h, "w": w, "comps": comps}
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"unsupported JPEG (progressive/arithmetic SOF 0x{marker:02X})"
            )
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(body):
                tc, th = body[p] >> 4, body[p] & 0x0F
                bits = list(body[p + 1 : p + 17])
                nv = sum(bits)
                values = list(body[p + 17 : p + 17 + nv])
                _enc, dec = build_huffman(bits, values)
                (huff_dc if tc == 0 else huff_ac)[th] = dec
                p += 17 + nv
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xDA:  # SOS — entropy data follows
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = body[0]
            scan = []
            for i in range(ns):
                cs, tables = body[1 + 2 * i], body[2 + 2 * i]
                comp = next(c for c in frame["comps"] if c["id"] == cs)
                scan.append(
                    {"comp": comp, "dc": tables >> 4, "ac": tables & 0x0F}
                )
            data_pos = pos + seglen
            return _decode_scan(
                payload, data_pos, frame, scan, qt, huff_dc, huff_ac,
                restart_interval,
            )
        pos += seglen
    raise ValueError("no scan data in JPEG")


def _decode_scan(
    data, pos, frame, scan, qt, huff_dc, huff_ac, restart_interval
) -> np.ndarray:
    h, w, comps = frame["h"], frame["w"], frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcu_w, mcu_h = 8 * hmax, 8 * vmax
    mcus_x = -(-w // mcu_w)
    mcus_y = -(-h // mcu_h)
    planes = {
        c["id"]: np.zeros(
            (mcus_y * c["v"] * 8, mcus_x * c["h"] * 8), dtype=np.float64
        )
        for c in comps
    }
    reader = _BitReader(data, pos)
    pred = {c["id"]: 0 for c in comps}
    mcu_count = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                reader.sync_restart()
                pred = {c["id"]: 0 for c in comps}
            for s in scan:
                c = s["comp"]
                q = qt[c["tq"]]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        block = _decode_block(
                            reader, huff_dc[s["dc"]], huff_ac[s["ac"]], pred, c
                        )
                        spatial = idct2((block * q).reshape(8, 8)) + 128.0
                        y0 = (my * c["v"] + by) * 8
                        x0 = (mx * c["h"] + bx) * 8
                        planes[c["id"]][y0 : y0 + 8, x0 : x0 + 8] = spatial
            mcu_count += 1
    # upsample each plane to full MCU-grid resolution, crop, stack
    out = []
    for c in comps:
        p = planes[c["id"]]
        if c["h"] != hmax or c["v"] != vmax:
            p = np.repeat(np.repeat(p, vmax // c["v"], axis=0), hmax // c["h"], axis=1)
        out.append(p[:h, :w])
    if len(out) == 1:
        g = np.clip(np.round(out[0]), 0, 255).astype(np.uint8)
        return np.repeat(g[:, :, None], 3, axis=2)
    y, cb, cr = out[0], out[1] - 128.0, out[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(
        np.round(np.stack([r, g, b], axis=2)), 0, 255
    ).astype(np.uint8)


def _decode_block(reader, dc_table, ac_table, pred, comp) -> np.ndarray:
    zz = np.zeros(64, dtype=np.float64)
    t = reader.decode_symbol(dc_table)
    diff = _extend(reader.read_bits(t), t) if t else 0
    pred[comp["id"]] += diff
    zz[0] = pred[comp["id"]]
    k = 1
    while k < 64:
        rs = reader.decode_symbol(ac_table)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:  # ZRL: 16 zeros
                k += 16
                continue
            break  # EOB
        k += r
        if k > 63:
            raise ValueError("AC run past end of block")
        zz[k] = _extend(reader.read_bits(s), s)
        k += 1
    out = np.zeros(64, dtype=np.float64)
    out[ZIGZAG] = zz  # zigzag scan order → natural order
    return out


# --- encoder -----------------------------------------------------------------


def _quality_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    """IJG quality scaling of the Annex-K tables."""
    quality = min(100, max(1, quality))
    scale = 5000 / quality if quality < 50 else 200 - 2 * quality
    ql = np.clip(np.floor((_QL * scale + 50) / 100), 1, 255)
    qc = np.clip(np.floor((_QC * scale + 50) / 100), 1, 255)
    return ql, qc


def encode_jpeg(img: np.ndarray, quality: int = 90) -> bytes:
    """(H, W, 3) uint8 RGB → baseline JFIF (4:4:4, standard tables)."""
    img = np.ascontiguousarray(img, dtype=np.uint8)
    if img.ndim != 3 or img.shape[2] != 3 or not img.shape[0] or not img.shape[1]:
        raise ValueError(f"img must be non-empty (H, W, 3) RGB, got {img.shape}")
    h, w = img.shape[:2]
    ql, qc = _quality_tables(quality)
    rgb = img.astype(np.float64)
    r, g, b = rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0

    dc_l_enc, _ = build_huffman(*_DC_LUM)
    ac_l_enc, _ = build_huffman(*_AC_LUM)
    dc_c_enc, _ = build_huffman(*_DC_CHR)
    ac_c_enc, _ = build_huffman(*_AC_CHR)

    bw = _BitWriter()
    pred = [0, 0, 0]
    blocks_y = -(-h // 8)
    blocks_x = -(-w // 8)
    planes = [(y, ql, dc_l_enc, ac_l_enc), (cb, qc, dc_c_enc, ac_c_enc), (cr, qc, dc_c_enc, ac_c_enc)]
    for by in range(blocks_y):
        for bx in range(blocks_x):
            for ci, (plane, q, dc_enc, ac_enc) in enumerate(planes):
                block = np.full((8, 8), plane[min(h - 1, by * 8), min(w - 1, bx * 8)])
                ys, xs = min(8, h - by * 8), min(8, w - bx * 8)
                block[:ys, :xs] = plane[by * 8 : by * 8 + ys, bx * 8 : bx * 8 + xs]
                # edge replication for partial blocks
                if ys < 8:
                    block[ys:, :xs] = block[ys - 1, :xs]
                if xs < 8:
                    block[:, xs:] = block[:, xs - 1 : xs]
                coef = dct2(block - 128.0)
                quant = np.round(coef / q.reshape(8, 8)).astype(np.int64)
                zz = quant.reshape(64)[ZIGZAG]
                _encode_block(bw, zz, pred, ci, dc_enc, ac_enc)
    bw.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    for tq, tab in ((0, ql), (1, qc)):
        out += seg(0xDB, bytes([tq]) + bytes(tab.reshape(64)[ZIGZAG].astype(np.uint8)))
    sof = struct.pack(">BHHB", 8, h, w, 3)
    for cid, tq in ((1, 0), (2, 1), (3, 1)):
        sof += bytes([cid, 0x11, tq])  # 4:4:4 (h=v=1)
    out += seg(0xC0, sof)
    for tc_th, (bits, values) in (
        (0x00, _DC_LUM), (0x10, _AC_LUM), (0x01, _DC_CHR), (0x11, _AC_CHR)
    ):
        out += seg(0xC4, bytes([tc_th] + bits + values))
    sos = bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])
    out += seg(0xDA, sos)
    out += bw.out
    out += b"\xff\xd9"
    return bytes(out)


def _encode_block(bw, zz, pred, ci, dc_enc, ac_enc) -> None:
    diff = int(zz[0]) - pred[ci]
    pred[ci] = int(zz[0])
    t = _category(diff)
    code, length = dc_enc[t]
    bw.write_bits(code, length)
    if t:
        bw.write_bits(diff if diff >= 0 else diff + (1 << t) - 1, t)
    run = 0
    last_nz = 0
    for k in range(1, 64):
        if zz[k] != 0:
            last_nz = k
    for k in range(1, last_nz + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_enc[0xF0]  # ZRL
            bw.write_bits(code, length)
            run -= 16
        s = _category(v)
        code, length = ac_enc[(run << 4) | s]
        bw.write_bits(code, length)
        bw.write_bits(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if last_nz < 63:
        code, length = ac_enc[0x00]  # EOB
        bw.write_bits(code, length)
