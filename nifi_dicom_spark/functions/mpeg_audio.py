"""MPEG-1 Layer I subband audio codec — pure numpy, from scratch.

This closes the "compressed audio bitstream" gap left by
:mod:`nifi_dicom_spark.functions.mp3` (which parses frame headers but not
payloads): a complete encoder + decoder for MPEG-1 Audio Layer I, so the
multimodal feature path decodes compressed audio for REAL instead of the
sha-seeded stub.

What is faithful to ISO/IEC 11172-3 (all public-spec knowledge):

* the exact Layer I frame bit layout — 32-bit header, per-subband 4-bit
  allocation indices, 6-bit scalefactor indices, then 12 × 32 MSB-first
  sample codes;
* the scalefactor table (Table 3-B.1 is the closed form
  ``sf(i) = 2 * 2**(-i/3)``, i = 0..62);
* the Layer I mid-rise quantizer: ``2**nb - 1`` levels, offset-binary
  ("MSB-inverted two's complement") code words, dequant
  ``s'' = (2**nb / (2**nb - 1)) * (f + 2**(1-nb))``, the all-ones code
  excluded;
* the 32-band cosine-modulated filterbank structure: 512-tap prototype,
  32-sample hop, critically sampled (implemented in the direct/unfolded
  form — see the deviation note below).

One deliberate, documented deviation: the 512 prototype-window
coefficients (ISO Table 3-C.1) are *data*, not derivable from a formula,
and this repo embeds no copied tables it cannot re-derive. Instead the
filterbank is implemented in the canonical direct (unfolded) form of the
same cosine-modulated pseudo-QMF — modulation
``cos((2b+1)(π/64)(n − 255.5) + (−1)^b·π/4)``, synthesis = analysis
transpose — with a prototype designed from first principles
(Kaiser-windowed sinc; β and cutoff grid-searched offline for maximum
reconstruction SNR: β = 11.6, ω_c = 1.15·π/64, measured ≈ 56 dB
filterbank-only round-trip, comfortably under the ~45 dB 8-bit
quantization floor that dominates end-to-end). The ISO folded C/D-table
flow is an implementation optimization of exactly this structure (the
printed tables bake the (−1)^⌊n/64⌋ folding signs into the window).
Consequence: streams produced by this encoder decode bit-format-exactly
by any conformant tool, and this decoder reconstructs them to measured
>40 dB SNR; decoding *third-party* Layer I streams would carry a small
additional filterbank-mismatch error (the ISO decoder compliance test is
itself SNR-based, not bit-exact). Layer II/III spectral payloads remain
out of scope (see ``multimodal._fake_decode_feature``).

Vectorization: the analysis is ONE ``(blocks × 512) @ (512 × 32)``
matmul over a stride-tricks sliding window; the synthesis is one
``(blocks × 32) @ (32 × 512)`` matmul plus a 16-step strided
overlap-add. Bit packing is per-frame numpy (``np.unpackbits`` /
bit-matrix dots), no per-sample Python in the hot loops.

Reference analog: the reference decompresses encapsulated pixel/bulk
data on read via pixelmed codecs (``AttributeList.java:45,231``); this
module is the equivalent "decompress the payload, not just the headers"
capability for the audio kind of the media schema.
"""

from __future__ import annotations

import numpy as np

from nifi_dicom_spark.functions import mp3

N_BANDS = 32
TAPS = 512
HOP = 32
SAMPLES_PER_FRAME = 384  # Layer I: 12 subband samples x 32 bands
_GRANULES = 12

# Layer I valid bitrates (kbps) and MPEG-1 sample rates, from the public
# header tables already in mp3.py.
_LAYER1_BITRATES = mp3._BITRATES[(1, 1)][1:]  # drop the 'free' slot
_MPEG1_RATES = mp3._SAMPLE_RATES[3]

# Scalefactor table: ISO 11172-3 Table 3-B.1 in closed form.
SCALEFACTORS = 2.0 * np.power(2.0, -np.arange(63) / 3.0)


def _design_prototype() -> np.ndarray:
    """512-tap near-PR pseudo-QMF prototype: Kaiser-windowed sinc.
    β = 11.6 and cutoff 1.15·π/64 are the offline grid-search optimum for
    round-trip reconstruction SNR of the matched (transpose-synthesis)
    filterbank on this length/band-count (≈ 56 dB on white noise).
    Deterministic — no randomness, no external data."""
    n = np.arange(TAPS, dtype=np.float64)
    c = (TAPS - 1) / 2.0
    wc = 1.15 * np.pi / (2.0 * N_BANDS)
    x = n - c
    h = np.where(x == 0.0, wc / np.pi, np.sin(wc * x) / (np.pi * np.where(x == 0, 1, x)))
    h *= np.kaiser(TAPS, 11.6)
    # unit DC gain of the prototype lowpass
    return h / h.sum()


_PROTO = _design_prototype()

# Analysis matrix A[n, b] = h[n]·cos((2b+1)(π/64)(n − 255.5) + (−1)^b·π/4):
# subband samples for one block are  window(512, newest-last) @ A -> (32,).
# The (−1)^b·π/4 phase is what cancels the dominant alias between adjacent
# bands (classic pseudo-QMF); synthesis uses the SAME filters time-reversed,
# which for this matrix form is simply the transpose.
_N = np.arange(TAPS, dtype=np.float64)[:, None]
_B = np.arange(N_BANDS, dtype=np.float64)[None, :]
_THETA = (np.power(-1.0, np.arange(N_BANDS)) * np.pi / 4)[None, :]
_ANALYSIS = (
    _PROTO[:, None]
    * np.cos((2 * _B + 1) * (np.pi / (2 * N_BANDS)) * (_N - (TAPS - 1) / 2.0) + _THETA)
).astype(np.float64)
_SYNTHESIS = _ANALYSIS.T.copy()

# cascade delay of analysis+synthesis (peak-correlation lag; window center
# 255.5 minus the 31.5-sample hop offset on each side -> 480)
_DELAY = TAPS - HOP


def _calibrate_gain() -> float:
    """Measure the analysis→synthesis passband gain on a deterministic
    probe and return the scalar that makes the cascade unity-gain
    (≈ 1/128 = 1/4M for this normalization). Runs once at import; pure
    numpy, ~1 ms."""
    rng = np.random.default_rng(12345)
    x = rng.standard_normal(8192)
    s = analyze(x)
    y = synthesize(s, gain=1.0)
    a = x[: len(x) - _DELAY]
    b = y[_DELAY : len(x)]
    return float(np.dot(a, b) / np.dot(b, b))


def analyze(x: np.ndarray) -> np.ndarray:
    """Analysis filterbank: mono float signal -> (n_blocks, 32) subband
    samples, one block per 32 input samples (zero history priming)."""
    x = np.asarray(x, dtype=np.float64)
    pad = (-len(x)) % HOP
    if pad:
        x = np.concatenate([x, np.zeros(pad)])
    # prime with TAPS-HOP zeros of history so block t sees x[: 32(t+1)]
    xp = np.concatenate([np.zeros(TAPS - HOP), x])
    n_blocks = len(x) // HOP
    sw = np.lib.stride_tricks.sliding_window_view(xp, TAPS)[::HOP][:n_blocks]
    # the copy pays for itself: BLAS's fast GEMM path needs contiguous
    # input, and the strided view otherwise routes through a ~7x slower
    # fallback (measured 1.56 ms vs 0.22 ms on a 75x512 block matrix)
    return np.ascontiguousarray(sw) @ _ANALYSIS


def synthesize(s: np.ndarray, gain: float | None = None) -> np.ndarray:
    """Synthesis filterbank: (n_blocks, 32) -> mono float signal of
    length 32*n_blocks + 480 (tail included; cascade delay 480)."""
    s = np.asarray(s, dtype=np.float64)
    if gain is None:
        gain = _GAIN
    contrib = (s @ _SYNTHESIS) * gain  # (n_blocks, 512)
    t = contrib.shape[0]
    out = np.zeros(HOP * (t - 1) + TAPS if t else 0)
    c = contrib.reshape(t, TAPS // HOP, HOP)
    for k in range(TAPS // HOP):  # 16-step strided overlap-add
        out[HOP * k : HOP * (k + t)].reshape(t, HOP)[:] += c[:, k, :]
    return out


_GAIN = _calibrate_gain()


# ---------------------------------------------------------------------------
# Layer I quantizer (ISO 2.4.3.3.1, offset-binary code words)
# ---------------------------------------------------------------------------


def _quantize(y: np.ndarray, nb: int) -> np.ndarray:
    """Normalized samples y in [-1, 1] -> nb-bit code words (uint32).
    Offset binary; the all-ones pattern (forbidden by the spec) is never
    emitted: 2**nb - 1 usable levels."""
    half = 1 << (nb - 1)
    a_inv = (2**nb - 1) / float(2**nb)
    f = y * a_inv - 2.0 ** (1 - nb)
    cp = np.rint(f * half).astype(np.int64)
    cp = np.clip(cp, -half, half - 2)  # half-1 would encode the forbidden code
    return (cp + half).astype(np.uint32)


def _dequantize(code: np.ndarray, nb: int) -> np.ndarray:
    half = 1 << (nb - 1)
    f = (code.astype(np.float64) - half) / half
    return (2**nb / (2**nb - 1.0)) * (f + 2.0 ** (1 - nb))


# ---------------------------------------------------------------------------
# Bit packing — MSB-first, numpy per frame
# ---------------------------------------------------------------------------


def _pack_bits(values: np.ndarray, widths: np.ndarray) -> bytes:
    """Concatenate each values[i] as widths[i] MSB-first bits; pad the
    final byte with zero bits."""
    values = np.asarray(values, dtype=np.uint64)
    widths = np.asarray(widths, dtype=np.int64)
    total = int(widths.sum())
    ends = np.cumsum(widths)
    starts = ends - widths
    # bit positions are consecutive; per-bit shift counts down within each field
    offsets = np.arange(total) - np.repeat(starts, widths)
    shifts = (np.repeat(widths, widths) - 1 - offsets).astype(np.uint64)
    bits = ((np.repeat(values, widths) >> shifts) & 1).astype(np.uint8)
    pad = (-total) % 8
    if pad:
        bits = np.concatenate([bits, np.zeros(pad, dtype=np.uint8)])
    return np.packbits(bits).tobytes()


class _BitReader:
    """MSB-first reader over a frame body; bulk reads are vectorized."""

    def __init__(self, data: bytes):
        self._bits = np.unpackbits(np.frombuffer(data, dtype=np.uint8))
        self._pos = 0

    def take(self, n: int, width: int) -> np.ndarray:
        """Read n consecutive width-bit fields as uint32."""
        end = self._pos + n * width
        if end > len(self._bits):
            raise ValueError("Layer I frame body truncated")
        chunk = self._bits[self._pos : end].reshape(n, width).astype(np.uint32)
        self._pos = end
        w = (1 << np.arange(width - 1, -1, -1)).astype(np.uint32)
        return chunk @ w


# ---------------------------------------------------------------------------
# Encoder
# ---------------------------------------------------------------------------


def _frame_slots(bitrate_kbps: int, sample_rate: int) -> int:
    """Layer I frame length in bytes (no padding): slots of 4 bytes."""
    return (12 * bitrate_kbps * 1000 // sample_rate) * 4


def encode_layer1(
    samples: np.ndarray,
    sample_rate: int = 32000,
    *,
    bits: int = 8,
    coded_bands: int = 30,
) -> bytes:
    """Encode PCM (float, [-1, 1]; shape (n,) mono or (n, 2) stereo) as an
    MPEG-1 Layer I CBR stream.

    ``bits`` is the uniform allocation given to subbands 0..coded_bands-1
    of every channel (a fixed allocation is a legal encoder choice —
    psychoacoustics only ever changes WHICH allocation is written). The
    smallest standard bitrate whose frame fits the payload is selected;
    spare bits are zero-padded, as the spec allows (ancillary data
    region). Field order is the ISO one: allocations by (subband,
    channel), scalefactors by (subband, channel), then sample codes by
    (granule, subband, channel).
    """
    if sample_rate not in _MPEG1_RATES:
        raise ValueError(f"sample_rate must be one of {_MPEG1_RATES}")
    if not 2 <= bits <= 15:
        raise ValueError("Layer I allocations are 2..15 bits")
    if not 1 <= coded_bands <= N_BANDS:
        raise ValueError("coded_bands must be 1..32")
    x = np.asarray(samples, dtype=np.float64)
    if x.ndim == 1:
        x = x[:, None]
    if x.ndim != 2 or x.shape[1] not in (1, 2):
        raise ValueError("samples must be (n,) mono or (n, 1|2) channels")
    if not np.isfinite(x).all():
        raise ValueError("samples must be finite (no NaN/inf)")
    nch = x.shape[1]
    # flush: the filterbank cascade needs _DELAY future samples to finish
    # reconstructing the tail, so append that much silence before framing
    # (the standard encoder-delay/padding behavior of MPEG encoders)
    x = np.concatenate([x, np.zeros((_DELAY, nch))])
    pad = (-x.shape[0]) % SAMPLES_PER_FRAME
    if pad:
        x = np.concatenate([x, np.zeros((pad, nch))])
    n_frames = x.shape[0] // SAMPLES_PER_FRAME
    if n_frames == 0:
        raise ValueError("need at least one frame of samples")

    # (n_frames, 12, 32, nch)
    sub = np.stack(
        [analyze(x[:, ch]).reshape(n_frames, _GRANULES, N_BANDS) for ch in range(nch)],
        axis=-1,
    )

    # payload bits: alloc (32x4xch) + scf (6 per coded band per ch) + samples
    need_bits = 32 + nch * (
        N_BANDS * 4 + coded_bands * 6 + coded_bands * _GRANULES * bits
    )
    need_bytes = (need_bits + 7) // 8
    rate = next(
        (r for r in _LAYER1_BITRATES if _frame_slots(r, sample_rate) >= need_bytes),
        None,
    )
    if rate is None:
        raise ValueError(
            f"payload ({need_bytes} B) exceeds the largest Layer I frame at "
            f"{sample_rate} Hz; lower bits/coded_bands"
        )
    frame_len = _frame_slots(rate, sample_rate)

    br_idx = mp3._BR_INDEX[(1, 1)][rate]
    sr_idx = mp3._SR_INDEX[3][sample_rate]
    header = bytes(
        [
            0xFF,
            0xFF,  # sync + MPEG-1 + Layer I + no CRC
            (br_idx << 4) | (sr_idx << 2),
            ((3 if nch == 1 else 0) << 6),  # mono / stereo
        ]
    )

    alloc_field = np.zeros((N_BANDS, nch), dtype=np.uint64)
    alloc_field[:coded_bands, :] = bits - 1  # index = nb - 1 (Layer I rule)
    widths = np.concatenate(
        [
            np.full(N_BANDS * nch, 4, dtype=np.int64),
            np.full(coded_bands * nch, 6, dtype=np.int64),
            np.full(coded_bands * _GRANULES * nch, bits, dtype=np.int64),
        ]
    )

    frames = []
    for fi in range(n_frames):
        s = sub[fi][:, :coded_bands, :]  # (12, coded_bands, nch)
        peak = np.abs(s).max(axis=0)  # (coded_bands, nch)
        # smallest table scalefactor >= peak: table is descending
        scf_idx = (
            np.searchsorted(-SCALEFACTORS, -np.maximum(peak, 1e-12), side="right") - 1
        )
        scf_idx = np.clip(scf_idx, 0, 62).astype(np.uint64)
        scf = SCALEFACTORS[scf_idx]
        codes = _quantize(s / scf[None, :, :], bits)

        values = np.concatenate(
            [
                alloc_field.reshape(-1),
                scf_idx.reshape(-1),
                codes.reshape(-1).astype(np.uint64),
            ]
        )
        body = _pack_bits(values, widths)
        frame = header + body
        frames.append(frame + b"\x00" * (frame_len - len(frame)))
    return b"".join(frames)


# ---------------------------------------------------------------------------
# Decoder
# ---------------------------------------------------------------------------


def decode_layer1(payload: bytes) -> tuple[np.ndarray, int]:
    """Decode an MPEG-1 Layer I stream (mono, stereo or dual-channel;
    2-channel audio is downmixed to mono to match ``codecs.decode_wav``'s
    contract). Returns (float64 samples, sample_rate). Uses the existing
    frame scanner for sync/ID3 handling, then entropy-decodes each
    payload. CRC-protected frames skip the 2-byte CRC word (the checksum
    itself is not verified). Joint-stereo frames are rejected: their
    shared-allocation intensity bands need ``mode_extension`` handling
    this decoder does not implement, and misparsing them would produce
    silent garbage. The last ≤480 returned samples of a stream without
    encoder flush padding are a partial (attenuated-tail) reconstruction
    — streams from :func:`encode_layer1` carry the flush, so their
    original-signal region is always fully reconstructed."""
    frames = mp3.frame_table(payload)
    if not frames:
        raise ValueError("no MPEG frames found")
    first = mp3._parse_header(payload, frames[0].offset)
    if first is None or first.layer != 1 or first.version != "1":
        raise ValueError("not an MPEG-1 Layer I stream")
    if first.mode == "joint_stereo":
        raise ValueError("joint-stereo Layer I (intensity bands) unsupported")
    nch = first.channels
    sr = first.sample_rate

    per_frame = []
    for fr in frames:
        h = mp3._parse_header(payload, fr.offset)
        if h is None or h.layer != 1:
            continue
        skip = 4 + (2 if h.has_crc else 0)  # header + optional CRC word
        body = payload[fr.offset + skip : fr.offset + fr.size]
        r = _BitReader(body)
        alloc = r.take(N_BANDS * nch, 4).reshape(N_BANDS, nch)
        if (alloc == 15).any():
            raise ValueError("forbidden Layer I allocation index 15")
        nb = np.where(alloc > 0, alloc + 1, 0)
        scf = np.zeros((N_BANDS, nch))
        coded = np.argwhere(alloc > 0)
        # scalefactor fields are always 6 bits and contiguous in coded
        # (subband, channel) order — one vectorized take for all of them
        if len(coded):
            idxs = r.take(len(coded), 6)
            if (idxs > 62).any():
                raise ValueError("forbidden scalefactor index 63")
            scf[coded[:, 0], coded[:, 1]] = SCALEFACTORS[idxs]
        sub = np.zeros((_GRANULES, N_BANDS, nch))
        # sample order: s=0..11, sb=0..31, ch. When every coded (sb, ch)
        # shares one width (any fixed-allocation encoder, incl. ours) the
        # whole sample block is one contiguous run of equal-width fields —
        # read it in a single vectorized take and scatter.
        nz = nb[alloc > 0]
        if len(nz) and (nz == nz[0]).all():
            w = int(nz[0])
            codes = r.take(_GRANULES * len(coded), w).reshape(_GRANULES, len(coded))
            vals = _dequantize(codes, w) * scf[coded[:, 0], coded[:, 1]][None, :]
            sub[:, coded[:, 0], coded[:, 1]] = vals
        else:
            for g in range(_GRANULES):
                for sb, ch in coded:
                    w = int(nb[sb, ch])
                    code = r.take(1, w)
                    sub[g, sb, ch] = _dequantize(code, w)[0] * scf[sb, ch]
        per_frame.append(sub)

    allsub = np.concatenate(per_frame, axis=0)  # (12*F, 32, nch)
    mono_sub = allsub.mean(axis=2) if nch > 1 else allsub[:, :, 0]
    out = synthesize(mono_sub)
    # trim the cascade delay so sample 0 aligns with encoder input 0;
    # return the full frame content (one sample per subband slot). The
    # tail's final ≤_DELAY samples are partially reconstructed — for
    # flush-padded streams (ours) that region is the appended silence, and
    # for third-party streams truncating it would LOSE real audio, so it
    # is returned as-is (documented above).
    n = allsub.shape[0] * HOP
    return out[_DELAY : _DELAY + n], sr


def is_layer1(payload: bytes | None) -> bool:
    """True when the payload STARTS with an MPEG-1 Layer I frame header
    (after an optional ID3v2 tag). Deliberately anchored at offset 0 — no
    resync scan — so this dispatch gate is O(1) on the hot feature path
    and can never steal a BMP/PNG/JPEG payload whose compressed bytes
    happen to contain a sync pattern somewhere in the first 2 KB (the
    ``mp3.is_mp3`` scan is the right tool for *probing*, not for
    *dispatch*). Decoding still tolerates mid-stream junk via
    ``frame_table``'s resync once a stream is positively identified."""
    if not payload or len(payload) < 4:
        return False
    try:
        h = mp3._parse_header(payload, mp3._id3v2_len(payload))
    except Exception:
        return False
    return h is not None and h.layer == 1 and h.version == "1"


def roundtrip_snr_db(x: np.ndarray, y: np.ndarray) -> float:
    """SNR of reconstruction y against reference x (aligned, same length
    convention as decode_layer1's output)."""
    n = min(len(x), len(y))
    a, b = np.asarray(x[:n], dtype=np.float64), np.asarray(y[:n], dtype=np.float64)
    err = a - b
    p = float(np.dot(a, a))
    e = float(np.dot(err, err))
    if e == 0:
        return float("inf")
    return 10.0 * np.log10(p / e) if p > 0 else float("-inf")


# ---------------------------------------------------------------------------
# MPEG-1 Layer II (ISO 11172-3 2.4.1.6 / 2.4.3.3.3) — same 32-band
# filterbank, finer payload structure: 1152 samples per frame (36 subband
# samples = 12 granules x 3), per-band allocation drawn from a band-class
# table, up to three 6-bit scalefactors per band selected by a 2-bit scfsi
# field, and *grouped* quantizers (3/5/9 levels pack 3 samples into one
# 5/7/10-bit code word).
#
# Faithful to the public spec: the frame bit layout (allocation field
# widths 4/4/3/2 by band class with sblimit 27 — the classic Table 3-B.2a
# shape — scfsi semantics, scalefactor transmission order, granule-major
# sample order, base-L grouping with the first sample in the low digit),
# the scalefactor table (closed form, shared with Layer I), and the
# 2^nb − 1-level mid-rise quantizer for ungrouped classes (shared
# _quantize/_dequantize). One documented deviation, same policy as the
# filterbank prototype: the grouped 3/5/9-level classes use the mid-tread
# uniform closed form q = round((x+1)(L−1)/2), x̂ = 2q/(L−1) − 1 instead
# of Table 3-B.4's printed C/D constants (non-derivable data); encoder and
# decoder here are exactly inverse, and spec compliance for decoders is
# SNR-based, not bit-exact, so third-party streams decode with a small
# extra error on those low-rate bands only.
# ---------------------------------------------------------------------------

SAMPLES_PER_FRAME_L2 = 1152  # 36 subband samples x 32 bands
_GRANULES_L2 = 12  # of 3 subband samples each
SBLIMIT_L2 = 27

# Band classes: (first_sb, last_sb_excl, allocation field width, level list).
# Level lists: index 0 = band off; grouped levels are 3/5/9.
_L2_CLASSES = (
    (0, 3, 4, (3, 7, 15, 31, 63, 127, 255, 511, 1023, 2047, 4095, 8191, 16383, 32767, 65535)),
    (3, 11, 4, (3, 5, 7, 9, 15, 31, 63, 127, 255, 511, 1023, 2047, 4095, 8191, 65535)),
    (11, 23, 3, (3, 5, 7, 9, 15, 31, 65535)),
    (23, 27, 2, (3, 5, 65535)),
)
_GROUP_BITS = {3: 5, 5: 7, 9: 10}  # ceil(log2(L^3)) for grouped classes


def _l2_class(sb: int) -> tuple[int, tuple[int, ...]]:
    for lo, hi, width, levels in _L2_CLASSES:
        if lo <= sb < hi:
            return width, levels
    raise ValueError(f"subband {sb} above sblimit {SBLIMIT_L2}")


def _l2_code_bits(levels: int) -> int:
    """Bits consumed per GRANULE (3 samples) for one band at `levels`."""
    if levels in _GROUP_BITS:
        return _GROUP_BITS[levels]
    return 3 * int(levels + 1).bit_length() - 3  # 3 x nb, levels = 2^nb - 1


def effective_levels(
    requested: int, coded_bands: int = SBLIMIT_L2
) -> list[int | None]:
    """Per-band quantizer resolution ``encode_layer2`` actually uses for a
    requested ``levels``: the largest level count the band's class offers
    that is <= requested, or None when the class has nothing that coarse
    (band left uncoded). Band classes offer different level menus — e.g.
    class 0 (bands 0-2) has (3, 7, 15, ...) with NO 5-level entry, so a
    requested levels=5 falls back to the 3-level quantizer there. Error
    envelopes must therefore be derived from this EFFECTIVE allocation,
    not from the request (tests/test_properties.py does)."""
    out: list[int | None] = []
    for sb in range(coded_bands):
        _w, lv = _l2_class(sb)
        cand = [l for l in lv if l <= requested]
        out.append(cand[-1] if cand else None)
    return out


def _quantize_grouped(y: np.ndarray, levels: int) -> np.ndarray:
    """Mid-tread uniform quantizer for the grouped 3/5/9-level classes:
    y in [-1, 1] -> integer steps in [0, levels-1]."""
    q = np.rint((y + 1.0) * (levels - 1) / 2.0).astype(np.int64)
    return np.clip(q, 0, levels - 1).astype(np.uint32)


def _dequantize_grouped(q: np.ndarray, levels: int) -> np.ndarray:
    return 2.0 * q.astype(np.float64) / (levels - 1) - 1.0


def _take_var(bits: np.ndarray, pos: int, widths: np.ndarray) -> tuple[np.ndarray, int]:
    """Vectorized variable-width MSB-first field read: returns
    (uint64 values, new position). Inverse of _pack_bits."""
    widths = np.asarray(widths, dtype=np.int64)
    total = int(widths.sum())
    end = pos + total
    if end > len(bits):
        raise ValueError("Layer II frame body truncated")
    chunk = bits[pos:end].astype(np.uint64)
    ends = np.cumsum(widths)
    starts = ends - widths
    offsets = np.arange(total) - np.repeat(starts, widths)
    shifts = (np.repeat(widths, widths) - 1 - offsets).astype(np.uint64)
    contrib = chunk << shifts
    values = np.add.reduceat(contrib, starts) if total else np.zeros(0, np.uint64)
    # reduceat on an empty field (width 0) would misbehave; widths >= 2 here
    return values, end


def encode_layer2(
    samples: np.ndarray,
    sample_rate: int = 32000,
    *,
    levels: int = 15,
    coded_bands: int = SBLIMIT_L2,
) -> bytes:
    """Encode PCM (float, [-1, 1]; (n,) mono or (n, 2) stereo) as an
    MPEG-1 Layer II CBR stream.

    ``levels`` is the requested quantizer resolution: each coded band gets
    the largest level count its band class offers that is <= ``levels``
    (a fixed allocation is a legal encoder choice — psychoacoustics only
    ever changes WHICH allocation is written). With the default 15, bands
    23..26 fall back to the grouped 5-level quantizer, so a single stream
    exercises both grouped and ungrouped code paths. Scalefactors: all
    three are measured per band; equal ones are folded via scfsi
    (0=all three sent, 1=sf0 shared by parts 0,1; 2=one sf for all;
    3=sf1 shared by parts 1,2), exactly the spec's four modes.
    """
    if sample_rate not in _MPEG1_RATES:
        raise ValueError(f"sample_rate must be one of {_MPEG1_RATES}")
    if not 1 <= coded_bands <= SBLIMIT_L2:
        raise ValueError(f"coded_bands must be 1..{SBLIMIT_L2}")
    if levels < 3:
        raise ValueError("levels must be >= 3")
    x = np.asarray(samples, dtype=np.float64)
    if x.ndim == 1:
        x = x[:, None]
    if x.ndim != 2 or x.shape[1] not in (1, 2):
        raise ValueError("samples must be (n,) mono or (n, 1|2) channels")
    if not np.isfinite(x).all():
        raise ValueError("samples must be finite (no NaN/inf)")
    nch = x.shape[1]
    x = np.concatenate([x, np.zeros((_DELAY, nch))])  # filterbank flush
    pad = (-x.shape[0]) % SAMPLES_PER_FRAME_L2
    if pad:
        x = np.concatenate([x, np.zeros((pad, nch))])
    n_frames = x.shape[0] // SAMPLES_PER_FRAME_L2
    if n_frames == 0:
        raise ValueError("need at least one frame of samples")

    # (n_frames, 36, 32, nch) subband samples
    sub = np.stack(
        [analyze(x[:, ch]).reshape(n_frames, 36, N_BANDS) for ch in range(nch)],
        axis=-1,
    )

    # per-band allocation (fixed across frames/channels)
    band_alloc: list[tuple[int, int, int]] = []  # (sb, alloc_index, levels)
    for sb in range(coded_bands):
        _w, lv = _l2_class(sb)
        cand = [(ix + 1, l) for ix, l in enumerate(lv) if l <= levels]
        if not cand:
            continue  # class has no quantizer that coarse; leave band off
        ix, l = cand[-1]
        band_alloc.append((sb, ix, l))
    if not band_alloc:
        raise ValueError("allocation empty: raise `levels`")
    coded_sb = [sb for sb, _ix, _l in band_alloc]

    # Precompute the per-granule sample-field layout once (fixed across
    # frames): flat column positions per quantizer level, in the spec's
    # (band, channel[, sample]) field order, plus the width sequence.
    _pos = 0
    _cols_by_level: dict[int, list[int]] = {}
    _bidx_by_level: dict[int, list[int]] = {}
    _gran_widths: list[int] = []
    for bi, (_sb, _ix, l) in enumerate(band_alloc):
        grouped = l in _GROUP_BITS
        nf = 1 if grouped else 3
        w = _GROUP_BITS[l] if grouped else int(l + 1).bit_length() - 1
        _bidx_by_level.setdefault(l, []).append(bi)
        for _ch in range(nch):
            for _k in range(nf):
                _cols_by_level.setdefault(l, []).append(_pos)
                _pos += 1
                _gran_widths.append(w)
    field_groups = [
        (l, np.asarray(cols), np.asarray(_bidx_by_level[l]))
        for l, cols in _cols_by_level.items()
    ]
    n_sample_fields = _pos
    sample_widths_flat = _gran_widths * _GRANULES_L2

    # allocation prefix is frame-invariant too: hoist it out of the loop
    _alloc_ix = {sb: ix for sb, ix, _l in band_alloc}
    alloc_values: list[int] = []
    alloc_widths: list[int] = []
    for sb in range(SBLIMIT_L2):
        w, _lv = _l2_class(sb)
        for _ch in range(nch):
            alloc_values.append(_alloc_ix.get(sb, 0))
            alloc_widths.append(w)

    # worst-case frame bits (scfsi may save 6/12 bits per band at runtime —
    # budget for scfsi=0 so every frame fits)
    alloc_bits = sum(alloc_widths)
    scf_bits = len(band_alloc) * nch * (2 + 3 * 6)
    sample_bits = _GRANULES_L2 * nch * sum(_l2_code_bits(l) for _sb, _ix, l in band_alloc)
    need_bytes = (32 + alloc_bits + scf_bits + sample_bits + 7) // 8
    # ISO 11172-3 Layer II bitrate/mode restrictions: 32/48/56/80 kbps are
    # single_channel-only; 224+ kbps are two-channel-only. Violating them
    # produces headers conformant decoders reject, so filter candidates by
    # the channel mode up front.
    l2_rates = [
        r
        for r in mp3._BITRATES[(1, 2)][1:]
        if (r not in (32, 48, 56, 80) or nch == 1)
        and (r < 224 or nch == 2)
    ]
    rate = next(
        (r for r in l2_rates if SAMPLES_PER_FRAME_L2 // 8 * r * 1000 // sample_rate >= need_bytes),
        None,
    )
    if rate is None:
        raise ValueError(
            f"payload ({need_bytes} B) exceeds the largest Layer II frame at "
            f"{sample_rate} Hz; lower levels/coded_bands"
        )
    frame_len = SAMPLES_PER_FRAME_L2 // 8 * rate * 1000 // sample_rate

    br_idx = mp3._BR_INDEX[(1, 2)][rate]
    sr_idx = mp3._SR_INDEX[3][sample_rate]
    header = bytes(
        [
            0xFF,
            0xFD,  # sync + MPEG-1 + Layer II (bits 10) + no CRC
            (br_idx << 4) | (sr_idx << 2),
            ((3 if nch == 1 else 0) << 6),
        ]
    )

    frames = []
    for fi in range(n_frames):
        s = sub[fi]  # (36, 32, nch)
        # 1) allocation field: frame-invariant, precomputed above
        values: list[int] = list(alloc_values)
        widths: list[int] = list(alloc_widths)
        # 2) scalefactors: measure 3 per (coded sb, ch), fold via scfsi
        scf_idx = np.zeros((3, len(coded_sb), nch), dtype=np.int64)
        for part in range(3):
            peak = np.abs(s[part * 12 : (part + 1) * 12, coded_sb, :]).max(axis=0)
            ix = (
                np.searchsorted(-SCALEFACTORS, -np.maximum(peak, 1e-12), side="right")
                - 1
            )
            scf_idx[part] = np.clip(ix, 0, 62)
        a, b, c = scf_idx[0], scf_idx[1], scf_idx[2]  # each (nbands, nch)
        scfsi = np.zeros((len(coded_sb), nch), dtype=np.int64)
        scfsi[(a == b) & (b == c)] = 2
        scfsi[(a == b) & (b != c)] = 1
        scfsi[(a != b) & (b == c)] = 3
        # scfsi fields, (sb, ch) order over coded bands
        values.extend(scfsi.reshape(-1).tolist())
        widths.extend([2] * (len(coded_sb) * nch))
        # scalefactor fields, (sb, ch) order, count per scfsi
        for bi in range(len(coded_sb)):
            for ch in range(nch):
                a, b, c = (int(v) for v in scf_idx[:, bi, ch])
                sent = {0: [a, b, c], 1: [a, c], 2: [a], 3: [a, b]}[int(scfsi[bi, ch])]
                values.extend(sent)
                widths.extend([6] * len(sent))
        # 3) sample codes: granule-major, then (sb, ch) — fully vectorized.
        # Normalize every coded sample at once: (12, 3, nbands, nch).
        scf = SCALEFACTORS[scf_idx]  # (3, nbands, nch)
        y = s[:, coded_sb, :].reshape(_GRANULES_L2, 3, len(coded_sb), nch)
        y = y / np.repeat(scf, 4, axis=0)[:, None, :, :]
        # One (12, fields_per_granule) code matrix, filled per quantizer
        # class, then flattened granule-major — identical field order to
        # the scalar loop this replaces.
        code_mat = np.zeros((_GRANULES_L2, n_sample_fields), dtype=np.uint64)
        for l, cols, bidx in field_groups:
            yb = y[:, :, bidx, :]  # (12, 3, k, nch)
            if l in _GROUP_BITS:
                q = _quantize_grouped(yb, l).astype(np.uint64)
                code = q[:, 0] + l * q[:, 1] + l * l * q[:, 2]  # (12, k, nch)
                code_mat[:, cols] = code.reshape(_GRANULES_L2, -1)
            else:
                nb = int(l + 1).bit_length() - 1
                q = _quantize(yb, nb).astype(np.uint64)  # (12, 3, k, nch)
                # field order within a granule is (band, ch, sample)
                code_mat[:, cols] = q.transpose(0, 2, 3, 1).reshape(
                    _GRANULES_L2, -1
                )
        values.extend(code_mat.reshape(-1).tolist())
        widths.extend(sample_widths_flat)
        body = _pack_bits(
            np.asarray(values, dtype=np.uint64), np.asarray(widths, dtype=np.int64)
        )
        frame = header + body
        if len(frame) > frame_len:
            raise AssertionError("Layer II frame overflow (budget bug)")
        frames.append(frame + b"\x00" * (frame_len - len(frame)))
    return b"".join(frames)


def decode_layer2(payload: bytes) -> tuple[np.ndarray, int]:
    """Decode an MPEG-1 Layer II stream (mono/stereo/dual; 2-channel audio
    is downmixed to mono, matching ``decode_layer1``). Returns
    (float64 samples, sample_rate). Handles all four scfsi modes and both
    grouped (3/5/9-level) and ungrouped quantizer classes. Joint stereo is
    rejected (intensity bands need mode_extension-dependent allocation
    sharing this decoder does not implement)."""
    frames = mp3.frame_table(payload)
    if not frames:
        raise ValueError("no MPEG frames found")
    first = mp3._parse_header(payload, frames[0].offset)
    if first is None or first.layer != 2 or first.version != "1":
        raise ValueError("not an MPEG-1 Layer II stream")
    if first.mode == "joint_stereo":
        raise ValueError("joint-stereo Layer II (intensity bands) unsupported")
    nch = first.channels
    sr = first.sample_rate

    per_frame = []
    for fr in frames:
        h = mp3._parse_header(payload, fr.offset)
        if h is None or h.layer != 2:
            continue
        skip = 4 + (2 if h.has_crc else 0)
        body = payload[fr.offset + skip : fr.offset + fr.size]
        bits = np.unpackbits(np.frombuffer(body, dtype=np.uint8))
        pos = 0
        # 1) allocation
        alloc = np.zeros((SBLIMIT_L2, nch), dtype=np.int64)
        for lo, hi, w, _lv in _L2_CLASSES:
            vals, pos = _take_var(bits, pos, np.full((hi - lo) * nch, w))
            alloc[lo:hi] = vals.astype(np.int64).reshape(hi - lo, nch)
        coded = [
            (sb, ch)
            for sb in range(SBLIMIT_L2)
            for ch in range(nch)
            if alloc[sb, ch] > 0
        ]
        lvl = {
            (sb, ch): _l2_class(sb)[1][alloc[sb, ch] - 1] for sb, ch in coded
        }
        # 2) scfsi then scalefactors
        scfsi_v, pos = _take_var(bits, pos, np.full(len(coded), 2))
        n_sent = np.where(scfsi_v == 0, 3, np.where(scfsi_v == 2, 1, 2))
        sf_raw, pos = _take_var(bits, pos, np.full(int(n_sent.sum()), 6))
        if (sf_raw > 62).any():
            raise ValueError("forbidden scalefactor index 63")
        scf = np.zeros((3, SBLIMIT_L2, nch))
        si = 0
        for k, (sb, ch) in enumerate(coded):
            mode = int(scfsi_v[k])
            sent = [int(v) for v in sf_raw[si : si + int(n_sent[k])]]
            si += int(n_sent[k])
            if mode == 0:
                a, b, c = sent
            elif mode == 1:
                a = b = sent[0]
                c = sent[1]
            elif mode == 2:
                a = b = c = sent[0]
            else:
                a = sent[0]
                b = c = sent[1]
            scf[0, sb, ch] = SCALEFACTORS[a]
            scf[1, sb, ch] = SCALEFACTORS[b]
            scf[2, sb, ch] = SCALEFACTORS[c]
        # 3) samples: one granule's width pattern, repeated 12x, read in a
        # single vectorized take, then dequantized per quantizer class
        gw: list[int] = []
        cols_by_level: dict[int, list[int]] = {}
        pairs_by_level: dict[int, list[tuple[int, int]]] = {}
        for sb, ch in coded:
            l = lvl[(sb, ch)]
            grouped = l in _GROUP_BITS
            nf = 1 if grouped else 3
            w = _GROUP_BITS[l] if grouped else int(l + 1).bit_length() - 1
            cols_by_level.setdefault(l, []).extend(
                range(len(gw), len(gw) + nf)
            )
            pairs_by_level.setdefault(l, []).append((sb, ch))
            gw.extend([w] * nf)
        widths = np.tile(np.asarray(gw, dtype=np.int64), _GRANULES_L2)
        codes, pos = _take_var(bits, pos, widths)
        codes = codes.reshape(_GRANULES_L2, len(gw))
        sub = np.zeros((36, N_BANDS, nch))
        for l, cols in cols_by_level.items():
            pairs = pairs_by_level[l]
            k = len(pairs)
            if l in _GROUP_BITS:
                c = codes[:, cols]  # (12, k)
                if (c >= l * l * l).any():
                    raise ValueError("grouped code out of range")
                q = np.stack([c % l, (c // l) % l, c // (l * l)], axis=1)
                vals = _dequantize_grouped(q, l).reshape(36, k)
            else:
                nb = int(l + 1).bit_length() - 1
                c = codes[:, cols].reshape(_GRANULES_L2, k, 3)
                vals = _dequantize(
                    c.transpose(0, 2, 1).astype(np.uint32), nb
                ).reshape(36, k)
            sb_arr = np.asarray([p[0] for p in pairs])
            ch_arr = np.asarray([p[1] for p in pairs])
            # per-sample scalefactor: sample row r belongs to part r // 12
            factor = np.repeat(scf[:, sb_arr, ch_arr], 12, axis=0)  # (36, k)
            sub[:, sb_arr, ch_arr] = vals * factor
        per_frame.append(sub)

    allsub = np.concatenate(per_frame, axis=0)
    mono_sub = allsub.mean(axis=2) if nch > 1 else allsub[:, :, 0]
    out = synthesize(mono_sub)
    n = allsub.shape[0] * HOP
    return out[_DELAY : _DELAY + n], sr


def is_layer2(payload: bytes | None) -> bool:
    """True when the payload STARTS with an MPEG-1 Layer II frame header
    (after an optional ID3v2 tag) — anchored dispatch, same policy as
    :func:`is_layer1`."""
    if not payload or len(payload) < 4:
        return False
    try:
        h = mp3._parse_header(payload, mp3._id3v2_len(payload))
    except Exception:
        return False
    return h is not None and h.layer == 2 and h.version == "1"


# ---------------------------------------------------------------------------
# MPEG-1 Layer III (ISO 11172-3 2.4.1.7 / 2.4.3.4) — the spectral layer:
# 32-band filterbank output is further transformed per band by an 18-point
# MDCT (36-sample sine window, 50% TDAC overlap) into 576 spectral lines
# per granule, nonlinearly quantized (q = round((|x|/step)^(3/4)),
# step = 2^((global_gain-210)/4) — the spec's requantization law run
# backwards), and entropy-coded: a big-values region of Huffman PAIRS with
# 13-bit linbits escapes, then a count1 region of ±1 QUADS, then the rzero
# run of trailing zeros. Frame layout is the spec's shape bit for bit:
# 4-byte header (layer bits 01), 17-byte mono / 32-byte stereo side info
# (9-bit main_data_begin, 5/3 private, 4 scfsi per channel, then per
# granule-channel part2_3_length/big_values/global_gain/scalefac_compress/
# window-switching/table_select/regions/preflag/scalefac_scale/
# count1table_select = 59 bits), main data, CBR padding. Stereo frames
# carry a PER-FRAME joint-stereo decision: frames whose rotated pair
# concentrates the energy go out as mode 01 with mode_extension 10
# (ms_stereo) and the spec's m=(l+r)/sqrt2, s=(l-r)/sqrt2 rotation; the
# rest as plain mode 00. Scope: MPEG-1, mono + 2-channel stereo
# (intensity stereo out of scope), CBR, long blocks,
# scalefac_compress=0 (zero scalefactor bits — a legal encoder choice;
# resolution rides on global_gain alone), main_data_begin=0 (no bit
# reservoir — each frame self-contained, also legal).
#
# Documented deviations, same embed-or-derive policy as the filterbank
# prototype and the Layer II grouped quantizer: (a) the Huffman code
# TABLES are engine-canonical — deterministic canonical Huffman codes
# built from a fixed Zipf frequency model over pair/quad symbols — because
# ISO Annex B's 34 printed code tables are non-derivable table data;
# encoder and decoder build the identical tables, so streams are exactly
# self-consistent (third-party streams parse at the frame-header level
# via mp3.parse_mp3 but not at the spectral level); (b) the alias-reduction
# butterflies and frequency inversion are omitted on BOTH sides — they
# compensate conventions of the standard's reference filterbank, and this
# engine's analyze/synthesize pair is already its own exact inverse.
# Reference analog: decompress-on-read of encapsulated payloads
# (apps/DeidentifyAndRedact.java:271, AttributeList.setDecompressPixelData).
# ---------------------------------------------------------------------------

SAMPLES_PER_FRAME_L3 = 1152  # 2 granules x 576 spectral lines
_GRANULES_L3 = 2
_L3_LINES = 576
_L3_ESC = 15
_L3_LINBITS = 13
_L3_QMAX = _L3_ESC + (1 << _L3_LINBITS) - 1  # 8206


def _l3_kernel() -> tuple[np.ndarray, np.ndarray]:
    n = np.arange(36)
    k = np.arange(18)
    win = np.sin(np.pi / 36.0 * (n + 0.5))  # Princen-Bradley sine window
    cos = np.cos(np.pi / 72.0 * np.outer(2 * k + 1, 2 * n + 1 + 18))
    return win, cos


_L3_WIN, _L3_COS = _l3_kernel()


def _l3_mdct(z: np.ndarray) -> np.ndarray:
    """(36, bands) windowed time block -> (18, bands) spectral lines."""
    return _L3_COS @ (_L3_WIN[:, None] * z)


def _l3_imdct(X: np.ndarray) -> np.ndarray:
    """(18, bands) -> (36, bands); overlap-add of consecutive halves is
    the exact inverse (verified to 1e-12 in tests)."""
    return (4.0 / 36.0) * _L3_WIN[:, None] * (_L3_COS.T @ X)


def _canonical_huffman(weights: list) -> dict:
    """Deterministic canonical Huffman code: ``[(symbol, int_weight)]`` ->
    ``{symbol: (code, length)}``. Ties break on insertion order, then
    canonical codes are assigned in (length, symbol) order, so encoder and
    decoder derive identical tables from the shared frequency model."""
    import heapq

    heap = [(w, i, [s]) for i, (s, w) in enumerate(weights)]
    heapq.heapify(heap)
    depth = {s: 0 for s, _ in weights}
    tick = len(weights)
    while len(heap) > 1:
        w1, _, s1 = heapq.heappop(heap)
        w2, _, s2 = heapq.heappop(heap)
        for s in s1:
            depth[s] += 1
        for s in s2:
            depth[s] += 1
        heapq.heappush(heap, (w1 + w2, tick, s1 + s2))
        tick += 1
    code = 0
    prev = 0
    out = {}
    for s, ln in sorted(depth.items(), key=lambda kv: (kv[1], kv[0])):
        code <<= ln - prev
        prev = ln
        out[s] = (code, ln)
        code += 1
    return out


_L3_TABLES: tuple | None = None


def _l3_tables() -> tuple[dict, dict, dict, dict, int, int]:
    """(pair_enc, pair_dec, quad_enc, quad_dec, pair_maxlen, quad_maxlen).
    Frequency model: Zipf over magnitudes — pair (a,b) weighted
    1/((a+1)(b+1))^1.7, quad by popcount — matching the empirical decay of
    quantized MDCT lines, so common symbols get short codes."""
    global _L3_TABLES
    if _L3_TABLES is None:
        pw = [
            ((a, b), max(1, round(1e12 / (((a + 1) * (b + 1)) ** 1.7))))
            for a in range(16)
            for b in range(16)
        ]
        qw = [
            (
                (v, w, x, y),
                1 << (4 * (4 - (v + w + x + y))),
            )
            for v in range(2)
            for w in range(2)
            for x in range(2)
            for y in range(2)
        ]
        pe = _canonical_huffman(pw)
        qe = _canonical_huffman(qw)
        pd = {(ln, code): s for s, (code, ln) in pe.items()}
        qd = {(ln, code): s for s, (code, ln) in qe.items()}
        _L3_TABLES = (
            pe,
            pd,
            qe,
            qd,
            max(ln for _, ln in pe.values()),
            max(ln for _, ln in qe.values()),
        )
    return _L3_TABLES


def _l3_encode_granule(
    lines: np.ndarray, quality: int, max_bits: int
) -> tuple[int, int, list[int], list[int]]:
    """Quantize + entropy-code one granule's 576 lines. Returns
    (global_gain, big_value_pairs, bit values, bit widths); widths sum to
    the granule's part2_3_length. Retries with a coarser global_gain until
    the payload fits ``max_bits``."""
    pe, _pd, qe, _qd, _pm, _qm = _l3_tables()
    amax = float(np.abs(lines).max())
    if amax <= 0.0:
        return 0, 0, [], []
    target = float(min(quality, _L3_QMAX))
    gg = int(np.ceil(210 + 4 * np.log2(amax / target ** (4.0 / 3.0))))
    gg = max(0, min(255, gg))
    while True:
        step = 2.0 ** ((gg - 210) / 4.0)
        q = np.rint((np.abs(lines) / step) ** 0.75).astype(np.int64)
        q = np.minimum(q, _L3_QMAX)
        neg = lines < 0
        nz = np.nonzero(q)[0]
        values: list[int] = []
        widths: list[int] = []
        if len(nz):
            last = int(nz[-1])
            big = np.nonzero(q > 1)[0]
            big_pairs = (int(big[-1]) + 2) // 2 if len(big) else 0
            if big_pairs % 2:
                big_pairs += 1  # keep the quad region 4-aligned within 576
            big_end = 2 * big_pairs
            quad_end = big_end + 4 * max(0, -(-(last + 1 - big_end) // 4))
            for i in range(big_pairs):
                a, b = int(q[2 * i]), int(q[2 * i + 1])
                ca, cb = min(a, _L3_ESC), min(b, _L3_ESC)
                code, ln = pe[(ca, cb)]
                values.append(code)
                widths.append(ln)
                # spec field order: linbits_x, sign_x, linbits_y, sign_y
                if ca == _L3_ESC:
                    values.append(a - _L3_ESC)
                    widths.append(_L3_LINBITS)
                if a:
                    values.append(int(neg[2 * i]))
                    widths.append(1)
                if cb == _L3_ESC:
                    values.append(b - _L3_ESC)
                    widths.append(_L3_LINBITS)
                if b:
                    values.append(int(neg[2 * i + 1]))
                    widths.append(1)
            for j in range(big_end, quad_end, 4):
                quad = tuple(int(v) for v in q[j : j + 4])
                code, ln = qe[quad]
                values.append(code)
                widths.append(ln)
                for t in range(4):
                    if quad[t]:
                        values.append(int(neg[j + t]))
                        widths.append(1)
        else:
            big_pairs = 0
        nbits = sum(widths)
        if nbits <= max_bits:
            return gg, big_pairs, values, widths
        if gg >= 255:
            raise ValueError("Layer III granule cannot fit the frame budget")
        gg = min(255, gg + 4)


# the 13 per-(granule,channel) side-info fields: part2_3_length,
# big_values, global_gain, scalefac_compress, window_switching, then
# table_select x3 / region0/region1_count / preflag / scalefac_scale /
# count1table_select (constants for this encoder's long-block toolset)
_L3_SIDE_WIDTHS = [12, 9, 8, 4, 1, 5, 5, 5, 4, 3, 1, 1, 1]
_MS_SQRT2 = float(np.sqrt(2.0))


def encode_layer3(
    samples: np.ndarray, sample_rate: int = 32000, *, quality: int = 1500
) -> bytes:
    """Encode mono ``(n,)`` or stereo ``(n, 2)`` PCM (float, [-1, 1]) as an
    MPEG-1 Layer III CBR stream (see the section comment for scope +
    documented deviations). Mono emits the spec's single_channel frame
    shape bit for bit (17-byte side info); stereo emits 32-byte side info
    with a per-frame joint-stereo decision — frames whose rotated pair
    concentrates the energy go out as mode 01 / mode_extension 10 with the
    spec's M/S rotation ``m=(l+r)/sqrt(2), s=(l-r)/sqrt(2)``, the rest as
    plain mode 00 stereo. ``quality`` caps the per-granule quantized
    magnitude — higher = finer spectral resolution = more bits."""
    if sample_rate not in _MPEG1_RATES:
        raise ValueError(f"sample_rate must be one of {_MPEG1_RATES}")
    if not 1 <= quality <= _L3_QMAX:
        raise ValueError(f"quality must be 1..{_L3_QMAX}")
    x = np.asarray(samples, dtype=np.float64)
    if x.ndim == 2 and x.shape[1] == 1:
        x = x[:, 0]
    if x.ndim not in (1, 2) or (x.ndim == 2 and x.shape[1] != 2):
        raise ValueError("samples must be (n,) mono or (n, 2) stereo")
    if not np.isfinite(x).all():
        raise ValueError("samples must be finite (no NaN/inf)")
    nch = 1 if x.ndim == 1 else 2
    subs = []
    for ch in range(nch):
        c = np.concatenate([x if nch == 1 else x[:, ch], np.zeros(_DELAY)])
        pad = (-len(c)) % _L3_LINES  # rows come in 18s: 576 samples
        if pad:
            c = np.concatenate([c, np.zeros(pad)])
        subs.append(analyze(c))  # (rows, 32), rows % 18 == 0
    rows = subs[0].shape[0]
    n_gran = rows // 18
    n_blocks = n_gran + 1  # TDAC needs one flush block past the signal
    if n_blocks % 2:
        n_blocks += 1
    # per-granule(-channel) Huffman budget: the 12-bit part2_3_length cap
    # AND an even split of the largest legal frame's main-data capacity
    cap_bytes = SAMPLES_PER_FRAME_L3 // 8 * 320 * 1000 // sample_rate
    side_len = 17 if nch == 1 else 32
    max_bits = min(4095, (cap_bytes - 4 - side_len) * 8 // (2 * nch))

    def g_lines(sub: np.ndarray, g: int) -> np.ndarray:
        lo = 18 * (g - 1)
        z = np.zeros((36, N_BANDS))
        s_lo, s_hi = max(lo, 0), min(lo + 36, rows)
        if s_hi > s_lo:
            z[s_lo - lo : s_hi - lo] = sub[s_lo:s_hi]
        return _l3_mdct(z).T.reshape(-1)  # line = sb*18 + k

    # per frame: the granule-channel encode results in main-data order
    # (g-major, ch-minor) + the frame's joint-stereo flag
    frame_grans: list[tuple[list, bool]] = []
    for f in range(n_blocks // 2):
        gs = (2 * f, 2 * f + 1)
        if nch == 1:
            frame_grans.append(
                ([_l3_encode_granule(g_lines(subs[0], g), quality, max_bits) for g in gs], False)
            )
            continue
        left = [g_lines(subs[0], g) for g in gs]
        right = [g_lines(subs[1], g) for g in gs]
        el = sum(float((l**2).sum()) for l in left)
        er = sum(float((r**2).sum()) for r in right)
        mid = [(l + r) / _MS_SQRT2 for l, r in zip(left, right)]
        side = [(l - r) / _MS_SQRT2 for l, r in zip(left, right)]
        em = sum(float((m**2).sum()) for m in mid)
        es = sum(float((s**2).sum()) for s in side)
        # rotate when it concentrates energy (identical channels -> silent
        # side, anti-phase -> silent mid); independent channels stay L/R
        use_ms = (el > 0.0 or er > 0.0) and 2.0 * min(em, es) <= min(el, er)
        c0, c1 = (mid, side) if use_ms else (left, right)
        frame_grans.append(
            (
                [
                    _l3_encode_granule(ch[gi], quality, max_bits)
                    for gi in range(2)
                    for ch in (c0, c1)
                ],
                use_ms,
            )
        )

    need = max(
        4 + side_len + (sum(sum(g[3]) for g in grans) + 7) // 8
        for grans, _ms in frame_grans
    )
    rate = next(
        (
            r
            for r in mp3._BITRATES[(1, 3)][1:]
            if SAMPLES_PER_FRAME_L3 // 8 * r * 1000 // sample_rate >= need
        ),
        None,
    )
    if rate is None:  # pragma: no cover — max_bits keeps need <= cap_bytes
        raise ValueError("Layer III frame budget exceeded")
    frame_len = SAMPLES_PER_FRAME_L3 // 8 * rate * 1000 // sample_rate
    head3 = (mp3._BR_INDEX[(1, 3)][rate] << 4) | (mp3._SR_INDEX[3][sample_rate] << 2)
    frames = []
    for grans, use_ms in frame_grans:
        if nch == 1:
            mode_byte = 3 << 6  # single_channel
            values = [0, 0, 0]  # main_data_begin, private, scfsi
            widths = [9, 5, 4]
        else:
            # joint_stereo + mode_extension 10 (ms_stereo on) per frame
            mode_byte = (1 << 6) | (2 << 4) if use_ms else 0
            values = [0, 0, 0, 0]  # main_data_begin, private(3), scfsi x2
            widths = [9, 3, 4, 4]
        for gg, big_pairs, _v, w in grans:
            values += [sum(w), big_pairs, gg, 0, 0, 1, 1, 1, 0, 0, 0, 0, 0]
            widths += _L3_SIDE_WIDTHS
        for g in grans:
            values += g[2]
            widths += g[3]
        body = _pack_bits(
            np.asarray(values, dtype=np.uint64), np.asarray(widths, dtype=np.int64)
        )
        frame = bytes([0xFF, 0xFB, head3, mode_byte]) + body
        if len(frame) > frame_len:  # pragma: no cover
            raise AssertionError("Layer III frame overflow (budget bug)")
        frames.append(frame + b"\x00" * (frame_len - len(frame)))
    return b"".join(frames)


def _l3_read_code(bits: np.ndarray, pos: int, table: dict, maxlen: int):
    code = 0
    for ln in range(1, maxlen + 1):
        if pos >= len(bits):
            raise ValueError("Layer III main data truncated")
        code = (code << 1) | int(bits[pos])
        pos += 1
        sym = table.get((ln, code))
        if sym is not None:
            return sym, pos
    raise ValueError("invalid Layer III Huffman code")


def _l3_sign_bit(bits: np.ndarray, pos: int) -> tuple[int, int]:
    """Read one sign bit with a bounds check: truncated main data must be
    a clean bitstream ValueError, not a raw IndexError."""
    if pos >= len(bits):
        raise ValueError("Layer III main data truncated")
    return int(bits[pos]), pos + 1


def decode_layer3(payload: bytes) -> tuple[np.ndarray, int]:
    """Decode an MPEG-1 Layer III stream produced by :func:`encode_layer3`:
    side-info parse, Huffman (pair + quad) entropy decode, requantization
    ``sign * q^(4/3) * 2^((gg-210)/4)``, for joint-stereo frames the spec's
    M/S unrotation ``l=(m+s)/sqrt(2), r=(m-s)/sqrt(2)`` on the requantized
    lines, per-band IMDCT with TDAC overlap-add, synthesis filterbank per
    channel. Returns (float64 samples — ``(n,)`` mono, ``(n, 2)`` stereo,
    sample_rate). Intensity stereo (mode_extension bit 0) is out of scope
    and raises."""
    _pe, pd, _qe, qd, pm, qm = _l3_tables()
    frames = mp3.frame_table(payload)
    if not frames:
        raise ValueError("no MPEG frames found")
    first = mp3._parse_header(payload, frames[0].offset)
    if first is None or first.layer != 3 or first.version != "1":
        raise ValueError("not an MPEG-1 Layer III stream")
    nch = first.channels
    sr = first.sample_rate
    prev = np.zeros((nch, 18, N_BANDS))
    out_rows: list[list[np.ndarray]] = [[] for _ in range(nch)]
    first_block = True

    def read_spectrum(bits, pos, p23, big_pairs, gg) -> tuple[np.ndarray, int]:
        # big_values is a 9-bit side-info field (<= 511 pairs = 1022
        # lines) but a granule only has _L3_LINES (576) spectral lines;
        # a corrupted stream can claim more, which must be a clean
        # bitstream error, not an index crash.
        if 2 * big_pairs > _L3_LINES:
            raise ValueError("Layer III big_values region exceeds granule spectrum")
        start = pos
        q = np.zeros(_L3_LINES, dtype=np.float64)
        for i in range(big_pairs):
            (ca, cb), pos = _l3_read_code(bits, pos, pd, pm)
            a, b = float(ca), float(cb)
            if ca == _L3_ESC:
                lin, pos = _take_var(bits, pos, np.asarray([_L3_LINBITS]))
                a += int(lin[0])
            if ca:
                s, pos = _l3_sign_bit(bits, pos)
                a = -a if s else a
            if cb == _L3_ESC:
                lin, pos = _take_var(bits, pos, np.asarray([_L3_LINBITS]))
                b += int(lin[0])
            if cb:
                s, pos = _l3_sign_bit(bits, pos)
                b = -b if s else b
            q[2 * i] = a
            q[2 * i + 1] = b
        line = 2 * big_pairs
        while pos - start < p23 and line + 4 <= _L3_LINES:
            quad, pos = _l3_read_code(bits, pos, qd, qm)
            for t in range(4):
                if quad[t]:
                    s, pos = _l3_sign_bit(bits, pos)
                    q[line + t] = -1.0 if s else 1.0
            line += 4
        if pos - start > p23:
            raise ValueError("Layer III granule overran part2_3_length")
        pos = start + p23
        step = 2.0 ** ((gg - 210) / 4.0)
        return np.sign(q) * (np.abs(q) ** (4.0 / 3.0)) * step, pos

    for fr in frames:
        h = mp3._parse_header(payload, fr.offset)
        if h is None or h.layer != 3:
            continue
        if h.channels != nch:
            raise ValueError("Layer III channel mode changed mid-stream")
        ms = False
        if h.mode == "joint_stereo":
            mode_ext = (payload[fr.offset + 3] >> 4) & 0x3
            if mode_ext & 0x1:
                raise ValueError("Layer III intensity stereo is out of scope")
            ms = bool(mode_ext & 0x2)
        skip = 4 + (2 if h.has_crc else 0)
        body = payload[fr.offset + skip : fr.offset + fr.size]
        bits = np.unpackbits(np.frombuffer(body, dtype=np.uint8))
        prefix = np.asarray([9, 5, 4] if nch == 1 else [9, 3, 4, 4])
        _mdb_priv_scfsi, pos = _take_var(bits, 0, prefix)
        side = []
        for _gc in range(_GRANULES_L3 * nch):  # g-major, ch-minor
            f_, pos = _take_var(bits, pos, np.asarray(_L3_SIDE_WIDTHS))
            side.append((int(f_[0]), int(f_[1]), int(f_[2])))  # p23, big, gg
        for g in range(_GRANULES_L3):
            Xs = []
            for ch in range(nch):
                p23, big_pairs, gg = side[g * nch + ch]
                X, pos = read_spectrum(bits, pos, p23, big_pairs, gg)
                Xs.append(X)
            if ms:
                m, s_ = Xs
                Xs = [(m + s_) / _MS_SQRT2, (m - s_) / _MS_SQRT2]
            ys = [_l3_imdct(X.reshape(N_BANDS, 18).T) for X in Xs]
            if first_block:
                first_block = False  # TDAC warm-up chunk: no predecessor
            else:
                for ch in range(nch):
                    out_rows[ch].append(prev[ch] + ys[ch][:18])
            for ch in range(nch):
                prev[ch] = ys[ch][18:]
    if not out_rows[0]:
        return (np.zeros(0) if nch == 1 else np.zeros((0, 2))), sr
    outs = []
    for ch in range(nch):
        rows = np.concatenate(out_rows[ch], axis=0)
        n = rows.shape[0] * HOP
        outs.append(synthesize(rows)[_DELAY : _DELAY + n])
    return (outs[0] if nch == 1 else np.stack(outs, axis=1)), sr


def is_layer3(payload: bytes | None) -> bool:
    """MPEG-1 Layer III sniff: a valid Layer III MPEG-1 header at offset 0
    (after any ID3v2 tag) — anchored, not a resync scan, same policy as
    ``is_layer1``/``is_layer2``."""
    if not payload:
        return False
    try:
        h = mp3._parse_header(payload, mp3._id3v2_len(payload))
    except Exception:
        return False
    return h is not None and h.layer == 3 and h.version == "1"


__all__ = [
    "SCALEFACTORS",
    "analyze",
    "synthesize",
    "encode_layer1",
    "decode_layer1",
    "is_layer1",
    "encode_layer2",
    "decode_layer2",
    "is_layer2",
    "encode_layer3",
    "decode_layer3",
    "is_layer3",
    "roundtrip_snr_db",
]