"""Baseline JPEG codec: component properties (zigzag, DCT, Huffman),
lossy round-trips with quality-dependent error bounds, 4:2:0 subsampled +
restart-marker decode via an independent test-side encoder, declared
unsupported modes, and multimodal integration."""

from __future__ import annotations

import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from nifi_dicom_spark.functions.jpeg import (
    _AC_CHR,
    _AC_LUM,
    _DC_CHR,
    _DC_LUM,
    UNZIGZAG,
    ZIGZAG,
    _BitReader,
    _BitWriter,
    _category,
    _extend,
    _quality_tables,
    build_huffman,
    dct2,
    decode_jpeg,
    encode_jpeg,
    idct2,
    is_jpeg,
)


def test_zigzag_is_a_permutation_and_inverse():
    assert sorted(ZIGZAG.tolist()) == list(range(64))
    assert (ZIGZAG[UNZIGZAG] == np.arange(64)).all()
    # spec spot-checks: scan starts 0,1,8,16,9,2 (T.81 figure 5)
    assert ZIGZAG[:6].tolist() == [0, 1, 8, 16, 9, 2]


@settings(max_examples=50, deadline=None)
@given(seed=st.integers(0, 10_000))
def test_dct_inverse_property(seed):
    rng = np.random.default_rng(seed)
    x = rng.uniform(-128, 127, (8, 8))
    assert np.abs(idct2(dct2(x)) - x).max() < 1e-9


@settings(max_examples=30, deadline=None)
@given(seed=st.integers(0, 10_000), n=st.integers(1, 300))
def test_huffman_bitstream_roundtrip(seed, n):
    """encode∘decode over the standard AC table plus raw magnitude bits —
    the exact bit-level contract the entropy coder relies on, including
    0xFF byte stuffing."""
    enc, dec = build_huffman(*_AC_LUM)
    rng = np.random.default_rng(seed)
    syms = rng.choice(list(enc), size=n)
    bw = _BitWriter()
    extras = []
    for s in syms:
        code, length = enc[int(s)]
        bw.write_bits(code, length)
        t = int(s) & 0x0F
        if t:
            v = int(rng.integers(0, 1 << t))
            extras.append(v)
            bw.write_bits(v, t)
    bw.flush()
    reader = _BitReader(bytes(bw.out) + b"\xff\xd9", 0)
    got_extras = []
    for s in syms:
        assert reader.decode_symbol(dec) == int(s)
        t = int(s) & 0x0F
        if t:
            got_extras.append(reader.read_bits(t))
    assert got_extras == extras


def test_extend_category_inverse():
    for v in list(range(-255, 256)):
        if v == 0:
            continue
        t = _category(v)
        bits = v if v >= 0 else v + (1 << t) - 1
        assert _extend(bits, t) == v


def test_constant_and_smooth_images_near_exact():
    img = np.full((16, 24, 3), 200, dtype=np.uint8)
    assert np.array_equal(decode_jpeg(encode_jpeg(img, 95)), img)
    y, x = np.meshgrid(np.arange(32), np.arange(40), indexing="ij")
    grad = np.stack(
        [np.clip(y * 3, 0, 255), np.clip(x * 2, 0, 255), np.clip(y + x, 0, 255)],
        axis=2,
    ).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(grad, 95))
    assert np.abs(out.astype(int) - grad.astype(int)).max() <= 2


@settings(max_examples=25, deadline=None)
@given(
    seed=st.integers(0, 10_000),
    h=st.integers(1, 40),
    w=st.integers(1, 40),
    quality=st.sampled_from([70, 85, 95]),
)
def test_jpeg_roundtrip_error_bounded(seed, h, w, quality):
    """Lossy round-trip on arbitrary (noise) images — worst case for DCT
    coding — stays within a generous but meaningful bound, at every
    partial-block geometry."""
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    payload = encode_jpeg(img, quality)
    assert is_jpeg(payload)
    out = decode_jpeg(payload)
    assert out.shape == img.shape
    err = np.abs(out.astype(int) - img.astype(int)).mean()
    # noise is DCT coding's worst case; the acceptable error scales with
    # the quantization step (q70 chroma steps reach ~50 after scaling)
    bound = {95: 16, 85: 28, 70: 40}[quality]
    assert err < bound, f"mean error {err} at q{quality} ({h}x{w})"


def _encode_420(img: np.ndarray, quality: int = 90, restart_interval: int = 0) -> bytes:
    """Independent test-side encoder: 4:2:0 subsampling (2×2 Y blocks per
    MCU + averaged chroma) with optional DRI/RSTn — exercises the decoder's
    MCU interleave, upsampling and restart paths, which the library's
    4:4:4 encoder never produces."""
    h, w = img.shape[:2]
    ql, qc = _quality_tables(quality)
    rgb = img.astype(np.float64)
    r, g, b = rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]
    yp = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    mcus_y, mcus_x = -(-h // 16), -(-w // 16)

    def pad(p, H, W):
        out = np.empty((H, W))
        ph, pw = p.shape
        out[:ph, :pw] = p
        out[ph:, :pw] = p[ph - 1 : ph, :]
        out[:, pw:] = out[:, pw - 1 : pw]
        return out

    yp = pad(yp, mcus_y * 16, mcus_x * 16)
    cb = pad(cb, mcus_y * 16, mcus_x * 16)
    cr = pad(cr, mcus_y * 16, mcus_x * 16)
    cb2 = cb.reshape(mcus_y * 8, 2, mcus_x * 8, 2).mean(axis=(1, 3))
    cr2 = cr.reshape(mcus_y * 8, 2, mcus_x * 8, 2).mean(axis=(1, 3))

    dc_l, _ = build_huffman(*_DC_LUM)
    ac_l, _ = build_huffman(*_AC_LUM)
    dc_c, _ = build_huffman(*_DC_CHR)
    ac_c, _ = build_huffman(*_AC_CHR)

    def emit_block(bw, plane, y0, x0, q, dc_enc, ac_enc, pred, ci):
        from nifi_dicom_spark.functions.jpeg import _encode_block

        block = plane[y0 : y0 + 8, x0 : x0 + 8]
        coef = dct2(block - 128.0)
        quant = np.round(coef / q.reshape(8, 8)).astype(np.int64)
        _encode_block(bw, quant.reshape(64)[ZIGZAG], pred, ci, dc_enc, ac_enc)

    chunks = []
    bw = _BitWriter()
    pred = [0, 0, 0]
    mcu_i = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_i and mcu_i % restart_interval == 0:
                bw.flush()
                chunks.append(bytes(bw.out))
                chunks.append(
                    struct.pack(">BB", 0xFF, 0xD0 + ((mcu_i // restart_interval - 1) % 8))
                )
                bw = _BitWriter()
                pred = [0, 0, 0]
            for by in range(2):
                for bx in range(2):
                    emit_block(
                        bw, yp, my * 16 + by * 8, mx * 16 + bx * 8, ql, dc_l, ac_l, pred, 0
                    )
            emit_block(bw, cb2, my * 8, mx * 8, qc, dc_c, ac_c, pred, 1)
            emit_block(bw, cr2, my * 8, mx * 8, qc, dc_c, ac_c, pred, 2)
            mcu_i += 1
    bw.flush()
    chunks.append(bytes(bw.out))

    def seg(marker, body):
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    for tq, tab in ((0, ql), (1, qc)):
        out += seg(0xDB, bytes([tq]) + bytes(tab.reshape(64)[ZIGZAG].astype(np.uint8)))
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    sof = struct.pack(">BHHB", 8, h, w, 3)
    sof += bytes([1, 0x22, 0]) + bytes([2, 0x11, 1]) + bytes([3, 0x11, 1])
    out += seg(0xC0, sof)
    for tc_th, spec in ((0x00, _DC_LUM), (0x10, _AC_LUM), (0x01, _DC_CHR), (0x11, _AC_CHR)):
        out += seg(0xC4, bytes([tc_th] + spec[0] + spec[1]))
    out += seg(0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    for c in chunks:
        out += c
    out += b"\xff\xd9"
    return bytes(out)


@pytest.mark.parametrize("restart", [0, 2])
def test_decode_420_subsampled_with_and_without_restarts(restart):
    rng = np.random.default_rng(7)
    base = rng.integers(0, 32, (5, 6, 3)).astype(np.float64)
    img = np.clip(
        np.kron(base, np.ones((8, 8, 1))) * 8, 0, 255
    ).astype(np.uint8)[:37, :45]  # smooth, partial-MCU crop
    payload = _encode_420(img, quality=92, restart_interval=restart)
    out = decode_jpeg(payload)
    assert out.shape == img.shape
    err = np.abs(out.astype(int) - img.astype(int)).mean()
    assert err < 10, f"4:2:0 mean error {err} (restart={restart})"


def test_progressive_and_garbage_raise():
    img = np.zeros((8, 8, 3), dtype=np.uint8)
    payload = bytearray(encode_jpeg(img))
    # flip SOF0 → SOF2 (progressive): declared unsupported
    i = payload.find(b"\xff\xc0")
    payload[i + 1] = 0xC2
    with pytest.raises(ValueError, match="progressive"):
        decode_jpeg(bytes(payload))
    with pytest.raises(ValueError):
        decode_jpeg(b"\xff\xd8\xff\xd9")
    assert not is_jpeg(b"not a jpeg")


def test_multimodal_feature_path_decodes_jpeg(spark):
    """extract_features really decodes JPEG payloads: decoded width/height
    populated, feature = grayscale band means of the decoded image. A
    payload no decoder recognises takes the deterministic stub with null
    dimensions."""
    import pandas as pd

    from nifi_dicom_spark.functions.codecs import image_block_features
    from nifi_dicom_spark.functions.multimodal import (
        _fake_decode_feature,
        extract_features,
    )

    rng = np.random.default_rng(3)
    imgs = {
        1: np.full((24, 16, 3), 64, dtype=np.uint8),
        2: np.clip(
            np.kron(rng.integers(0, 32, (3, 4, 3)).astype(float) * 8,
                    np.ones((8, 8, 1))),
            0, 255,
        ).astype(np.uint8),
    }
    opaque = b"opaque payload in no supported media format"
    media = spark.createDataFrame(
        pd.DataFrame(
            {
                "media_id": [*imgs, 3],
                "kind": ["image"] * len(imgs) + ["audio"],
                "payload": [encode_jpeg(v, 95) for v in imgs.values()] + [opaque],
                "meta": [None] * (len(imgs) + 1),
            }
        ),
        schema="media_id long, kind string, payload binary, "
        "meta struct<width:int,height:int,sample_rate:int,n_frames:int,mime:string>",
    )
    out = {r["media_id"]: r for r in extract_features(media, dim=4).collect()}
    for mid, img in imgs.items():
        assert out[mid]["width"] == img.shape[1]
        assert out[mid]["height"] == img.shape[0]
        expected = image_block_features(decode_jpeg(encode_jpeg(img, 95)), 4)
        got = np.array(out[mid]["feature"], dtype=np.float32)
        assert np.allclose(got, expected, atol=1e-6)
    stub = np.array(out[3]["feature"], dtype=np.float32)
    assert np.array_equal(stub, _fake_decode_feature(opaque, 4))
    assert out[3]["width"] is None and out[3]["height"] is None


def test_decode_tolerates_fill_bytes():
    """T.81 B.1.1.2: any number of 0xFF fill bytes may pad a marker; the
    decoder must skip them instead of misreading a garbage segment length."""
    from nifi_dicom_spark.functions.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(16, 24, 3), dtype=np.uint8)
    payload = encode_jpeg(img, quality=90)
    want = decode_jpeg(payload)
    i = payload.index(b"\xff\xdb")  # pad before DQT
    padded = payload[:i] + b"\xff\xff\xff" + payload[i:]
    got = decode_jpeg(padded)
    assert np.array_equal(got, want)
