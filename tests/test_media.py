"""Media: MP4 (ISO BMFF) demux, MP3 frame parse and the sample_frames
operator built on them — mux→demux round-trips, malformed input
tolerance, Spark-side integration — plus F14 burned-in-region redaction
over the BMP/PNG/JPEG codecs and the decoders' clean-rejection contract
on malformed input."""

from __future__ import annotations

import hashlib
import struct

import pytest

from nifi_dicom_spark.functions import mp3, mp4


def _samples(n: int, tag: bytes = b"s") -> list[bytes]:
    return [hashlib.md5(tag + bytes([i])).digest() * (i % 3 + 1) for i in range(n)]


# --- MP4 --------------------------------------------------------------------


def test_mp4_mux_parse_roundtrip_video():
    payload = mp4.mux_mp4(
        _samples(10), width=320, height=240, timescale=1000, sample_duration=40
    )
    assert mp4.is_mp4(payload)
    meta = mp4.parse_mp4(payload)
    assert meta["brand"] == "isom"
    assert meta["duration_s"] == pytest.approx(0.4)
    (track,) = meta["tracks"]
    assert track["kind"] == "video" and track["codec"] == "mp4v"
    assert (track["width"], track["height"]) == (320, 240)
    assert track["n_samples"] == 10


def test_mp4_mux_parse_roundtrip_audio():
    payload = mp4.mux_mp4(
        _samples(7),
        kind="audio",
        codec="mp4a",
        sample_rate=16000,
        channels=2,
        timescale=16000,
        sample_duration=1024,
    )
    (track,) = mp4.parse_mp4(payload)["tracks"]
    assert track["kind"] == "audio"
    assert (track["sample_rate"], track["channels"]) == (16000, 2)


def test_mp4_sample_table_byte_exact():
    """stsc×stco×stsz join resolves every access unit byte-exactly, across
    chunk boundaries (3-per-chunk grouping with a short last chunk)."""
    samples = _samples(11)
    payload = mp4.mux_mp4(samples, timescale=600, sample_duration=25)
    table = mp4.sample_table(payload)
    assert [s.index for s in table] == list(range(11))
    for i, s in enumerate(table):
        assert mp4.extract_sample(payload, s) == samples[i]
        assert s.pts == i * 25
    # chunks of 3: offsets within a chunk are contiguous
    assert table[1].offset == table[0].offset + table[0].size
    # chunk 2 starts exactly after chunk 1's three samples
    assert table[3].offset == table[0].offset + sum(s.size for s in table[:3])


def test_mp4_malformed_tolerance():
    assert not mp4.is_mp4(b"")
    assert not mp4.is_mp4(b"\x00" * 32)
    with pytest.raises(ValueError):
        mp4.parse_mp4(b"\x00" * 32)
    # ftyp but no moov
    ftyp_only = struct.pack(">I", 16) + b"ftypisom" + b"\x00\x00\x02\x00"
    with pytest.raises(ValueError):
        mp4.parse_mp4(ftyp_only)
    # truncated tail (moov is last): clean ValueError, not a struct crash
    payload = mp4.mux_mp4(_samples(4))
    with pytest.raises(ValueError):
        mp4.parse_mp4(payload[: len(payload) - 2])


def test_mp4_largesize_box():
    """64-bit `largesize` boxes are honored by the walker."""
    payload = mp4.mux_mp4(_samples(3))
    # rewrite ftyp as a largesize box: size=1 + 64-bit size
    ftyp = next(b for b in mp4._walk(payload, 0, len(payload)) if b.type == b"ftyp")
    body = payload[ftyp.start : ftyp.end]
    rewritten = (
        struct.pack(">I", 1)
        + b"ftyp"
        + struct.pack(">Q", 16 + len(body))
        + body
        + payload[ftyp.end :]
    )
    delta = len(rewritten) - len(payload)
    meta = mp4.parse_mp4(rewritten)
    assert meta["tracks"][0]["n_samples"] == 3
    # chunk offsets shifted by the ftyp growth: account in extraction
    table = mp4.sample_table(rewritten)
    orig = mp4.sample_table(payload)
    for a, b in zip(table, orig):
        assert rewritten[a.offset + delta : a.offset + delta + a.size] == mp4.extract_sample(
            payload, b
        )


# --- MP3 --------------------------------------------------------------------


def test_mp3_write_parse_roundtrip():
    p = mp3.write_mp3(30, bitrate_kbps=128, sample_rate=44100, channels=2, seed=b"x")
    assert mp3.is_mp3(p)
    m = mp3.parse_mp3(p)
    assert m["n_frames"] == 30
    assert m["version"] == "1" and m["layer"] == 3
    assert m["sample_rate"] == 44100 and m["channels"] == 2
    assert m["bitrate_kbps"] == 128.0 and not m["is_vbr"]
    assert m["duration_s"] == pytest.approx(30 * 1152 / 44100)
    # frame table chains byte-exactly (MPEG-1 L3 128k@44.1 → 417-byte frames)
    table = mp3.frame_table(p)
    assert len(table) == 30 and all(f.size == 417 for f in table)
    assert table[5].offset == 5 * 417
    # deterministic writer
    assert mp3.write_mp3(30, seed=b"x") == p


def test_mp3_id3_skip_and_xing():
    p = mp3.write_mp3(12, seed=b"y", id3=b"\x00" * 100, xing=True)
    m = mp3.parse_mp3(p)
    assert m["id3_bytes"] == 110
    assert m["n_frames"] == 12 and m["xing_frames"] == 12
    assert not m["is_vbr"]  # 'Info' tag = CBR marker


def test_mp3_vbr_and_resync():
    # VBR: two CBR runs at different bitrates concatenated
    p = mp3.write_mp3(4, bitrate_kbps=128, seed=b"a") + mp3.write_mp3(
        4, bitrate_kbps=192, seed=b"b"
    )
    m = mp3.parse_mp3(p)
    assert m["n_frames"] == 8 and m["is_vbr"]
    assert m["bitrate_kbps"] == pytest.approx(160.0)
    # leading junk before the first header is resynced over
    junk = b"\x01\x02\x03" * 10 + mp3.write_mp3(3, seed=b"z")
    assert mp3.parse_mp3(junk)["n_frames"] == 3
    # truncated final frame is not invented
    q = mp3.write_mp3(5, seed=b"t")
    assert mp3.parse_mp3(q[:-10])["n_frames"] == 4


def test_mp3_header_tables():
    """Other version/layer combinations decode with correct frame math."""
    # MPEG-2 Layer III 24 kHz 64 kbps mono: 576 samples, len = 72*64000/24000
    hdr = bytes([0xFF, 0xF3, (8 << 4) | (1 << 2), 3 << 6])
    h = mp3._parse_header(hdr + b"\x00" * 200, 0)
    assert h.version == "2" and h.layer == 3
    assert h.sample_rate == 24000 and h.channels == 1
    assert h.samples == 576 and h.frame_len == 576 // 8 * 64000 // 24000
    # Layer I MPEG-1 448kbps 32kHz: slots of 4 bytes
    hdr1 = bytes([0xFF, 0xFF, (14 << 4) | (2 << 2), 0])
    h1 = mp3._parse_header(hdr1 + b"\x00" * 2000, 0)
    assert h1.layer == 1 and h1.samples == 384
    assert h1.frame_len == (12 * 448000 // 32000) * 4
    # reserved version / bad bitrate rejected
    assert mp3._parse_header(bytes([0xFF, 0xEB, 0x90, 0]), 0) is None
    assert mp3._parse_header(bytes([0xFF, 0xFB, 0xF0, 0]), 0) is None


def test_mp3_is_mp3_negative():
    assert not mp3.is_mp3(None)
    assert not mp3.is_mp3(b"")
    assert not mp3.is_mp3(b"RIFF\x00\x00\x00\x00WAVE")
    assert not mp3.is_mp3(b"\x00" * 512)


# --- sample_frames operator ------------------------------------------------


def test_sample_frames_real_mp4(spark):
    from nifi_dicom_spark.functions.multimodal import MEDIA_SCHEMA, sample_frames

    samples = _samples(9, tag=b"v")
    payload = mp4.mux_mp4(samples, timescale=1000, sample_duration=40)
    rows = [
        (1, "video", payload, None),
        # non-MP4 video → stub path (meta-driven, null frame_bytes)
        (2, "video", b"not-a-container", (None, None, None, 5, "video/fake")),
        (3, "image", payload, None),  # filtered out: not video
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = sample_frames(media, every_n=2).collect()
    real = sorted(
        (r for r in out if r["media_id"] == 1), key=lambda r: r["frame_idx"]
    )
    assert [r["frame_idx"] for r in real] == [0, 2, 4, 6, 8]
    for r in real:
        expect = samples[r["frame_idx"]]
        assert r["frame_bytes"] == len(expect)
        assert r["frame_sha"] == hashlib.sha256(expect).hexdigest()
        assert r["pts_ms"] == r["frame_idx"] * 40
    stub = [r for r in out if r["media_id"] == 2]
    assert {r["frame_idx"] for r in stub} == {0, 2, 4}
    assert all(r["frame_bytes"] is None and r["pts_ms"] is None for r in stub)
    assert not any(r["media_id"] == 3 for r in out)


def test_mp4_corrupt_counts_raise_not_allocate():
    """Untrusted 32-bit counts in stsz/stco/stsc/stts must raise, not
    materialize multi-GB lists."""
    payload = bytearray(mp4.mux_mp4(_samples(7)))
    i = bytes(payload).index(b"stsz")
    # stsz body: ver/flags(4) uniform(4) count(4) — blow up the count
    payload[i + 12 : i + 16] = (0xFFFFFFFF).to_bytes(4, "big")
    with pytest.raises(ValueError):
        mp4.sample_table(bytes(payload))
    # uniform-size variant: uniform=1, count=2^32-1 → plausibility bound
    payload2 = bytearray(mp4.mux_mp4(_samples(7)))
    j = bytes(payload2).index(b"stsz")
    payload2[j + 8 : j + 12] = (1).to_bytes(4, "big")
    payload2[j + 12 : j + 16] = (0xFFFFFFFF).to_bytes(4, "big")
    with pytest.raises(ValueError):
        mp4.sample_table(bytes(payload2))


def test_mp4_truncated_mdat_returns_verified_prefix():
    """Offsets past EOF (partially-downloaded faststart shape) must not
    yield hashes of out-of-range slices — only the in-bounds prefix."""
    samples = _samples(7)
    payload = bytearray(mp4.mux_mp4(samples, samples_per_chunk=3))
    i = bytes(payload).index(b"stco")
    # stco body: ver/flags(4) count(4) offsets(4 each); 3 chunks — point the
    # last chunk past EOF
    payload[i + 12 + 8 : i + 12 + 12] = (len(payload) + 1000).to_bytes(4, "big")
    table = mp4.sample_table(bytes(payload))
    assert len(table) == 6  # chunk 3's single sample dropped
    for s in table:
        assert mp4.extract_sample(bytes(payload), s) == samples[s.index]
    # extract_sample itself guards out-of-range slices
    bad = mp4.Sample(0, len(payload) - 4, 100, 0, 0)
    with pytest.raises(ValueError):
        mp4.extract_sample(bytes(payload), bad)


def test_sample_frames_survives_malformed_container(spark):
    """A payload that passes is_mp4 but dies mid-parse (bogus box size →
    walker rejects ftyp) must fall back to the stub path, not kill the
    task."""
    from nifi_dicom_spark.functions.multimodal import MEDIA_SCHEMA, sample_frames

    evil = struct.pack(">I", 999) + b"ftyp" + b"\x00" * 24  # size > payload
    rows = [(1, "video", evil, (None, None, None, 4, "video/fake"))]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = sample_frames(media, every_n=2).collect()
    assert {r["frame_idx"] for r in out} == {0, 2}
    assert all(r["frame_bytes"] is None for r in out)  # stub path


def test_frame_samplers_validate_every_n(spark):
    from nifi_dicom_spark.functions.multimodal import sample_frames

    meta_df = spark.createDataFrame(
        [(1, "video", bytearray(b"x"), None)],
        "media_id long, kind string, payload binary, "
        "meta struct<width:int,height:int,sample_rate:int,n_frames:int,mime:string>",
    )
    with pytest.raises(ValueError, match="every_n"):
        sample_frames(meta_df, every_n=0)


def test_mp3_crc_protected_xing():
    """CRC-protected frames put the side info (and so the Xing tag) 2 bytes
    later; the parser must account for the protection bit."""
    payload = bytearray(mp3.write_mp3(1, seed=b"crc"))
    payload[1] = 0xFA  # protection_bit = 0 → CRC present
    # rebuild the frame: header + 2-byte CRC + body (truncate 2 to keep len)
    frame = bytes(payload[:4]) + b"\x00\x00" + bytes(payload[4:-2])
    h = mp3._parse_header(frame, 0)
    assert h.has_crc and mp3._xing_offset(h) == 4 + 2 + 32
    # plant an Info tag at the CRC-adjusted offset
    f = bytearray(frame)
    off = mp3._xing_offset(h)
    tag = b"Info" + struct.pack(">II", 0x1, 1)
    f[off : off + len(tag)] = tag
    m = mp3.parse_mp3(bytes(f))
    assert m["n_frames"] == 1 and m["xing_frames"] == 1


def test_mp4_stsc_misaligned_first_chunk():
    """A corrupt stsc whose first run does not start at chunk 1 must not
    apply that run's sample count at the wrong chunk base: chunks before
    the first run get zero samples; non-increasing runs raise."""
    samples = _samples(6)
    payload = bytearray(mp4.mux_mp4(samples, samples_per_chunk=3))
    i = bytes(payload).index(b"stsc")
    # stsc body: ver/flags(4) count(4) then (first_chunk, spc, desc_idx);
    # patch first_chunk 1 -> 2
    payload[i + 12 : i + 16] = (2).to_bytes(4, "big")
    table = mp4.sample_table(bytes(payload))
    offsets_box = bytes(payload).index(b"stco")
    chunk2_off = int.from_bytes(
        payload[offsets_box + 12 + 4 : offsets_box + 12 + 8], "big"
    )
    assert table, "best-effort table expected"
    assert table[0].offset == chunk2_off  # chunk 1 contributed nothing
    for s in table:  # everything emitted stays in bounds
        mp4.extract_sample(bytes(payload), s)

    # non-increasing runs are refused outright
    payload2 = bytearray(mp4.mux_mp4(samples, samples_per_chunk=3))
    j = bytes(payload2).index(b"stsc")
    n_runs = int.from_bytes(payload2[j + 8 : j + 12], "big")
    if n_runs >= 2:
        payload2[j + 12 + 12 : j + 16 + 12] = (1).to_bytes(4, "big")
        with pytest.raises(ValueError):
            mp4.sample_table(bytes(payload2))


# ------------------------------------------------------------- redaction


def _pattern(w=16, h=12, seed=3):
    import numpy as np

    y, x, c = np.meshgrid(np.arange(h), np.arange(w), np.arange(3), indexing="ij")
    return ((7 * seed + 13 * y + 5 * x + 17 * c) % 256).astype(np.uint8)


def test_redact_image_lossless_roundtrip():
    """BMP/PNG: redacted rectangles read back as exactly the fill value and
    every non-redacted pixel survives bit-exactly (the reference zeroes
    rectangles in place — DicomImageBlackout.java:400)."""
    import numpy as np

    from nifi_dicom_spark.functions import codecs
    from nifi_dicom_spark.functions.redact import redact_image

    img = _pattern()
    boxes = [(2, 3, 5, 4), (14, 10, 6, 6)]  # interior + clipped at the edge
    for enc, dec in (
        (codecs.encode_bmp, codecs.decode_bmp),
        (codecs.encode_png, codecs.decode_png),
    ):
        out, status, applied, w, h, _ = redact_image(enc(img), boxes, fill=0)
        assert (status, applied, w, h) == ("redacted", 2, 16, 12)
        got = dec(out)
        assert (got[3:7, 2:7] == 0).all()
        assert (got[10:12, 14:16] == 0).all()
        mask = np.ones((12, 16), dtype=bool)
        mask[3:7, 2:7] = False
        mask[10:12, 14:16] = False
        assert (got[mask] == img[mask]).all()  # bit-exact survival


def test_redact_image_jpeg_within_bounds():
    """JPEG: re-encode is lossy but deterministic — redacted block is near
    the fill value and non-redacted pixels stay within codec error."""
    import numpy as np

    from nifi_dicom_spark.functions.jpeg import decode_jpeg, encode_jpeg
    from nifi_dicom_spark.functions.redact import redact_image

    img = _pattern()
    payload = encode_jpeg(img, quality=90)
    out, status, applied, w, h, _ = redact_image(payload, [(2, 3, 5, 4)], fill=0)
    assert (status, applied) == ("redacted", 1)
    got = decode_jpeg(out).astype(int)
    base = decode_jpeg(payload).astype(int)  # what the pixels were pre-redact
    assert abs(got[3:7, 2:7].mean()) < 48  # blacked-out region is dark
    mask = np.ones((12, 16), dtype=bool)
    mask[2:8, 1:8] = False  # exclude the box plus a 1px ring (DCT bleed)
    assert np.abs(got[..., :][mask] - base[mask]).max() <= 64
    assert np.abs(got[..., :][mask] - base[mask]).mean() < 12
    # determinism: same input → identical bytes
    out2 = redact_image(payload, [(2, 3, 5, 4)], fill=0)[0]
    assert out2 == out


def test_redact_image_degenerate_boxes_and_unsupported():
    from nifi_dicom_spark.functions import codecs
    from nifi_dicom_spark.functions.redact import redact_image

    img = _pattern()
    payload = codecs.encode_png(img)
    # fully outside / zero-area boxes apply nothing but succeed
    out, status, applied, _, _, _ = redact_image(
        payload, [(100, 100, 4, 4), (1, 1, 0, 5)], fill=0
    )
    assert (status, applied) == ("redacted", 0)
    assert codecs.decode_png(out).tobytes() == img.tobytes()
    # unsupported format passes through unchanged, loudly
    blob = b"\x00\x01notanimage" * 4
    out, status, applied, w, h, mime = redact_image(blob, [(0, 0, 2, 2)])
    assert (out, status, applied, w, h, mime) == (
        blob, "unsupported", 0, None, None, None
    )


def test_redact_regions_spark(spark):
    """The Spark operator end-to-end: per-row boxes applied, statuses
    surfaced, non-image passthrough marked unsupported."""
    import pandas as pd

    from nifi_dicom_spark.functions import codecs
    from nifi_dicom_spark.functions.redact import redact_regions

    img = _pattern()
    pdf = pd.DataFrame(
        {
            "media_id": [1, 2, 3],
            "kind": ["image", "image", "image"],
            "payload": [
                codecs.encode_png(img),
                codecs.encode_bmp(img),
                b"garbage-payload",
            ],
            "boxes": [
                [{"x": 2, "y": 3, "w": 5, "h": 4}],
                None,  # null boxes: re-encode only
                [{"x": 0, "y": 0, "w": 2, "h": 2}],
            ],
        }
    )
    media = spark.createDataFrame(pdf)
    out = {
        r["media_id"]: r
        for r in redact_regions(media, boxes_col="boxes").collect()
    }
    assert out[1]["status"] == "redacted" and out[1]["n_boxes_applied"] == 1
    got = codecs.decode_png(bytes(out[1]["payload"]))
    assert (got[3:7, 2:7] == 0).all()
    assert out[2]["status"] == "redacted" and out[2]["n_boxes_applied"] == 0
    assert codecs.decode_bmp(bytes(out[2]["payload"])).tobytes() == img.tobytes()
    assert out[3]["status"] == "unsupported"
    assert bytes(out[3]["payload"]) == b"garbage-payload"


# --- codec decoder robustness: malformed input is a clean ValueError ---------
#
# The public decode_* contract across the from-scratch codecs: corrupted,
# truncated, or garbage payloads raise ValueError — never a raw IndexError /
# KeyError / StopIteration / struct.error / zlib.error from the bit-level
# parsers. (Engine UDF call sites tolerate any exception, but the library
# surface promises one clean error class; a fuzz pass found decode_jpeg and
# decode_png leaking parser internals.)


def _codec_fixtures():
    import numpy as np

    from nifi_dicom_spark.functions import codecs, jpeg

    img = (np.arange(32 * 32 * 3, dtype=np.uint8).reshape(32, 32, 3) * 7 % 256).astype(
        np.uint8
    )
    return {
        "jpeg": (jpeg.encode_jpeg(img), jpeg.decode_jpeg),
        "png": (codecs.encode_png(img), codecs.decode_png),
    }


@pytest.mark.parametrize("codec", ["jpeg", "png"])
def test_decoder_rejects_malformed_input_cleanly(codec):
    import numpy as np

    enc, dec = _codec_fixtures()[codec]
    dec(enc)  # the pristine stream must still decode

    # deterministic 3-byte corruptions
    for seed in range(150):
        r = np.random.default_rng(seed)
        buf = bytearray(enc)
        for _ in range(3):
            buf[int(r.integers(0, len(buf)))] = int(r.integers(0, 256))
        try:
            dec(bytes(buf))
        except ValueError:
            pass  # clean rejection — decoding to *something* is also fine

    # truncations at ~60 evenly-spaced cut points
    step = max(1, len(enc) // 60)
    for cut in range(1, len(enc), step):
        try:
            dec(enc[:cut])
        except ValueError:
            pass

    # pure garbage
    for seed in range(25):
        r = np.random.default_rng(10_000 + seed)
        junk = r.integers(0, 256, size=int(r.integers(1, 1500))).astype(np.uint8)
        try:
            dec(junk.tobytes())
        except ValueError:
            pass


def test_encoder_input_validation():
    """Image encoder entrypoints reject empty and 2-D images with clean
    ValueErrors."""
    import numpy as np

    from nifi_dicom_spark.functions import codecs, jpeg

    for bad in (np.zeros((0, 0, 3), np.uint8), np.zeros((8, 8), np.uint8)):
        with pytest.raises(ValueError, match=r"\(H, W, 3\)"):
            jpeg.encode_jpeg(bad)
        with pytest.raises(ValueError, match=r"\(H, W, 3\)"):
            codecs.encode_png(bad)
