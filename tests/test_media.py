"""Media: F14 burned-in-region redaction over the BMP/PNG/JPEG codecs and
the decoders' clean-rejection contract on malformed input."""

from __future__ import annotations

import pytest


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
