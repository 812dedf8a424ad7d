"""Burned-in-region redaction: zero pixel rectangles inside image payloads.

Reference analog: the reference bulk-deidentifies AND redacts identifying
text burned into image regions — ``RedactionRegions`` selected per image
shape are blacked out during import
(``apps/DeidentifyAndRedact.java:105,271``), with the actual pixel zeroing
done by ``ImageEditUtilities.blackout`` over ``Rectangle`` shapes
(``display/DicomImageBlackout.java:400``), decompressing on read when the
codec requires it. The engine analog: ``redact_regions`` decodes each
payload with the from-scratch BMP/PNG/baseline-JPEG codecs, zeroes the
requested rectangles (clipped to the image bounds), and deterministically
re-encodes in the SAME container format. Compose with
:func:`nifi_dicom_spark.functions.pii.redact_pii` for the text columns —
together they close the reference's deidentification surface for
multimodal transcripts (screenshots with burned-in PII).

Scale shape: one Arrow-batched ``mapInPandas`` pass — no shuffle, no
driver involvement; the binary column never leaves the executor, and
column pruning keeps non-media scans from touching it at all. Lossless
formats (BMP/PNG) round-trip every non-redacted pixel bit-exactly; JPEG
re-encodes at a fixed quality (deterministic Annex-K-scaled tables), so
non-redacted pixels survive within normal JPEG error. Payloads in formats
without a real decoder (or too corrupt to decode) PASS THROUGH UNCHANGED
with ``status='unsupported'`` — silent pixel retention is exactly what a
redaction operator must never hide, so the status column makes the
unredacted remainder queryable (route it to quarantine, as the reference
parks files it cannot redact on the failure relationship).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from nifi_dicom_spark.functions import codecs, jpeg

REDACTED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("status", T.StringType(), False),  # redacted|unsupported
        T.StructField("n_boxes_applied", T.IntegerType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("mime", T.StringType(), True),
    ]
)


def redact_image(
    payload: bytes | None,
    boxes: list[tuple[int, int, int, int]],
    fill: int = 0,
    jpeg_quality: int = 90,
) -> tuple[bytes | None, str, int, int | None, int | None, str | None]:
    """Redact one payload. Returns ``(payload, status, n_applied, width,
    height, mime)`` — the pure kernel shared by the Spark operator, its
    oracle generator and the round-trip tests.

    A box fully outside the image contributes nothing (not an error: the
    reference's region selectors are per-image-shape and simply don't
    match); a partially-overlapping box is clipped. ``fill`` is the
    blackout value for every channel (the reference's
    ``useZeroBlackoutValue`` path)."""
    decoded, encode, mime = None, None, None
    try:
        if codecs.is_bmp(payload):
            decoded, mime = codecs.decode_bmp(payload), "image/bmp"
            encode = codecs.encode_bmp
        elif codecs.is_png(payload):
            decoded, mime = codecs.decode_png(payload), "image/png"
            encode = codecs.encode_png
        elif jpeg.is_jpeg(payload):
            decoded, mime = jpeg.decode_jpeg(payload), "image/jpeg"

            def encode(img):
                return jpeg.encode_jpeg(img, quality=jpeg_quality)

    except Exception:
        decoded = None  # corrupt/unsupported variant → declared passthrough
    if decoded is None:
        return payload, "unsupported", 0, None, None, None
    img = np.array(decoded, dtype=np.uint8, copy=True)
    h, w = img.shape[:2]
    applied = 0
    for bx, by, bw, bh in boxes:
        x0, y0 = max(int(bx), 0), max(int(by), 0)
        x1, y1 = min(int(bx) + int(bw), w), min(int(by) + int(bh), h)
        if x1 > x0 and y1 > y0:
            img[y0:y1, x0:x1, ...] = np.uint8(fill)
            applied += 1
    return encode(img), "redacted", applied, w, h, mime


def redact_regions(
    media: DataFrame,
    boxes_col: str = "boxes",
    fill: int = 0,
    jpeg_quality: int = 90,
) -> DataFrame:
    """Zero the ``boxes_col`` rectangles inside every image payload.

    ``media`` needs ``media_id``, ``kind``, ``payload`` and a
    ``boxes_col`` column of ``array<struct<x:int,y:int,w:int,h:int>>``
    (null/empty = nothing to redact for that image — still re-encoded so
    the output is uniformly this engine's deterministic encoding). Arrow
    batch memory against fat binary rows is bounded by
    ``spark.sql.execution.arrow.maxRecordsPerBatch``, the same control
    :func:`..multimodal.extract_features` relies on."""

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, kind, p, bxs in zip(
                pdf["media_id"], pdf["kind"], pdf["payload"], pdf[boxes_col]
            ):
                raw = bytes(p) if p is not None else None
                boxes = (
                    [(b["x"], b["y"], b["w"], b["h"]) for b in bxs]
                    if bxs is not None
                    else []
                )
                out, status, applied, w, h, mime = redact_image(
                    raw, boxes, fill=fill, jpeg_quality=jpeg_quality
                )
                rows.append(
                    {
                        "media_id": mid,
                        "kind": kind,
                        "payload": out,
                        "status": status,
                        "n_boxes_applied": applied,
                        "width": w,
                        "height": h,
                        "mime": mime,
                    }
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in REDACTED_SCHEMA.fields]
            )

    # explicit projection: column pruning must reach the scan even when the
    # caller's media frame carries extra fat columns
    return media.select("media_id", "kind", "payload", boxes_col).mapInPandas(
        kernel, schema=REDACTED_SCHEMA
    )
