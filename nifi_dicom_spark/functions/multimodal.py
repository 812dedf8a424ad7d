"""Multimodal column plumbing: media as opaque binary columns.

Decode is REAL for three image formats: BMP and PNG are parsed by the
pure-stdlib+numpy codecs in :mod:`nifi_dicom_spark.functions.codecs`,
baseline JPEG by the from-scratch entropy/DCT codec in
:mod:`nifi_dicom_spark.functions.jpeg`; they yield genuine features
(grayscale band means) and genuine decoded dimensions. Every other
payload (audio and video included) takes a deterministic, clearly-marked
stub. The Spark-side plumbing is identical either way: schema (binary
payload + typed metadata struct) and Arrow-batched ``mapInPandas``
transforms.

Reference analog: the payload of a flow-file is exactly such an opaque
binary (the serialized DICOM object with PixelData), and the reference's
read paths deliberately skip bulk pixel data when only metadata is needed
(``ExtractDICOMTags.java:134-136``) — mirrored here by keeping metadata in
separate columns so Parquet column pruning skips the binary entirely.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from nifi_dicom_spark.functions import codecs, jpeg

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                    T.StructField("n_frames", T.IntegerType(), True),
                    T.StructField("mime", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
        T.StructField("sha256", T.StringType(), True),
        T.StructField("n_bytes", T.IntegerType(), True),
        # decoded image dimensions — populated only when a REAL decode ran
        # (BMP/PNG/JPEG images), null on the stub path
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
    ]
)


def _fake_decode_feature(payload: bytes, dim: int = 16) -> np.ndarray:
    """STUB for every payload without a real decoder (audio, video,
    unknown formats, undecodable variants).

    Deterministic fake: sha256-seeded pseudo-feature so tests are stable.
    Replace the body with the real decode + model features in production;
    the Spark plumbing (batch shape, schema, partitioning) is identical.
    """
    h = hashlib.sha256(payload or b"").digest()
    raw = np.frombuffer((h * ((dim * 4) // len(h) + 1))[: dim * 4], dtype=np.uint32)
    return (raw.astype(np.float64) / np.iinfo(np.uint32).max).astype(np.float32)


def _decode_feature(
    payload: bytes, dim: int = 16
) -> tuple[np.ndarray, int | None, int | None]:
    """Real decode for BMP/PNG/JPEG payloads (pure-stdlib+numpy codecs);
    deterministic stub otherwise. Returns (feature, width, height) — dims
    non-null only when a real image decode ran. Magic bytes only gate the
    ATTEMPT — unsupported variants (compressed/odd-bpp BMP,
    16-bit/interlaced PNG, progressive JPEG, truncated files) fall back to
    the stub rather than crashing the whole Spark job on one bad row."""

    try:
        if codecs.is_bmp(payload):
            img = codecs.decode_bmp(payload)
        elif codecs.is_png(payload):
            img = codecs.decode_png(payload)
        elif jpeg.is_jpeg(payload):
            img = jpeg.decode_jpeg(payload)
        else:
            img = None
        if img is not None:
            return codecs.image_block_features(img, dim), img.shape[1], img.shape[0]
    except Exception:
        pass  # unsupported variant / corrupt file → stub path
    return _fake_decode_feature(payload, dim), None, None


def extract_features(media: DataFrame, dim: int = 16) -> DataFrame:
    """mapInPandas feature extraction over binary payloads, one Arrow
    batch at a time."""

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = pdf["payload"]
            decoded = [
                _decode_feature(bytes(p) if p is not None else b"", dim)
                for p in payloads
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "feature": [f.tolist() for f, _w, _h in decoded],
                    "sha256": [
                        hashlib.sha256(p or b"").hexdigest() for p in payloads
                    ],
                    "n_bytes": [len(p or b"") for p in payloads],
                    "width": pd.array([w for _f, w, _h in decoded], dtype="Int32"),
                    "height": pd.array([h for _f, _w, h in decoded], dtype="Int32"),
                }
            )

    return media.mapInPandas(kernel, schema=FEATURE_SCHEMA)
