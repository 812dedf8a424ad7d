"""Multimodal column plumbing: media as opaque binary columns.

Decode is REAL for the image formats and PCM audio: WAV, BMP and PNG
are parsed by the pure-stdlib+numpy codecs in
:mod:`nifi_dicom_spark.functions.codecs`, baseline JPEG by the
from-scratch entropy/DCT codec in :mod:`nifi_dicom_spark.functions.jpeg`;
they yield genuine features (RMS energy windows, grayscale band means) and
genuine decoded dimensions. MP4 is REAL at the container level (:mod:`..functions.mp4`
box/sample-table demux — see ``sample_frames``). Every other payload
takes a deterministic, clearly-marked stub. The Spark-side plumbing is
identical either way: schema (binary payload + typed metadata struct),
Arrow-batched ``mapInPandas`` transforms, partition-size control for fat
binary rows.

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
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nifi_dicom_spark.functions import codecs, jpeg, mp4

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
    """STUB for every payload without a real decoder (video, compressed
    audio, unknown formats, undecodable variants).

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
    """Real decode for WAV/BMP/PNG/JPEG payloads (pure-stdlib+numpy
    codecs); deterministic stub otherwise. Returns (feature, width,
    height) — dims non-null only when a real image decode ran. Magic
    bytes only gate the ATTEMPT — unsupported variants (float WAV,
    compressed/odd-bpp BMP, 16-bit/interlaced PNG, progressive JPEG,
    truncated files) fall back to the stub rather than crashing the whole
    Spark job on one bad row."""

    try:
        if codecs.is_wav(payload):
            samples, _sr = codecs.decode_wav(payload)
            return codecs.audio_energy_features(samples, dim), None, None
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


def extract_features(media: DataFrame, dim: int = 16, batch_rows: int = 64) -> DataFrame:
    """mapInPandas feature extraction over binary payloads.

    Arrow batches carry the binaries; `spark.sql.execution.arrow.
    maxRecordsPerBatch` (set by the caller for fat media) bounds batch memory.
    """

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


def sample_frames(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame sampling — REAL for ISO BMFF (MP4) payloads: the
    container's sample table (stsc×stco×stsz×stts join, resolved by
    :mod:`nifi_dicom_spark.functions.mp4`) gives byte-exact access units;
    every ``every_n``-th sample is emitted with its true size, decode
    timestamp and the sha256 of the actual frame bytes. Non-MP4 payloads
    keep the declared deterministic stub (meta.n_frames-driven fake
    hashes); their ``frame_bytes``/``pts_ms`` stay null so the two paths
    are distinguishable downstream."""

    if every_n < 1:
        raise ValueError(f"every_n must be >= 1, got {every_n}")

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for _, r in pdf.iterrows():
                payload = bytes(r["payload"]) if r["payload"] is not None else b""
                demuxed = False
                if mp4.is_mp4(payload):
                    try:
                        meta = mp4.parse_mp4(payload)
                        track = next(
                            (t for t in meta["tracks"] if t["kind"] == "video"),
                            meta["tracks"][0] if meta["tracks"] else None,
                        )
                        # pts ticks are in the TRACK's media timescale; the
                        # movie-header timescale is a different clock (often
                        # 1000 vs 90000) — a missing mdhd yields null pts_ms
                        # rather than a 90x-wrong value
                        ts = (track or {}).get("timescale")
                        for s in mp4.sample_table(payload)[::every_n]:
                            rows.append(
                                {
                                    "media_id": r["media_id"],
                                    "frame_idx": s.index,
                                    "frame_sha": hashlib.sha256(
                                        mp4.extract_sample(payload, s)
                                    ).hexdigest(),
                                    "frame_bytes": s.size,
                                    "pts_ms": (
                                        s.pts * 1000 // ts if ts else None
                                    ),
                                }
                            )
                        demuxed = True
                    except Exception:
                        # malformed container (bad box sizes, missing stbl,
                        # truncated tables, ...) → stub path; the job must
                        # survive any single bad row
                        demuxed = False
                if not demuxed:
                    n = (r["meta"]["n_frames"] or 0) if r["meta"] is not None else 0
                    for f in range(0, n, every_n):
                        rows.append(
                            {
                                "media_id": r["media_id"],
                                "frame_idx": f,
                                "frame_sha": hashlib.sha256(
                                    payload + f.to_bytes(4, "little")
                                ).hexdigest(),
                                "frame_bytes": None,
                                "pts_ms": None,
                            }
                        )
            out = pd.DataFrame(
                rows,
                columns=["media_id", "frame_idx", "frame_sha", "frame_bytes", "pts_ms"],
            )
            out["frame_bytes"] = out["frame_bytes"].astype("Int32")
            out["pts_ms"] = out["pts_ms"].astype("Int64")
            yield out

    return media.filter(F.col("kind") == "video").mapInPandas(
        kernel,
        schema="media_id long, frame_idx int, frame_sha string,"
        " frame_bytes int, pts_ms long",
    )
