"""MPEG-1 Layer I streams through the mp3 frame scanner: header chains,
stream metadata and CBR frame geometry of a multi-frame Layer I payload
(``test_media.py`` covers Layer III streams and single Layer I headers)."""

from __future__ import annotations

import pytest

from nifi_dicom_spark.functions import mp3


def _layer1_stream(n_frames: int, bitrate_kbps: int, sample_rate: int = 32000) -> bytes:
    # MPEG-1 Layer I mono, no CRC; an all-zero body allocates no bits to
    # any band, which is a valid silent frame
    br_idx = mp3._BR_INDEX[(1, 1)][bitrate_kbps]
    sr_idx = mp3._SR_INDEX[3][sample_rate]
    header = bytes([0xFF, 0xFF, (br_idx << 4) | (sr_idx << 2), 3 << 6])
    frame_len = 12 * bitrate_kbps * 1000 // sample_rate * 4
    return (header + b"\x00" * (frame_len - 4)) * n_frames


def test_frames_parse_with_existing_scanner():
    enc = _layer1_stream(11, bitrate_kbps=128)
    info = mp3.parse_mp3(enc)
    assert info["version"] == "1" and info["layer"] == 1
    assert info["mode"] == "mono" and info["channels"] == 1
    assert info["n_frames"] == 11
    assert info["duration_s"] == pytest.approx(11 * 384 / 32000)
    assert not info["is_vbr"]
    frames = mp3.frame_table(enc)
    assert len({f.size for f in frames}) == 1  # CBR: constant frame size
    assert frames[0].size == 12 * 128000 // 32000 * 4
    assert sum(f.size for f in frames) == len(enc)
