"""decode_media on FLAC and WAV payloads. The package decodes RIFF/WAV
only (reference decode sites: modules/models/utils.py:11-16,
modules/separation_filter.py:101), so a FLAC payload fails the Spark job
with an error naming its container, while a 16-bit WAV decodes exactly.
"""

import struct

import numpy as np
import pytest

from speech_data_pipeline_spark.operators.multimodal import decode_media


def _make_wav_pcm16(pcm, sr):
    data = np.asarray(pcm).astype("<i2").tobytes()
    return (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, sr, sr * 2, 2, 16)
        + b"data" + struct.pack("<I", len(data)) + data
    )


def test_decode_media_handles_flac_and_wav(spark):
    """decode_media on Spark returns a 16-bit WAV's samples scaled by
    1/32768, to the bit, at the file's rate; a FLAC payload is refused
    by name."""
    sr = 16_000
    rng = np.random.default_rng(14)
    pcm = np.clip(np.cumsum(rng.integers(-200, 201, size=2000)), -32767, 32767)
    wav = _make_wav_pcm16(pcm, sr)
    df = spark.createDataFrame([(2, bytearray(wav))], "media_id long, payload binary")
    (row,) = decode_media(df).collect()
    assert row.media_id == 2 and row.sr == sr
    assert row.samples == (pcm / 32768.0).tolist()

    flac = b"fLaC\x00\x00\x00\x22" + bytes(34)
    df = spark.createDataFrame([(1, bytearray(flac))], "media_id long, payload binary")
    with pytest.raises(Exception, match="flac: fLaC marker"):
        decode_media(df).collect()
