"""FLAC codec tests: known-answer vectors for the spec-pinned pieces
(CRCs, Rice coding, UTF-8 numbers, fixed predictors), lossless
round-trips through every subframe type / channel assignment / bit
depth, and the Spark decode path (reference decode sites:
modules/models/utils.py:11-16, modules/separation_filter.py:101).

The encoder and decoder compose/parse the bitstream independently, so a
round-trip equality is a real check; the STREAMINFO MD5 (computed from
raw PCM on encode, re-derived from decoded PCM on decode) ties both to
the ground-truth samples.
"""

import numpy as np
import pytest

from speech_data_pipeline_spark.operators.flac import (
    _BitReader,
    _BitWriter,
    _FIXED_COEFS,
    _fixed_residual,
    _read_utf8_number,
    _utf8_number_bytes,
    crc8,
    crc16,
    decode_flac_bytes,
    encode_flac_bytes,
)


def _rand_pcm(n, bps, seed, n_ch=1, smooth=True):
    """Deterministic pseudo-audio: integers at bps precision; `smooth`
    makes it predictor-friendly (cumulative small steps) so fixed
    subframes actually engage."""
    rng = np.random.default_rng(seed)
    lim = 1 << (bps - 1)
    chans = []
    for c in range(n_ch):
        if smooth:
            steps = rng.integers(-200, 201, size=n)
            x = np.cumsum(steps)
            x = np.clip(x, -lim + 1, lim - 1)
        else:
            x = rng.integers(-lim, lim, size=n)
        chans.append(x.astype(np.int64).tolist())
    return chans


# ---------------------------------------------------------------------------
# Known-answer vectors (independent of both codec paths)
# ---------------------------------------------------------------------------


def test_crc8_known_answer():
    # CRC-8 poly 0x07, init 0, unreflected: published check value.
    assert crc8(b"123456789") == 0xF4
    assert crc8(b"") == 0


def test_crc16_known_answer():
    # CRC-16 poly 0x8005, init 0, unreflected (CRC-16/UMTS): check value.
    assert crc16(b"123456789") == 0xFEE8
    assert crc16(b"") == 0


def test_rice_hand_decoded_bits():
    # k=2, value u=11: quotient 2 (bits 001), remainder 3 (bits 11)
    # -> 00111 followed by padding. u=11 unzigzags to -6.
    # Byte 0b00111_000 = 0x38.
    br = _BitReader(bytes([0x38]))
    q = br.unary()
    assert q == 2
    r = br.read(2)
    assert r == 3
    u = (q << 2) | r
    assert u == 11
    assert (u >> 1) ^ -(u & 1) == -6


def test_bitwriter_bitreader_roundtrip():
    bw = _BitWriter()
    vals = [(0x3FFE, 14), (1, 1), (0, 1), (7, 4), (12, 4), (300, 12), (5, 12)]
    for v, n in vals:
        bw.write(v, n)
    bw.write_signed(-7, 6)
    bw.write_unary(11)
    bw.align()
    br = _BitReader(bw.bytes())
    for v, n in vals:
        assert br.read(n) == v
    assert br.read_signed(6) == -7
    assert br.unary() == 11


def test_utf8_number_roundtrip():
    for val in [0, 1, 127, 128, 2047, 2048, 65535, 1 << 20, (1 << 36) - 1]:
        enc = _utf8_number_bytes(val)
        br = _BitReader(enc)
        assert _read_utf8_number(br) == val, val
    # Spec examples: 0x80 codes as 2 bytes 0xC2 0x80 (same as UTF-8).
    assert _utf8_number_bytes(0x80) == b"\xc2\x80"
    assert _utf8_number_bytes(0x7FF) == b"\xdf\xbf"


def test_fixed_predictors_invert():
    # Residual then reconstruct must be identity for each order.
    x = [10, 12, 9, 14, 20, 18, 17, 25, 30, 28]
    for order, coefs in _FIXED_COEFS.items():
        resid = _fixed_residual(x, order)
        rec = list(x[:order])
        for r in resid:
            acc = r
            for j, c in enumerate(coefs):
                acc += c * rec[-1 - j]
            rec.append(acc)
        assert rec == x, order


# ---------------------------------------------------------------------------
# Lossless round-trips (encoder -> decoder, bit-exact)
# ---------------------------------------------------------------------------


def _roundtrip(chans, sr, bps, **enc_kw):
    blob = encode_flac_bytes(chans, sr, bps=bps, **enc_kw)
    got, got_sr = decode_flac_bytes(blob, mono=False)
    assert got_sr == sr
    scale = float(1 << (bps - 1))
    assert len(got) == len(chans)
    for g, want in zip(got, chans):
        ints = [int(round(v * scale)) for v in g]
        assert ints == list(want)
    return blob


def test_roundtrip_mono_fixed():
    chans = _rand_pcm(10_000, 16, seed=1)
    blob = _roundtrip(chans, 16_000, 16, block_size=4096)
    # FLAC should actually compress smooth PCM (sanity that FIXED+Rice
    # engaged rather than everything falling back to verbatim).
    assert len(blob) < 10_000 * 2 * 0.9


def test_roundtrip_stereo_all_channel_modes():
    chans = _rand_pcm(5_000, 16, seed=2, n_ch=2)
    for mode in ["independent", "left_side", "right_side", "mid_side"]:
        _roundtrip(chans, 44_100, 16, block_size=1024, channel_mode=mode)


def test_roundtrip_verbatim_and_constant():
    noisy = _rand_pcm(700, 16, seed=3, smooth=False)
    _roundtrip(noisy, 8_000, 16, block_size=256, subframe_mode="verbatim")
    flat = [[1234] * 900]
    blob = _roundtrip(flat, 8_000, 16, block_size=256)
    # Constant subframes: 900 samples in well under 100 bytes of frames.
    assert len(blob) < 200


def test_roundtrip_bit_depths():
    for bps in (8, 16, 24, 32):
        chans = _rand_pcm(2_000, bps, seed=bps)
        _roundtrip(chans, 48_000, bps, block_size=512)


def test_roundtrip_partial_last_frame():
    chans = _rand_pcm(1000, 16, seed=5)  # 3 full 256-frames + 232 tail
    _roundtrip(chans, 16_000, 16, block_size=256)


def test_roundtrip_partition_orders():
    chans = _rand_pcm(4096, 16, seed=6)
    for po in (1, 2, 4):
        _roundtrip(chans, 16_000, 16, block_size=1024, partition_order=po)


def test_roundtrip_escape_partitions():
    chans = _rand_pcm(1024, 16, seed=7)
    _roundtrip(
        chans, 16_000, 16, block_size=512, escape_raw_bits=18,
    )


def test_roundtrip_wasted_bits():
    base = _rand_pcm(2048, 13, seed=8)[0]
    shifted = [[v << 3 for v in base]]  # 3 guaranteed wasted bits
    blob_packed = _roundtrip(
        shifted, 16_000, 16, block_size=512, pack_wasted=True
    )
    blob_plain = _roundtrip(shifted, 16_000, 16, block_size=512)
    assert len(blob_packed) <= len(blob_plain)


def test_roundtrip_lpc_subframe():
    chans = _rand_pcm(3000, 16, seed=9)
    _roundtrip(chans, 22_050, 16, block_size=1024, subframe_mode="lpc2")


def test_roundtrip_many_frames_utf8_frame_numbers():
    # >128 frames so the frame-number coding leaves the 1-byte form.
    chans = _rand_pcm(192 * 140, 16, seed=10)
    _roundtrip(chans, 16_000, 16, block_size=192)


# ---------------------------------------------------------------------------
# Integrity checks actually fire
# ---------------------------------------------------------------------------


def test_corruption_detected():
    chans = _rand_pcm(2048, 16, seed=11)
    blob = bytearray(encode_flac_bytes(chans, 16_000, bps=16, block_size=512))
    # Flip a bit inside frame data (well past the 42-byte header).
    blob[140] ^= 0x10
    with pytest.raises(ValueError):
        decode_flac_bytes(bytes(blob))


def test_md5_verification_runs():
    chans = _rand_pcm(1500, 16, seed=12)
    blob = bytearray(encode_flac_bytes(chans, 16_000, bps=16, block_size=512))
    # Corrupt the STREAMINFO MD5 only (bytes 26..42 of the stream:
    # 4 magic + 4 block header + 18 fixed fields).
    blob[26] ^= 0xFF
    with pytest.raises(ValueError, match="MD5"):
        decode_flac_bytes(bytes(blob))
    # verify=False tolerates it (signature check is opt-out only).
    decode_flac_bytes(bytes(blob), verify=False)


def test_non_flac_rejected():
    with pytest.raises(NotImplementedError):
        decode_flac_bytes(b"RIFF....WAVE")
    with pytest.raises(NotImplementedError):
        decode_flac_bytes(b"ID3\x03\x00mp3-ish")


def test_mono_mixdown_matches_channel_mean():
    chans = _rand_pcm(1200, 16, seed=13, n_ch=2)
    blob = encode_flac_bytes(chans, 16_000, bps=16, block_size=512)
    per_ch, _ = decode_flac_bytes(blob, mono=False)
    mixed, _ = decode_flac_bytes(blob, mono=True)
    want = (np.asarray(per_ch[0]) + np.asarray(per_ch[1])) / 2.0
    assert np.allclose(mixed, want)


# ---------------------------------------------------------------------------
# Spark integration: decode_media routes FLAC payloads by magic
# ---------------------------------------------------------------------------


def _make_wav_pcm16(pcm_ints, sr):
    import struct

    data = np.asarray(pcm_ints, dtype="<i2").tobytes()
    hdr = (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, sr, sr * 2, 2, 16)
        + b"data" + struct.pack("<I", len(data))
    )
    return hdr + data


def test_decode_media_handles_flac_and_wav(spark):
    from speech_data_pipeline_spark.operators.multimodal import decode_media

    sr = 16_000
    pcm = _rand_pcm(2000, 16, seed=14)[0]
    flac_blob = encode_flac_bytes([pcm], sr, bps=16, block_size=512)
    wav_blob = _make_wav_pcm16(pcm, sr)
    df = spark.createDataFrame(
        [(1, bytearray(flac_blob)), (2, bytearray(wav_blob))],
        "media_id long, payload binary",
    )
    out = {
        r["media_id"]: r
        for r in decode_media(df).collect()
    }
    assert out[1]["sr"] == sr and out[2]["sr"] == sr
    want = np.asarray(pcm, dtype=np.float64) / 32768.0
    assert np.allclose(out[1]["samples"], want)
    assert np.allclose(out[2]["samples"], want, atol=1e-4)
