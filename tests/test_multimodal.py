"""WAV decode seam (SURVEY.md §2.1 S2-S5 decode).

The real decoder covers uncompressed RIFF/WAV (PCM 8/16/24/32-bit and
IEEE float) with pure NumPy — the one media format the engine can decode
without a codec library (reference decode sites:
modules/separation_filter.py:101, modules/speaker_rematch.py:47). WAV
bytes are synthesized in-test with struct, run through decode_media on
Spark, and checked end-to-end through vad_stage.
"""

import math
import struct

import pytest
from pyspark.sql import functions as F

from speech_data_pipeline_spark.operators.multimodal import (
    decode_media,
    decode_wav_bytes,
)


def make_wav(samples, sr=16000, bits=16, n_ch=1, fmt_code=1):
    """Minimal RIFF/WAV encoder for test fixtures.

    ``samples``: per-channel-interleaved floats in [-1, 1].
    """
    if fmt_code == 1:
        if bits == 16:
            data = b"".join(
                struct.pack("<h", max(-32768, min(32767, round(s * 32768.0))))
                for s in samples
            )
        elif bits == 8:
            data = bytes(max(0, min(255, round(s * 128.0 + 128))) for s in samples)
        elif bits == 24:
            out = bytearray()
            for s in samples:
                v = max(-(1 << 23), min((1 << 23) - 1, round(s * (1 << 23))))
                out += struct.pack("<i", v)[:3]
            data = bytes(out)
        elif bits == 32:
            data = b"".join(
                struct.pack(
                    "<i",
                    max(-2147483648, min(2147483647, round(s * 2147483648.0))),
                )
                for s in samples
            )
    else:  # IEEE float
        data = b"".join(struct.pack("<f", s) for s in samples)
    byte_rate = sr * n_ch * bits // 8
    block_align = n_ch * bits // 8
    fmt = struct.pack("<HHIIHH", fmt_code, n_ch, sr, byte_rate, block_align, bits)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def tone(n, freq=440.0, sr=16000, amp=0.5):
    return [amp * math.sin(2 * math.pi * freq * i / sr) for i in range(n)]


def test_decode_wav_pcm16_roundtrip():
    x = tone(400)
    samples, sr = decode_wav_bytes(make_wav(x, bits=16))
    assert sr == 16000 and len(samples) == 400
    assert max(abs(a - b) for a, b in zip(samples, x)) < 1.0 / 32768 + 1e-9


@pytest.mark.parametrize("bits", [8, 24, 32])
def test_decode_wav_pcm_depths(bits):
    x = tone(64)
    samples, sr = decode_wav_bytes(make_wav(x, bits=bits))
    tol = 1.0 / (1 << (bits - 1)) + 1e-9
    assert max(abs(a - b) for a, b in zip(samples, x)) < tol


def test_decode_wav_float32_stereo_mixdown():
    left = tone(128, amp=0.4)
    right = tone(128, amp=0.2)
    inter = [v for pair in zip(left, right) for v in pair]
    samples, sr = decode_wav_bytes(
        make_wav(inter, sr=8000, bits=32, n_ch=2, fmt_code=3)
    )
    assert sr == 8000 and len(samples) == 128
    expect = [(a + b) / 2 for a, b in zip(left, right)]
    assert max(abs(a - b) for a, b in zip(samples, expect)) < 1e-6


def test_decode_wav_rejects_compressed():
    with pytest.raises(NotImplementedError):
        decode_wav_bytes(b"\xff\xfb\x90\x00mp3-frame-junk")
    # format tag 85 (MP3-in-WAV) must also raise, not mis-decode
    fmt = struct.pack("<HHIIHH", 85, 1, 16000, 4000, 1, 0)
    body = (
        b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", 4) + b"\x00" * 4
    )
    with pytest.raises(NotImplementedError):
        decode_wav_bytes(b"RIFF" + struct.pack("<I", len(body)) + body)


@pytest.mark.parametrize(
    "payload, name",
    [
        (b"ID3\x04\x00\x00\x00\x00\x00\x00mp3-body", "mp3: ID3"),
        (b"\xff\xfb\x90\x00mp3-frame-junk", "mp3: MPEG"),
        (b"\x00\x00\x00\x20ftypM4A \x00\x00\x00\x00", "mp4/m4a"),
        (b"\xff\xf1\x50\x80\x02\x1f\xfcadts-junk", "aac: ADTS"),
        (b"not audio at all", "unknown format"),
    ],
    ids=["id3", "mpeg-sync", "ftyp", "adts", "unknown"],
)
def test_decode_audio_bytes_names_unsupported_container(payload, name):
    """A non-RIFF payload raises NotImplementedError naming the container
    its magic bytes identify, not a pointer back to decode_audio_bytes."""
    from speech_data_pipeline_spark.operators.multimodal import decode_audio_bytes

    with pytest.raises(NotImplementedError, match=name) as e:
        decode_audio_bytes(payload)
    assert "use decode_audio_bytes" not in str(e.value)


@pytest.mark.parametrize(
    "cut",
    [lambda w: b"RIFF\x00\x00", lambda w: w[:11], lambda w: w[:30],
     lambda w: w[:12] + b"fmt \xff"],
    ids=["riff-6-bytes", "riff-11-bytes", "truncated-fmt", "truncated-chunk-header"],
)
def test_decode_audio_bytes_malformed_riff_raises_valueerror(cut):
    from speech_data_pipeline_spark.operators.multimodal import decode_audio_bytes

    with pytest.raises(ValueError, match="malformed WAV"):
        decode_audio_bytes(cut(make_wav(tone(64))))


@pytest.mark.parametrize("size", [744, 743], ids=["whole-frames", "partial-frame"])
def test_decode_wav_truncated_data_chunk_raises_valueerror(size):
    """A 400-sample 16-bit WAV (844 bytes) cut short is reported as
    truncated, not decoded to fewer samples or failed inside NumPy."""
    payload = make_wav(tone(400))
    assert len(payload) == 844
    with pytest.raises(ValueError, match="malformed WAV: truncated data chunk"):
        decode_wav_bytes(payload[:size])


def test_decode_wav_partial_sample_frame_raises_valueerror():
    """A data chunk whose declared size ends inside a sample frame."""
    payload = bytearray(make_wav(tone(400)))
    data_at = payload.index(b"data") + 4
    payload[data_at : data_at + 4] = struct.pack("<I", 799)
    with pytest.raises(ValueError, match="malformed WAV: truncated data chunk"):
        decode_wav_bytes(bytes(payload))


def test_decode_media_through_vad_stage(spark):
    """WAV bytes → decode_media → vad_stage: the full ingest seam with a
    real decoder, no fake flag."""
    from speech_data_pipeline_spark.plans.stages import vad_stage

    sr = 1000
    speech = tone(2 * sr, sr=sr, amp=0.5) + [0.0] * sr + tone(sr, sr=sr, amp=0.4)
    silent = [0.0] * (3 * sr)
    rows = [(1, bytearray(make_wav(speech, sr=sr))), (2, bytearray(make_wav(silent, sr=sr)))]
    payloads = spark.createDataFrame(rows, "media_id long, payload binary")
    decoded = decode_media(payloads)  # real path
    audio = decoded.select(
        F.col("media_id").cast("string").alias("audio_id"), "samples", "sr"
    )
    vad = vad_stage(audio).collect()
    ids = {r.audio_id for r in vad}
    assert "1" in ids and "2" not in ids
    for r in vad:
        assert r.end > r.start >= 0


def test_decode_wav_stereo_channels_preserved():
    """mono=False keeps channels separate (S3 librosa.load(mono=False)
    parity); mono=True equals their mean."""
    left = tone(400, freq=300.0)
    right = tone(400, freq=700.0)
    interleaved = [v for pair in zip(left, right) for v in pair]
    payload = make_wav(interleaved, n_ch=2)
    chans, sr = decode_wav_bytes(payload, mono=False)
    assert sr == 16000 and len(chans) == 2
    assert max(abs(a - b) for a, b in zip(chans[0], left)) < 1e-3
    assert max(abs(a - b) for a, b in zip(chans[1], right)) < 1e-3
    mixed, _ = decode_wav_bytes(payload)
    want = [(a + b) / 2 for a, b in zip(left, right)]
    assert max(abs(a - b) for a, b in zip(mixed, want)) < 1e-3


def test_decode_media_at_sr_resamples(spark):
    """S3 composition: decode + Fourier resample to a fixed rate in one
    kernel, mono and stereo forms."""
    from speech_data_pipeline_spark.operators.multimodal import decode_media_at_sr

    x = tone(1600, freq=100.0, sr=16000)
    interleaved = [v for pair in zip(x, x) for v in pair]
    df = spark.createDataFrame(
        [(1, bytearray(make_wav(x))), (2, bytearray(make_wav(interleaved, n_ch=2)))],
        "media_id long, payload binary",
    )
    mono = {r.media_id: r for r in decode_media_at_sr(df, 8000).collect()}
    assert mono[1].sr == 8000
    assert len(mono[1].samples) == 800  # 1600 * 8000/16000
    stereo = {r.media_id: r for r in decode_media_at_sr(df, 8000, mono=False).collect()}
    assert len(stereo[2].channels) == 2
    assert len(stereo[2].channels[0]) == 800
    # both channels identical input -> identical resampled output
    assert stereo[2].channels[0] == stereo[2].channels[1]


def test_sample_frames_arithmetic(spark):
    """1 fps sampling of a 30 fps, 2.5 s clip: frames 0, 30, 60."""
    from speech_data_pipeline_spark.operators.multimodal import sample_frames

    df = spark.createDataFrame(
        [(1, 30.0, 2.5), (2, 24.0, 0.4)], "media_id long, fps double, duration double"
    )
    out = {}
    for r in sample_frames(df, target_fps=1.0).collect():
        out.setdefault(r.media_id, []).append((r.sample_idx, r.frame_idx, r.frame_ts))
    assert sorted(out[1]) == [(0, 0, 0.0), (1, 30, 1.0), (2, 60, 2.0)]
    assert sorted(out[2]) == [(0, 0, 0.0)]  # clip shorter than one hop


def test_sample_frames_exact_multiple_and_bad_durations(spark):
    """duration == exact multiple of the sample period must NOT emit a
    sample at t == duration (frame one past the end); duration <= 0
    emits nothing."""
    from speech_data_pipeline_spark.operators.multimodal import sample_frames

    df = spark.createDataFrame(
        [(1, 30.0, 2.0), (2, 30.0, 0.0), (3, 30.0, -1.5)],
        "media_id long, fps double, duration double",
    )
    out = {}
    for r in sample_frames(df, target_fps=1.0).collect():
        out.setdefault(r.media_id, []).append((r.sample_idx, r.frame_idx))
    # 2.0 s of 30 fps = frames 0..59: samples at t=0,1 only (frame 60
    # does not exist).
    assert sorted(out[1]) == [(0, 0), (1, 30)]
    assert 2 not in out and 3 not in out


def test_header_and_decode_agree_on_extensible_format():
    """WAVE_FORMAT_EXTENSIBLE: the metadata probe must resolve the
    SubFormat code exactly as the decoder does (review finding — a
    format_tag==1 filter must not drop decodable extensible files)."""
    import struct

    from speech_data_pipeline_spark.operators.multimodal import (
        decode_wav_bytes,
        parse_wav_header,
    )

    samples = [0.0, 0.25, -0.25, 0.5]
    pcm = b"".join(
        struct.pack("<h", int(max(-1, min(1, s)) * 32767)) for s in samples
    )
    # 40-byte extensible fmt body: tag 0xFFFE, SubFormat GUID says PCM
    guid = struct.pack("<H", 1) + b"\x00\x00" + b"\x00\x00\x10\x00\x80\x00\x00\xaa\x00\x38\x9b\x71"
    fmt_body = struct.pack("<HHIIHH", 0xFFFE, 1, 16000, 32000, 2, 16)
    fmt_body += struct.pack("<HHI", 22, 16, 1) + guid[2:] if False else (
        struct.pack("<H", 22) + struct.pack("<H", 16) + struct.pack("<I", 1)
        + guid
    )
    chunks = (
        b"fmt " + struct.pack("<I", len(fmt_body)) + fmt_body
        + (b"\x00" if len(fmt_body) % 2 else b"")
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )
    blob = b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks
    hdr = parse_wav_header(blob)
    assert hdr["format_tag"] == 1  # resolved, not 65534
    assert hdr["sample_rate"] == 16000 and hdr["n_frames"] == 4
    decoded, sr = decode_wav_bytes(blob)
    assert sr == 16000 and len(decoded) == 4


# ---------------------------------------------------------------------------
# G.711 μ-law / A-law and IMA ADPCM (format tags 7 / 6 / 0x11) — public-spec
# RIFF sub-formats decoded without any codec library.
# ---------------------------------------------------------------------------


def _raw_wav(data, fmt_code, n_ch=1, sr=8000, bits=8, block_align=None,
             extra=b""):
    byte_rate = sr * n_ch * bits // 8
    if block_align is None:
        block_align = n_ch * bits // 8
    fmt = struct.pack(
        "<HHIIHH", fmt_code, n_ch, sr, byte_rate, block_align, bits
    ) + extra
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"" if len(fmt) % 2 == 0 else b"\x00"
    body += b"data" + struct.pack("<I", len(data)) + data
    if len(data) % 2:
        body += b"\x00"
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _linear2ulaw(pcm):
    """Reference G.711 μ-law encoder (Sun g711.c linear2ulaw)."""
    BIAS, CLIP = 0x84, 32635
    sign = 0x80 if pcm < 0 else 0
    if pcm < 0:
        pcm = -pcm
    pcm = min(pcm, CLIP) + BIAS
    seg = 0
    for end in (0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF, 0x1FFF, 0x3FFF, 0x7FFF):
        if pcm <= end:
            break
        seg += 1
    return (~(sign | (seg << 4) | ((pcm >> (seg + 3)) & 0x0F))) & 0xFF


def _linear2alaw(pcm):
    """Reference G.711 A-law encoder (Sun g711.c linear2alaw)."""
    pcm >>= 3
    if pcm >= 0:
        mask = 0xD5
    else:
        mask = 0x55
        pcm = -pcm - 1
    seg = 0
    for end in (0x1F, 0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF):
        if pcm <= end:
            break
        seg += 1
    if seg >= 8:
        return 0x7F ^ mask
    aval = seg << 4
    aval |= (pcm >> 1) & 0x0F if seg < 2 else (pcm >> seg) & 0x0F
    return aval ^ mask


def test_decode_wav_ulaw_golden_and_roundtrip():
    # Golden points from the ITU-T G.711 μ-law table.
    golden = {0xFF: 0, 0x7F: 0, 0x00: -32124, 0x80: 32124}
    data = bytes(golden.keys())
    decoded, sr = decode_wav_bytes(_raw_wav(data, fmt_code=7))
    assert sr == 8000
    for got, want in zip(decoded, golden.values()):
        assert got == want / 32768.0
    # Encode a tone with the reference encoder; decode must land within
    # half the top-segment quantization step (1024/2/32768).
    x = tone(400, amp=0.5)
    data = bytes(_linear2ulaw(round(s * 32768.0)) for s in x)
    decoded, _ = decode_wav_bytes(_raw_wav(data, fmt_code=7))
    assert len(decoded) == 400
    assert max(abs(a - b) for a, b in zip(decoded, x)) < 512 / 32768.0 + 1e-9


def test_decode_wav_alaw_golden_and_roundtrip():
    golden = {0x55: -8, 0xD5: 8, 0x2A: -32256, 0xAA: 32256}
    data = bytes(golden.keys())
    decoded, sr = decode_wav_bytes(_raw_wav(data, fmt_code=6))
    for got, want in zip(decoded, golden.values()):
        assert got == want / 32768.0
    x = tone(400, amp=0.5)
    data = bytes(_linear2alaw(round(s * 32768.0)) for s in x)
    decoded, _ = decode_wav_bytes(_raw_wav(data, fmt_code=6))
    # A-law top-segment spacing is 1024 (values xx0 -> step 2*512).
    assert max(abs(a - b) for a, b in zip(decoded, x)) < 1024 / 32768.0 + 1e-9


def _ima_encode(samples_pcm, block_align, n_ch=1):
    """Reference IMA ADPCM encoder: returns (data_bytes, reconstruction
    per channel) where reconstruction is the decoder-exact trajectory."""
    from speech_data_pipeline_spark.operators.multimodal import (
        _IMA_INDEX_TAB,
        _IMA_STEP_TAB,
    )

    spb = (block_align - 4 * n_ch) * 2 // n_ch + 1  # samples/block/chan
    chans = [samples_pcm[c::n_ch] for c in range(n_ch)]
    out = bytearray()
    recon = [[] for _ in range(n_ch)]
    index = [0] * n_ch
    for b0 in range(0, len(chans[0]), spb):
        nibs = [[] for _ in range(n_ch)]
        for c in range(n_ch):
            blk = chans[c][b0 : b0 + spb]
            pred = blk[0]
            out += struct.pack("<hBB", pred, index[c], 0)
            recon[c].append(pred)
            for s in blk[1:]:
                step = _IMA_STEP_TAB[index[c]]
                diff = s - pred
                nib = 0
                if diff < 0:
                    nib, diff = 8, -diff
                if diff >= step:
                    nib |= 4
                    diff -= step
                if diff >= step >> 1:
                    nib |= 2
                    diff -= step >> 1
                if diff >= step >> 2:
                    nib |= 1
                d = step >> 3
                if nib & 1:
                    d += step >> 2
                if nib & 2:
                    d += step >> 1
                if nib & 4:
                    d += step
                pred = pred - d if nib & 8 else pred + d
                pred = max(-32768, min(32767, pred))
                index[c] = max(
                    0, min(88, index[c] + _IMA_INDEX_TAB[nib & 7])
                )
                recon[c].append(pred)
                nibs[c].append(nib)
        # interleave 4-byte words (8 nibbles) per channel
        words = [
            [nl[i : i + 8] for i in range(0, len(nl), 8)] for nl in nibs
        ]
        for w in range(len(words[0])):
            for c in range(n_ch):
                grp = words[c][w] + [0] * (8 - len(words[c][w]))
                out += bytes(
                    grp[k] | (grp[k + 1] << 4) for k in range(0, 8, 2)
                )
    return bytes(out), recon


def test_decode_wav_ima_adpcm_mono_exact():
    x = tone(1010, amp=0.6)  # exactly 2 blocks at block_align=256
    pcm = [max(-32768, min(32767, round(s * 32768.0))) for s in x]
    data, recon = _ima_encode(pcm, block_align=256)
    extra = struct.pack("<HH", 2, 505)  # cbSize=2, wSamplesPerBlock
    blob = _raw_wav(
        data, fmt_code=0x11, bits=4, block_align=256, extra=extra
    )
    decoded, sr = decode_wav_bytes(blob)
    assert sr == 8000 and len(decoded) == 1010
    # decoder must reproduce the encoder's reconstruction trajectory
    # bit-exactly (same quantizer tables, same clamps)
    assert decoded == [v / 32768.0 for v in recon[0]]
    # and the lossy codec still tracks the source closely once the
    # step-size adaptation ramps up from its cold start (index 0 =
    # step 7; ~10 samples to reach the tone's slew rate)
    assert max(abs(a - b) for a, b in zip(decoded[16:], x[16:])) < 0.05


def test_decode_wav_ima_adpcm_stereo_channels():
    n = 34  # 17 samples per channel = 1 block at block_align=24
    xl = tone(n // 2, freq=300.0, amp=0.4)
    xr = tone(n // 2, freq=700.0, amp=0.4)
    inter = []
    for a, b in zip(xl, xr):
        inter += [a, b]
    pcm = [max(-32768, min(32767, round(s * 32768.0))) for s in inter]
    data, recon = _ima_encode(pcm, block_align=24, n_ch=2)
    blob = _raw_wav(
        data, fmt_code=0x11, n_ch=2, bits=4, block_align=24,
        extra=struct.pack("<HH", 2, 17),
    )
    chans, sr = decode_wav_bytes(blob, mono=False)
    assert len(chans) == 2
    assert chans[0] == [v / 32768.0 for v in recon[0]]
    assert chans[1] == [v / 32768.0 for v in recon[1]]
    mixed, _ = decode_wav_bytes(blob)
    assert mixed[0] == (recon[0][0] + recon[1][0]) / 2 / 32768.0


def test_decode_media_handles_g711(spark):
    x = tone(200, amp=0.5)
    payload = bytes(_linear2ulaw(round(s * 32768.0)) for s in x)
    df = spark.createDataFrame(
        [(1, bytearray(_raw_wav(payload, fmt_code=7)))],
        "media_id long, payload binary",
    )
    row = decode_media(df).collect()[0]
    assert row.sr == 8000 and len(row.samples) == 200


def test_segment_slice_matches_spark_slice_at_edges(spark):
    """The per-file kernels' slice (``stubs._segment``) takes the same
    samples as ``attach_sliced_samples``' Spark ``slice``: inside the
    waveform, across its end, past it and at zero length."""
    import numpy as np

    from speech_data_pipeline_spark.ml.stubs import _segment
    from speech_data_pipeline_spark.operators.multimodal import attach_sliced_samples

    samples = [float(i) for i in range(100)]
    audio = spark.createDataFrame(
        [("f", samples, 10)], "audio_id string, samples array<double>, sr int"
    )
    segs = spark.createDataFrame(
        [("f", 0.0, 1.0), ("f", 0.95, 3.55), ("f", 9.0, 12.0), ("f", 20.0, 21.0), ("f", 4.0, 4.0)],
        "audio_id string, start double, end double",
    )
    got = {
        (r.start, r.end): list(r.samples) for r in attach_sliced_samples(segs, audio).collect()
    }
    x = np.asarray(samples)
    assert len(got) == 5
    for (s, e), want in got.items():
        assert list(_segment(x, 10, s, e)) == want, (s, e)
