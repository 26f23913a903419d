"""Multimodal columns: opaque binary payloads + typed metadata.

Design (SURVEY.md §1.1 waveform row + known-hard #5): media lives in a
``binary`` column with sibling metadata columns; decode/feature steps
are Arrow-batched ``mapInPandas`` stages so bytes stream executor-side
in bounded batches and never concentrate on the driver.

Audio decode is REAL for every container the repo can verify without
external codecs: RIFF/WAV (PCM 8-32, IEEE float, G.711 μ-law/A-law,
IMA-ADPCM — :func:`decode_wav_bytes`), native FLAC (pure-NumPy decoder
with CRC + MD5 verification, operators/flac.py) and Ogg Vorbis
(operators/vorbis.py), dispatched by magic bytes in
:func:`decode_audio_bytes`. Any other payload (mp3/m4a/aac) goes to
the WAV decoder and raises ``NotImplementedError`` naming its
container; a deterministic fake sits behind ``fake=True``, and the
Spark-side plumbing — schema, batch iteration — is real and
tested either way.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = (
    "media_id long, byte_len long, sha256 string, "
    "fake_width long, fake_height long"
)


def attach_binary(df: DataFrame, src_col: str, id_col: str = "doc_id") -> DataFrame:
    """Stand-in ingest: utf-8 encode a text column into a binary payload.

    Real corpora read ``spark.read.format('binaryFile')`` (reference
    get_audio_paths scan, modules/models/utils.py:11-16) — same
    resulting schema: ``(media_id, payload binary)``.
    """
    return df.select(
        F.col(id_col).alias("media_id"),
        F.encode(F.col(src_col), "UTF-8").alias("payload"),
    )


def extract_features(df: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    Emits deterministic byte-level features (length, sha256 hex, fake
    decoded dimensions derived from length) — the real-model slot for
    image decode / audio fingerprint / frame sampling. mapInPandas
    keeps the payload batched executor-side; output drops the payload
    so only features shuffle.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "byte_len": payloads.map(len),
                    "sha256": payloads.map(
                        lambda b: hashlib.sha256(bytes(b)).hexdigest()
                    ),
                    "fake_width": payloads.map(lambda b: 64 + len(b) % 577),
                    "fake_height": payloads.map(lambda b: 64 + (len(b) * 31) % 577),
                }
            )

    return df.mapInPandas(kernel, schema=FEATURE_SCHEMA)


def attach_sliced_samples(
    segs: DataFrame,
    audio: DataFrame,
    start: str = "start",
    end: str = "end",
) -> DataFrame:
    """Join segments to the full-waveform table ``(audio_id, samples,
    sr)`` and attach each segment's slice ``[start*sr, end*sr)``.
    Output: all ``segs`` columns + ``sr`` + ``samples`` (the slice).

    The join copies a file's whole waveform into each of its segment
    rows before slicing, so a long file with many segments costs far
    more than its samples; the pipeline's stages slice inside per-file
    kernels instead (``ml.stubs``).
    """
    slice_expr = (
        f"slice(samples, cast({start} * sr as int) + 1, "
        f"cast(({end} - {start}) * sr as int))"
    )
    return segs.join(audio, "audio_id").select(
        *segs.columns, "sr", F.expr(slice_expr).alias("samples")
    )


def _walk_riff(b: bytes):
    """Shared RIFF chunk walk: returns ``(fmt6, data_off, data_size)``
    where ``fmt6`` is the 6-tuple of the fmt chunk with
    WAVE_FORMAT_EXTENSIBLE already resolved to its SubFormat code.
    Raises ``ValueError`` (never ``struct.error``) on truncated or
    malformed headers — the contract sources/wavmeta.py maps to
    ok=false rows.
    """
    import struct

    pos, fmt, fmt_body, data_off, data_size = 12, None, b"", None, None
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        (csize,) = struct.unpack("<I", b[pos + 4 : pos + 8])
        if cid == b"fmt ":
            body = b[pos + 8 : pos + 8 + csize]
            if len(body) < 16:
                raise ValueError("malformed WAV: truncated fmt chunk")
            fmt = struct.unpack("<HHIIHH", body[:16])
            fmt_body = body
        elif cid == b"data":
            data_off, data_size = pos + 8, csize
        pos += 8 + csize + (csize & 1)  # chunks are word-aligned
    if fmt is None or data_size is None:
        raise ValueError("malformed WAV: missing fmt or data chunk")
    audio_format = fmt[0]
    if audio_format == 0xFFFE and len(fmt_body) >= 26:
        # WAVE_FORMAT_EXTENSIBLE: actual code is the first two bytes of
        # the SubFormat GUID at offset 24 of the fmt body.
        (audio_format,) = struct.unpack("<H", fmt_body[24:26])
    return (audio_format,) + tuple(fmt[1:]), data_off, data_size


def _g711_tables():
    """256-entry decode LUTs for G.711 μ-law and A-law (ITU-T G.711 /
    the classic Sun ``g711.c`` formulas), as float64 arrays normalized
    by 1/32768. Built once per process."""
    import numpy as np

    ulaw = np.empty(256, dtype=np.float64)
    alaw = np.empty(256, dtype=np.float64)
    for byte in range(256):
        u = ~byte & 0xFF
        t = (((u & 0x0F) << 3) + 0x84) << ((u & 0x70) >> 4)
        ulaw[byte] = (0x84 - t) if (u & 0x80) else (t - 0x84)
        a = byte ^ 0x55
        t = (a & 0x0F) << 4
        seg = (a & 0x70) >> 4
        if seg == 0:
            t += 8
        elif seg == 1:
            t += 0x108
        else:
            t = (t + 0x108) << (seg - 1)
        alaw[byte] = t if (a & 0x80) else -t
    return ulaw / 32768.0, alaw / 32768.0


_G711_CACHE: list = []

# IMA/DVI ADPCM (format tag 0x11) quantizer tables — public spec
# (IMA Recommended Practices for Enhancing Digital Audio, 1992).
_IMA_INDEX_TAB = (-1, -1, -1, -1, 2, 4, 6, 8)
_IMA_STEP_TAB = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34,
    37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
    157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494,
    544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552,
    1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428,
    4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487,
    12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623, 27086,
    29794, 32767,
)


def _ima_adpcm_decode(data: bytes, n_ch: int, block_align: int):
    """Decode IMA ADPCM 'data' payload to per-channel float64 arrays.

    Block layout (public spec): per channel a 4-byte header (int16
    initial predictor — emitted as the block's first sample — uint8
    step index, 1 reserved byte), then the compressed stream as
    interleaved 4-byte words per channel, each word carrying 8
    samples as low-then-high nibbles. Blocks are independent (each
    carries its own predictor/index), so a chunked-payload corpus can
    decode blocks in parallel; this in-row kernel just walks them
    sequentially. Partial trailing blocks decode their available
    nibbles.
    """
    import numpy as np

    step_tab, idx_tab = _IMA_STEP_TAB, _IMA_INDEX_TAB
    chans: list[list[float]] = [[] for _ in range(n_ch)]
    for boff in range(0, len(data), block_align):
        block = data[boff : boff + block_align]
        if len(block) < 4 * n_ch:
            break  # truncated header: ignore trailing junk
        pred = [0] * n_ch
        index = [0] * n_ch
        for c in range(n_ch):
            h = block[4 * c : 4 * c + 4]
            p = h[0] | (h[1] << 8)
            pred[c] = p - 0x10000 if p >= 0x8000 else p
            index[c] = min(88, max(0, h[2]))
            chans[c].append(pred[c] / 32768.0)
        body = block[4 * n_ch :]
        # interleaved 4-byte words per channel
        for woff in range(0, len(body) - len(body) % 4, 4):
            c = (woff // 4) % n_ch
            p, ix, out = pred[c], index[c], chans[c]
            for byte in body[woff : woff + 4]:
                for nib in (byte & 0x0F, byte >> 4):
                    step = step_tab[ix]
                    diff = step >> 3
                    if nib & 1:
                        diff += step >> 2
                    if nib & 2:
                        diff += step >> 1
                    if nib & 4:
                        diff += step
                    p = p - diff if nib & 8 else p + diff
                    p = max(-32768, min(32767, p))
                    ix = max(0, min(88, ix + idx_tab[nib & 7]))
                    out.append(p / 32768.0)
            pred[c], index[c] = p, ix
    return [np.asarray(c, dtype=np.float64) for c in chans]


def _container(b: bytes) -> str:
    """The compressed container that ``b``'s magic bytes identify."""
    if b[:3] == b"ID3":
        return "mp3: ID3 tag"
    if b[4:8] == b"ftyp":
        return "mp4/m4a: ftyp box"
    if len(b) >= 2 and b[0] == 0xFF and b[1] & 0xF6 == 0xF0:
        return "aac: ADTS sync"  # 12-bit sync, layer bits 00
    if len(b) >= 2 and b[0] == 0xFF and b[1] & 0xE0 == 0xE0:
        return "mp3: MPEG audio frame sync"
    return "unknown format"


def decode_wav_bytes(
    payload: bytes, mono: bool = True
) -> tuple[list, int]:
    """Pure-NumPy RIFF/WAV decode: uncompressed PCM (8/16/24/32-bit),
    IEEE-float, G.711 μ-law (tag 7) / A-law (tag 6), and IMA/DVI ADPCM
    (tag 0x11) WAV. ``mono=True`` mixes channels down by mean (the
    reference's pydub ``set_channels(1)``, modules/host_rematch.py:98);
    ``mono=False`` keeps channels separate as a list per channel (the
    reference's ``librosa.load(mono=False)`` for 2×N separation input,
    modules/separation_filter.py:47).

    This is the *real* decoder behind the codec seam — no external
    library needed for any RIFF-native coding (reference decode sites:
    modules/separation_filter.py:101 librosa.load,
    modules/speaker_rematch.py:47 torchaudio.load — both hit WAV files
    produced by the pipeline's own export). Native FLAC is decoded by
    the sibling pure-NumPy codec (operators/flac.py) via
    :func:`decode_audio_bytes`, as is Ogg Vorbis (operators/vorbis.py).

    A non-RIFF payload raises ``NotImplementedError`` naming the
    container its magic bytes identify (mp3, mp4/m4a, aac), as does a
    RIFF payload of another form or a compressed WAV format tag; a
    truncated or malformed RIFF/WAV payload raises ``ValueError``,
    including a data chunk shorter than its declared size or ending in a
    partial sample frame.
    """
    import struct

    import numpy as np

    b = bytes(payload)
    if b[:4] != b"RIFF":
        raise NotImplementedError(
            f"not a RIFF/WAV payload ({_container(b)}); the package decodes "
            "RIFF/WAV, FLAC and Ogg Vorbis only, with no codec backend "
            "(librosa/ffmpeg) for other formats"
        )
    if len(b) < 12:
        raise ValueError("malformed WAV: truncated RIFF header")
    if b[8:12] != b"WAVE":
        raise NotImplementedError(f"RIFF form {b[8:12]!r} is not WAVE audio")
    fmt6, data_off, data_size = _walk_riff(b)
    audio_format, n_ch, sr, _brate, _balign, bits = fmt6
    data = b[data_off : data_off + data_size]
    frame = n_ch * bits // 8 if audio_format in (1, 3, 6, 7) and bits % 8 == 0 else 0
    if len(data) < data_size or (frame and len(data) % frame):
        raise ValueError(
            f"malformed WAV: truncated data chunk ({len(data)} bytes present, "
            f"{data_size} declared, {frame or 'n/a'}-byte sample frames)"
        )
    if audio_format == 0x11:  # IMA/DVI ADPCM: block-coded, per-channel
        if _balign < 4 * n_ch:
            raise ValueError("malformed ADPCM WAV: block align < header")
        chans = _ima_adpcm_decode(data, n_ch, _balign)
        n_min = min(len(c) for c in chans) if chans else 0
        if n_ch > 1:
            stacked = np.stack([c[:n_min] for c in chans])
            if mono:
                return stacked.mean(axis=0).tolist(), int(sr)
            return [c.tolist() for c in stacked], int(sr)
        one = chans[0] if chans else np.zeros(0)
        return ([one.tolist()], int(sr)) if not mono else (one.tolist(), int(sr))
    if audio_format == 1:  # integer PCM
        if bits == 8:
            x = (np.frombuffer(data, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
        elif bits == 16:
            x = np.frombuffer(data, dtype="<i2").astype(np.float64) / 32768.0
        elif bits == 24:
            raw = np.frombuffer(data, dtype=np.uint8)
            raw = raw[: len(raw) - len(raw) % 3].reshape(-1, 3)
            as32 = (
                raw[:, 0].astype(np.int32)
                | (raw[:, 1].astype(np.int32) << 8)
                | (raw[:, 2].astype(np.int32) << 16)
            )
            as32 = np.where(as32 >= 1 << 23, as32 - (1 << 24), as32)
            x = as32.astype(np.float64) / float(1 << 23)
        elif bits == 32:
            x = np.frombuffer(data, dtype="<i4").astype(np.float64) / 2147483648.0
        else:
            raise NotImplementedError(f"unsupported PCM bit depth {bits}")
    elif audio_format == 3:  # IEEE float
        dt = "<f4" if bits == 32 else "<f8"
        x = np.frombuffer(data, dtype=dt).astype(np.float64)
    elif audio_format in (6, 7):  # G.711 A-law / μ-law: 256-entry LUT
        if not _G711_CACHE:
            _G711_CACHE.append(_g711_tables())
        ulaw_tab, alaw_tab = _G711_CACHE[0]
        tab = ulaw_tab if audio_format == 7 else alaw_tab
        x = tab[np.frombuffer(data, dtype=np.uint8)]
    else:
        raise NotImplementedError(
            f"WAV format tag {audio_format} is compressed; codec backend required"
        )
    if n_ch > 1:
        frames = x[: len(x) - len(x) % n_ch].reshape(-1, n_ch)
        if mono:
            return frames.mean(axis=1).tolist(), int(sr)
        return [frames[:, c].tolist() for c in range(n_ch)], int(sr)
    if not mono:
        return [x.tolist()], int(sr)
    return x.tolist(), int(sr)


def decode_audio_bytes(payload: bytes, mono: bool = True) -> tuple[list, int]:
    """Magic-byte audio dispatch: ``fLaC`` → the pure-NumPy FLAC
    decoder (operators/flac.py), ``OggS`` → the pure-NumPy Vorbis I
    decoder (operators/vorbis.py — codebooks/floor1/residues/IMDCT, all
    from the in-stream setup header), anything else →
    :func:`decode_wav_bytes` (PCM / IEEE-float / G.711 / IMA-ADPCM),
    which raises ``NotImplementedError`` naming the container of a
    non-RIFF payload and ``ValueError`` on a malformed RIFF one. All
    return ``(samples_or_channels, sr)`` with identical mono semantics,
    so every decode kernel takes any container transparently. Not
    decoded: Ogg Opus, mp3, m4a and aac.
    """
    b = bytes(payload)
    if b[:4] == b"fLaC":
        from speech_data_pipeline_spark.operators.flac import decode_flac_bytes

        return decode_flac_bytes(b, mono=mono)
    if b[:4] == b"OggS":
        # Ogg container: Vorbis decodes natively (operators/vorbis.py);
        # Opus raises its documented CELT/SILK seam inside
        from speech_data_pipeline_spark.operators.vorbis import (
            decode_vorbis_bytes,
        )

        return decode_vorbis_bytes(b, mono=mono)
    return decode_wav_bytes(b, mono=mono)


def encode_media_flac(
    df: DataFrame,
    bps: int = 16,
    block_size: int = 4096,
    id_col: str = "media_id",
    samples_col: str = "samples",
    sr_col: str = "sr",
) -> DataFrame:
    """Lossless FLAC export stage: ``(media_id, samples array<double>,
    sr)`` → ``(media_id, payload binary, n_samples, pcm_bytes,
    flac_bytes)``.

    The K5-family export in the reference writes WAV segments
    (modules/export.py writes 16-bit PCM via pydub); this stage is the
    same sink contract with a compressed container — typically 40-60%
    of the PCM size on speech-like material at zero fidelity cost (the
    decoder MD5-verifies). Arrow-batched ``mapInPandas``: each media
    row encodes independently, so a 100 TB export is a map-only stage
    with no shuffle; the emitted size columns make compression ratio a
    queryable result instead of a log line.
    """
    from speech_data_pipeline_spark.operators.flac import encode_flac_bytes

    lim = float(1 << (bps - 1))
    width = bps // 8

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            payloads, n_s, raw_b, flac_b = [], [], [], []
            for samples, sr in zip(pdf[samples_col], pdf[sr_col]):
                x = np.asarray(samples, dtype=np.float64)
                ints = np.clip(np.rint(x * lim), -lim, lim - 1).astype(np.int64)
                blob = encode_flac_bytes(
                    [ints.tolist()], int(sr), bps=bps, block_size=block_size
                )
                payloads.append(blob)
                n_s.append(len(ints))
                raw_b.append(len(ints) * width)
                flac_b.append(len(blob))
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "payload": payloads,
                    "n_samples": n_s,
                    "pcm_bytes": raw_b,
                    "flac_bytes": flac_b,
                }
            )

    return df.select(id_col, samples_col, sr_col).mapInPandas(
        kernel,
        schema=(
            f"{id_col} long, payload binary, n_samples long, "
            "pcm_bytes long, flac_bytes long"
        ),
    )


def decode_media(df: DataFrame, fake: bool = False) -> DataFrame:
    """Decode binary media to waveform.

    Real path: RIFF/WAV via :func:`decode_wav_bytes` (pure NumPy, no
    codec library): PCM, IEEE-float, G.711 μ-law/A-law, IMA ADPCM —
    plus native FLAC via :func:`~speech_data_pipeline_spark.operators.
    flac.decode_flac_bytes` and Ogg Vorbis via
    :func:`~speech_data_pipeline_spark.operators.vorbis.
    decode_vorbis_bytes` (magic-byte dispatch in
    :func:`decode_audio_bytes`). Other payloads (mp3/m4a/aac) raise
    ``NotImplementedError`` — the package depends on no codec library
    (librosa/ffmpeg). With ``fake=True`` a deterministic pseudo-decode (bytes →
    floats in [-1, 1)) exercises the plumbing for arbitrary payloads.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if fake:
                yield pd.DataFrame(
                    {
                        "media_id": pdf["media_id"],
                        "samples": pdf["payload"].map(
                            lambda b: [((x / 255.0) * 2 - 1) for x in bytes(b)[:256]]
                        ),
                        "sr": 16_000,
                    }
                )
                continue
            decoded = pdf["payload"].map(decode_audio_bytes)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "samples": decoded.map(lambda t: t[0]),
                    "sr": decoded.map(lambda t: t[1]),
                }
            )

    return df.mapInPandas(kernel, schema="media_id long, samples array<double>, sr int")


def sample_frames(
    df: DataFrame,
    target_fps: float = 1.0,
    fps_col: str = "fps",
    duration_col: str = "duration",
    id_col: str = "media_id",
) -> DataFrame:
    """Video frame sampling: emit one row per sampled frame with its
    source frame index and timestamp — pure column arithmetic
    (sequence + explode, JVM-side), no decode required to *plan* the
    sample. The frame-pixel decode itself is the codec seam
    (``decode_media``): at 100 TB the sampled (media_id, frame_idx)
    table is what a GPU decode stage consumes, so planning frames
    relationally and decoding only the sampled ones is the point.

    Samples frame ``floor(k * src_fps / target_fps)`` for
    ``k = 0 .. ceil(duration * target_fps) - 1`` — the deterministic
    nearest-earlier-frame policy. Every sample time ``k / target_fps``
    is STRICTLY before ``duration`` (a duration that is an exact
    multiple of the sample period must not emit a sample at
    ``t == duration``, which would index one past the last real
    frame); non-positive durations emit no rows.
    """
    n_samples = (
        F.ceil(F.col(duration_col) * F.lit(target_fps)).cast("long") - 1
    )
    return (
        df.where(F.col(duration_col) > 0)
        .select(
            id_col,
            fps_col,
            F.explode(F.sequence(F.lit(0), n_samples)).alias("sample_idx"),
        )
        .select(
            id_col,
            "sample_idx",
            F.floor(
                F.col("sample_idx") * F.col(fps_col) / F.lit(target_fps)
            )
            .cast("long")
            .alias("frame_idx"),
            (F.col("sample_idx") / F.lit(target_fps)).alias("frame_ts"),
        )
    )


def decode_media_at_sr(
    df: DataFrame, target_sr: int, mono: bool = True
) -> DataFrame:
    """S3/S4 parity: decode WAV and resample to a fixed rate in one
    Arrow-batched kernel (the reference's ``librosa.load(mono=False,
    sr=44100)`` separation input, modules/separation_filter.py:47, and
    the 16 kHz embedding input, modules/speaker_rematch.py:17-23).

    ``mono=True`` → ``(media_id, samples array<double>, sr)``;
    ``mono=False`` → ``(media_id, channels array<array<double>>, sr)``
    with every channel resampled independently. Resampling is the real
    pure-NumPy Fourier method (ml/dsp.py), not a stub.
    """
    from speech_data_pipeline_spark.ml.dsp import resample

    out_schema = (
        "media_id long, samples array<double>, sr int"
        if mono
        else "media_id long, channels array<array<double>>, sr int"
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            decoded = pdf["payload"].map(
                lambda b: decode_audio_bytes(b, mono=mono)
            )
            if mono:
                samples = decoded.map(
                    lambda t: resample(np.asarray(t[0]), t[1], target_sr).tolist()
                )
                yield pd.DataFrame(
                    {
                        "media_id": pdf["media_id"],
                        "samples": samples,
                        "sr": target_sr,
                    }
                )
            else:
                chans = decoded.map(
                    lambda t: [
                        resample(np.asarray(c), t[1], target_sr).tolist()
                        for c in t[0]
                    ]
                )
                yield pd.DataFrame(
                    {
                        "media_id": pdf["media_id"],
                        "channels": chans,
                        "sr": target_sr,
                    }
                )

    return df.mapInPandas(kernel, schema=out_schema)


def parse_wav_header(payload: bytes) -> dict:
    """Header-only RIFF/WAV probe: format, rate, channels, bit depth,
    frame count, duration — WITHOUT touching sample data (the ``data``
    chunk is sized, never read). This is the real S6 duration probe
    (reference modules/vad_multi.py:12-16 opens the file with pydub
    just to get ``duration_seconds``); cost is O(header) bytes per
    file, so a metadata scan of a 100 TB corpus reads megabytes.

    Raises on non-RIFF payloads — callers map that to the reference's
    0.0-duration broken-file contract.
    """
    import struct

    b = bytes(payload[: 1 << 16])  # headers live in the first chunks
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAV payload")
    fmt6, _data_off, data_size = _walk_riff(b)
    audio_format, n_ch, sr, _brate, block_align, bits = fmt6
    frames = data_size // block_align if block_align else 0
    return {
        "format_tag": int(audio_format),
        "sample_rate": int(sr),
        "channels": int(n_ch),
        "bits": int(bits),
        "n_frames": int(frames),
        "duration": (frames / sr) if sr else 0.0,
    }


def encode_media_vorbis(
    df: DataFrame,
    id_col: str = "media_id",
    samples_col: str = "samples",
    sr_col: str = "sr",
) -> DataFrame:
    """Lossy Ogg Vorbis export stage: ``(media_id, samples
    array<double>, sr)`` → ``(media_id, payload binary, n_samples,
    pcm_bytes, ogg_bytes)`` — the Ogg sibling of
    :func:`encode_media_flac` (same sink contract). Any sample rate is
    legal (Vorbis carries the rate verbatim); output length is exact to
    the sample (the encoder writes the true length into the final page
    granule, which the decoder honors).

    Arrow-batched ``mapInPandas``, one row per media id — a 100 TB
    export is a map-only stage with no shuffle; emitted size columns
    make the compression ratio queryable.
    """
    from speech_data_pipeline_spark.operators.vorbis import encode_vorbis

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            payloads, n_s, raw_b, ogg_b = [], [], [], []
            for mid, samples, sr in zip(
                pdf[id_col], pdf[samples_col], pdf[sr_col]
            ):
                x = np.asarray(samples, dtype=np.float64)
                blob = encode_vorbis([x], int(sr), serial=int(mid) & 0x7FFFFFFF)
                payloads.append(blob)
                n_s.append(len(x))
                raw_b.append(len(x) * 2)  # 16-bit PCM equivalent
                ogg_b.append(len(blob))
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "payload": payloads,
                    "n_samples": n_s,
                    "pcm_bytes": raw_b,
                    "ogg_bytes": ogg_b,
                }
            )

    return df.select(id_col, samples_col, sr_col).mapInPandas(
        kernel,
        schema=(
            f"{id_col} long, payload binary, n_samples long, "
            "pcm_bytes long, ogg_bytes long"
        ),
    )
