"""Pure-NumPy FLAC codec: a real decoder (and a fixed-predictor encoder)
for the native FLAC container, no external codec library.

This closes most of what remained of the S2-S5 compressed-container seam
(reference decode sites: modules/models/utils.py:11-16 routes .flac
through ffmpeg/librosa; modules/separation_filter.py:101 librosa.load).
The reference leans on libsndfile/ffmpeg; here the format is decoded
from the spec directly (https://xiph.org/flac/format.html, RFC 9639) so
`decode_media` handles `fLaC` payloads as a first-class real path. Only
perceptual codecs (mp3/ogg-vorbis/m4a/aac) still require an external
backend — FLAC is lossless and therefore bit-exactly verifiable here:
the decoder recomputes the STREAMINFO MD5 of the decoded PCM and
refuses silently-wrong output.

Decoder coverage: CONSTANT / VERBATIM / FIXED(0-4) / LPC(1-32)
subframes, wasted bits, Rice methods 0 and 1 (4- and 5-bit params),
escape-coded partitions, any partition order, all four channel
assignments (independent, left/side, right/side, mid/side), 8-32 bit
sample sizes, UTF-8-coded frame numbers, CRC-8 (header) and CRC-16
(frame) verification.

The encoder is deliberately simpler (CONSTANT / VERBATIM / FIXED with
per-subframe order selection, optional wasted-bit packing, optional
LPC-form emission, any partition order, all channel assignments): it
exists to round-trip-prove the decoder without a codec binary in the
container. Encoder and decoder share only the CRC tables, which are
pinned by known-answer tests (CRC-8/0x07 of b"123456789" == 0xF4,
CRC-16/0x8005-unreflected == 0xFEE8), so a shared bug cannot silently
cancel out: every other bit of the two paths is written independently
(writer composes fields; reader parses per spec), and the MD5 check
ties both to the raw PCM.

Scale shape: like decode_wav_bytes this is a per-payload kernel invoked
from Arrow-batched ``mapInPandas`` (operators/multimodal.py) — the unit
of parallelism is the media row, so 100 TB of FLAC decodes as N
independent partitions with zero shuffle.
"""

from __future__ import annotations

import hashlib

import numpy as np

# ---------------------------------------------------------------------------
# CRCs (spec: frame-header CRC-8 poly x^8+x^2+x+1 = 0x07, init 0;
# whole-frame CRC-16 poly x^16+x^15+x^2+1 = 0x8005, init 0, unreflected).
# Known-answer-tested in tests/test_flac.py against published check values.
# ---------------------------------------------------------------------------


def _make_crc8_table() -> np.ndarray:
    tab = np.zeros(256, dtype=np.uint8)
    for i in range(256):
        c = i
        for _ in range(8):
            c = ((c << 1) ^ 0x07) & 0xFF if c & 0x80 else (c << 1) & 0xFF
        tab[i] = c
    return tab


def _make_crc16_table() -> np.ndarray:
    tab = np.zeros(256, dtype=np.uint16)
    for i in range(256):
        c = i << 8
        for _ in range(8):
            c = ((c << 1) ^ 0x8005) & 0xFFFF if c & 0x8000 else (c << 1) & 0xFFFF
        tab[i] = c
    return tab


_CRC8_TAB = _make_crc8_table()
_CRC16_TAB = _make_crc16_table()


def crc8(data: bytes) -> int:
    c = 0
    for b in data:
        c = int(_CRC8_TAB[c ^ b])
    return c


def crc16(data: bytes) -> int:
    c = 0
    for b in data:
        c = int(_CRC16_TAB[((c >> 8) ^ b) & 0xFF]) ^ ((c << 8) & 0xFFFF)
    return c


# ---------------------------------------------------------------------------
# Bit reader: one unpackbits pass over the payload, then O(log n) unary
# scans via a precomputed one-bit index (Rice quotients are runs of 0s
# terminated by a 1).
# ---------------------------------------------------------------------------


class _BitReader:
    def __init__(self, data: bytes, start_byte: int = 0) -> None:
        self._bits = np.unpackbits(np.frombuffer(data, dtype=np.uint8))
        self._ones = np.nonzero(self._bits)[0]
        self.pos = start_byte * 8
        self._pows = {}

    def read(self, n: int) -> int:
        """Read n bits MSB-first as an unsigned int."""
        if n == 0:
            return 0
        chunk = self._bits[self.pos : self.pos + n]
        if len(chunk) < n:
            raise EOFError("FLAC bitstream truncated")
        pw = self._pows.get(n)
        if pw is None:
            pw = (1 << np.arange(n - 1, -1, -1)).astype(np.int64)
            self._pows[n] = pw
        self.pos += n
        return int(chunk.astype(np.int64) @ pw)

    def read_signed(self, n: int) -> int:
        u = self.read(n)
        return u - (1 << n) if u >= 1 << (n - 1) else u

    def unary(self) -> int:
        """Count 0-bits up to the next 1-bit, consuming it."""
        j = np.searchsorted(self._ones, self.pos)
        if j >= len(self._ones):
            raise EOFError("FLAC bitstream truncated in unary run")
        one_at = int(self._ones[j])
        q = one_at - self.pos
        self.pos = one_at + 1
        return q

    def align(self) -> None:
        self.pos = (self.pos + 7) & ~7

    def byte_pos(self) -> int:
        if self.pos % 8:
            raise ValueError("bit reader not byte-aligned")
        return self.pos // 8


# ---------------------------------------------------------------------------
# Decoder
# ---------------------------------------------------------------------------

_BLOCKSIZE_TAB = {1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608,
                  8: 256, 9: 512, 10: 1024, 11: 2048, 12: 4096,
                  13: 8192, 14: 16384, 15: 32768}
_SR_TAB = {1: 88200, 2: 176400, 3: 192000, 4: 8000, 5: 16000, 6: 22050,
           7: 24000, 8: 32000, 9: 44100, 10: 48000, 11: 96000}
_BPS_TAB = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}

# Fixed-predictor coefficients, order 0..4: x[i] = r[i] + sum(c*history).
_FIXED_COEFS = {0: [], 1: [1], 2: [2, -1], 3: [3, -3, 1], 4: [4, -6, 4, -1]}


def _read_utf8_number(br: _BitReader) -> int:
    b0 = br.read(8)
    if b0 < 0x80:
        return b0
    n = 0
    mask = 0x80
    while b0 & mask:
        n += 1
        mask >>= 1
    if n < 2 or n > 7:
        raise ValueError(f"invalid UTF-8-coded number lead byte {b0:#x}")
    val = b0 & (0xFF >> (n + 1))
    for _ in range(n - 1):
        cont = br.read(8)
        if cont & 0xC0 != 0x80:
            raise ValueError("invalid UTF-8-coded number continuation")
        val = (val << 6) | (cont & 0x3F)
    return val


def _decode_residual(br: _BitReader, block_size: int, order: int) -> list:
    method = br.read(2)
    if method > 1:
        raise ValueError(f"reserved residual coding method {method}")
    plen = 4 if method == 0 else 5
    escape = (1 << plen) - 1
    part_order = br.read(4)
    n_parts = 1 << part_order
    if block_size % n_parts:
        raise ValueError("block size not divisible by partition count")
    out = []
    for p in range(n_parts):
        n = block_size >> part_order
        if p == 0:
            n -= order
        param = br.read(plen)
        if param == escape:
            raw_bits = br.read(5)
            if raw_bits == 0:
                out.extend([0] * n)
            else:
                out.extend(br.read_signed(raw_bits) for _ in range(n))
        else:
            k = param
            for _ in range(n):
                q = br.unary()
                u = (q << k) | br.read(k)
                out.append((u >> 1) ^ -(u & 1))
    return out


def _decode_subframe(br: _BitReader, block_size: int, bps: int) -> list:
    if br.read(1):
        raise ValueError("subframe padding bit set")
    ftype = br.read(6)
    wasted = 0
    if br.read(1):
        wasted = br.unary() + 1
    eff_bps = bps - wasted
    if ftype == 0:  # CONSTANT
        v = br.read_signed(eff_bps)
        samples = [v] * block_size
    elif ftype == 1:  # VERBATIM
        samples = [br.read_signed(eff_bps) for _ in range(block_size)]
    elif 8 <= ftype <= 12:  # FIXED, order 0-4
        order = ftype & 7
        warm = [br.read_signed(eff_bps) for _ in range(order)]
        resid = _decode_residual(br, block_size, order)
        coefs = _FIXED_COEFS[order]
        samples = list(warm)
        for r in resid:
            acc = r
            for j, c in enumerate(coefs):
                acc += c * samples[-1 - j]
            samples.append(acc)
    elif ftype >= 32:  # LPC, order 1-32
        order = (ftype & 31) + 1
        warm = [br.read_signed(eff_bps) for _ in range(order)]
        precision = br.read(4) + 1
        if precision == 16:
            raise ValueError("invalid LPC precision escape")
        shift = br.read_signed(5)
        if shift < 0:
            raise ValueError("negative LPC shift")
        qlp = [br.read_signed(precision) for _ in range(order)]
        resid = _decode_residual(br, block_size, order)
        samples = list(warm)
        for r in resid:
            acc = 0
            for j in range(order):
                acc += qlp[j] * samples[-1 - j]
            samples.append(r + (acc >> shift))
    else:
        raise ValueError(f"reserved subframe type {ftype:#08b}")
    if wasted:
        samples = [s << wasted for s in samples]
    return samples


def _parse_streaminfo(b: bytes) -> dict:
    if len(b) < 4 or b[:4] != b"fLaC":
        raise NotImplementedError("not a native FLAC stream (no fLaC magic)")
    off = 4
    info = None
    while True:
        if off + 4 > len(b):
            raise ValueError("truncated FLAC metadata")
        hdr = b[off]
        last, btype = hdr & 0x80, hdr & 0x7F
        blen = int.from_bytes(b[off + 1 : off + 4], "big")
        body = b[off + 4 : off + 4 + blen]
        if btype == 0:  # STREAMINFO
            if blen != 34:
                raise ValueError("bad STREAMINFO length")
            raw = int.from_bytes(body, "big")
            # 34 bytes = 272 bits: min_bs16 max_bs16 min_fs24 max_fs24
            # sr20 ch3 bps5 total36 md5(128)
            info = {
                "sr": (raw >> (272 - 16 - 16 - 24 - 24 - 20)) & 0xFFFFF,
                "channels": ((raw >> (272 - 80 - 23)) & 0x7) + 1,
                "bps": ((raw >> (272 - 80 - 28)) & 0x1F) + 1,
                "total_samples": (raw >> 128) & ((1 << 36) - 1),
                "md5": body[18:34],
            }
        off += 4 + blen
        if last:
            break
    if info is None:
        raise ValueError("FLAC stream missing STREAMINFO")
    info["frames_off"] = off
    return info


def decode_flac_bytes(
    payload: bytes, mono: bool = True, verify: bool = True
) -> tuple[list, int]:
    """Decode a native FLAC stream to float64 samples in [-1, 1).

    Mirrors :func:`decode_wav_bytes`'s contract: ``mono=True`` mixes
    channels by mean; ``mono=False`` returns a list per channel. With
    ``verify=True`` the frame CRC-8/CRC-16 and (when bps is a whole
    number of bytes and STREAMINFO carries a signature) the decoded-PCM
    MD5 are all checked, so a decode bug fails loudly instead of
    returning plausible garbage.
    """
    b = bytes(payload)
    info = _parse_streaminfo(b)
    br = _BitReader(b, start_byte=info["frames_off"])
    n_ch, bps_default = info["channels"], info["bps"]
    chans: list[list[int]] = [[] for _ in range(n_ch)]
    total = info["total_samples"]
    sr = info["sr"]
    while (total == 0 or len(chans[0]) < total) and br.pos + 32 <= len(br._bits):
        frame_start = br.byte_pos()
        sync = br.read(14)
        if sync != 0x3FFE:
            if total == 0:
                break  # trailing padding with unknown total
            raise ValueError(f"lost FLAC frame sync at byte {frame_start}")
        br.read(1)  # reserved
        br.read(1)  # blocking strategy
        bs_code = br.read(4)
        sr_code = br.read(4)
        ch_code = br.read(4)
        bps_code = br.read(3)
        br.read(1)  # reserved
        _frame_no = _read_utf8_number(br)
        if bs_code == 0:
            raise ValueError("reserved block size code 0")
        elif bs_code == 6:
            block_size = br.read(8) + 1
        elif bs_code == 7:
            block_size = br.read(16) + 1
        else:
            block_size = _BLOCKSIZE_TAB[bs_code]
        if sr_code == 0:
            frame_sr = sr
        elif sr_code == 12:
            frame_sr = br.read(8) * 1000
        elif sr_code == 13:
            frame_sr = br.read(16)
        elif sr_code == 14:
            frame_sr = br.read(16) * 10
        elif sr_code == 15:
            raise ValueError("invalid sample rate code")
        else:
            frame_sr = _SR_TAB[sr_code]
        bps = bps_default if bps_code == 0 else _BPS_TAB.get(bps_code)
        if bps is None:
            raise ValueError(f"reserved sample size code {bps_code}")
        hdr_end = br.byte_pos()
        crc8_read = br.read(8)
        if verify and crc8(b[frame_start:hdr_end]) != crc8_read:
            raise ValueError(f"frame header CRC-8 mismatch at byte {frame_start}")
        if ch_code < 8:
            if ch_code + 1 != n_ch:
                raise ValueError("frame channel count != STREAMINFO")
            subs = [_decode_subframe(br, block_size, bps) for _ in range(n_ch)]
        elif ch_code in (8, 9, 10):
            if n_ch != 2:
                raise ValueError("stereo decorrelation in non-stereo stream")
            side_ix = 1 if ch_code in (8, 10) else 0
            subs = [
                _decode_subframe(br, block_size, bps + (1 if i == side_ix else 0))
                for i in range(2)
            ]
            if ch_code == 8:  # left/side -> right = left - side
                subs = [subs[0], [l - s for l, s in zip(subs[0], subs[1])]]
            elif ch_code == 9:  # side/right -> left = right + side
                subs = [[r + s for s, r in zip(subs[0], subs[1])], subs[1]]
            else:  # mid/side
                left, right = [], []
                for m, s in zip(subs[0], subs[1]):
                    m2 = (m << 1) | (s & 1)
                    left.append((m2 + s) >> 1)
                    right.append((m2 - s) >> 1)
                subs = [left, right]
        else:
            raise ValueError(f"reserved channel assignment {ch_code}")
        br.align()
        body_end = br.byte_pos()
        crc16_read = br.read(16)
        if verify and crc16(b[frame_start:body_end]) != crc16_read:
            raise ValueError(f"frame CRC-16 mismatch at byte {frame_start}")
        sr = frame_sr
        for i in range(n_ch):
            chans[i].extend(subs[i])
    if total:
        if len(chans[0]) < total:
            raise ValueError("FLAC stream ended before total_samples")
        chans = [c[:total] for c in chans]
    if verify and bps_default % 8 == 0 and info["md5"] != b"\x00" * 16:
        width = bps_default // 8
        h = hashlib.md5()
        arr = np.array(chans, dtype=np.int64).T.ravel()  # interleave
        mask = (1 << bps_default) - 1
        h.update(
            b"".join(
                int(v & mask).to_bytes(width, "little") for v in arr.tolist()
            )
        )
        if h.digest() != info["md5"]:
            raise ValueError("decoded PCM MD5 != STREAMINFO signature")
    scale = float(1 << (bps_default - 1))
    arrs = [np.asarray(c, dtype=np.float64) / scale for c in chans]
    if n_ch > 1:
        stacked = np.stack(arrs)
        if mono:
            return stacked.mean(axis=0).tolist(), int(sr)
        return [c.tolist() for c in stacked], int(sr)
    if not mono:
        return [arrs[0].tolist()], int(sr)
    return arrs[0].tolist(), int(sr)


# ---------------------------------------------------------------------------
# Encoder (fixed predictors + Rice; independent bit-composition path)
# ---------------------------------------------------------------------------


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, value: int, n: int) -> None:
        if n == 0:
            return
        if value < 0 or value >= 1 << n:
            raise ValueError(f"value {value} does not fit in {n} bits")
        self._acc = (self._acc << n) | value
        self._n += n
        while self._n >= 8:
            self._n -= 8
            self.buf.append((self._acc >> self._n) & 0xFF)
        self._acc &= (1 << self._n) - 1

    def write_signed(self, value: int, n: int) -> None:
        self.write(value & ((1 << n) - 1), n)

    def write_unary(self, q: int) -> None:
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)  # q zeros then a one

    def align(self) -> None:
        if self._n:
            self.write(0, 8 - self._n)

    def bytes(self) -> bytes:
        if self._n:
            raise ValueError("bit writer not byte-aligned")
        return bytes(self.buf)


def _utf8_number_bytes(val: int) -> bytes:
    """UTF-8-style coding of a frame/sample number (FLAC extends the
    scheme to 7 bytes / 36 payload bits; lead byte of an n-byte form
    carries 7-n bits for n<=6, zero for n=7)."""
    if val < 0x80:
        return bytes([val])
    payload_bits = val.bit_length()
    for n in range(2, 8):
        capacity = (7 - n if n < 7 else 0) + 6 * (n - 1)
        if payload_bits <= capacity:
            out = bytearray(n)
            rest = val
            for i in range(n - 1, 0, -1):
                out[i] = 0x80 | (rest & 0x3F)
                rest >>= 6
            lead_mask = (0xFF << (8 - n)) & 0xFF
            out[0] = lead_mask | rest
            return bytes(out)
    raise ValueError("number too large for UTF-8 coding")


def _zigzag(v: int) -> int:
    return (v << 1) if v >= 0 else ((-v) << 1) - 1


def _rice_param(resid: list) -> int:
    if not resid:
        return 0
    mean = sum(_zigzag(r) for r in resid) / len(resid)
    k = 0
    while (1 << (k + 1)) < mean + 1 and k < 14:
        k += 1
    return k


def _write_residual(
    bw: _BitWriter, resid: list, order: int, block_size: int,
    partition_order: int = 0, escape_raw_bits: int = 0,
) -> None:
    bw.write(0, 2)  # method 0: 4-bit Rice params
    bw.write(partition_order, 4)
    n_parts = 1 << partition_order
    idx = 0
    for p in range(n_parts):
        n = block_size >> partition_order
        if p == 0:
            n -= order
        part = resid[idx : idx + n]
        idx += n
        if escape_raw_bits:
            bw.write(15, 4)  # escape
            bw.write(escape_raw_bits, 5)
            for r in part:
                bw.write_signed(r, escape_raw_bits)
        else:
            k = _rice_param(part)
            bw.write(k, 4)
            for r in part:
                u = _zigzag(r)
                bw.write_unary(u >> k)
                bw.write(u & ((1 << k) - 1), k)


def _fixed_residual(samples: list, order: int) -> list:
    coefs = _FIXED_COEFS[order]
    return [
        samples[i] - sum(c * samples[i - 1 - j] for j, c in enumerate(coefs))
        for i in range(order, len(samples))
    ]


def _encode_subframe(
    bw: _BitWriter, samples: list, bps: int,
    mode: str = "auto", partition_order: int = 0, escape_raw_bits: int = 0,
    pack_wasted: bool = False,
) -> None:
    bw.write(0, 1)  # padding
    wasted = 0
    if pack_wasted and any(samples):
        wasted = min(
            (abs(s) & -abs(s)).bit_length() - 1 for s in samples if s
        )
        wasted = max(0, min(wasted, bps - 2))
    eff = bps - wasted
    vals = [s >> wasted for s in samples] if wasted else samples

    def _wasted_bits() -> None:
        if wasted:
            bw.write(1, 1)
            bw.write_unary(wasted - 1)
        else:
            bw.write(0, 1)

    if mode == "auto" and len(set(vals)) == 1:
        mode = "constant"
    if mode == "constant":
        bw.write(0, 6)
        _wasted_bits()
        bw.write_signed(vals[0], eff)
        return
    if mode == "verbatim":
        bw.write(1, 6)
        _wasted_bits()
        for v in vals:
            bw.write_signed(v, eff)
        return
    if mode == "lpc2":
        # LPC emission of the order-2 fixed predictor: coeffs [4, -2]
        # with shift 1 compute (4*x1 - 2*x2) >> 1 == 2*x1 - x2, so the
        # residual is the fixed-order-2 one while the bitstream walks
        # the decoder's LPC branch (precision/shift/signed coeffs).
        order, precision, shift, qlp = 2, 4, 1, [4, -2]
        bw.write(32 | (order - 1), 6)
        _wasted_bits()
        for v in vals[:order]:
            bw.write_signed(v, eff)
        bw.write(precision - 1, 4)
        bw.write_signed(shift, 5)
        for c in qlp:
            bw.write_signed(c, precision)
        resid = [
            vals[i] - ((qlp[0] * vals[i - 1] + qlp[1] * vals[i - 2]) >> shift)
            for i in range(order, len(vals))
        ]
        _write_residual(bw, resid, order, len(vals), partition_order, escape_raw_bits)
        return
    # FIXED: pick the order with the smallest absolute-residual mass.
    best_order, best_resid, best_cost = 0, list(vals), None
    for order in range(0, 5):
        if order > len(vals) - 1:
            break
        resid = _fixed_residual(vals, order)
        cost = sum(abs(r) for r in resid)
        if best_cost is None or cost < best_cost:
            best_order, best_resid, best_cost = order, resid, cost
    if len(vals) % (1 << partition_order) or (
        len(vals) >> partition_order
    ) <= best_order:
        partition_order = 0
    bw.write(8 | best_order, 6)
    _wasted_bits()
    for v in vals[:best_order]:
        bw.write_signed(v, eff)
    _write_residual(
        bw, best_resid, best_order, len(vals), partition_order, escape_raw_bits
    )


def encode_flac_bytes(
    channels: list,
    sr: int,
    bps: int = 16,
    block_size: int = 4096,
    channel_mode: str = "independent",
    subframe_mode: str = "auto",
    partition_order: int = 0,
    escape_raw_bits: int = 0,
    pack_wasted: bool = False,
) -> bytes:
    """Encode integer PCM channels (list of lists/arrays of ints at
    ``bps`` precision) into a native FLAC stream.

    ``channel_mode`` for stereo input: ``independent`` | ``left_side``
    | ``right_side`` | ``mid_side``. ``subframe_mode``: ``auto``
    (constant detection + best fixed order) | ``verbatim`` | ``lpc2``.
    ``escape_raw_bits > 0`` forces escape-coded residual partitions.
    Lossless by construction; STREAMINFO carries the true PCM MD5.
    """
    chans = [list(map(int, c)) for c in channels]
    n_ch = len(chans)
    if n_ch < 1 or n_ch > 8:
        raise ValueError("1-8 channels supported")
    total = len(chans[0])
    if any(len(c) != total for c in chans):
        raise ValueError("channels must be equal length")
    if channel_mode != "independent" and n_ch != 2:
        raise ValueError("stereo decorrelation requires exactly 2 channels")

    md5 = hashlib.md5()
    if bps % 8 == 0 and total:
        width = bps // 8
        mask = (1 << bps) - 1
        inter = np.array(chans, dtype=np.int64).T.ravel()
        md5.update(
            b"".join(int(v & mask).to_bytes(width, "little") for v in inter.tolist())
        )

    frames = bytearray()
    frame_sizes = []
    frame_no = 0
    for off in range(0, max(total, 1), block_size):
        blk = [c[off : off + block_size] for c in chans]
        n = len(blk[0])
        if n == 0:
            break
        bw = _BitWriter()
        bw.write(0x3FFE, 14)
        bw.write(0, 1)  # reserved
        bw.write(0, 1)  # fixed-blocksize strategy
        bw.write(7, 4)  # block size: 16-bit value follows
        bw.write(0, 4)  # sample rate: from STREAMINFO
        if channel_mode == "independent":
            bw.write(n_ch - 1, 4)
        else:
            bw.write({"left_side": 8, "right_side": 9, "mid_side": 10}[channel_mode], 4)
        bw.write(0, 3)  # bps: from STREAMINFO
        bw.write(0, 1)  # reserved
        for byte in _utf8_number_bytes(frame_no):
            bw.write(byte, 8)
        bw.write(n - 1, 16)
        bw.align()
        hdr = bw.bytes()
        bw.write(crc8(hdr), 8)

        if channel_mode == "independent":
            subs = [(c, bps) for c in blk]
        elif channel_mode == "left_side":
            side = [l - r for l, r in zip(blk[0], blk[1])]
            subs = [(blk[0], bps), (side, bps + 1)]
        elif channel_mode == "right_side":
            side = [l - r for l, r in zip(blk[0], blk[1])]
            subs = [(side, bps + 1), (blk[1], bps)]
        else:  # mid_side
            mid = [(l + r) >> 1 for l, r in zip(blk[0], blk[1])]
            side = [l - r for l, r in zip(blk[0], blk[1])]
            subs = [(mid, bps), (side, bps + 1)]
        for samples, sub_bps in subs:
            _encode_subframe(
                bw, samples, sub_bps, subframe_mode,
                partition_order, escape_raw_bits, pack_wasted,
            )
        bw.align()
        body = bw.bytes()
        bw.write(crc16(body), 16)
        frame = bw.bytes()
        frames.extend(frame)
        frame_sizes.append(len(frame))
        frame_no += 1

    min_fs = min(frame_sizes) if frame_sizes else 0
    max_fs = max(frame_sizes) if frame_sizes else 0
    si = _BitWriter()
    si.write(min(block_size, total) if total else block_size, 16)
    si.write(min(block_size, total) if total else block_size, 16)
    si.write(min_fs, 24)
    si.write(max_fs, 24)
    si.write(sr, 20)
    si.write(n_ch - 1, 3)
    si.write(bps - 1, 5)
    si.write(total, 36)
    si.align()
    streaminfo = si.bytes() + md5.digest()
    assert len(streaminfo) == 34
    header = (
        b"fLaC"
        + bytes([0x80])  # last metadata block, type 0 (STREAMINFO)
        + len(streaminfo).to_bytes(3, "big")
        + streaminfo
    )
    return header + bytes(frames)
